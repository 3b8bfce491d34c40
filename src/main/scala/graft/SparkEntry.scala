package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator from SURVEY.md §2; the matching
  * [[oracleSql]] is DuckDB-runnable ANSI SQL over the same parquet tables.
  */
object SparkEntry {

  /** All oracle-checked queries, registered by operator area. */
  def registry: Seq[Q] =
    Relational.all ++ Joins.all ++ Windows.all ++ SetOps.all ++ Events.all ++
      PatternQueries.all ++ Coverage.all ++ Dialect.all ++
      TextAnalysis.all ++ Dedup.all ++ VectorSearch.all ++
      MultimodalQueries.all ++ Sampling.all ++ Curation.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1Agg.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** The local batch session Bench, Verify and Profile run on:
    * `SPARK_GRAFT_CPUS` cores (default: the machine's, at most 32), one
    * shuffle partition per core, UTC, no UI, WARN logging.
    */
  def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
