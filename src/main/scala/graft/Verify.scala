package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The driver's pandas-based checker can only sort/hash atomic
    * top-level columns — an array/map/struct output column makes the
    * whole query's oracle row error out (seen with q87 in round 10).
    * Registered queries must therefore reduce nested results to
    * scalars (array_join, explode, to_json…) before returning. Fails
    * fast with the query and column named so the breakage is caught at
    * registration time, not in the driver's correctness report.
    */
  def assertAtomicSchema(
      name: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val nested = schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] ||
                f.dataType.isInstanceOf[MapType] ||
                f.dataType.isInstanceOf[StructType] =>
        s"${f.name}: ${f.dataType.simpleString}"
    }
    if (nested.nonEmpty) throw new IllegalStateException(
      s"query $name returns non-atomic top-level column(s) " +
        s"${nested.mkString("[", ", ", "]")} — the oracle checker " +
        "cannot hash these; render them to scalars (array_join / " +
        "to_json / explode) before returning")
  }

  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args
    val spark = SparkEntry.localSession()
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q1,q2 limits the dump for fast local iteration;
    // the driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // One stuck query must not stall the whole gate: each runs bounded
    // (see graft.Timeouts); the driver scores a missing query as one
    // failure instead of timing out the round.
    val timeoutSec =
      sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_SEC", "600").toLong
    // after any timeout a leaked thread may hold cache locks — degrade
    // to skipping cleanup instead of risking the clearCache deadlock
    // (see Timeouts.boundedClearCache)
    var degraded = false
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      Timeouts.bounded(spark, name, timeoutSec) {
        val df = fn(spark, sfDir)
        assertAtomicSchema(name, df.schema)
        df.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }.foreach { reason =>
        System.err.println(s"[verify] $name failed: $reason")
        if (reason.startsWith(Timeouts.TimeoutPrefix)) degraded = true
        // a cancelled/leaked write must not leave partial (or
        // late-completing) output that the driver would read as a
        // full result for a query this run reported failed
        org.apache.commons.io.FileUtils
          .deleteQuietly(new java.io.File(s"$outDir/$name")): Unit
      }
      // queries that persist intermediates (e.g. dedup clustering) must
      // not accumulate cached relations across an 80-query dump
      if (!degraded &&
          Timeouts.boundedClearCache(spark, timeoutSec).isDefined)
        degraded = true
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
