package graft.streaming

import java.sql.Timestamp
import graft.harness.{MatchRecognize, WindowTopN, WindowTvf}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Every stateful rewrite must accept a source relation that ALREADY
  * carries a watermark — the CLI registers each DDL `WATERMARK FOR col`
  * as `withWatermark` on the source view, so a genuinely unbounded
  * streaming source reaches the trackers pre-watermarked. Spark
  * disallows stacking a second watermark node over the first
  * ("Redefining watermark is disallowed"), and conversely
  * `flatMapGroupsWithState(EventTimeTimeout)` requires a delay-tagged
  * attribute in its child output, which a bare `cast(...).as("ts")`
  * projection strips. [[Watermarks.ensure]] +
  * [[Watermarks.eventTimeCol]] thread the needle; these specs pin each
  * harness path over a pre-watermarked view. (The bounded-datagen e2e
  * scripts never caught this: `number-of-rows` routes datagen to a
  * BATCH relation, so no source watermark existed to collide with.)
  */
class WatermarkReuseSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkFixture.spark
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  test("Watermarks.ensure applies once and reuses an upstream definition") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val raw = input.toDF().toDF("ts", "v")
    val once = Watermarks.ensure(raw, "ts", "5 seconds")
    assert(once.queryExecution.analyzed.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark]))
    // a second ensure over the watermarked relation is the identity
    val twice = Watermarks.ensure(once, "ts", "5 seconds")
    assert(twice.queryExecution.analyzed === once.queryExecution.analyzed)
    // eventTimeCol carries the delay tag through the cast alias
    val tagged = once.select(Watermarks.eventTimeCol(once, "ts", "ts2"))
    assert(tagged.schema("ts2").metadata.contains(
      org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark.delayKey))
    val untagged = raw.select(Watermarks.eventTimeCol(raw, "ts", "ts2"))
    assert(!untagged.schema("ts2").metadata.contains(
      org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark.delayKey))
  }

  test("Watermarks.ensure matches the column before reusing (r15)") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Timestamp, Timestamp, Long)]
    val raw = input.toDF().toDF("ts", "ts_other", "v")
    def wmCols(ds: org.apache.spark.sql.DataFrame): Seq[String] =
      ds.queryExecution.analyzed.collect {
        case e: org.apache.spark.sql.catalyst.plans.logical
          .EventTimeWatermark => e.eventTime.name
      }
    // an upstream node on a DIFFERENT column is not a substitute:
    // ensure must still apply the requested watermark
    val other = raw.withWatermark("ts_other", "1 minute")
    val both = Watermarks.ensure(other, "ts", "5 seconds")
    assert(wmCols(both).map(_.toLowerCase).sorted === Seq("ts", "ts_other"))
    // same column, different delay: the existing definition wins
    // (stacking a second node on one attribute is what Spark rejects)
    val first = raw.withWatermark("ts", "1 minute")
    val reused = Watermarks.ensure(first, "ts", "5 seconds")
    assert(reused.queryExecution.analyzed === first.queryExecution.analyzed)
  }

  test("cumulate tracker over a source-watermarked view") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Long)]
    input.toDF().toDF("ts", "k", "v").withWatermark("ts", "5 seconds")
      .createOrReplaceTempView("wmr_cum_src")
    val rewritten = WindowTvf.rewriteStreaming(
      "SELECT k, window_start, window_end, COUNT(*) AS n FROM " +
        "TABLE(CUMULATE(TABLE wmr_cum_src, DESCRIPTOR(ts), " +
        "INTERVAL '1' MINUTE, INTERVAL '2' MINUTE)) " +
        "GROUP BY k, window_start, window_end",
      spark, _ => Some(("ts", "5 seconds")))
    val q = spark.sql(rewritten).writeStream.format("memory")
      .queryName("wmr_cum_out").outputMode("append").start()
    try {
      input.addData((ts(10), "a", 1L), (ts(70), "a", 2L))
      q.processAllAvailable()
      input.addData((ts(500), "z", 0L))
      q.processAllAvailable()
      val got = spark.table("wmr_cum_out")
        .select($"k", org.apache.spark.sql.functions.unix_millis(
          $"window_end"), $"n")
        .as[(String, Long, Long)].collect().toSet
      // span [0, 120): step ends 60 s (1 row) and 120 s (2 rows);
      // span [420, 540) holds z but stays pending behind the watermark
      assert(got === Set(("a", 60000L, 1L), ("a", 120000L, 2L)))
    } finally q.stop()
  }

  test("zone-grid tracker over a source-watermarked view") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Long)]
    input.toDF().toDF("ts", "k", "v").withWatermark("ts", "5 seconds")
      .createOrReplaceTempView("wmr_grid_src")
    val rewritten = WindowTvf.rewriteStreaming(
      "SELECT k, window_start, window_end, COUNT(*) AS n FROM " +
        "TABLE(TUMBLE(TABLE wmr_grid_src, DESCRIPTOR(ts), " +
        "INTERVAL '1' MINUTE)) GROUP BY k, window_start, window_end",
      spark, _ => Some(("ts", "5 seconds")), Some("America/New_York"))
    val q = spark.sql(rewritten).writeStream.format("memory")
      .queryName("wmr_grid_out").outputMode("append").start()
    try {
      input.addData((ts(10), "a", 1L))
      q.processAllAvailable()
      input.addData((ts(500), "z", 0L))
      q.processAllAvailable()
      val got = spark.table("wmr_grid_out")
        .select($"k", org.apache.spark.sql.functions.unix_millis(
          $"window_start"), $"n")
        .as[(String, Long, Long)].collect().toSet
      assert(got === Set(("a", 0L, 1L)))
    } finally q.stop()
  }

  test("window top-N over a source-watermarked view") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Long)]
    input.toDF().toDF("k", "ts", "spend").withWatermark("ts", "5 seconds")
      .createOrReplaceTempView("wmr_topn_src")
    val rewritten = WindowTopN.rewriteStreaming(spark,
      """SELECT k, window_start, spend, rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY window_start, window_end, k
        |    ORDER BY spend DESC) AS rn
        |  FROM TABLE(TUMBLE(TABLE wmr_topn_src, DESCRIPTOR(ts),
        |    INTERVAL '1' MINUTE)))
        |WHERE rn <= 1""".stripMargin,
      t => if (t.equalsIgnoreCase("wmr_topn_src"))
        Some(("ts", "5 seconds")) else None)
    val q = spark.sql(rewritten).writeStream.format("memory")
      .queryName("wmr_topn_out").outputMode("append").start()
    try {
      input.addData(("a", ts(10), 5L), ("a", ts(20), 9L))
      q.processAllAvailable()
      input.addData(("z", ts(500), 0L))
      q.processAllAvailable()
      val got = spark.table("wmr_topn_out")
        .select($"k", $"spend", $"rn")
        .as[(String, Long, Long)].collect().toSet
      assert(got === Set(("a", 9L, 1L)))
    } finally q.stop()
  }

  test("streaming MATCH_RECOGNIZE over a source-watermarked view") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Long)]
    input.toDF().toDF("k", "ts", "v").withWatermark("ts", "5 seconds")
      .createOrReplaceTempView("wmr_mr_src")
    val streamSql = MatchRecognize.rewriteStreaming(spark,
      """SELECT * FROM wmr_mr_src MATCH_RECOGNIZE (
        |  PARTITION BY k ORDER BY ts
        |  MEASURES UP.v AS uv, MATCH_NUMBER() AS mn
        |  ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (UP)
        |  DEFINE UP AS v > 3)""".stripMargin,
      t => if (t.equalsIgnoreCase("wmr_mr_src"))
        Some(("ts", "5 seconds")) else None)
    val q = spark.sql(streamSql).writeStream.format("memory")
      .queryName("wmr_mr_out").outputMode("append").start()
    try {
      input.addData(("g", ts(10), 1L), ("g", ts(20), 7L))
      q.processAllAvailable()
      input.addData(("z", ts(500), 0L))
      q.processAllAvailable()
      val got = spark.table("wmr_mr_out").collect()
        .filter(_.getString(0) == "g").map(r => r.getLong(1)).toSet
      assert(got === Set(7L))
    } finally {
      q.stop()
      MatchRecognize.dropViews(spark, streamSql)
    }
  }

  test("a window aggregation reuses an upstream watermark") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions._
    val input = MemoryStream[(Timestamp, String, Long)]
    val src = input.toDF().toDF("ts", "k", "v")
      .withWatermark("ts", "5 seconds")
    val agg = Watermarks.ensure(src, "ts", "5 seconds")
      .groupBy(col("k"), window(col("ts"), "1 minute"))
      .agg(count(lit(1)).as("n"))
    // the upstream definition is reused, not stacked
    assert(agg.queryExecution.analyzed.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark => w
    }.size == 1)
    val q = agg.writeStream.format("memory").queryName("wmr_ops_out")
      .outputMode("append").start()
    try {
      input.addData((ts(10), "a", 1L), (ts(20), "a", 2L))
      q.processAllAvailable()
      input.addData((ts(500), "z", 0L))
      q.processAllAvailable()
      val got = spark.table("wmr_ops_out")
        .select($"k", $"n").as[(String, Long)].collect().toSet
      assert(got === Set(("a", 2L)))
    } finally q.stop()
  }
}
