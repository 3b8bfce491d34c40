package graft.harness

import graft.SparkFixture
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** `table.exec.state.ttl` over plain unbounded GROUP BY: the canonical
  * shape routes onto [[graft.streaming.UnboundedAggTracker]] — exact
  * slot arithmetic (COUNT(DISTINCT) included), update-mode emission,
  * idle-key expiry — while everything else stays native.
  */
class UnboundedAggSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  /** ProcessingTimeTimeout streams run no-data timer batches forever,
    * so `processAllAvailable` never returns — poll the sink instead. */
  private def awaitTrue(hint: String)(pred: => Boolean): Unit = {
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!pred && System.nanoTime() < deadline) Thread.sleep(100L)
    assert(pred, hint)
  }

  private val aggSql =
    """SELECT k, COUNT(*) AS c, SUM(v) AS s, AVG(v) AS a,
      |  MIN(v) AS mn, MAX(v) AS mx, COUNT(DISTINCT tag) AS d
      |FROM uagg_src WHERE v > 0 GROUP BY k""".stripMargin

  test("shape detection: single-table aliased-aggregate GROUP BY over " +
      "a stream; joins/TVFs/HAVING/expressions stay native") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Long, String)]
    input.toDF().toDF("k", "v", "tag").createOrReplaceTempView("uagg_src")
    assert(UnboundedAgg.hasShape(spark, aggSql))
    assert(UnboundedAgg.hasShape(spark, "INSERT INTO snk " + aggSql))
    // batch relation: no unbounded state to bound — native
    Seq(("a", 1L, "t")).toDF("k", "v", "tag")
      .createOrReplaceTempView("uagg_batch")
    assert(!UnboundedAgg.hasShape(spark,
      aggSql.replace("uagg_src", "uagg_batch")))
    // non-canonical shapes stay native
    assert(!UnboundedAgg.hasShape(spark,
      aggSql + " HAVING COUNT(*) > 1"))
    assert(!UnboundedAgg.hasShape(spark,
      aggSql.replace("GROUP BY k", "GROUP BY upper(k)")))
    assert(!UnboundedAgg.hasShape(spark,
      aggSql.replace("COUNT(*) AS c, ", "COUNT(*), ")))
    assert(!UnboundedAgg.hasShape(spark,
      "SELECT s.k, COUNT(*) AS c FROM uagg_src s JOIN d ON s.k = d.k " +
        "GROUP BY s.k"))
    assert(!UnboundedAgg.hasShape(spark,
      """SELECT window_start, COUNT(*) AS c FROM
        |TABLE(TUMBLE(TABLE uagg_src, DESCRIPTOR(t), INTERVAL '1' HOUR))
        |GROUP BY window_start""".stripMargin))
  }

  test("update emission equals the running batch aggregate; " +
      "COUNT(DISTINCT) is exact on the TTL path") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Long, String)]
    input.toDF().toDF("k", "v", "tag").createOrReplaceTempView("uagg_src")
    val rewritten = UnboundedAgg.rewrite(spark, aggSql, stateTtlSec = 600L)
    assert(rewritten.contains("graft_uagg_"), rewritten)
    def rows() = spark.table("uagg_run")
      .select($"k", $"c", $"s", $"a", $"mn", $"mx", $"d")
      .as[(String, Long, Long, Double, Long, Long, Long)]
      .collect().toSeq
    val q = spark.sql(rewritten).writeStream.format("memory")
      .queryName("uagg_run")
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .outputMode("update").start()
    try {
      // the WHERE filters v = 0 out pre-aggregation
      input.addData(("a", 5L, "x"), ("a", 9L, "y"), ("a", 0L, "zz"),
        ("b", 3L, "x"))
      awaitTrue("first batch aggregates")(rows().toSet == Set(
        ("a", 2L, 14L, 7.0d, 5L, 9L, 2L),
        ("b", 1L, 3L, 3.0d, 3L, 3L, 1L)))
      // a second batch folds INTO the held accumulators (running
      // totals — update semantics, same as Spark's native update mode);
      // the repeated tag x must not grow the distinct count
      input.addData(("a", 1L, "x"))
      awaitTrue("running totals")(
        rows().contains(("a", 3L, 15L, 5.0d, 1L, 9L, 2L)))
    } finally q.stop()
  }

  test("idle keys expire after the TTL; a returning key aggregates " +
      "fresh instead of folding into expired totals") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Long, String)]
    input.toDF().toDF("k", "v", "tag").createOrReplaceTempView("uagg_ttl")
    val rewritten = UnboundedAgg.rewrite(spark,
      "SELECT k, SUM(v) AS s FROM uagg_ttl GROUP BY k", stateTtlSec = 1L)
    def rows() = spark.table("uagg_ttl_out")
      .select($"k", $"s").as[(String, Long)].collect().toSeq
    val q = spark.sql(rewritten).writeStream.format("memory")
      .queryName("uagg_ttl_out")
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .outputMode("update").start()
    try {
      input.addData(("a", 10L, "t"))
      awaitTrue("first sum")(rows().contains(("a", 10L)))
      Thread.sleep(2500L) // idle past the 1 s TTL; timer batch expires `a`
      input.addData(("a", 3L, "t"))
      // fresh accumulator: 3, NOT 13
      awaitTrue("fresh sum after expiry")(rows().contains(("a", 3L)))
      assert(!rows().contains(("a", 13L)), rows())
    } finally q.stop()
  }

  test("checkpoint restart recovers TTL'd GROUP BY state exactly " +
      "(live accumulators + distinct sets survive the restore)") {
    // stop mid-stream with live CumAcc accumulators and a non-trivial
    // distinct set in state, deliver more rows while the query is
    // down, restart from the checkpoint: the recovered accumulators
    // must fold the new rows into the OLD totals (nothing reset) and
    // the restored distinct set must keep deduplicating (a re-seen
    // tag must not grow the count). Memory sinks cannot recover, so
    // emissions append to parquet via foreachBatch and the LAST
    // emission per key (max batch id) is the running total.
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Long, String)]
    input.toDF().toDF("k", "v", "tag").createOrReplaceTempView("uagg_ckpt")
    val rewritten = UnboundedAgg.rewrite(spark,
      """SELECT k, COUNT(*) AS c, SUM(v) AS s, MIN(v) AS mn,
        |  COUNT(DISTINCT tag) AS d
        |FROM uagg_ckpt GROUP BY k""".stripMargin, stateTtlSec = 600L)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-uagg-ckpt").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-uagg-out").toString
    def start() = spark.sql(rewritten).writeStream
      .outputMode("update")
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.withColumn("bid", org.apache.spark.sql.functions.lit(id))
          .write.mode("append").parquet(outDir)
      }.start()
    def latest(): Map[String, (Long, Long, Long, Long)] =
      spark.read.parquet(outDir)
        .select($"k", $"c", $"s", $"mn", $"d", $"bid")
        .as[(String, Long, Long, Long, Long, Long)]
        .collect().groupBy(_._1)
        .map { case (k, rows) =>
          val r = rows.maxBy(_._6)
          (k, (r._2, r._3, r._4, r._5))
        }
    // the restart runs with a different session partition count, as
    // when sql-submit sizes partitions from another machine's cores:
    // the query keeps the count its checkpoint's offset log recorded
    def stateParts(q: org.apache.spark.sql.streaming.StreamingQuery): Long = {
      awaitTrue("a progress report with state")(
        Option(q.lastProgress).exists(_.stateOperators.nonEmpty))
      q.recentProgress.reverseIterator.find(_.stateOperators.nonEmpty)
        .get.stateOperators(0).numShufflePartitions
    }
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      val q1 = start()
      try {
        input.addData(("a", 5L, "x"), ("a", 9L, "y"), ("b", 3L, "x"))
        awaitTrue("phase-1 totals")(
          scala.util.Try(latest()).toOption.contains(Map(
            "a" -> ((2L, 14L, 5L, 2L)), "b" -> ((1L, 3L, 3L, 1L)))))
        assert(stateParts(q1) == 8L)
      } finally q1.stop()
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      // rows arriving while the query is down: a re-seen tag (x must
      // not grow a's distinct count), a fresh tag, a new MIN, and rows
      // for b folding into its restored accumulator
      input.addData(("a", 1L, "x"), ("a", 2L, "z"), ("b", 4L, "w"))
      val q2 = start()
      try {
        awaitTrue("restored accumulators fold the downtime rows")(
          scala.util.Try(latest()).toOption.contains(Map(
            "a" -> ((4L, 17L, 1L, 3L)), "b" -> ((2L, 7L, 3L, 2L)))))
        assert(stateParts(q2) == 8L)
      } finally q2.stop()
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("an aliased FROM keeps its alias through the TTL route (r17 " +
      "review): qualified references resolve like the native path") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Long, String)]
    input.toDF().toDF("k", "v", "tag").createOrReplaceTempView("uagg_al")
    val aliased = "SELECT k, SUM(s.v) AS total FROM uagg_al s " +
      "WHERE s.v > 0 GROUP BY k"
    assert(UnboundedAgg.hasShape(spark, aliased))
    val rewritten = UnboundedAgg.rewrite(spark, aliased, stateTtlSec = 600L)
    def rows() = spark.table("uagg_al_out")
      .select($"k", $"total").as[(String, Long)].collect().toSeq
    val q = spark.sql(rewritten).writeStream.format("memory")
      .queryName("uagg_al_out")
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .outputMode("update").start()
    try {
      input.addData(("a", 4L, "t"), ("a", 6L, "t"), ("a", 0L, "t"))
      awaitTrue("aliased totals")(rows().contains(("a", 10L)))
    } finally q.stop()
  }

  test("the distinct-set high-water gauge reads the hot key's set " +
      "size under skew (state is O(distinct values per active key))") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Long, String)]
    input.toDF().toDF("k", "v", "tag").createOrReplaceTempView("uagg_hw")
    val rewritten = UnboundedAgg.rewrite(spark,
      "SELECT k, COUNT(DISTINCT tag) AS d FROM uagg_hw GROUP BY k",
      stateTtlSec = 600L)
    def rows() = spark.table("uagg_hw_out")
      .select($"k", $"d").as[(String, Long)].collect().toSeq
    graft.streaming.UnboundedAggTracker.peakDistinctValues.set(0L)
    val q = spark.sql(rewritten).writeStream.format("memory")
      .queryName("uagg_hw_out")
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .outputMode("update").start()
    try {
      // skew: key `hot` sees 40 distinct tags across two batches, the
      // cold keys 1 each — the gauge must report the hot key's growth,
      // which the idle-key TTL does NOT bound while the key stays warm
      input.addData((0 until 25).map(i => ("hot", 1L, s"t$i")) ++
        Seq(("c1", 1L, "x"), ("c2", 1L, "y")): _*)
      awaitTrue("first wave")(rows().contains(("hot", 25L)))
      input.addData((0 until 40).map(i => ("hot", 1L, s"t$i")): _*)
      awaitTrue("second wave dedups overlap")(rows().contains(("hot", 40L)))
      assert(
        graft.streaming.UnboundedAggTracker.peakDistinctValues.get == 40L,
        s"peak=${graft.streaming.UnboundedAggTracker.peakDistinctValues.get}")
    } finally q.stop()
  }

  test("contract violations fail by name") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    input.toDF().toDF("t", "v").createOrReplaceTempView("uagg_bad")
    // timestamp group key cannot round-trip the JSON state encoding
    val e = intercept[IllegalArgumentException](UnboundedAgg.rewrite(spark,
      "SELECT t, SUM(v) AS s FROM uagg_bad GROUP BY t", 60L))
    assert(e.getMessage.contains("JSON state encoding"), e.getMessage)
    // unresolvable aggregate input
    val e2 = intercept[IllegalArgumentException](UnboundedAgg.rewrite(spark,
      "SELECT v, SUM(nope) AS s FROM uagg_bad GROUP BY v", 60L))
    assert(e2.getMessage.contains("cannot resolve"), e2.getMessage)
  }
}
