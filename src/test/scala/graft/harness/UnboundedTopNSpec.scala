package graft.harness

import java.sql.Timestamp
import graft.SparkFixture
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Unbounded updating top-N (N ≥ 2): bounded per-key state through
  * [[graft.functions.TopRows]], update-mode emission, batch parity on
  * a single batch, and the rank-shift update across batches.
  */
class UnboundedTopNSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  private def topnSql(src: String, tail: String = "") =
    s"""SELECT k, price, tag, rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY k ORDER BY price DESC) AS rn
       |  FROM $src) WHERE rn <= 2$tail""".stripMargin

  test("shape detection: N >= 2 without a TVF, never rn = 1 or windowed") {
    assert(UnboundedTopN.hasShape(topnSql("s")))
    assert(UnboundedTopN.hasShape("INSERT INTO snk " + topnSql("s")))
    assert(!UnboundedTopN.hasShape(topnSql("s").replace("rn <= 2", "rn <= 1")))
    assert(!UnboundedTopN.hasShape(
      topnSql("TABLE(TUMBLE(TABLE s, DESCRIPTOR(t), INTERVAL '1' HOUR))")))
    assert(!UnboundedTopN.hasShape("SELECT * FROM s WHERE rn <= 2"))
  }

  test("held top-N re-emits with shifted ranks as better rows arrive") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Long, String)]
    input.toDF().toDF("k", "price", "tag")
      .createOrReplaceTempView("utn_src")
    val rewritten = UnboundedTopN.rewrite(spark, topnSql("utn_src"))
    assert(rewritten.contains("graft_utopn_"), rewritten)
    val q = spark.sql(rewritten).writeStream.format("memory")
      .queryName("utn_out").outputMode("update").start()
    try {
      // one batch: emitted rows ARE the exact batch top-2 per key
      input.addData(("a", 5L, "p5"), ("a", 9L, "p9"), ("a", 7L, "p7"),
        ("b", 3L, "p3"))
      q.processAllAvailable()
      val first = spark.table("utn_out")
        .select($"k", $"price", $"tag", $"rn")
        .as[(String, Long, String, Long)].collect().toSet
      val batchTwin = {
        Seq(("a", 5L, "p5"), ("a", 9L, "p9"), ("a", 7L, "p7"),
          ("b", 3L, "p3")).toDF("k", "price", "tag")
          .createOrReplaceTempView("utn_batch")
        spark.sql(topnSql("utn_batch"))
          .as[(String, Long, String, Long)].collect().toSet
      }
      assert(first === batchTwin)
      assert(first === Set(("a", 9L, "p9", 1L), ("a", 7L, "p7", 2L),
        ("b", 3L, "p3", 1L)))
      // a new best for `a` shifts ranks: the key re-emits its full
      // current top-2 (update stream); a loser (price 1) changes nothing
      input.addData(("a", 11L, "p11"), ("b", 1L, "p1"))
      q.processAllAvailable()
      val all = spark.table("utn_out")
        .select($"k", $"price", $"tag", $"rn")
        .as[(String, Long, String, Long)].collect().toSeq
      assert(all.contains(("a", 11L, "p11", 1L)), all)
      assert(all.contains(("a", 9L, "p9", 2L)), all) // shifted to rank 2
      assert(!all.contains(("a", 7L, "p7", 1L)), all)
      assert(all.contains(("b", 1L, "p1", 2L)), all)
    } finally q.stop()
  }

  /** Polls until `pred` holds — a ProcessingTimeTimeout stream runs
    * no-data batches continuously (`shouldRunAnotherBatch` is
    * unconditionally true), so `processAllAvailable` NEVER returns on
    * the TTL'd tracker queries; sink polling is the contract. */
  private def awaitTrue(hint: String)(pred: => Boolean): Unit = {
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!pred && System.nanoTime() < deadline) Thread.sleep(100L)
    assert(pred, hint)
  }

  test("table.exec.state.ttl: idle rank state expires; rows after " +
      "expiry rank fresh (and the first batch equals the no-TTL answer)") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Long, String)]
    input.toDF().toDF("k", "price", "tag")
      .createOrReplaceTempView("utn_ttl")
    val rewritten = UnboundedTopN.rewrite(spark, topnSql("utn_ttl"),
      stateTtlSec = 1L)
    def rows() = spark.table("utn_ttl_out")
      .select($"k", $"price", $"rn")
      .as[(String, Long, Long)].collect().toSeq
    val q = spark.sql(rewritten).writeStream.format("memory")
      .queryName("utn_ttl_out")
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("200 milliseconds"))
      .outputMode("update").start()
    try {
      // first batch: exact top-2, same as the native path would emit
      input.addData(("a", 5L, "p5"), ("a", 9L, "p9"), ("a", 7L, "p7"))
      awaitTrue("first top-2")(rows().toSet == Set(
        ("a", 9L, 1L), ("a", 7L, 2L)))
      // idle key `a` past the 1 s TTL — the timer batch drops its
      // state; `a` returns and price 3 ranks FRESH at 1 (without the
      // TTL the held 9/7 would keep it off rank 1)
      Thread.sleep(2500L)
      input.addData(("a", 3L, "p3"))
      awaitTrue("fresh rank after expiry")(
        rows().contains(("a", 3L, 1L)))
      assert(!rows().contains(("a", 3L, 2L)), rows())
    } finally q.stop()
  }

  test("rn = 1 deduplication routes onto the TTL tracker when the key " +
      "is set; without it the analysis rules keep the shape") {
    implicit val sc = spark.sqlContext
    val dedupSql =
      """SELECT k, price, tag, rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY k ORDER BY price DESC) AS rn
        |  FROM utn_dd) WHERE rn = 1""".stripMargin
    // shape detection: rn = 1 admits only with minN = 1 (the TTL'd
    // route); rn = 2 pins a single rank and is never the shape
    assert(!UnboundedTopN.hasShape(dedupSql))
    assert(UnboundedTopN.hasShape(dedupSql, minN = 1))
    assert(UnboundedTopN.hasShape(dedupSql.replace("rn = 1", "rn <= 1"),
      minN = 1))
    assert(!UnboundedTopN.hasShape(dedupSql.replace("rn = 1", "rn = 2"),
      minN = 1))
    val input = MemoryStream[(String, Long, String)]
    input.toDF().toDF("k", "price", "tag")
      .createOrReplaceTempView("utn_dd")
    val rewritten = UnboundedTopN.rewrite(spark, dedupSql,
      stateTtlSec = 600L)
    def rows() = spark.table("utn_dd_out")
      .select($"k", $"price", $"rn")
      .as[(String, Long, Long)].collect().toSeq
    val q = spark.sql(rewritten).writeStream.format("memory")
      .queryName("utn_dd_out")
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("200 milliseconds"))
      .outputMode("update").start()
    try {
      // keep-last/value-top-1: each key's current best at rank 1
      input.addData(("a", 5L, "p5"), ("a", 9L, "p9"), ("b", 3L, "p3"))
      awaitTrue("initial dedup")(rows().toSet == Set(
        ("a", 9L, 1L), ("b", 3L, 1L)))
      // an updating arrival re-emits the key's new best
      input.addData(("b", 8L, "p8"))
      awaitTrue("updated best")(rows().contains(("b", 8L, 1L)))
    } finally q.stop()
  }

  test("residual conjuncts and contract violations") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Long, String)]
    input.toDF().toDF("k", "price", "tag")
      .createOrReplaceTempView("utn_res")
    val rewritten = UnboundedTopN.rewrite(spark,
      topnSql("utn_res", " AND price >= 7"))
    assert(rewritten.endsWith("WHERE price >= 7"), rewritten)
    val q = spark.sql(rewritten).writeStream.format("memory")
      .queryName("utn_res_out").outputMode("update").start()
    try {
      input.addData(("a", 5L, "p5"), ("a", 9L, "p9"), ("a", 7L, "p7"))
      q.processAllAvailable()
      val got = spark.table("utn_res_out")
        .select($"price").as[Long].collect().toSet
      assert(got === Set(9L, 7L)) // 5 held rank-3 out, then filtered >= 7
    } finally q.stop()
    // non-numeric metric rejects by name
    val e = intercept[IllegalArgumentException] {
      UnboundedTopN.rewrite(spark,
        """SELECT k, tag FROM (
          |  SELECT *, ROW_NUMBER() OVER (
          |    PARTITION BY k ORDER BY tag DESC) AS rn
          |  FROM utn_res) WHERE rn <= 2""".stripMargin)
    }
    assert(e.getMessage.contains("numeric or timestamp"), e.getMessage)
    // a top-level OR in the residual would change the rank filter's
    // scope under SQL precedence — rejected by name, never silently
    // re-parenthesized
    val eOr = intercept[IllegalArgumentException](
      UnboundedTopN.rewrite(spark,
        topnSql("utn_res", " AND price >= 7 OR tag = 'x'")))
    assert(eOr.getMessage.contains("AND-joined"), eOr.getMessage)
    // an oversized rank bound is not the shape (no NumberFormatException)
    assert(!UnboundedTopN.hasShape(
      topnSql("utn_res").replace("rn <= 2", "rn <= 9999999999")))
  }

  test("checkpoint restart recovers the held top-N and keeps updating") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Long, String)]
    input.toDF().toDF("k", "price", "tag")
      .createOrReplaceTempView("utn_ckpt")
    val rewritten = UnboundedTopN.rewrite(spark, topnSql("utn_ckpt"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-utn-ckpt").toString
    // the memory sink cannot recover from a checkpoint; foreachBatch
    // can, and renders update-mode emissions like the jdbc-upsert path
    val sink = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(String, Long, Long)]())
    def start() = spark.sql(rewritten).writeStream
      .option("checkpointLocation", ckpt).outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select($"k", $"price", $"rn")
          .as[(String, Long, Long)].collect().foreach(sink.add)
        ()
      }.start()
    val q1 = start()
    try {
      input.addData(("a", 5L, "p5"), ("a", 9L, "p9"))
      q1.processAllAvailable()
    } finally q1.stop()
    // a candidate that outranks part of the RECOVERED buffer arrives
    // while the query is down
    input.addData(("a", 7L, "p7"))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val got = {
        import scala.jdk.CollectionConverters._
        sink.asScala.toSeq
      }
      // the post-restart emission merges the recovered {9, 5} with 7:
      // current top-2 is (9, 1), (7, 2) — 5 fell out of the buffer
      assert(got.contains(("a", 9L, 1L)), got)
      assert(got.contains(("a", 7L, 2L)), got)
      assert(!got.contains(("a", 5L, 1L)) && !got.contains(("a", 7L, 1L)),
        got)
    } finally q2.stop()
  }

  test("timestamp metrics rank by epoch millis; star narrowing rejects") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, String)]
    input.toDF().toDF("k", "t", "tag").createOrReplaceTempView("utn_ts")
    val rewritten = UnboundedTopN.rewrite(spark,
      """SELECT k, t, tag, rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY k ORDER BY t DESC) AS rn
        |  FROM utn_ts) WHERE rn <= 2""".stripMargin)
    val q = spark.sql(rewritten).writeStream.format("memory")
      .queryName("utn_ts_out").outputMode("update").start()
    try {
      input.addData(("a", ts(10), "t10"), ("a", ts(30), "t30"),
        ("a", ts(20), "t20"))
      q.processAllAvailable()
      val got = spark.table("utn_ts_out")
        .select($"t", $"tag", $"rn")
        .as[(Timestamp, String, Long)].collect().toSet
      assert(got === Set((ts(30), "t30", 1L), (ts(20), "t20", 2L)))
    } finally q.stop()
    // a non-lossless payload column (array — no JSON carrier) + outer
    // star: reject by name instead of silently narrowing the output
    val in2 = MemoryStream[(String, Long, Seq[Long])]
    in2.toDF().toDF("k", "price", "scores")
      .createOrReplaceTempView("utn_star")
    val eStar = intercept[IllegalArgumentException](
      UnboundedTopN.rewrite(spark,
        """SELECT * FROM (
          |  SELECT *, ROW_NUMBER() OVER (
          |    PARTITION BY k ORDER BY price DESC) AS rn
          |  FROM utn_star) WHERE rn <= 2""".stripMargin))
    assert(eStar.getMessage.contains("silently lose") &&
      eStar.getMessage.contains("scores"), eStar.getMessage)
  }

  test("NaN and NULL metrics rank with batch ROW_NUMBER parity") {
    implicit val sc = spark.sqlContext
    val data = Seq(("a", Some(Double.NaN), "nan"), ("a", Some(5.0), "v5"),
      ("a", None: Option[Double], "nul"), ("a", Some(7.0), "v7"))
    for (dir <- Seq("DESC", "ASC")) {
      val sql =
        s"""SELECT k, m, tag, rn FROM (
           |  SELECT *, ROW_NUMBER() OVER (
           |    PARTITION BY k ORDER BY m $dir) AS rn
           |  FROM SRC) WHERE rn <= 3""".stripMargin
      data.toDF("k", "m", "tag").createOrReplaceTempView("utn_nan_b")
      val batchTwin = spark.sql(sql.replace("SRC", "utn_nan_b"))
        .select($"tag", $"rn").as[(String, Long)].collect().toSet
      val input = MemoryStream[(String, Option[Double], String)]
      input.toDF().toDF("k", "m", "tag")
        .createOrReplaceTempView("utn_nan_s")
      val q = spark.sql(UnboundedTopN.rewrite(spark,
        sql.replace("SRC", "utn_nan_s"))).writeStream.format("memory")
        .queryName(s"utn_nan_out_$dir").outputMode("update").start()
      try {
        input.addData(data: _*)
        q.processAllAvailable()
        val got = spark.table(s"utn_nan_out_$dir")
          .select($"tag", $"rn").as[(String, Long)].collect().toSet
        assert(got === batchTwin, s"dir=$dir")
        // spell the law out too: NaN is the GREATEST value, NULL the
        // smallest (Spark/Flink batch total order)
        if (dir == "DESC")
          assert(batchTwin === Set(("nan", 1L), ("v7", 2L), ("v5", 3L)))
        else
          assert(batchTwin === Set(("nul", 1L), ("v5", 2L), ("v7", 3L)))
        // NULL metric decodes back as NULL, not 0.0
        val nullRows = spark.table(s"utn_nan_out_$dir")
          .filter($"tag" === "nul").select($"m").collect()
        nullRows.foreach(r => assert(r.isNullAt(0)))
      } finally q.stop()
    }
  }

  test("double / timestamp / decimal payload columns round-trip exactly") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Long, Double, Timestamp)]
    input.toDF().toDF("k", "price", "score", "seen")
      .withColumn("frac", org.apache.spark.sql.functions
        .expr("cast(price as decimal(12,3)) / 7"))
      .createOrReplaceTempView("utn_wide")
    val rewritten = UnboundedTopN.rewrite(spark,
      """SELECT k, price, score, seen, frac, rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY k ORDER BY price DESC) AS rn
        |  FROM utn_wide) WHERE rn <= 2""".stripMargin)
    val q = spark.sql(rewritten).writeStream.format("memory")
      .queryName("utn_wide_out").outputMode("update").start()
    try {
      val rows = Seq(("a", 9L, 0.1 + 0.2, ts(30)), // 0.30000000000000004
        ("a", 5L, Double.NaN, ts(10)))
      input.addData(rows: _*)
      q.processAllAvailable()
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .select($"price", $"score", $"seen", $"frac".cast("string"), $"rn")
        .as[(Long, Double, Timestamp, String, Long)].collect()
        // compare NaN-safely: tuple equality uses ==, NaN != NaN
        .map(t => (t._1, java.lang.Double.doubleToLongBits(t._2),
          t._3, t._4, t._5)).toSet
      val got = canon(spark.table("utn_wide_out"))
      rows.toDF("k", "price", "score", "seen")
        .withColumn("frac", org.apache.spark.sql.functions
          .expr("cast(price as decimal(12,3)) / 7"))
        .createOrReplaceTempView("utn_wide_b")
      val exp = canon(spark.sql(
        """SELECT k, price, score, seen, frac, rn FROM (
          |  SELECT *, ROW_NUMBER() OVER (
          |    PARTITION BY k ORDER BY price DESC) AS rn
          |  FROM utn_wide_b) WHERE rn <= 2""".stripMargin))
      assert(got === exp)
      assert(got.map(_._5) === Set(1L, 2L))
    } finally q.stop()
  }

  test("an implicit ROW_NUMBER alias (no AS) routes") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    input.toDF().toDF("k", "m").createOrReplaceTempView("utn_noas")
    val sql =
      """SELECT k, m, rn FROM (
        |  SELECT *, row_number() over (partition by k order by m desc) rn
        |  FROM utn_noas) WHERE rn <= 2""".stripMargin
    assert(UnboundedTopN.hasShape(sql))
    val q = spark.sql(UnboundedTopN.rewrite(spark, sql)).writeStream
      .format("memory").queryName("utn_noas_out").outputMode("update")
      .start()
    try {
      input.addData(("a", 5L), ("a", 9L), ("a", 7L))
      q.processAllAvailable()
      val got = spark.table("utn_noas_out")
        .select($"k", $"m", $"rn").as[(String, Long, Long)].collect().toSet
      assert(got === Set(("a", 9L, 1L), ("a", 7L, 2L)))
    } finally q.stop()
  }

  test("an explicit window frame or a non-default NULL ordering stays " +
      "off the route") {
    def topn(over: String) =
      s"""SELECT k, m, rn FROM (
         |  SELECT *, ROW_NUMBER() OVER ($over) AS rn
         |  FROM s) WHERE rn <= 2""".stripMargin
    assert(UnboundedTopN.hasShape(topn("PARTITION BY k ORDER BY m DESC")))
    assert(!UnboundedTopN.hasShape(topn("PARTITION BY k ORDER BY m DESC " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW")))
    assert(!UnboundedTopN.hasShape(
      topn("PARTITION BY k ORDER BY m DESC NULLS FIRST")))
  }
}
