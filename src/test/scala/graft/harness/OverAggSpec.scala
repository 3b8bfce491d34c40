package graft.harness

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite

/** Streaming event-time OVER aggregation ([[OverAgg]] +
  * [[graft.streaming.OverAggTracker]]): each frame kind is pinned
  * equal to Spark's native batch window execution on the same rows —
  * the strongest oracle available for a streaming-only rewrite — plus
  * the named rejections for everything outside the subset.
  */
class OverAggSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkFixture.spark
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  /** Runs `overSql` (written against table name `t`) through the
    * streaming rewrite on a MemoryStream fed `rows`, advances the
    * watermark far past them with a flush row per key, and returns the
    * collected output rows keyed off the batch twin's column order.
    */
  private def runStreaming(
      overSql: String,
      rows: Seq[(String, Timestamp, Long, Double)],
      flushSec: Long = 100000L): Seq[Seq[Any]] = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Long, Double)]
    val name = s"oa_s_${System.nanoTime()}"
    input.toDF().toDF("k", "ets", "v", "d").createOrReplaceTempView(name)
    val rewritten = OverAgg.rewriteStreaming(spark,
      overSql.replace(" t ", s" $name ").replace(" t\n", s" $name\n"),
      tb => if (tb.equalsIgnoreCase(name)) Some(("ets", "5 seconds"))
        else None)
    val qn = s"oa_out_${System.nanoTime()}"
    val q = spark.sql(rewritten).writeStream.format("memory")
      .queryName(qn).outputMode("append").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      input.addData(("__flush__", ts(flushSec), 0L, 0d))
      q.processAllAvailable()
      spark.table(qn).collect().toSeq.map(_.toSeq)
        .filterNot(_.contains("__flush__"))
    } finally q.stop()
  }

  private def runBatch(overSql: String,
      rows: Seq[(String, Timestamp, Long, Double)]): Seq[Seq[Any]] = {
    val name = s"oa_b_${System.nanoTime()}"
    rows.toDF("k", "ets", "v", "d").createOrReplaceTempView(name)
    spark.sql(overSql.replace(" t ", s" $name ").replace(" t\n", s" $name\n"))
      .collect().toSeq.map(_.toSeq)
  }

  private val data = Seq(
    ("a", ts(10), 1L, 1.5d), ("a", ts(20), 3L, -2.5d),
    ("a", ts(30), 2L, 0.25d), ("a", ts(45), 5L, 4.0d),
    ("a", ts(70), 4L, 1.0d),
    ("b", ts(12), 7L, 10.0d), ("b", ts(25), 1L, -1.0d),
    ("b", ts(26), 9L, 3.5d))

  private def assertStreamEqualsBatch(sql: String,
      rows: Seq[(String, Timestamp, Long, Double)] = data): Unit = {
    val got = runStreaming(sql, rows).map(_.toList).sortBy(_.toString)
    val exp = runBatch(sql, rows).map(_.toList).sortBy(_.toString)
    assert(got === exp, s"\nquery: $sql")
  }

  test("RANGE UNBOUNDED PRECEDING (default frame) equals batch") {
    assertStreamEqualsBatch(
      """SELECT k, ets, v,
        |  SUM(v) OVER (PARTITION BY k ORDER BY ets) AS rs,
        |  COUNT(*) OVER (PARTITION BY k ORDER BY ets) AS rc,
        |  AVG(d) OVER (PARTITION BY k ORDER BY ets) AS ra
        |FROM t """.stripMargin)
  }

  test("explicit RANGE BETWEEN UNBOUNDED PRECEDING equals batch, peers") {
    // two rows share ts(30): RANGE peers must see each other
    val withPeers = data :+ ("a", ts(30), 10L, 2.0d)
    assertStreamEqualsBatch(
      """SELECT k, v,
        |  SUM(v) OVER (PARTITION BY k ORDER BY ets
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs,
        |  MAX(d) OVER (PARTITION BY k ORDER BY ets
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rm
        |FROM t """.stripMargin, withPeers)
  }

  test("RANGE INTERVAL PRECEDING equals batch, peers included") {
    val withPeers = data :+ ("a", ts(45), 20L, -1.0d)
    assertStreamEqualsBatch(
      """SELECT k, ets, v,
        |  SUM(v) OVER (PARTITION BY k ORDER BY ets
        |    RANGE BETWEEN INTERVAL '20' SECOND PRECEDING AND CURRENT ROW)
        |    AS ws,
        |  COUNT(v) OVER (PARTITION BY k ORDER BY ets
        |    RANGE BETWEEN INTERVAL '20' SECOND PRECEDING AND CURRENT ROW)
        |    AS wc,
        |  MIN(d) OVER (PARTITION BY k ORDER BY ets
        |    RANGE BETWEEN INTERVAL '20' SECOND PRECEDING AND CURRENT ROW)
        |    AS wm
        |FROM t """.stripMargin, withPeers)
  }

  test("ROWS n PRECEDING equals batch on distinct timestamps") {
    assertStreamEqualsBatch(
      """SELECT k, ets, v,
        |  SUM(v) OVER (PARTITION BY k ORDER BY ets
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ws,
        |  AVG(v) OVER (PARTITION BY k ORDER BY ets
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS wa
        |FROM t """.stripMargin)
  }

  test("ROWS UNBOUNDED PRECEDING equals batch on distinct timestamps") {
    assertStreamEqualsBatch(
      """SELECT k, v,
        |  MIN(v) OVER (PARTITION BY k ORDER BY ets
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wm
        |FROM t """.stripMargin)
  }

  test("variance family equals batch bit-for-bit over all four frames") {
    // r16: STDDEV_SAMP/STDDEV_POP/VAR_SAMP/VAR_POP stream through the
    // central-moment slots. Equality is EXACT: both sides fold rows
    // sequentially in time order with the same CentralMomentAgg
    // update arithmetic (the tracker replicates Spark's formulas), and
    // the data keeps per-key timestamps distinct so the fold order is
    // unambiguous. Each partition's first row also pins the ANSI
    // single-row semantics: *_SAMP emits NULL, *_POP emits 0.0.
    for (frame <- Seq("",
        "\n    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
        "\n    RANGE BETWEEN INTERVAL '20' SECOND PRECEDING AND CURRENT ROW",
        "\n    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW")) {
      assertStreamEqualsBatch(
        s"""SELECT k, ets, v,
           |  STDDEV_SAMP(d) OVER (PARTITION BY k ORDER BY ets$frame) AS ss,
           |  STDDEV_POP(v) OVER (PARTITION BY k ORDER BY ets$frame) AS sp,
           |  VAR_SAMP(d) OVER (PARTITION BY k ORDER BY ets$frame) AS vs,
           |  VAR_POP(v) OVER (PARTITION BY k ORDER BY ets$frame) AS vp
           |FROM t """.stripMargin)
    }
    // the SQL-standard sample aliases map to the same kinds
    assertStreamEqualsBatch(
      """SELECT k, v,
        |  STDDEV(d) OVER (PARTITION BY k ORDER BY ets) AS sd,
        |  VARIANCE(v) OVER (PARTITION BY k ORDER BY ets) AS vv
        |FROM t """.stripMargin)
  }

  test("plain decimal aggregates equal batch over all four frames (r16)") {
    // kinds 22-25 on the OVER tracker: the exact decimal seat folds
    // per frame; equality with Spark's native batch window execution
    // is exact (decimal arithmetic has no fold-order sensitivity)
    for (frame <- Seq("",
        "\n    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
        "\n    RANGE BETWEEN INTERVAL '20' SECOND PRECEDING AND CURRENT ROW",
        "\n    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW")) {
      assertStreamEqualsBatch(
        s"""SELECT k, ets, v,
           |  SUM(CAST(d AS DECIMAL(7,2)))
           |    OVER (PARTITION BY k ORDER BY ets$frame) AS sd,
           |  AVG(CAST(d AS DECIMAL(7,2)))
           |    OVER (PARTITION BY k ORDER BY ets$frame) AS ad,
           |  MIN(CAST(d AS DECIMAL(7,2)))
           |    OVER (PARTITION BY k ORDER BY ets$frame) AS mnd,
           |  MAX(CAST(d AS DECIMAL(7,2)))
           |    OVER (PARTITION BY k ORDER BY ets$frame) AS mxd
           |FROM t """.stripMargin)
    }
  }

  test("DISTINCT variance streams with hand-computed frames (r17 — " +
      "Spark lacks the surface even in batch)") {
    // Spark batch rejects DISTINCT window aggregates outright, so the
    // oracle is the moment arithmetic over the deduplicated set:
    // distinct v after ts(20) is {1, 3} -> VAR_POP 1.0, VAR_SAMP 2.0,
    // STDDEV_POP 1.0; the repeated v = 1 at ts(30) changes nothing;
    // the single-value prefix pins *_SAMP NULL / *_POP 0.0
    val rows = Seq(
      ("a", ts(10), 1L, 1.5d), ("a", ts(20), 3L, 1.5d),
      ("a", ts(30), 1L, 2.5d))
    val got = runStreaming(
      """SELECT ets,
        |  VAR_POP(DISTINCT v) OVER (PARTITION BY k ORDER BY ets) AS vp,
        |  VAR_SAMP(DISTINCT v) OVER (PARTITION BY k ORDER BY ets) AS vs,
        |  STDDEV_POP(DISTINCT v) OVER (PARTITION BY k ORDER BY ets) AS sp,
        |  STDDEV(DISTINCT d) OVER (PARTITION BY k ORDER BY ets) AS sd
        |FROM t """.stripMargin, rows)
      .map(r => (r(0).asInstanceOf[Timestamp].getTime / 1000L,
        r(1), r(2), r(3), r(4))).sortBy(_._1)
    // distinct d after ts(30) is {1.5, 2.5} -> STDDEV_SAMP
    // = sqrt(0.5) (exact double arithmetic: m2 = 0.5)
    assert(got === Seq(
      (10L, 0.0d, null, 0.0d, null),
      (20L, 1.0d, 2.0d, 1.0d, null),
      (30L, 1.0d, 2.0d, 1.0d, math.sqrt(0.5d))))
  }

  test("inline subquery source streams by event-time lineage (r17) " +
      "and equals batch") {
    // the subquery names ONE watermarked table and projects its
    // event-time column — the shared SubquerySource law; the outer
    // OVER then streams above the derived projection/filter
    assertStreamEqualsBatch(
      """SELECT k, ets, v2,
        |  SUM(v2) OVER (PARTITION BY k ORDER BY ets) AS rs,
        |  COUNT(*) OVER (PARTITION BY k ORDER BY ets) AS rc
        |FROM (SELECT k, ets, v + 1 AS v2 FROM t WHERE v <> 2) """
        .stripMargin)
    // an aliased subquery with a residual WHERE outside it
    assertStreamEqualsBatch(
      """SELECT k, v,
        |  MAX(v) OVER (PARTITION BY k ORDER BY ets) AS mx
        |FROM (SELECT k, ets, v FROM t ) s WHERE v <> 7 """.stripMargin)
  }

  test("a comma-joined subquery source streams by the watermarked " +
      "relation among the parsed plan's relations") {
    // the flush row joins too, so the watermark passes every row
    val dim = s"oa_dim_${System.nanoTime()}"
    Seq(("a", "A"), ("b", "B"), ("__flush__", "F")).toDF("dk", "tag")
      .createOrReplaceTempView(dim)
    assertStreamEqualsBatch(
      s"""SELECT k, ets, tag,
        |  SUM(v) OVER (PARTITION BY k ORDER BY ets) AS rs
        |FROM (SELECT s.k, s.ets, s.v, d.tag FROM $dim d, t s
        |  WHERE d.dk = s.k) """.stripMargin)
  }

  test("subquery-source contract rejections are named (r17)") {
    val name = s"oa_sq_${System.nanoTime()}"
    Seq(("a", ts(1), 1L, 1d)).toDF("k", "ets", "v", "d")
      .createOrReplaceTempView(name)
    val wmOf: String => Option[(String, String)] =
      tb => if (tb.equalsIgnoreCase(name)) Some(("ets", "5 seconds"))
        else None
    def err(sql: String): String =
      intercept[IllegalArgumentException](
        OverAgg.rewriteStreaming(spark, sql, wmOf)).getMessage
    // event-time column must survive the projection
    assert(err("SELECT SUM(v) OVER (PARTITION BY k ORDER BY ets) AS s " +
      s"FROM (SELECT k, v FROM $name)")
      .contains("must project the event-time column"), "projection")
    // no watermarked lineage
    assert(err("SELECT SUM(v) OVER (PARTITION BY k ORDER BY ets) AS s " +
      "FROM (SELECT 1 AS k, TIMESTAMP'2024-01-01' AS ets, 2 AS v)")
      .contains("no WATERMARK-declared table"), "lineage")
    // an OVER call only INSIDE the subquery is the subquery's own
    // business — the outer statement has no aggregate to track
    assert(err("SELECT k, mx FROM (SELECT k, ets, MAX(v) OVER " +
      s"(PARTITION BY k ORDER BY ets) AS mx FROM $name)")
      .contains("no OVER aggregate"), "inner-only")
  }

  test("two-stage streaming chain: a window-TVF tracker view feeds " +
      "the OVER tracker through its window_time rowtime (r17)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Long)]
    // the CLI source carries its DDL watermark; mirror it here (the
    // native window() stage needs the plan-level watermark for append)
    input.toDF().toDF("k", "ts", "v")
      .withWatermark("ts", "5 seconds")
      .createOrReplaceTempView("oa_chain_src")
    // the COUNT(DISTINCT) routes TUMBLE onto the pinned-window tracker,
    // whose window_time output carries the event-time tag itself (the
    // native window() path gets the tag from the CLI view registry —
    // covered by SqlSubmitE2ESpec's two-stage pipeline)
    val tvfRewritten = WindowTvf.rewriteStreaming(
      "SELECT k, window_time, SUM(v) AS s, COUNT(DISTINCT v) AS d " +
        "FROM TABLE(TUMBLE(" +
        "TABLE oa_chain_src, DESCRIPTOR(ts), INTERVAL '1' MINUTE)) " +
        "GROUP BY k, window_start, window_end, window_time",
      spark,
      t => if (t.equalsIgnoreCase("oa_chain_src"))
        Some(("ts", "5 seconds")) else None)
    spark.sql(tvfRewritten).createOrReplaceTempView("oa_chain_view")
    // the view registry's law: window_time rides out with the SOURCE
    // delay; emissions are watermark-gated so any delay is drop-safe
    val overSql = OverAgg.rewriteStreaming(spark,
      "SELECT k, window_time, s, SUM(s) OVER (PARTITION BY k ORDER " +
        "BY window_time) AS rs FROM oa_chain_view",
      t => if (t.equalsIgnoreCase("oa_chain_view"))
        Some(("window_time", "5 seconds")) else None)
    // mirror the CLI's chained-pipeline scope: the global-watermark
    // heuristic downgrades to a warning (tracker emissions are
    // watermark-gated appends — never late downstream), and the query
    // runs under SINGLE-watermark propagation (the per-operator
    // simulator propagates no watermark through FMGWS, so stage 2
    // would never mature anything)
    val corrKey =
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val multiKey = "spark.sql.streaming.statefulOperator.allowMultiple"
    val savedCorr = spark.conf.getOption(corrKey)
    val savedMulti = spark.conf.getOption(multiKey)
    spark.conf.set(corrKey, "false")
    spark.conf.set(multiKey, "false")
    val q = spark.sql(overSql).writeStream.format("memory")
      .queryName("oa_chain_out").outputMode("append").start()
    try {
      // k=a: v 0..5 at 30 s -> minute windows sum 1, 5, 9; running 1, 6, 15
      input.addData((0 to 5).map(i =>
        ("a", ts(i * 30L), i.toLong)): _*)
      q.processAllAvailable()
      // far-future rows on ANOTHER key flush both stages' watermarks
      input.addData(("z", ts(100000L), 0L))
      q.processAllAvailable()
      input.addData(("z", ts(300000L), 0L))
      q.processAllAvailable()
      input.addData(("z", ts(600000L), 0L))
      q.processAllAvailable()
      val got = spark.table("oa_chain_out")
        .where("k = 'a'").select($"s", $"rs")
        .as[(Long, Long)].collect().toSet
      assert(got === Set((1L, 1L), (5L, 6L), (9L, 15L)), got.toString)
    } finally {
      q.stop()
      savedCorr.fold(spark.conf.unset(corrKey))(spark.conf.set(corrKey, _))
      savedMulti.fold(spark.conf.unset(multiKey))(
        spark.conf.set(multiKey, _))
    }
  }

  test("a backtick-quoted PARTITION BY column routes, batch parity") {
    assertStreamEqualsBatch(
      """SELECT k, v,
        |  SUM(v) OVER (PARTITION BY `k` ORDER BY ets) AS rs
        |FROM t """.stripMargin)
  }

  test("WHERE filters input rows before the window, batch parity") {
    assertStreamEqualsBatch(
      """SELECT k, v,
        |  SUM(v) OVER (PARTITION BY k ORDER BY ets) AS rs
        |FROM t WHERE v <> 2""".stripMargin)
  }

  test("double payload columns ride the exact carrier; expressions " +
      "as aggregate inputs") {
    assertStreamEqualsBatch(
      """SELECT k, d,
        |  SUM(v + 1) OVER (PARTITION BY k ORDER BY ets) AS rs
        |FROM t """.stripMargin)
  }

  test("DISTINCT aggregates run exactly (a surface Spark lacks even " +
      "in batch), hand-computed frames") {
    // Spark batch rejects DISTINCT window aggregates outright, so the
    // oracle is the frame arithmetic itself (range 20 s, peers via the
    // shared timestamps elsewhere covered; distinct over repeated v/d)
    val rows = Seq(
      ("a", ts(10), 1L, 1.5d), ("a", ts(20), 3L, 1.5d),
      ("a", ts(30), 3L, 2.5d), ("a", ts(45), 1L, 1.5d),
      ("a", ts(70), 3L, 2.5d))
    val got = runStreaming(
      """SELECT ets, v,
        |  COUNT(DISTINCT v) OVER (PARTITION BY k ORDER BY ets
        |    RANGE BETWEEN INTERVAL '20' SECOND PRECEDING AND CURRENT ROW)
        |    AS cd,
        |  SUM(DISTINCT v) OVER (PARTITION BY k ORDER BY ets
        |    RANGE BETWEEN INTERVAL '20' SECOND PRECEDING AND CURRENT ROW)
        |    AS sd,
        |  AVG(DISTINCT d) OVER (PARTITION BY k ORDER BY ets
        |    RANGE BETWEEN INTERVAL '20' SECOND PRECEDING AND CURRENT ROW)
        |    AS ad,
        |  MAX(DISTINCT v) OVER (PARTITION BY k ORDER BY ets
        |    RANGE BETWEEN INTERVAL '20' SECOND PRECEDING AND CURRENT ROW)
        |    AS md
        |FROM t """.stripMargin, rows)
      .map(r => (r(0).asInstanceOf[Timestamp].getTime / 1000L,
        r(2), r(3), r(4), r(5))).sortBy(_._1)
    assert(got === Seq(
      (10L, 1L, 1L, 1.5d, 1L),
      (20L, 2L, 4L, 1.5d, 3L),
      (30L, 2L, 4L, 2.0d, 3L),
      (45L, 2L, 4L, 2.0d, 3L),
      (70L, 1L, 3L, 2.5d, 3L)))
    // UNBOUNDED running distinct count
    val run = runStreaming(
      """SELECT ets,
        |  COUNT(DISTINCT v) OVER (PARTITION BY k ORDER BY ets) AS rcd
        |FROM t """.stripMargin, rows)
      .map(r => (r(0).asInstanceOf[Timestamp].getTime / 1000L, r(1)))
      .sortBy(_._1)
    assert(run === Seq((10L, 1L), (20L, 2L), (30L, 2L), (45L, 2L),
      (70L, 2L)))
    // decimal distinct (r16, kind 21): running SUM over the distinct
    // set, exact Catalyst decimal arithmetic — d values 1.5/2.5 dedup
    val dec = runStreaming(
      """SELECT ets,
        |  SUM(DISTINCT CAST(d AS DECIMAL(7,2)))
        |    OVER (PARTITION BY k ORDER BY ets) AS sd
        |FROM t """.stripMargin, rows)
      .map(r => (r(0).asInstanceOf[Timestamp].getTime / 1000L,
        Option(r(1)).map(_.toString).orNull))
      .sortBy(_._1)
    assert(dec === Seq((10L, "1.50"), (20L, "1.50"), (30L, "4.00"),
      (45L, "4.00"), (70L, "4.00")))
  }

  test("LAG equals batch: positional, typed through the carrier, " +
      "frame-blind beside a running aggregate") {
    assertStreamEqualsBatch(
      """SELECT k, v,
        |  LAG(v) OVER (PARTITION BY k ORDER BY ets) AS pv,
        |  LAG(d, 2) OVER (PARTITION BY k ORDER BY ets) AS pd2,
        |  LAG(ets) OVER (PARTITION BY k ORDER BY ets) AS pts,
        |  SUM(v) OVER (PARTITION BY k ORDER BY ets) AS rs
        |FROM t """.stripMargin)
  }

  test("FIRST_VALUE/LAST_VALUE equal batch on non-null inputs") {
    // Flink's FIRST/LAST_VALUE skip nulls while Spark batch respects
    // them — on non-null inputs and distinct timestamps the two agree,
    // so batch is the oracle here; null skipping is hand-pinned below
    assertStreamEqualsBatch(
      """SELECT k, v,
        |  FIRST_VALUE(v) OVER (PARTITION BY k ORDER BY ets) AS fv,
        |  LAST_VALUE(d) OVER (PARTITION BY k ORDER BY ets) AS lv,
        |  SUM(v) OVER (PARTITION BY k ORDER BY ets) AS rs
        |FROM t """.stripMargin)
    assertStreamEqualsBatch(
      """SELECT k, v,
        |  FIRST_VALUE(d) OVER (PARTITION BY k ORDER BY ets
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS fv,
        |  LAST_VALUE(ets) OVER (PARTITION BY k ORDER BY ets
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS le
        |FROM t """.stripMargin)
  }

  test("FIRST_VALUE skips nulls (Flink semantics), hand-pinned") {
    val rows = Seq(("a", ts(10), 1L, 0d), ("a", ts(20), 3L, 0d),
      ("a", ts(30), 2L, 0d))
    val got = runStreaming(
      """SELECT ets,
        |  FIRST_VALUE(NULLIF(v, 1)) OVER (PARTITION BY k ORDER BY ets)
        |    AS fv
        |FROM t """.stripMargin, rows)
      .map(r => (r(0).asInstanceOf[Timestamp].getTime / 1000L, r(1)))
      .sortBy(_._1)
    // the first row's input is NULL: Flink's first_value skips it, so
    // the running first becomes 3 from ts(20) on (Spark batch would
    // pin NULL forever — the documented divergence)
    assert(got === Seq((10L, null), (20L, 3L), (30L, 3L)))
  }

  test("LAG with a literal DEFAULT equals batch: default only when the " +
      "offset leaves the partition, in-bounds NULLs stay NULL") {
    assertStreamEqualsBatch(
      """SELECT k, v,
        |  LAG(v, 2, -1) OVER (PARTITION BY k ORDER BY ets) AS pv2,
        |  LAG(NULLIF(v, 3), 1, -99) OVER (PARTITION BY k ORDER BY ets)
        |    AS pn
        |FROM t """.stripMargin)
  }

  test("LAG rejections: LEAD, non-literal DEFAULT, zero offset") {
    val name = s"oa_l_${System.nanoTime()}"
    Seq(("a", ts(1), 1L, 1d)).toDF("k", "ets", "v", "d")
      .createOrReplaceTempView(name)
    val wm = (tb: String) =>
      if (tb.equalsIgnoreCase(name)) Some(("ets", "5 seconds")) else None
    def rejects(sql: String, needle: String): Unit = {
      val e = intercept[IllegalArgumentException](
        OverAgg.rewriteStreaming(spark, sql, wm))
      assert(e.getMessage.toLowerCase.contains(needle.toLowerCase),
        s"message: ${e.getMessage}")
    }
    rejects(s"SELECT LEAD(v) OVER (PARTITION BY k ORDER BY ets) " +
      s"FROM $name", "cannot stream")
    // a LEAD-only statement must TRIGGER the pass so the named
    // rejection fires instead of Spark's raw non-time-window error
    assert(OverAgg.hasStreamingShape(
      s"SELECT LEAD(v) OVER (PARTITION BY k ORDER BY ets) FROM $name"))
    rejects(s"SELECT SUM(v) OVER (PARTITION BY k ORDER BY ets) " +
      s"FROM $name WHERE v > 0 ORDER BY ets", "watermark-maturity")
    rejects(s"SELECT SUM(v) OVER (PARTITION BY k ORDER BY ets) " +
      s"FROM $name LIMIT 5", "watermark-maturity")
    rejects(s"SELECT LAG(v, 1, d + 1) OVER (PARTITION BY k ORDER BY ets) " +
      s"FROM $name", "literal")
    // a non-literal OFFSET names the offset, not the (valid) default
    rejects(s"SELECT LAG(v, d, 0) OVER (PARTITION BY k ORDER BY ets) " +
      s"FROM $name", "offset must be a literal integer")
    rejects(s"SELECT LAG(v, 0) OVER (PARTITION BY k ORDER BY ets) " +
      s"FROM $name", ">= 1")
  }

  test("maturity is watermark-gated: rows behind the watermark emit, " +
      "the frontier row waits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Long, Double)]
    val name = s"oa_w_${System.nanoTime()}"
    input.toDF().toDF("k", "ets", "v", "d").createOrReplaceTempView(name)
    val rewritten = OverAgg.rewriteStreaming(spark,
      s"""SELECT k, v,
         |  SUM(v) OVER (PARTITION BY k ORDER BY ets) AS rs
         |FROM $name""".stripMargin,
      tb => if (tb.equalsIgnoreCase(name)) Some(("ets", "5 seconds"))
        else None)
    val qn = s"oa_wout_${System.nanoTime()}"
    val q = spark.sql(rewritten).writeStream.format("memory")
      .queryName(qn).outputMode("append").start()
    try {
      input.addData(("a", ts(10), 1L, 0d), ("a", ts(20), 3L, 0d))
      q.processAllAvailable()
      // watermark = 20 - 5 = 15: only the ts(10) row matured
      assert(spark.table(qn).collect().map(_.getLong(1)).toSet === Set(1L))
      input.addData(("a", ts(100), 5L, 0d))
      q.processAllAvailable()
      // watermark = 95: ts(20) matured with the running sum including
      // ts(10); the frontier row still waits
      assert(spark.table(qn).collect().map(r =>
        (r.getLong(1), r.getLong(2))).toSet === Set((1L, 1L), (3L, 4L)))
    } finally q.stop()
  }

  test("checkpoint restart recovers over-aggregation state exactly-once") {
    // stop with a row pending behind the watermark, deliver more rows
    // while the query is down, restart from the checkpoint: recovered
    // frame state must emit every row exactly once with exact frames
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Long, Double)]
    val name = s"oa_ck_${System.nanoTime()}"
    input.toDF().toDF("k", "ets", "v", "d").createOrReplaceTempView(name)
    val rewritten = OverAgg.rewriteStreaming(spark,
      s"""SELECT k, v, SUM(v) OVER (PARTITION BY k ORDER BY ets
         |  RANGE BETWEEN INTERVAL '20' SECOND PRECEDING AND CURRENT ROW)
         |  AS s FROM $name""".stripMargin,
      tb => if (tb.equalsIgnoreCase(name)) Some(("ets", "5 seconds"))
        else None)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-oa-ckpt")
      .toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-oa-out")
      .toString
    def start() = spark.sql(rewritten).writeStream
      .format("parquet").option("path", outDir).outputMode("append")
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      input.addData(("a", ts(10), 1L, 0d), ("a", ts(70), 7L, 0d))
      q1.processAllAvailable()
      // watermark 65 s: only the ts(10) row matured
      assert(spark.read.parquet(outDir).count() === 1)
    } finally q1.stop()
    // rows arriving while the query is down: ts(80) lands inside
    // ts(70)'s successor frame, ts(1000) only advances the watermark
    input.addData(("a", ts(80), 3L, 0d), ("a", ts(1000), 9L, 0d))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val all = spark.read.parquet(outDir).collect()
        .map(r => (r.getLong(1), r.getLong(2))).toSet
      // exactly once: ts(10) not re-emitted; ts(70)'s frame [50,70]
      // holds itself only; ts(80)'s frame [60,80] holds 70+80; the
      // frontier row stays pending
      assert(all === Set((1L, 1L), (7L, 7L), (3L, 10L)))
    } finally q2.stop()
  }

  test("soak: 100k keys; frame state drops once rows leave the horizon") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val nKeys = 100000
    val input = MemoryStream[(String, Timestamp, Long, Double)]
    val name = s"oa_soak_${System.nanoTime()}"
    input.toDF().toDF("k", "ets", "v", "d").createOrReplaceTempView(name)
    val rewritten = OverAgg.rewriteStreaming(spark,
      s"""SELECT k, v, SUM(v) OVER (PARTITION BY k ORDER BY ets
         |  RANGE BETWEEN INTERVAL '20' SECOND PRECEDING AND CURRENT ROW)
         |  AS s FROM $name""".stripMargin,
      tb => if (tb.equalsIgnoreCase(name)) Some(("ets", "5 seconds"))
        else None)
    val qn = s"oa_soak_out_${System.nanoTime()}"
    val query = spark.sql(rewritten).writeStream.format("memory")
      .queryName(qn).outputMode("append").start()
    try {
      input.addData((0 until nKeys).map(i =>
        (s"k$i", ts(10L), 1L, 0d)): _*)
      query.processAllAvailable()
      val peak = query.lastProgress.stateOperators.head.numRowsTotal
      assert(peak >= nKeys.toLong,
        s"expected state for all $nKeys pending keys, saw $peak")
      // the watermark passes every row AND its 20 s frame horizon:
      // every key emits and reclaims — bounded-frame state must not
      // outlive the horizon
      input.addData(("late", ts(1000000L), 1L, 0d))
      query.processAllAvailable()
      input.addData(("late2", ts(2000000L), 1L, 0d))
      query.processAllAvailable()
      val after = query.lastProgress.stateOperators.head.numRowsTotal
      assert(after <= 2L,
        s"horizon passed but $after state rows remain (expected <= 2)")
      import spark.implicits._
      val emitted = spark.table(qn)
        .filter(!$"k".isin("late", "late2")).count()
      assert(emitted === nKeys.toLong)
    } finally query.stop()
  }

  test("named rejections") {
    val name = s"oa_r_${System.nanoTime()}"
    Seq(("a", ts(1), 1L, 1d)).toDF("k", "ets", "v", "d")
      .createOrReplaceTempView(name)
    val wm = (tb: String) =>
      if (tb.equalsIgnoreCase(name)) Some(("ets", "5 seconds")) else None
    def rejects(sql: String, needle: String): Unit = {
      val e = intercept[IllegalArgumentException](
        OverAgg.rewriteStreaming(spark, sql, wm))
      assert(e.getMessage.toLowerCase.contains(needle.toLowerCase),
        s"message: ${e.getMessage}")
    }
    rejects(s"SELECT SUM(v) OVER (PARTITION BY k ORDER BY ets DESC) " +
      s"FROM $name", "ascending")
    rejects(s"SELECT SUM(v DISTINCT) OVER (PARTITION BY k ORDER BY ets) " +
      s"FROM $name", "DISTINCT placement")
    rejects(s"SELECT SUM(v) OVER (PARTITION BY k ORDER BY ets), " +
      s"NTILE(4) OVER (PARTITION BY k ORDER BY ets) FROM $name",
      "COUNT/SUM/MIN/MAX/AVG")
    rejects(s"SELECT SUM(v) OVER (PARTITION BY k ORDER BY ets), " +
      s"SUM(v) OVER (ORDER BY ets) FROM $name", "one window")
    rejects(s"SELECT SUM(v) OVER (PARTITION BY k ORDER BY ets " +
      s"RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) FROM $name",
      "INTERVAL")
    rejects(s"SELECT SUM(v) OVER (PARTITION BY k ORDER BY ets " +
      s"ROWS BETWEEN INTERVAL '5' SECOND PRECEDING AND CURRENT ROW) " +
      s"FROM $name", "row count")
    rejects(s"SELECT SUM(v) OVER (PARTITION BY k ORDER BY ets " +
      s"ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) FROM $name", "frame")
    rejects(s"SELECT k, SUM(v) OVER (PARTITION BY k ORDER BY ets) " +
      s"FROM $name GROUP BY k", "GROUP BY")
    rejects(s"SELECT SUM(v) OVER (PARTITION BY k ORDER BY v) " +
      s"FROM $name", "event-time")
    rejects(s"SELECT SUM(v) OVER (PARTITION BY d ORDER BY ets) " +
      s"FROM $name", "losslessly")
  }

  test("hot-key state high-water marks are frame-bounded (randomized)") {
    // r16: per-key state must be bounded by the FRAME DECLARATION plus
    // the watermark-pending horizon, never by data volume — the
    // tracker's saved-state gauges (peakPending/Hist/Lag/Distinct) are
    // asserted against each frame kind's declared bound on a hot key
    // fed across many micro-batches. Values are randomized; timestamps
    // are strictly increasing 1 s apart so the horizon arithmetic is
    // exact: pending <= one batch's arrivals + the 5 s delay span +
    // the frontier row, hist <= N (ROWS) / the range+delay span
    // (RANGE), lag history <= the max LAG offset, distinct sets <= the
    // value alphabet.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.OverAggTracker
    val rnd = new scala.util.Random(79)
    val batchSizes = Seq.fill(12)(40 + rnd.nextInt(60))
    def feed(overSql: String): Unit = {
      implicit val sc = spark.sqlContext
      val input = MemoryStream[(String, Timestamp, Long, Double)]
      val name = s"oa_hot_${System.nanoTime()}"
      input.toDF().toDF("k", "ets", "v", "d").createOrReplaceTempView(name)
      val rewritten = OverAgg.rewriteStreaming(spark,
        overSql.replace(" t ", s" $name "),
        tb => if (tb.equalsIgnoreCase(name)) Some(("ets", "5 seconds"))
          else None)
      val qn = s"oa_hot_out_${System.nanoTime()}"
      val q = spark.sql(rewritten).writeStream.format("memory")
        .queryName(qn).outputMode("append").start()
      try {
        var t = 0L
        batchSizes.foreach { sz =>
          input.addData((0 until sz).map { _ =>
            t += 1
            ("h", ts(t), rnd.nextInt(7).toLong, rnd.nextInt(16) * 0.25d)
          })
          q.processAllAvailable()
        }
        assert(spark.table(qn).count() > 0)
      } finally q.stop()
    }
    def reset(): Unit = {
      OverAggTracker.peakPendingRows.set(0L)
      OverAggTracker.peakHistRows.set(0L)
      OverAggTracker.peakLagRows.set(0L)
      OverAggTracker.peakDistinctValues.set(0L)
    }
    val maxBatch = batchSizes.max.toLong
    // pending: rows not yet matured — at most one batch's arrivals on
    // top of the 5 s delay span (6 rows at 1 row/s) + the frontier
    val pendingBound = maxBatch + 8L

    reset()
    feed("SELECT k, v, SUM(v) OVER (PARTITION BY k ORDER BY ets " +
      "ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS s FROM t ")
    assert(OverAggTracker.peakHistRows.get() <= 9L,
      s"ROWS 9 PRECEDING held ${OverAggTracker.peakHistRows.get()} rows")
    assert(OverAggTracker.peakPendingRows.get() <= pendingBound,
      s"pending ${OverAggTracker.peakPendingRows.get()} > $pendingBound")

    reset()
    feed("SELECT k, v, AVG(d) OVER (PARTITION BY k ORDER BY ets " +
      "RANGE BETWEEN INTERVAL '10' SECOND PRECEDING AND CURRENT ROW) " +
      "AS a FROM t ")
    // hist spans [wm - 10 s, wm) = at most 15 s behind the frontier
    // at 1 row/s, plus the boundary rows
    assert(OverAggTracker.peakHistRows.get() <= 18L,
      s"RANGE 10 s held ${OverAggTracker.peakHistRows.get()} rows")
    assert(OverAggTracker.peakPendingRows.get() <= pendingBound)

    reset()
    feed("SELECT k, v, COUNT(DISTINCT v) OVER (PARTITION BY k ORDER " +
      "BY ets) AS cd, LAG(v, 3) OVER (PARTITION BY k ORDER BY ets) " +
      "AS l3 FROM t ")
    // UNBOUNDED frames keep NO row history — running accumulators
    // only; the distinct set grows with the VALUE ALPHABET (7), not
    // the row count; LAG keeps exactly its offset
    assert(OverAggTracker.peakHistRows.get() === 0L)
    assert(OverAggTracker.peakDistinctValues.get() <= 7L,
      s"distinct set held ${OverAggTracker.peakDistinctValues.get()}")
    assert(OverAggTracker.peakLagRows.get() <= 3L,
      s"lag history held ${OverAggTracker.peakLagRows.get()}")
    assert(OverAggTracker.peakPendingRows.get() <= pendingBound)
  }

  test("e2e: streaming OVER aggregation through the CLI") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-over-e2e")
    val script = Files.createTempFile("graft-over", ".sql")
    try {
      Files.writeString(script,
        s"""SET execution.runtime-mode = streaming;
           |SET execution.checkpointing.enabled = true;
           |SET state.checkpoints.dir = file://${dir.toString}/cp;
           |create table src (
           |  id bigint,
           |  row_time as timestamp '2024-01-01 00:00:00' +
           |    make_interval(0, 0, 0, 0, 0, 0, cast(id as int)),
           |  watermark for row_time as row_time - interval '1' second
           |) with (
           |  'connector' = 'datagen',
           |  'rows-per-second' = '100',
           |  'fields.id.kind' = 'sequence',
           |  'fields.id.start' = '0',
           |  'fields.id.end' = '19'
           |);
           |create table snk (id bigint, s bigint) with (
           |  'connector' = 'filesystem',
           |  'path' = 'file://${dir.toString}/out',
           |  'format' = 'parquet'
           |);
           |insert into snk
           |SELECT id, SUM(id) OVER (ORDER BY row_time
           |  RANGE BETWEEN INTERVAL '5' SECOND PRECEDING AND CURRENT ROW)
           |  AS s FROM src;
           |""".stripMargin)
      new SqlSubmitAction(script.toString, Map.empty, Some(spark),
        durationSec = 30L).run()
      val got = spark.read.parquet(s"$dir/out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      // the final watermark is 19 - 1 = 18 s: ids 0..17 matured, the
      // frontier rows wait forever (exactly Flink's behavior)
      assert(got.keySet === (0L to 17L).toSet, got.toString)
      got.foreach { case (i, s) =>
        assert(s === (math.max(0L, i - 5) to i).sum, s"id $i")
      }
    } finally {
      Files.deleteIfExists(script): Unit
    }
  }

  test("e2e: streaming OVER above a CREATE VIEW source (r16)") {
    // the event-time attribute propagates through a single-table
    // projection/filter view (Flink semantics): the view registers in
    // the CLI's watermark registry, so the OVER rewrite accepts it as
    // its FROM — the view's WHERE is part of the view body, applied to
    // input rows before the window
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-over-view")
    val script = Files.createTempFile("graft-ov", ".sql")
    try {
      Files.writeString(script,
        s"""SET execution.runtime-mode = streaming;
           |SET execution.checkpointing.enabled = true;
           |SET state.checkpoints.dir = file://${dir.toString}/cp;
           |create table vsrc (
           |  id bigint,
           |  row_time as timestamp '2024-01-01 00:00:00' +
           |    make_interval(0, 0, 0, 0, 0, 0, cast(id as int)),
           |  watermark for row_time as row_time - interval '1' second
           |) with (
           |  'connector' = 'datagen',
           |  'rows-per-second' = '100',
           |  'fields.id.kind' = 'sequence',
           |  'fields.id.start' = '0',
           |  'fields.id.end' = '19'
           |);
           |create temporary view v_even as
           |  select id, row_time from vsrc where id % 2 = 0;
           |create table vsnk (id bigint, s bigint, n bigint) with (
           |  'connector' = 'filesystem',
           |  'path' = 'file://${dir.toString}/out',
           |  'format' = 'parquet'
           |);
           |insert into vsnk
           |SELECT id,
           |  SUM(id) OVER (ORDER BY row_time
           |    RANGE BETWEEN INTERVAL '5' SECOND PRECEDING AND CURRENT ROW)
           |    AS s,
           |  COUNT(*) OVER (ORDER BY row_time
           |    RANGE BETWEEN INTERVAL '5' SECOND PRECEDING AND CURRENT ROW)
           |    AS n
           |FROM v_even;
           |""".stripMargin)
      new SqlSubmitAction(script.toString, Map.empty, Some(spark),
        durationSec = 30L).run()
      val got = spark.read.parquet(s"$dir/out")
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
        .toMap
      // even ids 0..16 matured (watermark 18 s); the 5 s frame holds
      // the previous 2 even rows + self
      assert(got.keySet === (0L to 16L by 2).toSet, got.toString)
      got.foreach { case (i, (s, n)) =>
        val frame = (math.max(0L, i - 5) to i).filter(_ % 2 == 0)
        assert(s === frame.sum && n === frame.size.toLong, s"id $i")
      }
    } finally {
      Files.deleteIfExists(script): Unit
    }
  }

  test("e2e: streaming OVER above a view that RENAMES the time column " +
      "(r16 — the attribute rides the alias, Flink's propagation)") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-over-ren")
    val script = Files.createTempFile("graft-ovr", ".sql")
    try {
      Files.writeString(script,
        s"""SET execution.runtime-mode = streaming;
           |SET execution.checkpointing.enabled = true;
           |SET state.checkpoints.dir = file://${dir.toString}/cp;
           |create table rsrc (
           |  id bigint,
           |  row_time as timestamp '2024-01-01 00:00:00' +
           |    make_interval(0, 0, 0, 0, 0, 0, cast(id as int)),
           |  watermark for row_time as row_time - interval '1' second
           |) with ('connector' = 'datagen', 'rows-per-second' = '100',
           |  'fields.id.kind' = 'sequence',
           |  'fields.id.start' = '0', 'fields.id.end' = '9');
           |create temporary view v_base as
           |  select id, row_time from rsrc where id >= 2;
           |create temporary view v_ren as
           |  select id, row_time as rt from v_base;
           |create table rsnk (id bigint, s bigint) with (
           |  'connector' = 'filesystem',
           |  'path' = 'file://${dir.toString}/out',
           |  'format' = 'parquet'
           |);
           |insert into rsnk
           |SELECT id, SUM(id) OVER (ORDER BY rt
           |  RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
           |FROM v_ren;
           |""".stripMargin)
      new SqlSubmitAction(script.toString, Map.empty, Some(spark),
        durationSec = 30L).run()
      val got = spark.read.parquet(s"$dir/out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      // the registry CHAINS: v_base registers off rsrc, v_ren off
      // v_base under the alias. ids 2..7 matured (watermark stops at
      // 8 s, maturity is strict) and passed v_base's filter; running
      // sum over the renamed event-time order
      assert(got.keySet === (2L to 7L).toSet, got.toString)
      got.foreach { case (i, s) => assert(s === (2L to i).sum, s"id $i") }
    } finally {
      Files.deleteIfExists(script): Unit
    }
  }

  test("e2e: streaming OVER above a stream-static JOIN view (r16 — " +
      "the lookup-join analogue preserves the stream side's rowtime)") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-over-join")
    val script = Files.createTempFile("graft-oj", ".sql")
    try {
      Files.writeString(script,
        s"""SET execution.runtime-mode = streaming;
           |SET execution.checkpointing.enabled = true;
           |SET state.checkpoints.dir = file://${dir.toString}/cp;
           |create table jsrc (
           |  id bigint,
           |  row_time as timestamp '2024-01-01 00:00:00' +
           |    make_interval(0, 0, 0, 0, 0, 0, cast(id as int)),
           |  watermark for row_time as row_time - interval '1' second
           |) with ('connector' = 'datagen', 'rows-per-second' = '100',
           |  'fields.id.kind' = 'sequence',
           |  'fields.id.start' = '0', 'fields.id.end' = '9');
           |create temporary view par_dim as
           |  select * from (values (0, 'even'), (1, 'odd')) as t(r, tag);
           |create temporary view v_enr as
           |  select s.id, s.row_time as rt, d.tag
           |  from jsrc s join par_dim d on (s.id % 2) = d.r;
           |create table jsnk (id bigint, tag string, s bigint) with (
           |  'connector' = 'filesystem',
           |  'path' = 'file://${dir.toString}/out',
           |  'format' = 'parquet'
           |);
           |insert into jsnk
           |SELECT id, tag, SUM(id) OVER (PARTITION BY tag ORDER BY rt
           |  RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
           |FROM v_enr;
           |""".stripMargin)
      new SqlSubmitAction(script.toString, Map.empty, Some(spark),
        durationSec = 30L).run()
      val got = spark.read.parquet(s"$dir/out")
        .collect().map(r => (r.getLong(0), (r.getString(1), r.getLong(2))))
        .toMap
      // ids 0..7 matured (watermark 9−1 s, strict); per-parity running
      // sums over the renamed event-time order, dim tag joined in
      assert(got.keySet === (0L to 7L).toSet, got.toString)
      got.foreach { case (i, (tag, s)) =>
        assert(tag === (if (i % 2 == 0) "even" else "odd"), s"id $i")
        assert(s === (0L to i).filter(_ % 2 == i % 2).sum, s"id $i")
      }
    } finally {
      Files.deleteIfExists(script): Unit
    }
  }

  test("a stream-STREAM join view keeps the named rejection (regular " +
      "joins drop the rowtime attribute, as in Flink)") {
    import java.nio.file.Files
    val script = Files.createTempFile("graft-ojj", ".sql")
    try {
      Files.writeString(script,
        """SET execution.runtime-mode = streaming;
          |create table s1 (
          |  id bigint,
          |  row_time as timestamp '2024-01-01 00:00:00' +
          |    make_interval(0, 0, 0, 0, 0, 0, cast(id as int)),
          |  watermark for row_time as row_time - interval '1' second
          |) with ('connector' = 'datagen', 'rows-per-second' = '100',
          |  'fields.id.kind' = 'sequence',
          |  'fields.id.start' = '0', 'fields.id.end' = '4');
          |create table s2 (
          |  id2 bigint,
          |  rt2 as timestamp '2024-01-01 00:00:00' +
          |    make_interval(0, 0, 0, 0, 0, 0, cast(id2 as int)),
          |  watermark for rt2 as rt2 - interval '1' second
          |) with ('connector' = 'datagen', 'rows-per-second' = '100',
          |  'fields.id2.kind' = 'sequence',
          |  'fields.id2.start' = '0', 'fields.id2.end' = '4');
          |create temporary view v_ss as
          |  select a.id, a.row_time from s1 a join s2 b on a.id = b.id2;
          |SELECT id, SUM(id) OVER (ORDER BY row_time) AS s FROM v_ss;
          |""".stripMargin)
      val e = intercept[Exception](
        new SqlSubmitAction(script.toString, Map.empty, Some(spark),
          durationSec = 10L).run())
      val msg = Option(e.getCause).fold(e.getMessage)(_.getMessage)
      assert(msg.contains("WATERMARK declaration"), msg)
    } finally {
      Files.deleteIfExists(script): Unit
    }
  }

  test("view-registry edges: bounded join views, inner FROM, backticks, " +
      "column-alias lists, and a dim posing under the stream's name") {
    import java.nio.file.Files
    // registration probe: ORDER BY a wrong column — a registered view
    // answers with the event-time MISMATCH naming its recorded column,
    // an unregistered one with the needs-a-WATERMARK error. Bounded
    // sources keep every case batch-fast.
    val ddl =
      """SET execution.runtime-mode = streaming;
        |create table psrc (
        |  id bigint,
        |  row_time as timestamp '2024-01-01 00:00:00' +
        |    make_interval(0, 0, 0, 0, 0, 0, cast(id as int)),
        |  watermark for row_time as row_time - interval '1' second
        |) with ('connector' = 'datagen', 'number-of-rows' = '5',
        |  'fields.id.kind' = 'sequence',
        |  'fields.id.start' = '0', 'fields.id.end' = '4');
        |create or replace temporary view pdim as
        |  select * from (values (0, 'even'), (1, 'odd')) as t(r, tag);
        |""".stripMargin
    def probe(views: String, from: String): String = {
      val f = Files.createTempFile("graft-ove", ".sql")
      Files.writeString(f, ddl + views +
        s"SELECT SUM(1) OVER (ORDER BY __probe) AS s FROM $from;\n")
      try {
        val e = intercept[Exception](
          new SqlSubmitAction(f.toString, Map.empty, Some(spark),
            durationSec = 10L).run())
        Option(e.getCause).fold(e.getMessage)(_.getMessage)
      } finally { Files.deleteIfExists(f): Unit }
    }
    // a BOUNDED stream-static join view records (the bounded run
    // executes as batch; the single watermarked relation is the
    // structural evidence, same as the single-table bounded path)
    val m1 = probe(
      """create temporary view pv1 as
        |  select s.id, s.row_time as rt, d.tag
        |  from psrc s join pdim d on (s.id % 2) = d.r;
        |""".stripMargin, "pv1")
    assert(m1.contains("event-time column (rt)"), m1)
    // an inner FROM (EXTRACT) must not truncate the select list or
    // inject a relation
    val m2 = probe(
      """create temporary view pv2 as
        |  select extract(day from s.row_time) as dd, s.row_time, d.tag
        |  from psrc s join pdim d on (s.id % 2) = d.r;
        |""".stripMargin, "pv2")
    assert(m2.contains("event-time column (row_time)"), m2)
    // backtick-quoted projection of the attribute still records
    val m3 = probe(
      """create temporary view pv3 as
        |  select id, `row_time` as `rt3` from psrc;
        |""".stripMargin, "pv3")
    assert(m3.contains("event-time column (rt3)"), m3)
    // ...and so does a backtick-quoted FROM relation
    val m3b = probe(
      """create temporary view pv3b as
        |  select id, row_time from `psrc`;
        |""".stripMargin, "pv3b")
    assert(m3b.contains("event-time column (row_time)"), m3b)
    // CREATE VIEW v (a, b) AS ...: the column list renames
    // positionally, so the attribute rides out under the LIST name
    val m4 = probe(
      """create temporary view pv4 (a, b) as
        |  select id, row_time from psrc;
        |""".stripMargin, "pv4")
    assert(m4.contains("event-time column (b)"), m4)
    // ...and OR REPLACE with a column list still EVICTS (the regex
    // must cross the list to reach AS)
    val m5 = probe(
      """create temporary view pv5 as select id, row_time from psrc;
        |create or replace temporary view pv5 (a, b) as
        |  select id, max(row_time) from psrc group by id;
        |""".stripMargin, "pv5")
    assert(m5.contains("WATERMARK declaration"), m5)
    // the registry serves MATCH_RECOGNIZE above the join view through
    // the same watermarkOf (probe: MR names the recorded column in
    // its ORDER BY contract error)
    val mMr = {
      val f = Files.createTempFile("graft-ovemr", ".sql")
      Files.writeString(f, ddl +
        """create temporary view pvmr as
          |  select s.id, s.row_time as rt, d.tag
          |  from psrc s join pdim d on (s.id % 2) = d.r;
          |SELECT * FROM pvmr MATCH_RECOGNIZE (
          |  ORDER BY __probe
          |  MEASURES COUNT(A.*) AS n
          |  PATTERN (A) DEFINE A AS id >= 0);
          |""".stripMargin)
      try {
        val e = intercept[Exception](
          new SqlSubmitAction(f.toString, Map.empty, Some(spark),
            durationSec = 10L).run())
        Option(e.getCause).fold(e.getMessage)(_.getMessage)
      } finally { Files.deleteIfExists(f): Unit }
    }
    assert(mMr.contains("(rt)"), mMr)
    // a column literally named `union` (backtick-quoted) must not
    // trip the set-op guard: the guard runs on the MASKED body
    val m7 = probe(
      """create temporary view pv7 as
        |  select id as `union`, row_time from psrc;
        |""".stripMargin, "pv7")
    assert(m7.contains("event-time column (row_time)"), m7)
    // a second watermarked relation HIDDEN IN A SUBQUERY still makes
    // the join a stream-stream shape (bounded run, where the plan
    // check cannot distinguish) — stays unrecorded
    val m8 = probe(
      """create table p2src (
        |  id2 bigint,
        |  rt2 as timestamp '2024-01-01 00:00:00' +
        |    make_interval(0, 0, 0, 0, 0, 0, cast(id2 as int)),
        |  watermark for rt2 as rt2 - interval '1' second
        |) with ('connector' = 'datagen', 'number-of-rows' = '5',
        |  'fields.id2.kind' = 'sequence',
        |  'fields.id2.start' = '0', 'fields.id2.end' = '4');
        |create temporary view pv8 as
        |  select a.id, a.row_time
        |  from psrc a join (select * from p2src) b on a.id = b.id2;
        |""".stripMargin, "pv8")
    assert(m8.contains("WATERMARK declaration"), m8)
    // a COMMENT clause in the column-alias list neither breaks the
    // record (the list name is the leading identifier) nor — with a
    // paren inside the comment string — the OR REPLACE eviction
    val m9 = probe(
      """create temporary view pv9 (a, b COMMENT 'event (time)') as
        |  select id, row_time from psrc;
        |""".stripMargin, "pv9")
    assert(m9.contains("event-time column (b)"), m9)
    val m10 = probe(
      """create temporary view pv10 as select id, row_time from psrc;
        |create or replace temporary view pv10 (a COMMENT 'pct)') as
        |  select max(row_time) from psrc group by id;
        |""".stripMargin, "pv10")
    assert(m10.contains("WATERMARK declaration"), m10)
    // a dim aliased with the STREAM's table name cannot pose: its
    // same-named ordinary column is not the attribute (once aliased,
    // only the alias legally qualifies the stream)
    val m6 = probe(
      """create temporary view tdim as
        |  select * from (values (0, timestamp '1999-01-01 00:00:00'))
        |    as t(r, row_time);
        |create temporary view pv6 as
        |  select psrc.row_time, s.id
        |  from psrc s join tdim psrc on (s.id % 2) = psrc.r;
        |""".stripMargin, "pv6")
    assert(m6.contains("WATERMARK declaration"), m6)
  }

  test("CREATE OR REPLACE and DROP evict the view's event-time record") {
    import java.nio.file.Files
    // w registers off the source; REPLACING it with an aggregating
    // body must evict the record (an aggregate drops the rowtime, as
    // in Flink) — the OVER then raises the needs-a-WATERMARK error
    // instead of streaming over a stale registration
    val replaced = Files.createTempFile("graft-ovrp", ".sql")
    val dropped = Files.createTempFile("graft-ovdr", ".sql")
    try {
      val ddl =
        """SET execution.runtime-mode = streaming;
          |create table esrc (
          |  id bigint,
          |  row_time as timestamp '2024-01-01 00:00:00' +
          |    make_interval(0, 0, 0, 0, 0, 0, cast(id as int)),
          |  watermark for row_time as row_time - interval '1' second
          |) with ('connector' = 'datagen', 'number-of-rows' = '5',
          |  'fields.id.kind' = 'sequence',
          |  'fields.id.start' = '0', 'fields.id.end' = '4');
          |""".stripMargin
      Files.writeString(replaced, ddl +
        """create temporary view w_ev as select id, row_time from esrc;
          |create or replace temporary view w_ev as
          |  select id, max(row_time) as row_time from esrc group by id;
          |SELECT SUM(1) OVER (ORDER BY row_time) AS s FROM w_ev;
          |""".stripMargin)
      val er = intercept[Exception](
        new SqlSubmitAction(replaced.toString, Map.empty, Some(spark),
          durationSec = 10L).run())
      val mr = Option(er.getCause).fold(er.getMessage)(_.getMessage)
      assert(mr.contains("WATERMARK declaration"), mr)
      // DROP evicts too: the recreated same-name view carries only its
      // OWN registration — here an aggregating body, i.e. none
      Files.writeString(dropped, ddl +
        """create temporary view w_dr as select id, row_time from esrc;
          |drop view w_dr;
          |create temporary view w_dr as
          |  select id, max(row_time) as row_time from esrc group by id;
          |SELECT SUM(1) OVER (ORDER BY row_time) AS s FROM w_dr;
          |""".stripMargin)
      val ed = intercept[Exception](
        new SqlSubmitAction(dropped.toString, Map.empty, Some(spark),
          durationSec = 10L).run())
      val md = Option(ed.getCause).fold(ed.getMessage)(_.getMessage)
      assert(md.contains("WATERMARK declaration"), md)
    } finally {
      Files.deleteIfExists(replaced): Unit
      Files.deleteIfExists(dropped): Unit
    }
  }

  test("a view renaming ANOTHER column onto the event-time name does " +
      "not usurp the attribute (projection lineage, not name, decides)") {
    import java.nio.file.Files
    // v_imp's `row_time` is a cast of id (an expression item, not the
    // attribute); the GENUINE attribute rides the alias `x` and
    // registers under that name, so ORDER BY the imposter column
    // raises the event-time mismatch
    val imposter = Files.createTempFile("graft-ovi", ".sql")
    try {
      Files.writeString(imposter,
        """SET execution.runtime-mode = streaming;
          |create table isrc (
          |  id bigint,
          |  row_time as timestamp '2024-01-01 00:00:00' +
          |    make_interval(0, 0, 0, 0, 0, 0, cast(id as int)),
          |  watermark for row_time as row_time - interval '1' second
          |) with ('connector' = 'datagen', 'number-of-rows' = '5',
          |  'fields.id.kind' = 'sequence',
          |  'fields.id.start' = '0', 'fields.id.end' = '4');
          |create temporary view v_imp as
          |  select cast(id as timestamp) as row_time, row_time as x
          |  from isrc;
          |SELECT SUM(1) OVER (ORDER BY row_time) AS s FROM v_imp;
          |""".stripMargin)
      val ei = intercept[Exception](
        new SqlSubmitAction(imposter.toString, Map.empty, Some(spark),
          durationSec = 10L).run())
      val mi = Option(ei.getCause).fold(ei.getMessage)(_.getMessage)
      assert(mi.contains("event-time column (x)"), mi)
    } finally {
      Files.deleteIfExists(imposter): Unit
    }
  }

  test("INSERT prefix and table alias survive the splice") {
    val name = s"oa_i_${System.nanoTime()}"
    Seq(("a", ts(1), 1L, 1d)).toDF("k", "ets", "v", "d")
      .createOrReplaceTempView(name)
    val wm = (tb: String) =>
      if (tb.equalsIgnoreCase(name)) Some(("ets", "5 seconds")) else None
    val out = OverAgg.rewriteStreaming(spark,
      s"INSERT INTO snk SELECT x.k, SUM(x.v) OVER " +
        s"(PARTITION BY k ORDER BY ets) AS s FROM $name x", wm)
    assert(out.startsWith("INSERT INTO snk "))
    assert(out.contains("__oa0 AS s"))
    assert(raw"FROM graft_over_\d+ x".r.findFirstIn(out).isDefined, out)
    // the spliced query analyzes (qualified refs resolve via the alias)
    spark.sql(out.stripPrefix("INSERT INTO snk "))
  }
}
