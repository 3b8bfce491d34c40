package graft.harness

import java.sql.Timestamp
import graft.SparkFixture
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Streaming SQL window top-N: the ROW_NUMBER-over-TVF statement
  * compiles onto TopNTracker (N-bounded state, watermark-gated final
  * emission), and the contract rejects every unfaithful spelling.
  */
class WindowTopNSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  private val wm: String => Option[(String, String)] =
    t => if (t.equalsIgnoreCase("wtn_src")) Some(("ts", "5 seconds")) else None

  private def topnSql(src: String) =
    s"""SELECT k, window_start, spend, rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY window_start, window_end, k ORDER BY spend DESC) AS rn
       |  FROM TABLE(TUMBLE(TABLE $src, DESCRIPTOR(ts), INTERVAL '1' MINUTE)))
       |WHERE rn <= 2""".stripMargin

  test("window top-N above a windowed pre-agg view: the second stage " +
      "re-windows the view's window_time rowtime (r17 chained pipeline)") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Long)]
    input.toDF().toDF("k", "ts", "v")
      .withWatermark("ts", "5 seconds")
      .createOrReplaceTempView("wtnc_src")
    // stage 1: 1-minute pre-agg on the TRACKER path (distinct forces
    // it), projecting window_time — the chained stage-2 input
    val stage1 = WindowTvf.rewriteStreaming(
      "SELECT k, window_time, SUM(v) AS s, COUNT(DISTINCT v) AS d " +
        "FROM TABLE(TUMBLE(TABLE wtnc_src, DESCRIPTOR(ts), " +
        "INTERVAL '1' MINUTE)) " +
        "GROUP BY k, window_start, window_end, window_time",
      spark,
      t => if (t.equalsIgnoreCase("wtnc_src")) Some(("ts", "5 seconds"))
        else None)
    spark.sql(stage1).createOrReplaceTempView("wtnc_agg")
    // stage 2: top-2 keys per 5-minute window of the PRE-AGG output
    val stage2 = WindowTopN.rewriteStreaming(spark,
      """SELECT k, window_start, s, rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY window_start, window_end ORDER BY s DESC) AS rn
        |  FROM TABLE(TUMBLE(TABLE wtnc_agg, DESCRIPTOR(window_time),
        |    INTERVAL '5' MINUTE)))
        |WHERE rn <= 2""".stripMargin,
      t => if (t.equalsIgnoreCase("wtnc_agg"))
        Some(("window_time", "5 seconds")) else None)
    val corrKey =
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val multiKey = "spark.sql.streaming.statefulOperator.allowMultiple"
    val savedCorr = spark.conf.getOption(corrKey)
    val savedMulti = spark.conf.getOption(multiKey)
    spark.conf.set(corrKey, "false")
    spark.conf.set(multiKey, "false")
    val q = spark.sql(stage2).writeStream.format("memory")
      .queryName("wtnc_out").outputMode("append").start()
    try {
      // minute pre-agg rows within [0, 5 min): a@[0,60)=4, a@[60,120)=5,
      // b@[0,60)=12, c@[0,60)=4 -> the 5-minute window's top-2 ROWS
      // are b(12) then a(5)
      input.addData(
        ("a", ts(10), 4L), ("a", ts(70), 5L),
        ("b", ts(20), 12L), ("c", ts(40), 4L))
      q.processAllAvailable()
      // flushes on another key: past the minute windows, then past the
      // 5-minute window, then a re-drive batch
      for (sec <- Seq(400L, 1200L, 2400L, 3600L)) {
        input.addData(("z", ts(sec), 1L))
        q.processAllAvailable()
      }
      val got = spark.table("wtnc_out")
        .where("window_start = timestamp_seconds(0)")
        .select($"k", $"s", $"rn")
        .as[(String, Long, Long)].collect().toSet
      assert(got === Set(("b", 12L, 1L), ("a", 5L, 2L)), got.toString)
    } finally {
      q.stop()
      savedCorr.fold(spark.conf.unset(corrKey))(spark.conf.set(corrKey, _))
      savedMulti.fold(spark.conf.unset(multiKey))(
        spark.conf.set(multiKey, _))
    }
  }

  test("ranked rows emit once per closed window, equal to the batch ranking") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Long, String)]
    input.toDF().toDF("k", "ts", "spend", "tag")
      .createOrReplaceTempView("wtn_src")
    val rewritten = WindowTopN.rewriteStreaming(spark, topnSql("wtn_src"), wm)
    assert(rewritten.contains("graft_topn_"), rewritten)
    val q = spark.sql(rewritten).writeStream.format("memory")
      .queryName("wtn_out").outputMode("append").start()
    try {
      input.addData(
        ("a", ts(10), 5L, "t5"), ("a", ts(20), 9L, "t9"),
        ("a", ts(30), 7L, "t7"), ("b", ts(15), 3L, "t3"))
      q.processAllAvailable()
      assert(spark.table("wtn_out").count() == 0L) // window still open
      input.addData(("a", ts(200), 1L, "adv"), ("b", ts(200), 1L, "adv"))
      q.processAllAvailable()
      val got = spark.table("wtn_out")
        .select($"k",
          org.apache.spark.sql.functions.unix_timestamp($"window_start"),
          $"spend", $"rn")
        .as[(String, Long, Long, Long)].collect().toSet
      assert(got == Set(
        ("a", 0L, 9L, 1L), ("a", 0L, 7L, 2L), ("b", 0L, 3L, 1L)))
      // batch twin on the same data through the native TVF path
      val batch = Seq(
        ("a", ts(10), 5L, "t5"), ("a", ts(20), 9L, "t9"),
        ("a", ts(30), 7L, "t7"), ("b", ts(15), 3L, "t3"))
        .toDF("k", "ts", "spend", "tag")
      batch.createOrReplaceTempView("wtn_batch")
      val bgot = spark.sql(WindowTvf.rewrite(topnSql("wtn_batch")))
        .select($"k",
          org.apache.spark.sql.functions.unix_timestamp($"window_start"),
          $"spend", $"rn")
        .as[(String, Long, Long, Long)].collect().toSet
      assert(bgot == got)
    } finally {
      q.stop()
      MatchRecognize.dropViews(spark, rewritten)
    }
  }

  test("DST region zone: top-N ranks wall-clock windows, equal to batch") {
    // spring-forward 2024-03-10 in America/New_York: rows straddle
    // local midnight, the transition day's window spans 23 hours of
    // instants — the streaming ranking must land in the same
    // wall-clock windows the batch rewrite computes
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Long, String)]
    input.toDF().toDF("k", "ts", "spend", "tag")
      .createOrReplaceTempView("wtn_zone_src")
    val sql =
      """SELECT k, window_start, window_end, spend, rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY window_start, window_end, k
        |    ORDER BY spend DESC) AS rn
        |  FROM TABLE(TUMBLE(TABLE wtn_zone_src, DESCRIPTOR(ts),
        |    INTERVAL '1' DAY)))
        |WHERE rn <= 2""".stripMargin
    val wmz: String => Option[(String, String)] =
      t => if (t.equalsIgnoreCase("wtn_zone_src"))
        Some(("ts", "5 seconds")) else None
    val rewritten = WindowTopN.rewriteStreaming(spark, sql, wmz,
      Some("America/New_York"))
    val q = spark.sql(rewritten).writeStream.format("memory")
      .queryName("wtn_zone_out").outputMode("append").start()
    try {
      def t(ms: Long) = new Timestamp(ms)
      input.addData(
        ("a", t(1710046740000L), 5L, "x"), // 03-09 23:59 EST
        ("a", t(1710046860000L), 9L, "x"), // 03-10 00:01 EST
        ("a", t(1710100000000L), 7L, "x"), // 03-10 afternoon EDT
        ("a", t(1710120000000L), 2L, "x")) // 03-10 evening EDT
      q.processAllAvailable()
      input.addData(("z", t(1710500000000L), 0L, "adv"))
      q.processAllAvailable()
      val got = spark.table("wtn_zone_out")
        .select($"k",
          org.apache.spark.sql.functions.unix_millis($"window_start"),
          org.apache.spark.sql.functions.unix_millis($"window_end"),
          $"spend", $"rn")
        .as[(String, Long, Long, Long, Long)].collect()
        .filter(_._1 == "a").toSet
      // local day 03-09 = [05:00Z, +24h); the transition day 03-10 =
      // [05:00Z, 04:00Z+1d) — 23 hours — ranks its three rows top-2
      assert(got === Set(
        ("a", 1709960400000L, 1710046800000L, 5L, 1L),
        ("a", 1710046800000L, 1710129600000L, 9L, 1L),
        ("a", 1710046800000L, 1710129600000L, 7L, 2L)))
      // batch twin through the wall-clock TVF rewrite
      Seq(("a", t(1710046740000L), 5L, "x"), ("a", t(1710046860000L), 9L, "x"),
        ("a", t(1710100000000L), 7L, "x"), ("a", t(1710120000000L), 2L, "x"))
        .toDF("k", "ts", "spend", "tag")
        .createOrReplaceTempView("wtn_zone_batch")
      val bgot = spark.sql(WindowTvf.rewrite(
        sql.replace("wtn_zone_src", "wtn_zone_batch"),
        Some("America/New_York")))
        .select($"k",
          org.apache.spark.sql.functions.unix_millis($"window_start"),
          org.apache.spark.sql.functions.unix_millis($"window_end"),
          $"spend", $"rn")
        .as[(String, Long, Long, Long, Long)].collect().toSet
      assert(bgot === got)
    } finally {
      q.stop()
      MatchRecognize.dropViews(spark, rewritten)
    }
  }

  test("residual conjuncts after the rank bound filter the ranked output") {
    // Flink's outer-filter shape is `WHERE rownum <= N [AND conditions]`
    // — the residual runs over the tracker view, and `AND rn > M`
    // pages a rank range with state still bounded by the leading N
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Long, String)]
    input.toDF().toDF("k", "ts", "spend", "tag")
      .createOrReplaceTempView("wtn_src")
    def sqlFor(src: String, cond: String) =
      s"""SELECT k, window_start, spend, rn FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY window_start, window_end, k ORDER BY spend DESC) AS rn
         |  FROM TABLE(TUMBLE(TABLE $src, DESCRIPTOR(ts), INTERVAL '1' MINUTE)))
         |WHERE rn <= 2 AND $cond""".stripMargin
    val rewritten = WindowTopN.rewriteStreaming(
      spark, sqlFor("wtn_src", "spend >= 5 AND rn > 1"), wm)
    assert(rewritten.contains(" WHERE spend >= 5 AND rn > 1"), rewritten)
    val q = spark.sql(rewritten).writeStream.format("memory")
      .queryName("wtn_cond").outputMode("append").start()
    try {
      input.addData(
        ("a", ts(10), 5L, "t5"), ("a", ts(20), 9L, "t9"),
        ("a", ts(30), 7L, "t7"), ("b", ts(15), 3L, "t3"))
      q.processAllAvailable()
      input.addData(("a", ts(200), 1L, "adv"), ("b", ts(200), 1L, "adv"))
      q.processAllAvailable()
      // a's rank-2 row (spend 7) is the only one with rn > 1 AND
      // spend >= 5; b's top-1 (spend 3) fails both conjuncts
      val got = spark.table("wtn_cond")
        .select($"k", $"spend", $"rn")
        .as[(String, Long, Long)].collect().toSet
      assert(got == Set(("a", 7L, 2L)))
      // batch twin through the native TVF path agrees
      Seq(("a", ts(10), 5L, "t5"), ("a", ts(20), 9L, "t9"),
        ("a", ts(30), 7L, "t7"), ("b", ts(15), 3L, "t3"))
        .toDF("k", "ts", "spend", "tag")
        .createOrReplaceTempView("wtn_cond_b")
      val bgot = spark.sql(WindowTvf.rewrite(
        sqlFor("wtn_cond_b", "spend >= 5 AND rn > 1")))
        .select($"k", $"spend", $"rn")
        .as[(String, Long, Long)].collect().toSet
      assert(bgot == got)
    } finally {
      q.stop()
      MatchRecognize.dropViews(spark, rewritten)
    }
  }

  test("HOP top-N fans rows to covering windows, equal to the batch ranking") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Long, String)]
    input.toDF().toDF("k", "ts", "spend", "tag")
      .createOrReplaceTempView("wtn_hop_s")
    def hopSql(src: String) =
      s"""SELECT k, window_start, spend, rn FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY window_start, window_end, k ORDER BY spend DESC) AS rn
         |  FROM TABLE(HOP(TABLE $src, DESCRIPTOR(ts),
         |    INTERVAL '30' SECOND, INTERVAL '1' MINUTE)))
         |WHERE rn <= 2""".stripMargin
    val wmh: String => Option[(String, String)] =
      t => if (t.equalsIgnoreCase("wtn_hop_s")) Some(("ts", "5 seconds"))
           else None
    val rows = Seq(
      ("a", ts(10), 5L, "t5"), ("a", ts(40), 9L, "t9"),
      ("a", ts(50), 7L, "t7"), ("b", ts(45), 3L, "t3"))
    // batch twin through the native TVF expansion
    rows.toDF("k", "ts", "spend", "tag").createOrReplaceTempView("wtn_hop_b")
    val batch = spark.sql(WindowTvf.rewrite(hopSql("wtn_hop_b")))
      .select($"k",
        org.apache.spark.sql.functions.unix_timestamp($"window_start"),
        $"spend", $"rn")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty)
    val q = spark.sql(WindowTopN.rewriteStreaming(spark, hopSql("wtn_hop_s"), wmh))
      .writeStream.format("memory").queryName("wtn_hop_out")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      input.addData(("z", ts(500), 1L, "adv"))
      q.processAllAvailable()
      input.addData(("z", ts(900), 1L, "adv2"))
      q.processAllAvailable()
      val got = spark.table("wtn_hop_out").filter("k <> 'z'")
        .select($"k",
          org.apache.spark.sql.functions.unix_timestamp($"window_start"),
          $"spend", $"rn")
        .as[(String, Long, Long, Long)].collect().toSet
      assert(got == batch, s"got $got\nbatch $batch")
    } finally q.stop()
  }

  test("named-argument HOP top-N ranks the same rows as the positional form") {
    // the window-TVF reader takes Flink's named arguments here as in
    // the aggregation paths: DATA/TIMECOL/SLIDE/SIZE in declaration order
    implicit val sc = spark.sqlContext
    def run(name: String, call: String): Set[(String, Long, Long, Long)] = {
      val input = MemoryStream[(String, Timestamp, Long, String)]
      input.toDF().toDF("k", "ts", "spend", "tag")
        .createOrReplaceTempView(s"${name}_s")
      val sql =
        s"""SELECT k, window_start, spend, rn FROM (
           |  SELECT *, ROW_NUMBER() OVER (
           |    PARTITION BY window_start, window_end, k ORDER BY spend DESC) AS rn
           |  FROM TABLE(HOP(${call.replace("SRC", s"${name}_s")})))
           |WHERE rn <= 2""".stripMargin
      val q = spark.sql(WindowTopN.rewriteStreaming(spark, sql,
          t => if (t.equalsIgnoreCase(s"${name}_s")) Some(("ts", "5 seconds"))
            else None))
        .writeStream.format("memory").queryName(s"${name}_out")
        .outputMode("append").start()
      try {
        input.addData(("a", ts(10), 5L, "t5"), ("a", ts(40), 9L, "t9"),
          ("a", ts(50), 7L, "t7"), ("b", ts(45), 3L, "t3"))
        q.processAllAvailable()
        input.addData(("z", ts(900), 1L, "adv"))
        q.processAllAvailable()
        spark.table(s"${name}_out").filter("k <> 'z'")
          .select($"k",
            org.apache.spark.sql.functions.unix_timestamp($"window_start"),
            $"spend", $"rn")
          .as[(String, Long, Long, Long)].collect().toSet
      } finally q.stop()
    }
    val positional = run("wtn_hpos",
      "TABLE SRC, DESCRIPTOR(ts), INTERVAL '30' SECOND, INTERVAL '1' MINUTE")
    val named = run("wtn_hnam",
      "DATA => TABLE SRC, TIMECOL => DESCRIPTOR(ts), " +
        "SLIDE => INTERVAL '30' SECOND, SIZE => INTERVAL '1' MINUTE")
    assert(positional.nonEmpty)
    assert(named == positional, s"named $named\npositional $positional")
  }

  test("TUMBLE top-N with a window offset matches the batch offset grid") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Long, String)]
    input.toDF().toDF("k", "ts", "spend", "tag")
      .createOrReplaceTempView("wtn_off_s")
    def offSql(src: String) =
      s"""SELECT k, window_start, spend, rn FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY window_start, window_end, k ORDER BY spend DESC) AS rn
         |  FROM TABLE(TUMBLE(TABLE $src, DESCRIPTOR(ts),
         |    INTERVAL '1' MINUTE, INTERVAL '15' SECOND)))
         |WHERE rn <= 1""".stripMargin
    val wmo: String => Option[(String, String)] =
      t => if (t.equalsIgnoreCase("wtn_off_s")) Some(("ts", "5 seconds"))
           else None
    // rows straddle the :15 grid boundary: 10 s is in [-45,15), 20 s
    // and 40 s share [15,75)
    val rows = Seq(
      ("a", ts(10), 5L, "x"), ("a", ts(20), 9L, "x"), ("a", ts(40), 7L, "x"))
    rows.toDF("k", "ts", "spend", "tag").createOrReplaceTempView("wtn_off_b")
    val batch = spark.sql(WindowTvf.rewrite(offSql("wtn_off_b")))
      .select($"k",
        org.apache.spark.sql.functions.unix_timestamp($"window_start"),
        $"spend", $"rn")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(batch == Set(("a", -45L, 5L, 1L), ("a", 15L, 9L, 1L)))
    val q = spark.sql(WindowTopN.rewriteStreaming(spark, offSql("wtn_off_s"), wmo))
      .writeStream.format("memory").queryName("wtn_off_out")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      input.addData(("z", ts(500), 1L, "adv")); q.processAllAvailable()
      input.addData(("z", ts(900), 1L, "adv")); q.processAllAvailable()
      val got = spark.table("wtn_off_out").filter("k <> 'z'")
        .select($"k",
          org.apache.spark.sql.functions.unix_timestamp($"window_start"),
          $"spend", $"rn")
        .as[(String, Long, Long, Long)].collect().toSet
      assert(got == batch, s"got $got")
    } finally q.stop()
  }

  test("ASC top-N ranks smallest-first, equal to the batch ranking") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Long, String)]
    input.toDF().toDF("k", "ts", "spend", "tag")
      .createOrReplaceTempView("wtn_asc_s")
    def ascSql(src: String) =
      topnSql(src).replace("ORDER BY spend DESC", "ORDER BY spend ASC")
    val wma: String => Option[(String, String)] =
      t => if (t.equalsIgnoreCase("wtn_asc_s")) Some(("ts", "5 seconds"))
           else None
    val rows = Seq(
      ("a", ts(10), 5L, "t5"), ("a", ts(20), 9L, "t9"),
      ("a", ts(30), 7L, "t7"), ("b", ts(15), 3L, "t3"))
    rows.toDF("k", "ts", "spend", "tag").createOrReplaceTempView("wtn_asc_b")
    val batch = spark.sql(WindowTvf.rewrite(ascSql("wtn_asc_b")))
      .select($"k",
        org.apache.spark.sql.functions.unix_timestamp($"window_start"),
        $"spend", $"rn")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(batch == Set(
      ("a", 0L, 5L, 1L), ("a", 0L, 7L, 2L), ("b", 0L, 3L, 1L)))
    val q = spark.sql(WindowTopN.rewriteStreaming(spark, ascSql("wtn_asc_s"), wma))
      .writeStream.format("memory").queryName("wtn_asc_out")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      input.addData(("z", ts(500), 99L, "adv")); q.processAllAvailable()
      input.addData(("z", ts(900), 99L, "adv")); q.processAllAvailable()
      val got = spark.table("wtn_asc_out").filter("k <> 'z'")
        .select($"k",
          org.apache.spark.sql.functions.unix_timestamp($"window_start"),
          $"spend", $"rn")
        .as[(String, Long, Long, Long)].collect().toSet
      assert(got == batch, s"got $got")
    } finally q.stop()
  }

  test("CUMULATE top-N fans rows to growing windows, equal to the batch ranking") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Long, String)]
    input.toDF().toDF("k", "ts", "spend", "tag")
      .createOrReplaceTempView("wtn_cum_s")
    def cumSql(src: String) =
      s"""SELECT k, window_start, window_end, spend, rn FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY window_start, window_end, k ORDER BY spend DESC) AS rn
         |  FROM TABLE(CUMULATE(TABLE $src, DESCRIPTOR(ts),
         |    INTERVAL '30' SECOND, INTERVAL '1' MINUTE)))
         |WHERE rn <= 2""".stripMargin
    val wmc: String => Option[(String, String)] =
      t => if (t.equalsIgnoreCase("wtn_cum_s")) Some(("ts", "5 seconds"))
           else None
    // 10 s lands in both growing windows [0,30) and [0,60); 40/50 s
    // only in [0,60)
    val rows = Seq(
      ("a", ts(10), 5L, "t5"), ("a", ts(40), 9L, "t9"),
      ("a", ts(50), 7L, "t7"), ("b", ts(15), 3L, "t3"))
    rows.toDF("k", "ts", "spend", "tag").createOrReplaceTempView("wtn_cum_b")
    def proj(df: org.apache.spark.sql.DataFrame) = df
      .select($"k",
        org.apache.spark.sql.functions.unix_timestamp($"window_start"),
        org.apache.spark.sql.functions.unix_timestamp($"window_end"),
        $"spend", $"rn")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val batch = proj(spark.sql(WindowTvf.rewrite(cumSql("wtn_cum_b"))))
    assert(batch == Set(
      ("a", 0L, 30L, 5L, 1L), ("b", 0L, 30L, 3L, 1L),
      ("a", 0L, 60L, 9L, 1L), ("a", 0L, 60L, 7L, 2L),
      ("b", 0L, 60L, 3L, 1L)))
    val q = spark.sql(WindowTopN.rewriteStreaming(spark, cumSql("wtn_cum_s"), wmc))
      .writeStream.format("memory").queryName("wtn_cum_out")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      input.addData(("z", ts(500), 1L, "adv")); q.processAllAvailable()
      input.addData(("z", ts(900), 1L, "adv")); q.processAllAvailable()
      val got = proj(spark.table("wtn_cum_out").filter("k <> 'z'"))
      assert(got == batch, s"got $got")
    } finally q.stop()
  }

  test("checkpoint restart recovers ranked-window state exactly once") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Long, String)]
    input.toDF().toDF("k", "ts", "spend", "tag")
      .createOrReplaceTempView("wtn_src")
    val rewritten = WindowTopN.rewriteStreaming(spark, topnSql("wtn_src"), wm)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-wtn-ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-wtn-out").toString
    def start() = spark.sql(rewritten).writeStream
      .format("parquet").option("path", outDir).outputMode("append")
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      // window [0,60): partial candidates only; nothing emits yet
      input.addData(("a", ts(10), 5L, "t5"), ("a", ts(20), 9L, "t9"))
      q1.processAllAvailable()
      assert(spark.read.parquet(outDir).count() === 0)
    } finally q1.stop()
    // a better candidate and the watermark advance arrive while down
    input.addData(("a", ts(30), 7L, "t7"))
    input.addData(("a", ts(200), 1L, "adv"))
    val q2 = start()
    try {
      q2.processAllAvailable()
      input.addData(("a", ts(400), 1L, "adv2"))
      q2.processAllAvailable()
      val got = spark.read.parquet(outDir)
        .filter("spend > 1").select("k", "spend", "rn")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet
      // recovered state merged with the post-restart candidate: the
      // final top-2 of [0,60) is (9, 7) — emitted exactly once
      assert(got == Set(("a", 9L, 1L), ("a", 7L, 2L)))
    } finally q2.stop()
  }

  test("CUMULATE top-N with a window offset matches the batch offset grid") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Long, String)]
    input.toDF().toDF("k", "ts", "spend", "tag")
      .createOrReplaceTempView("wtn_cof_s")
    def sql(src: String) =
      s"""SELECT k, window_start, window_end, spend, rn FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY window_start, window_end, k ORDER BY spend DESC) AS rn
         |  FROM TABLE(CUMULATE(TABLE $src, DESCRIPTOR(ts),
         |    INTERVAL '30' SECOND, INTERVAL '1' MINUTE, INTERVAL '15' SECOND)))
         |WHERE rn <= 1""".stripMargin
    val wmo: String => Option[(String, String)] =
      t => if (t.equalsIgnoreCase("wtn_cof_s")) Some(("ts", "5 seconds"))
           else None
    // offset 15 s shifts the span grid to [15,75): 20 s covers growing
    // windows ending 45 and 75; 50 s only the one ending 75
    val rows = Seq(
      ("a", ts(20), 5L, "x"), ("a", ts(50), 9L, "x"))
    rows.toDF("k", "ts", "spend", "tag").createOrReplaceTempView("wtn_cof_b")
    def proj(df: org.apache.spark.sql.DataFrame) = df
      .select($"k",
        org.apache.spark.sql.functions.unix_timestamp($"window_start"),
        org.apache.spark.sql.functions.unix_timestamp($"window_end"),
        $"spend", $"rn")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val batch = proj(spark.sql(WindowTvf.rewrite(sql("wtn_cof_b"))))
    assert(batch == Set(
      ("a", 15L, 45L, 5L, 1L), ("a", 15L, 75L, 9L, 1L)))
    val q = spark.sql(WindowTopN.rewriteStreaming(spark, sql("wtn_cof_s"), wmo))
      .writeStream.format("memory").queryName("wtn_cof_out")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      input.addData(("z", ts(500), 1L, "adv")); q.processAllAvailable()
      input.addData(("z", ts(900), 1L, "adv")); q.processAllAvailable()
      val got = proj(spark.table("wtn_cof_out").filter("k <> 'z'"))
      assert(got == batch, s"got $got")
    } finally q.stop()
  }

  test("randomized: CUMULATE top-N streaming equals the batch TVF ranking") {
    implicit val sc = spark.sqlContext
    val rnd = new scala.util.Random(53)
    // 200 rows over 4 keys and ~10 spans; step 30 s, size 90 s
    val rows = (1 to 200).map { i =>
      (s"k${rnd.nextInt(4)}", ts(90L + rnd.nextInt(900)),
        rnd.nextInt(40).toLong, s"p$i")
    }
    def sql(src: String) =
      s"""SELECT k, window_start, window_end, spend, rn FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY window_start, window_end, k ORDER BY spend DESC) AS rn
         |  FROM TABLE(CUMULATE(TABLE $src, DESCRIPTOR(ts),
         |    INTERVAL '30' SECOND, INTERVAL '90' SECOND)))
         |WHERE rn <= 2""".stripMargin
    rows.toDF("k", "ts", "spend", "tag").createOrReplaceTempView("wtn_crnd_b")
    def proj(df: org.apache.spark.sql.DataFrame) = df
      .select($"k",
        org.apache.spark.sql.functions.unix_timestamp($"window_start"),
        org.apache.spark.sql.functions.unix_timestamp($"window_end"),
        $"spend", $"rn")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val batch = proj(spark.sql(WindowTvf.rewrite(sql("wtn_crnd_b"))))
    assert(batch.nonEmpty)
    val input = MemoryStream[(String, Timestamp, Long, String)]
    input.toDF().toDF("k", "ts", "spend", "tag")
      .createOrReplaceTempView("wtn_crnd_s")
    val wmc: String => Option[(String, String)] =
      t => if (t.equalsIgnoreCase("wtn_crnd_s")) Some(("ts", "5 seconds"))
           else None
    val q = spark.sql(WindowTopN.rewriteStreaming(spark, sql("wtn_crnd_s"), wmc))
      .writeStream.format("memory").queryName("wtn_crnd_out")
      .outputMode("append").start()
    try {
      // event-time-ordered chunks so the watermark never drops a row
      // the batch oracle counts
      rows.sortBy(_._2.getTime).grouped(50).foreach { c =>
        input.addData(c: _*); q.processAllAvailable()
      }
      input.addData(("z", ts(5000), 0L, "adv")); q.processAllAvailable()
      input.addData(("z", ts(9000), 0L, "adv")); q.processAllAvailable()
      val got = proj(spark.table("wtn_crnd_out").filter("k <> 'z'"))
      assert(got == batch,
        s"missing=${(batch -- got).take(5)} extra=${(got -- batch).take(5)}")
    } finally q.stop()
  }

  test("e2e: streaming CUMULATE top-N script runs through sql-submit") {
    // datagen rows at 0/15/30/45 s; CUMULATE(15 s, 30 s) top-1 by v.
    // A bounded source ends with Flink's MAX_WATERMARK semantics —
    // every growing window flushes, so all four (span, end) winners
    // land in the sink
    val out = java.nio.file.Files.createTempDirectory("graft-ct-out").toString
    val script = java.nio.file.Files.createTempFile("graft-ct", ".sql")
    java.nio.file.Files.writeString(script,
      s"""CREATE TABLE ct_src (ems BIGINT, v BIGINT,
         |  ts AS TO_TIMESTAMP_LTZ(ems * 15000, 3),
         |  WATERMARK FOR ts AS ts - INTERVAL '1' SECOND)
         |WITH ('connector'='datagen', 'number-of-rows'='4',
         |  'fields.ems.kind'='sequence', 'fields.ems.start'='0',
         |  'fields.ems.end'='3',
         |  'fields.v.kind'='sequence', 'fields.v.start'='100',
         |  'fields.v.end'='103');
         |CREATE TABLE ct_sink (v BIGINT, ws TIMESTAMP(3), we TIMESTAMP(3),
         |  rn BIGINT)
         |WITH ('connector'='filesystem', 'path'='$out/sink',
         |  'format'='parquet');
         |INSERT INTO ct_sink
         |SELECT v, window_start AS ws, window_end AS we, rn FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY window_start, window_end ORDER BY v DESC) AS rn
         |  FROM TABLE(CUMULATE(TABLE ct_src, DESCRIPTOR(ts),
         |    INTERVAL '15' SECOND, INTERVAL '30' SECOND)))
         |WHERE rn <= 1;
         |""".stripMargin)
    new SqlSubmitAction(script.toString, Map.empty,
      existingSession = Some(spark), durationSec = 20L).run()
    val got = spark.read.parquet(s"$out/sink")
      .select($"v",
        org.apache.spark.sql.functions.unix_timestamp($"ws"),
        org.apache.spark.sql.functions.unix_timestamp($"we"), $"rn")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (100L, 0L, 15L, 1L), (101L, 0L, 30L, 1L),
      (102L, 30L, 45L, 1L), (103L, 30L, 60L, 1L)), got)
  }

  test("e2e: streaming TUMBLE top-N above a view renaming the time " +
      "column (r16 — the attribute rides the alias into the registry)") {
    // same data as the CUMULATE e2e; the view renames ts → event_ts
    // and the top-N runs above the VIEW — the registry records the
    // attribute under its new name, so DESCRIPTOR(event_ts) resolves
    val out = java.nio.file.Files.createTempDirectory("graft-vt-out").toString
    val script = java.nio.file.Files.createTempFile("graft-vt", ".sql")
    java.nio.file.Files.writeString(script,
      s"""CREATE TABLE vt_src (ems BIGINT, v BIGINT,
         |  ts AS TO_TIMESTAMP_LTZ(ems * 15000, 3),
         |  WATERMARK FOR ts AS ts - INTERVAL '1' SECOND)
         |WITH ('connector'='datagen', 'number-of-rows'='4',
         |  'fields.ems.kind'='sequence', 'fields.ems.start'='0',
         |  'fields.ems.end'='3',
         |  'fields.v.kind'='sequence', 'fields.v.start'='100',
         |  'fields.v.end'='103');
         |CREATE TEMPORARY VIEW vt_ren AS
         |  SELECT v, ts AS event_ts FROM vt_src;
         |CREATE TABLE vt_sink (v BIGINT, ws TIMESTAMP(3), we TIMESTAMP(3),
         |  rn BIGINT)
         |WITH ('connector'='filesystem', 'path'='$out/sink',
         |  'format'='parquet');
         |INSERT INTO vt_sink
         |SELECT v, window_start AS ws, window_end AS we, rn FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY window_start, window_end ORDER BY v DESC) AS rn
         |  FROM TABLE(TUMBLE(TABLE vt_ren, DESCRIPTOR(event_ts),
         |    INTERVAL '30' SECOND)))
         |WHERE rn <= 1;
         |""".stripMargin)
    new SqlSubmitAction(script.toString, Map.empty,
      existingSession = Some(spark), durationSec = 20L).run()
    val got = spark.read.parquet(s"$out/sink")
      .select($"v",
        org.apache.spark.sql.functions.unix_timestamp($"ws"),
        org.apache.spark.sql.functions.unix_timestamp($"we"), $"rn")
      .as[(Long, Long, Long, Long)].collect().toSet
    // rows at 0/15 s → window [0,30) winner 101; rows at 30/45 s →
    // window [30,60) winner 103
    assert(got == Set((101L, 0L, 30L, 1L), (103L, 30L, 60L, 1L)), got)
  }

  test("contract rejections are named") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Long, String)]
    input.toDF().toDF("k", "ts", "spend", "tag")
      .createOrReplaceTempView("wtn_src")
    def rejects(sql: String, frag: String): Unit = {
      val e = intercept[IllegalArgumentException](
        WindowTopN.rewriteStreaming(spark, sql, wm))
      assert(e.getMessage.contains(frag), e.getMessage)
    }
    rejects(topnSql("wtn_src").replace(
      "TUMBLE(TABLE wtn_src, DESCRIPTOR(ts), INTERVAL '1' MINUTE",
      "SESSION(TABLE wtn_src, DESCRIPTOR(ts), INTERVAL '1' MINUTE"),
      "TUMBLE, HOP and CUMULATE windows")
    rejects(topnSql("wtn_src").replace(
      "TUMBLE(TABLE wtn_src, DESCRIPTOR(ts), INTERVAL '1' MINUTE",
      "CUMULATE(TABLE wtn_src, DESCRIPTOR(ts), INTERVAL '1' MINUTE"),
      "(step, size[, offset])")
    rejects(topnSql("wtn_src").replace(
      "TUMBLE(TABLE wtn_src, DESCRIPTOR(ts), INTERVAL '1' MINUTE",
      "HOP(TABLE wtn_src, DESCRIPTOR(ts), INTERVAL '1' MINUTE"),
      "(slide, size[, offset])")
    rejects(topnSql("wtn_src").replace(
      "PARTITION BY window_start, window_end, k",
      "PARTITION BY window_start, k"), "window_start AND")
    rejects(topnSql("wtn_src").replace("WHERE rn <= 2", "WHERE rn = 2"),
      "single rank")
    rejects(topnSql("wtn_src").replace("DESCRIPTOR(ts)", "DESCRIPTOR(tag)"),
      "event-time column")
    val eNoWm = intercept[IllegalArgumentException](
      WindowTopN.rewriteStreaming(spark, topnSql("wtn_src"), _ => None))
    assert(eNoWm.getMessage.contains("WATERMARK"), eNoWm.getMessage)
  }

  test("INSERT INTO TABLE prefix rides through the rewrite") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Long, String)]
    input.toDF().toDF("k", "ts", "spend", "tag")
      .createOrReplaceTempView("wtn_src")
    val out = WindowTopN.rewriteStreaming(spark,
      "INSERT INTO TABLE snk " + topnSql("wtn_src"), wm)
    assert(out.startsWith("INSERT INTO TABLE snk SELECT"), out)
    // the spliced query analyzes
    assert(spark.sql(out.stripPrefix("INSERT INTO TABLE snk ")).isStreaming)
  }

  test("shape detection is paren-aware: expressions before window_start still detect") {
    // a parenthesized call ahead of window_start in PARTITION BY must
    // not hide the shape ([^)]* stopped at its first ')') — the query
    // must still route to the named contract error, not fall through
    // to Spark's raw ranking-on-streams failure
    val sql =
      """SELECT * FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY coalesce(k, 'x'), window_start, window_end
        |    ORDER BY spend DESC) AS rn
        |  FROM TABLE(TUMBLE(TABLE wtn_src, DESCRIPTOR(ts), INTERVAL '1' MINUTE))
        |) WHERE rn <= 2""".stripMargin
    assert(WindowTopN.hasStreamingShape(sql))
    // window_start appearing only in ORDER BY is NOT the shape
    val notShape =
      """SELECT * FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY k ORDER BY window_start DESC) AS rn
        |  FROM TABLE(TUMBLE(TABLE wtn_src, DESCRIPTOR(ts), INTERVAL '1' MINUTE))
        |) WHERE rn <= 2""".stripMargin
    assert(!WindowTopN.hasStreamingShape(notShape))
  }

  test("SELECT * retains the event-time column; NULL metrics rank last") {
    // Flink's window top-N output keeps all input columns — the
    // decoded view re-emits the row's own timestamp (carried as epoch
    // micros in the payload), so a star select does not silently lose
    // the time attribute; and a NULL ORDER BY value ranks below every
    // real metric (batch ROW_NUMBER parity) instead of crashing the
    // tracker's primitive double slot
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Option[Long], String)]
    input.toDF().toDF("k", "ts", "spend", "tag")
      .createOrReplaceTempView("wtn_star_src")
    val sql =
      """SELECT * FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY window_start, window_end, k ORDER BY spend DESC) AS rn
        |  FROM TABLE(TUMBLE(TABLE wtn_star_src, DESCRIPTOR(ts), INTERVAL '1' MINUTE)))
        |WHERE rn <= 3""".stripMargin
    val rewritten = WindowTopN.rewriteStreaming(spark, sql,
      t => if (t.equalsIgnoreCase("wtn_star_src")) Some(("ts", "5 seconds"))
      else None)
    val q = spark.sql(rewritten).writeStream.format("memory")
      .queryName("wtn_star_out").outputMode("append").start()
    try {
      input.addData(
        ("a", ts(10), Some(5L), "t5"), ("a", ts(20), Some(9L), "t9"),
        ("a", ts(30), None, "tnull"))
      q.processAllAvailable()
      input.addData(("a", ts(200), Some(1L), "adv"))
      q.processAllAvailable()
      val out = spark.table("wtn_star_out")
      // the star output carries the source's own event-time column
      assert(out.columns.contains("ts"), out.columns.mkString(","))
      val got = out
        .select($"tag", $"ts", $"spend", $"rn")
        .as[(String, Timestamp, Option[Long], Long)].collect().toSet
      assert(got === Set(
        ("t9", ts(20), Some(9L), 1L),
        ("t5", ts(10), Some(5L), 2L),
        ("tnull", ts(30), None, 3L)))
    } finally {
      q.stop()
      MatchRecognize.dropViews(spark, rewritten)
    }
  }

  test("double / timestamp / decimal payload columns ride the exact " +
      "carrier; timestamp metrics rank") {
    // round 15: window top-N payloads widen through
    // StateFormat.carrierOf (previously string/integer/boolean only) —
    // NaN doubles, sub-millisecond timestamps, and negative decimals
    // must round-trip bit-identically; and ORDER BY a timestamp column
    // ranks through epoch millis like the unbounded top-N
    implicit val sc = spark.sqlContext
    val input = MemoryStream[
      (String, Timestamp, Long, Double, Timestamp, java.math.BigDecimal)]
    input.toDF().toDF("k", "ts", "spend", "score", "seen", "amt")
      .withColumn("amt", $"amt".cast("decimal(10,2)"))
      .createOrReplaceTempView("wtn_wide_src")
    val sql =
      """SELECT k, tag_free.window_start, score, seen, amt, rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY window_start, window_end, k ORDER BY spend DESC) AS rn
        |  FROM TABLE(TUMBLE(TABLE wtn_wide_src, DESCRIPTOR(ts), INTERVAL '1' MINUTE)))
        |WHERE rn <= 2""".stripMargin
        .replace("tag_free.", "") // keep the select plain
    val wmw: String => Option[(String, String)] =
      t => if (t.equalsIgnoreCase("wtn_wide_src")) Some(("ts", "5 seconds"))
      else None
    val rewritten = WindowTopN.rewriteStreaming(spark, sql, wmw)
    val q = spark.sql(rewritten).writeStream.format("memory")
      .queryName("wtn_wide_out").outputMode("append").start()
    try {
      val t1 = Timestamp.valueOf("2024-03-01 10:00:00.123456")
      val t2 = Timestamp.valueOf("2024-03-02 11:30:00.000001")
      input.addData(
        ("a", ts(10), 5L, Double.NaN, t1, new java.math.BigDecimal("12.34")),
        ("a", ts(20), 9L, 0.1d, t2, new java.math.BigDecimal("-0.07")),
        ("a", ts(30), 7L, -1.5d, t1, new java.math.BigDecimal("0.00")))
      q.processAllAvailable()
      input.addData(("z", ts(200), 0L, 0d, t1, java.math.BigDecimal.ZERO))
      q.processAllAvailable()
      val got = spark.table("wtn_wide_out").filter($"k" === "a")
        .select($"score", $"seen", $"amt", $"rn")
        .collect().map(_.toSeq).toSet
      def d(s: String) = new java.math.BigDecimal(s)
      assert(got.map(_.map {
        case x: Double if x.isNaN => "NaN"
        case x => x
      }) === Set(
        Seq(0.1d, t2, d("-0.07"), 1L),
        Seq(-1.5d, t1, d("0.00"), 2L)))
      // the NaN row exists in window but ranked 3rd (spend 5) — assert
      // NaN's round-trip via a top-3 variant on the batch twin instead:
      // the batch twin must agree exactly with streaming on the same data
      Seq(
        ("a", ts(10), 5L, Double.NaN, t1, d("12.34")),
        ("a", ts(20), 9L, 0.1d, t2, d("-0.07")),
        ("a", ts(30), 7L, -1.5d, t1, d("0.00")))
        .toDF("k", "ts", "spend", "score", "seen", "amt")
        .withColumn("amt", $"amt".cast("decimal(10,2)"))
        .createOrReplaceTempView("wtn_wide_batch")
      val bgot = spark.sql(WindowTvf.rewrite(sql
          .replace("wtn_wide_src", "wtn_wide_batch")))
        .select($"score", $"seen", $"amt", $"rn")
        .collect().map(_.toSeq).toSet
      assert(bgot.map(_.map {
        case x: Double if x.isNaN => "NaN"
        case x => x
      }) === got.map(_.map {
        case x: Double if x.isNaN => "NaN"
        case x => x
      }))
      // timestamp metric: latest-seen top-1 per window
      val sql2 =
        """SELECT k, seen, rn FROM (
          |  SELECT *, ROW_NUMBER() OVER (
          |    PARTITION BY window_start, window_end, k ORDER BY seen DESC) AS rn
          |  FROM TABLE(TUMBLE(TABLE wtn_wide_src, DESCRIPTOR(ts), INTERVAL '1' MINUTE)))
          |WHERE rn <= 1""".stripMargin
      val rewritten2 = WindowTopN.rewriteStreaming(spark, sql2, wmw)
      val q2 = spark.sql(rewritten2).writeStream.format("memory")
        .queryName("wtn_wide_out2").outputMode("append").start()
      try {
        // the metric ranks (and re-emits) through epoch MILLIS — the
        // same documented contract as the unbounded top-N's timestamp
        // metric — so the metric test pins millisecond-precision values
        val m1 = Timestamp.valueOf("2024-03-05 10:00:00.25")
        val m2 = Timestamp.valueOf("2024-03-05 10:00:30.5")
        input.addData(
          ("b", ts(400), 1L, 0d, m1, d("1.00")),
          ("b", ts(410), 1L, 0d, m2, d("2.00")))
        q2.processAllAvailable()
        input.addData(("z", ts(900), 0L, 0d, m1, java.math.BigDecimal.ZERO))
        q2.processAllAvailable()
        val got2 = spark.table("wtn_wide_out2").filter($"k" === "b")
          .select($"seen", $"rn").as[(Timestamp, Long)].collect().toSet
        // m2 is later than m1 — it wins; epoch-millis ranking is exact
        assert(got2 === Set((m2, 1L)))
      } finally {
        q2.stop()
        MatchRecognize.dropViews(spark, rewritten2)
      }
    } finally {
      q.stop()
      MatchRecognize.dropViews(spark, rewritten)
    }
  }
}
