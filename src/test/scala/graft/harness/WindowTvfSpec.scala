package graft.harness

import java.nio.file.Files
import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** Flink window-TVF surface: TUMBLE/HOP/CUMULATE/SESSION rewrite unit
  * cases, unrecognized-form rejection, and end-to-end TVF aggregation
  * scripts (including a CTAS view body) through `sql-submit`.
  */
class WindowTvfSpec extends AnyFunSuite {

  test("TUMBLE TVF rewrites to a window-column projection") {
    val out = WindowTvf.rewrite(
      "SELECT window_start, COUNT(*) FROM " +
        "TABLE(TUMBLE(TABLE t, DESCRIPTOR(ts), INTERVAL '10' MINUTE)) " +
        "GROUP BY window_start")
    // Flink-floor arithmetic: t - pmod(t, unit), exact for negatives,
    // in MILLISECONDS (TIMESTAMP(3) precision)
    assert(out.contains("(unix_millis(cast(ts as timestamp)) - pmod(unix_millis(cast(ts as timestamp)), 600000L))"))
    assert(out.contains("AS window_start"))
    assert(out.contains("AS window_end"))
    assert(out.contains("AS window_time")) // Flink's end - 1ms rowtime
    // internal columns stay out of SELECT *; NULL rowtimes are dropped
    assert(out.contains("SELECT t.*,"))
    assert(out.contains("WHERE ts IS NOT NULL"))
    assert(!WindowTvf.hasWindowTvf(out))
  }

  test("named-argument TVF form and plural units are accepted") {
    val out = WindowTvf.rewrite(
      "SELECT * FROM TABLE(TUMBLE(DATA => TABLE t, " +
        "TIMECOL => DESCRIPTOR(ts), SIZE => INTERVAL '2' HOURS))")
    assert(out.contains("pmod(unix_millis(cast(ts as timestamp)), 7200000L)"))
  }

  test("named arguments out of declaration order are rejected, not swapped") {
    val e = intercept[IllegalArgumentException] {
      WindowTvf.rewrite(
        "SELECT * FROM TABLE(HOP(TABLE t, DESCRIPTOR(ts), " +
          "SIZE => INTERVAL '2' HOUR, SLIDE => INTERVAL '1' HOUR))")
    }
    assert(e.getMessage.contains("declaration order"))
  }

  test("HOP TVF fans each row into its covering windows laterally") {
    val out = WindowTvf.rewrite(
      "SELECT * FROM TABLE(HOP(TABLE t, DESCRIPTOR(ts), " +
        "INTERVAL '5' MINUTE, INTERVAL '10' MINUTE))")
    assert(out.contains("LATERAL VIEW explode(sequence("))
    assert(out.contains("SELECT t.*,")) // __ws never leaks into *
    assert(!WindowTvf.hasWindowTvf(out))
    val e = intercept[IllegalArgumentException] {
      WindowTvf.rewrite(
        "SELECT * FROM TABLE(HOP(TABLE t, DESCRIPTOR(ts), " +
          "INTERVAL '7' MINUTE, INTERVAL '10' MINUTE))")
    }
    assert(e.getMessage.contains("multiple"))
  }

  test("CUMULATE TVF expands to the step-window ends of its span") {
    val out = WindowTvf.rewrite(
      "SELECT * FROM TABLE(CUMULATE(TABLE t, DESCRIPTOR(ts), " +
        "INTERVAL '1' HOUR, INTERVAL '4' HOURS))")
    assert(out.contains("LATERAL VIEW explode(sequence("))
    assert(out.contains("14400000L"))
    assert(!WindowTvf.hasWindowTvf(out))
  }

  test("SESSION TVF rewrites to partitioned gaps-and-islands windows") {
    val out = WindowTvf.rewrite(
      "SELECT k, window_start, COUNT(*) FROM " +
        "TABLE(SESSION(TABLE t PARTITION BY k, DESCRIPTOR(ts), " +
        "INTERVAL '5' MINUTE)) GROUP BY k, window_start")
    assert(out.contains("LAG(unix_millis(cast(ts as timestamp))) OVER (PARTITION BY k ORDER BY"))
    // Flink merge semantics: a break needs a STRICTLY larger gap
    assert(out.contains("> 300000L"))
    assert(out.contains("SELECT * EXCEPT (__tms, __new, __sid)"))
    assert(out.contains("MIN(__tms) OVER (PARTITION BY k, __sid)"))
    assert(out.contains("AS window_time"))
    assert(!WindowTvf.hasWindowTvf(out))
    // unpartitioned form: one global session stream
    val global = WindowTvf.rewrite(
      "SELECT * FROM TABLE(SESSION(TABLE t, DESCRIPTOR(ts), " +
        "INTERVAL '5' MINUTE))")
    assert(global.contains("OVER (PARTITION BY __sid)"))
    assert(!WindowTvf.hasWindowTvf(global))
  }

  test("e2e: SESSION TVF script runs through sql-submit with Flink merging") {
    val spark = SparkFixture.spark
    val dir = Files.createTempDirectory("graft-sess").toString
    spark.sql(
      """SELECT * FROM VALUES
        |  (1L, TIMESTAMP'2024-01-01 00:00:00'),
        |  (1L, TIMESTAMP'2024-01-01 00:30:00'),
        |  (1L, TIMESTAMP'2024-01-01 01:30:01'),
        |  (2L, TIMESTAMP'2024-01-01 00:00:00')
        |AS t(k, ts)""".stripMargin).write.parquet(s"$dir/ev")
    val script =
      s"""SET execution.runtime-mode = batch;
         |create table ev(k bigint, ts timestamp(3)) with (
         |  'connector' = 'filesystem', 'path' = '$dir/ev',
         |  'format' = 'parquet');
         |create table agg(k bigint, ws timestamp(3), n bigint) with (
         |  'connector' = 'filesystem', 'path' = '$dir/agg',
         |  'format' = 'parquet');
         |insert into agg
         |select k, window_start as ws, count(*) as n
         |from table(session(table ev partition by k, descriptor(ts),
         |  interval '30' minute))
         |group by k, window_start;
         |""".stripMargin
    val file = Files.createTempFile("graft-sess-", ".sql")
    Files.writeString(file, script)
    new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(spark)).run()
    val got = spark.read.parquet(s"$dir/agg")
      .selectExpr("k", "unix_seconds(ws)", "n")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    // key 1: 00:00 and 00:30 sit EXACTLY gap apart — their [t, t+gap)
    // windows touch and Flink merges them; 01:30:01 breaks (> gap).
    // key 2 sessions on its own.
    assert(got === Seq(
      (1L, 1704067200L, 2L), (1L, 1704072601L, 1L), (2L, 1704067200L, 1L)))
  }

  test("SESSION TVF gap comparison is millisecond-exact like Flink's") {
    val spark = SparkFixture.spark
    // events .800 and 00:05:00.900 are 300100 ms apart — over the
    // 5-minute (300000 ms) gap, so Flink splits; second-floored
    // arithmetic sees a 300 s gap (== gap) and would wrongly merge
    spark.sql(
      """SELECT * FROM VALUES
        |  (1L, TIMESTAMP'2024-01-01 00:00:00.800'),
        |  (1L, TIMESTAMP'2024-01-01 00:05:00.900')
        |AS t(k, ts)""".stripMargin).createOrReplaceTempView("ms_ev")
    val out = spark.sql(WindowTvf.rewrite(
      "SELECT k, window_start, window_end, COUNT(*) AS n FROM " +
        "TABLE(SESSION(TABLE ms_ev PARTITION BY k, DESCRIPTOR(ts), " +
        "INTERVAL '5' MINUTE)) GROUP BY k, window_start, window_end"))
      .selectExpr("unix_millis(window_start)", "unix_millis(window_end)", "n")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    // two sessions, each [t, t+gap), with the sub-second bounds intact
    assert(out === Seq(
      (1704067200800L, 1704067500800L, 1L),
      (1704067500900L, 1704067800900L, 1L)))
  }

  test("window TVF join: two TVF derived tables join on window_start") {
    // Flink 1.14+ window join SQL — each TABLE(TUMBLE(...)) rewrites
    // independently into a derived table, so the join form needs no
    // extra machinery; aliases and qualified contract columns resolve
    val spark = SparkFixture.spark
    import spark.implicits._
    Seq((1L, "2024-01-01 00:05:00", "c1"), (3L, "2024-01-01 00:07:00", "c2"))
      .toDF("user_id", "ts_s", "cid")
      .selectExpr("user_id", "cast(ts_s as timestamp) AS ts", "cid")
      .createOrReplaceTempView("wj_clicks")
    Seq((1L, "2024-01-01 00:55:00", "e1"), (1L, "2024-01-01 01:05:00", "e2"),
        (2L, "2024-01-01 00:10:00", "e3"))
      .toDF("user_id", "ts_s", "eid")
      .selectExpr("user_id", "cast(ts_s as timestamp) AS ts", "eid")
      .createOrReplaceTempView("wj_errors")
    val sql =
      """SELECT L.user_id, L.window_start, L.cid, R.eid
        |FROM TABLE(TUMBLE(TABLE wj_clicks, DESCRIPTOR(ts), INTERVAL '1' HOUR)) L
        |JOIN TABLE(TUMBLE(TABLE wj_errors, DESCRIPTOR(ts), INTERVAL '1' HOUR)) R
        |ON L.user_id = R.user_id AND L.window_start = R.window_start""".stripMargin
    val rewritten = WindowTvf.rewrite(sql)
    assert(!WindowTvf.hasWindowTvf(rewritten))
    val got = spark.sql(rewritten)
      .select($"user_id", $"cid", $"eid").as[(Long, String, String)]
      .collect().toSet
    // user 1's click@00:05 pairs with error@00:55 (same hour window);
    // error@01:05 is the next window, user 2 and user 3 have no pair
    assert(got == Set((1L, "c1", "e1")))
  }

  test("streaming TUMBLE TVF rewrites onto native window() grouping") {
    val out = WindowTvf.rewriteStreaming(
      "INSERT INTO s SELECT window_start, k, COUNT(*) AS n FROM " +
        "TABLE(TUMBLE(TABLE t, DESCRIPTOR(ts), INTERVAL '10' MINUTE)) " +
        "GROUP BY window_start, k ORDER BY window_start")
    // the GROUP BY carries the watermark-aware native expression
    assert(out.contains("GROUP BY window(ts, '600000 milliseconds'), k"))
    // bare select-list items keep their TVF output names
    assert(out.contains("window.start AS window_start"))
    // post-aggregation references become plain field reads
    assert(out.contains("ORDER BY window.start"))
    assert(!WindowTvf.hasWindowTvf(out))
  }

  test("streaming HOP and SESSION TVFs map to sliding/session windows") {
    val hop = WindowTvf.rewriteStreaming(
      "SELECT window_start, window_end, COUNT(*) AS n FROM " +
        "TABLE(HOP(TABLE t, DESCRIPTOR(ts), INTERVAL '5' MINUTE, " +
        "INTERVAL '10' MINUTE)) GROUP BY window_start, window_end")
    assert(hop.contains(
      "GROUP BY window(ts, '600000 milliseconds', '300000 milliseconds')"))
    assert(hop.contains("window.end AS window_end"))
    val sess = WindowTvf.rewriteStreaming(
      "SELECT k, window_start, COUNT(*) AS n FROM " +
        "TABLE(SESSION(TABLE t PARTITION BY k, DESCRIPTOR(ts), " +
        "INTERVAL '5' MINUTE)) GROUP BY k, window_start")
    // gap widens 1 ms so touching sessions merge like Flink's
    assert(sess.contains("GROUP BY session_window(ts, '300001 milliseconds'), k"))
    assert(sess.contains("session_window.start AS window_start"))
  }

  test("streaming session merges touching events and keeps Flink's end") {
    // Flink merges sessions whose events are EXACTLY gap apart; Spark's
    // native session_window merges on overlap only. The widened-gap
    // rewrite must merge the touching pair AND report Flink's
    // window_end (last event + gap, not + gap + 1 ms) — checked against
    // the batch rewrite, which keeps Flink's boundary by construction.
    val spark = graft.SparkFixture.spark
    import spark.implicits._
    Seq(
      (1L, new java.sql.Timestamp(100000L)),
      (1L, new java.sql.Timestamp(100000L + 5000L)), // exactly gap apart
      (1L, new java.sql.Timestamp(100000L + 30000L)))
      .toDF("k", "ts").createOrReplaceTempView("sess_touch")
    val stmt =
      "SELECT k, window_start, window_end, COUNT(*) AS n FROM " +
        "TABLE(SESSION(TABLE sess_touch PARTITION BY k, DESCRIPTOR(ts), " +
        "INTERVAL '5' SECOND)) GROUP BY k, window_start, window_end"
    val batch = spark.sql(WindowTvf.rewrite(stmt)).collect().map(_.toSeq).toSet
    val streamed = spark.sql(WindowTvf.rewriteStreaming(stmt))
      .collect().map(_.toSeq).toSet
    assert(batch.exists(_.last == 2L), s"touching pair did not merge: $batch")
    assert(streamed === batch)
  }

  test("streaming TUMBLE/HOP COUNT(DISTINCT) is exact via the pinned tracker") {
    // the native window() path would run distinct as an HLL
    // approximation; these must route through GridAggTracker and match
    // batch bit-for-bit
    val spark = graft.SparkFixture.spark
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    // dv: dyadic doubles (exact addition in any order) with -0.0/0.0
    // collisions — the r15 double-distinct kinds must match batch
    // bit-for-bit
    val rows = (1 to 150).map { i =>
      (s"k${i % 2}", new java.sql.Timestamp(rnd.nextInt(900) * 1000L),
        s"u${rnd.nextInt(9)}", rnd.nextInt(6).toLong,
        if (i % 23 == 0) -0.0d
        else if (i % 29 == 0) 0.0d
        else rnd.nextInt(8) * 0.25d)
    }
    rows.toDF("k", "ts", "u", "v", "dv")
      .createOrReplaceTempView("tvf_dist_in")
    for (tvf <- Seq(
        "TUMBLE(TABLE tvf_dist_in, DESCRIPTOR(ts), INTERVAL '5' MINUTE)",
        "HOP(TABLE tvf_dist_in, DESCRIPTOR(ts), INTERVAL '1' MINUTE, " +
          "INTERVAL '5' MINUTE)")) {
      val stmt = s"SELECT k, window_start, window_end, " +
        s"COUNT(DISTINCT u) AS du, COUNT(*) AS n, " +
        s"SUM(DISTINCT v) AS sd, AVG(DISTINCT v) AS ad, " +
        s"SUM(DISTINCT dv) AS sdd, AVG(DISTINCT dv) AS add, " +
        s"COUNT(DISTINCT dv) AS cdd FROM TABLE($tvf) " +
        "GROUP BY k, window_start, window_end"
      val batch = spark.sql(WindowTvf.rewrite(stmt)).collect().map(_.toSeq).toSet
      val streamSql = WindowTvf.rewriteStreaming(stmt, spark,
        _ => Some(("ts", "5 seconds")))
      try {
        val streamed = spark.sql(streamSql).collect().map(_.toSeq).toSet
        assert(streamed === batch, tvf)
        // dedup is actually exercised (some window saw repeat values)
        assert(batch.exists(r =>
          r(3).asInstanceOf[Long] < r(4).asInstanceOf[Long]), tvf)
      } finally MatchRecognize.dropViews(spark, streamSql)
    }
  }

  test("inline subquery TVF sources resolve by lineage in streaming " +
      "and evaluate plainly in batch (r17 accepted superset)") {
    val spark = graft.SparkFixture.spark
    import spark.implicits._
    val rows = (1 to 80).map(i =>
      (s"k${i % 2}", new java.sql.Timestamp(i * 7000L), i.toLong))
    rows.toDF("k", "ts", "v").createOrReplaceTempView("tvf_sq_in")
    val wmOf: String => Option[(String, String)] =
      t => if (t.equalsIgnoreCase("tvf_sq_in")) Some(("ts", "5 seconds"))
        else None
    val stmt = "SELECT k, window_start, window_end, SUM(v2) AS s " +
      "FROM TABLE(TUMBLE(TABLE (SELECT k, ts, v + 1 AS v2 FROM " +
      "tvf_sq_in WHERE v <> 3), DESCRIPTOR(ts), INTERVAL '2' MINUTE)) " +
      "GROUP BY k, window_start, window_end"
    // batch: the subquery just evaluates into a view the grammar sees
    val (bSql, _) = WindowTvf.inlineSubquerySources(
      spark, stmt, wmOf, streaming = false)
    assert(!bSql.contains("SELECT k, ts, v + 1"), bSql)
    val batch = spark.sql(WindowTvf.rewrite(bSql)).collect()
      .map(_.toSeq).toSet
    assert(batch.nonEmpty)
    // streaming: lineage hands the view's (column, delay) through
    val (sSql, wmOf2) = WindowTvf.inlineSubquerySources(
      spark, stmt, wmOf, streaming = true)
    val streamSql = WindowTvf.rewriteStreaming(sSql, spark, wmOf2)
    try {
      val streamed = spark.sql(streamSql).collect().map(_.toSeq).toSet
      assert(streamed === batch)
    } finally MatchRecognize.dropViews(spark, streamSql)
    // lineage violations reject by name
    val e = intercept[IllegalArgumentException](
      WindowTvf.inlineSubquerySources(spark,
        stmt.replace("k, ts, v + 1 AS v2", "k, v + 1 AS v2"),
        wmOf, streaming = true))
    assert(e.getMessage.contains("must project the event-time column"),
      e.getMessage)
  }

  test("variance aggregates stream through the pinned and gap-merge trackers") {
    // r16: STDDEV/VAR kinds ride the central-moment slots on every
    // tracker path. A distinct aggregate alongside forces the
    // tracker routes (TUMBLE/HOP -> GridAggTracker, SESSION ->
    // SessionAggTracker); doubles compare at 1e-9 relative tolerance
    // (the fold tree differs from batch partial-merge; the exact
    // arithmetic law is pinned bit-for-bit by the OVER specs)
    val spark = graft.SparkFixture.spark
    import spark.implicits._
    def approxEq(got: Seq[Seq[Any]], exp: Seq[Seq[Any]], tag: String): Unit = {
      def keyOf(r: Seq[Any]) = r.take(3).map(String.valueOf).mkString("|")
      val g = got.sortBy(keyOf)
      val e = exp.sortBy(keyOf)
      assert(g.map(keyOf) === e.map(keyOf), tag)
      g.lazyZip(e).foreach { (a, b) =>
        a.lazyZip(b).foreach {
          case (x: java.lang.Double, y: java.lang.Double) =>
            assert(math.abs(x - y) <= 1e-9 *
              math.max(1d, math.max(math.abs(x), math.abs(y))),
              s"$tag\ngot $a\nexp $b")
          case (x, y) => assert(x == y, s"$tag\ngot $a\nexp $b")
        }
      }
    }
    val rnd = new scala.util.Random(73)
    val rows = (1 to 150).map { i =>
      (s"k${i % 2}", new java.sql.Timestamp(rnd.nextInt(600) * 1000L),
        s"u${rnd.nextInt(9)}", rnd.nextInt(100).toLong,
        rnd.nextInt(40) * 0.25d)
    }
    rows.toDF("k", "ts", "u", "v", "d")
      .createOrReplaceTempView("tvf_var_in")
    for (tvf <- Seq(
        "TUMBLE(TABLE tvf_var_in, DESCRIPTOR(ts), INTERVAL '2' MINUTE)",
        "SESSION(TABLE tvf_var_in PARTITION BY k, DESCRIPTOR(ts), " +
          "INTERVAL '30' SECOND)")) {
      // the decimal-distinct columns (r16, kind 21) ride along: exact
      // set passthrough + Catalyst decimal finish, compared exactly
      // (the approxEq helper only relaxes java.lang.Double cells)
      // DISTINCT variance (r17, kinds 26-29) rides along: the batch
      // twin dedups then folds CentralMomentAgg in partition order,
      // the tracker folds the SORTED distinct set — approxEq absorbs
      // the fold-order ulps
      val stmt = s"SELECT k, window_start, window_end, " +
        "COUNT(DISTINCT u) AS du, STDDEV_SAMP(v) AS ss, " +
        "VAR_POP(d) AS vp, STDDEV_POP(d) AS sp, VAR_SAMP(v) AS vs, " +
        "VAR_POP(DISTINCT v) AS vpd, STDDEV_SAMP(DISTINCT d) AS ssd, " +
        "VARIANCE(DISTINCT d) AS vvd, " +
        "SUM(DISTINCT CAST(d AS DECIMAL(9,2))) AS sdd, " +
        "AVG(DISTINCT CAST(d AS DECIMAL(9,2))) AS add2, " +
        "SUM(CAST(d AS DECIMAL(9,2))) AS sdp, " +
        "AVG(CAST(d AS DECIMAL(9,2))) AS adp, " +
        "MIN(CAST(d AS DECIMAL(9,2))) AS mnp, " +
        "MAX(CAST(d AS DECIMAL(9,2))) AS mxp " +
        s"FROM TABLE($tvf) GROUP BY k, window_start, window_end"
      val batch = spark.sql(WindowTvf.rewrite(stmt)).collect().map(_.toSeq)
      val streamSql = WindowTvf.rewriteStreaming(stmt, spark,
        _ => Some(("ts", "5 seconds")))
      try {
        val streamed = spark.sql(streamSql).collect().map(_.toSeq)
        approxEq(streamed, batch, tvf)
        assert(batch.nonEmpty, tvf)
      } finally MatchRecognize.dropViews(spark, streamSql)
    }
    // DISTINCT variance streams on CUMULATE too (r17 — the growing
    // windows merge the distinct sets across steps before the fold)
    val cuStmt = "SELECT k, window_start, window_end, " +
      "STDDEV_SAMP(DISTINCT v) AS sd, VAR_POP(DISTINCT d) AS vd " +
      "FROM TABLE(CUMULATE(TABLE tvf_var_in, DESCRIPTOR(ts), " +
      "INTERVAL '1' MINUTE, INTERVAL '5' MINUTE)) " +
      "GROUP BY k, window_start, window_end"
    val cuBatch = spark.sql(WindowTvf.rewrite(cuStmt)).collect().map(_.toSeq)
    val cuStream = WindowTvf.rewriteStreaming(cuStmt, spark,
      _ => Some(("ts", "5 seconds")))
    try {
      approxEq(spark.sql(cuStream).collect().map(_.toSeq).toSeq,
        cuBatch.toSeq, "cumulate distinct variance")
      assert(cuBatch.nonEmpty)
    } finally MatchRecognize.dropViews(spark, cuStream)
  }

  test("a one-row SESSION's variance of a non-finite value is NaN, as in batch") {
    // the gap-merge tracker folds a row by the same Welford step as
    // Spark's CentralMomentAgg: a lone ±Infinity or NaN gives M2 = NaN
    val spark = graft.SparkFixture.spark
    import spark.implicits._
    Seq(("a", 0L, Double.PositiveInfinity), ("b", 0L, Double.NaN),
        ("c", 0L, Double.NegativeInfinity), ("d", 0L, 2.5))
      .map { case (k, s, d) => (k, new java.sql.Timestamp(s * 1000L), d) }
      .toDF("k", "ts", "d").createOrReplaceTempView("sess_nonfinite_in")
    val stmt = "SELECT k, window_start, window_end, " +
      "COUNT(DISTINCT d) AS n, VAR_POP(d) AS vp, STDDEV_POP(d) AS sp " +
      "FROM TABLE(SESSION(TABLE sess_nonfinite_in PARTITION BY k, " +
      "DESCRIPTOR(ts), INTERVAL '30' SECOND)) " +
      "GROUP BY k, window_start, window_end"
    def rows(sql: String) = spark.sql(sql).collect()
      .map(r => (r.getString(0), r.getLong(3),
        java.lang.Double.doubleToLongBits(r.getDouble(4)),
        java.lang.Double.doubleToLongBits(r.getDouble(5)))).toSet
    val batch = rows(WindowTvf.rewrite(stmt))
    val streamSql = WindowTvf.rewriteStreaming(stmt, spark,
      _ => Some(("ts", "5 seconds")))
    try assert(rows(streamSql) === batch)
    finally MatchRecognize.dropViews(spark, streamSql)
    val nan = java.lang.Double.doubleToLongBits(Double.NaN)
    assert(batch.filter(_._1 != "d").forall(r => r._3 == nan && r._4 == nan),
      batch)
  }

  test("streaming SESSION distinct aggregates are exact via the gap-merge tracker") {
    // round 15: previously the one place the engine silently
    // approximated (the native session_window path + HLL rule) where
    // Flink is exact. Random data with repeats, touching events (diff
    // == gap merges), null stripes, and dyadic doubles — streaming
    // must match the batch gaps-and-islands rewrite bit-for-bit
    val spark = graft.SparkFixture.spark
    import spark.implicits._
    val rnd = new scala.util.Random(59)
    val rows = (1 to 150).map { i =>
      (s"k${i % 2}", new java.sql.Timestamp(rnd.nextInt(600) * 1000L),
        if (i % 11 == 0) null else s"u${rnd.nextInt(7)}",
        rnd.nextInt(5).toLong,
        if (i % 23 == 0) -0.0d else rnd.nextInt(8) * 0.25d)
    }
    rows.toDF("k", "ts", "u", "v", "dv")
      .createOrReplaceTempView("sess_dist_in")
    val stmt =
      """SELECT k, window_start, window_end, COUNT(DISTINCT u) AS du,
        |  SUM(DISTINCT v) AS sd, AVG(DISTINCT dv) AS ad,
        |  COUNT(*) AS n, SUM(v) AS s
        |FROM TABLE(SESSION(TABLE sess_dist_in PARTITION BY k,
        |  DESCRIPTOR(ts), INTERVAL '1' MINUTE))
        |GROUP BY k, window_start, window_end""".stripMargin
    val batch = spark.sql(WindowTvf.rewrite(stmt)).collect().map(_.toSeq).toSet
    val streamSql = WindowTvf.rewriteStreaming(stmt, spark,
      _ => Some(("ts", "5 seconds")))
    try {
      val streamed = spark.sql(streamSql).collect().map(_.toSeq).toSet
      assert(streamed === batch)
      // dedup actually exercised
      assert(batch.exists(r =>
        r(3).asInstanceOf[Long] < r(6).asInstanceOf[Long]))
    } finally MatchRecognize.dropViews(spark, streamSql)
    // GROUP BY keys must equal the TVF PARTITION BY keys
    val e = intercept[IllegalArgumentException](
      WindowTvf.rewriteStreaming(
        """SELECT window_start, window_end, COUNT(DISTINCT u) AS du
          |FROM TABLE(SESSION(TABLE sess_dist_in PARTITION BY k,
          |  DESCRIPTOR(ts), INTERVAL '1' MINUTE))
          |GROUP BY window_start, window_end""".stripMargin,
        spark, _ => Some(("ts", "5 seconds"))))
    assert(e.getMessage.contains("PARTITION BY"), e.getMessage)
  }

  test("streaming SESSION distinct merges sessions across batches") {
    // cross-batch gap-merge: an open session extends (touch: diff ==
    // gap), the merged session emits once the watermark strictly
    // passes last + gap, and the distinct set unions across batches
    val spark = graft.SparkFixture.spark
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val input = MemoryStream[(String, java.sql.Timestamp, String)]
    input.toDF().toDF("k", "ts", "u")
      .createOrReplaceTempView("sess_inc_in")
    val stmt =
      """SELECT k, window_start, window_end, COUNT(DISTINCT u) AS du
        |FROM TABLE(SESSION(TABLE sess_inc_in PARTITION BY k,
        |  DESCRIPTOR(ts), INTERVAL '1' MINUTE))
        |GROUP BY k, window_start, window_end""".stripMargin
    val streamSql = WindowTvf.rewriteStreaming(stmt, spark,
      _ => Some(("ts", "5 seconds")))
    val q = spark.sql(streamSql).writeStream.format("memory")
      .queryName("sess_inc_out").outputMode("append").start()
    try {
      // batch 1: [10s: a] closes once the watermark passes 70s;
      // [100s: b] stays open. (10s, not 0s: Spark's initial watermark
      // of 0 drops an epoch-0 event time before any stateful operator)
      input.addData(("x", ts(10), "a"), ("x", ts(100), "b"))
      q.processAllAvailable()
      // batch 2: 160s touches 100s exactly at the gap — merges; then a
      // repeat value at 170s must not grow the distinct set
      input.addData(("x", ts(160), "c"), ("x", ts(170), "b"))
      q.processAllAvailable()
      // batch 3: advance the watermark far past 170 + 60
      input.addData(("x", ts(1000), "z"))
      q.processAllAvailable()
      val got = spark.table("sess_inc_out")
        .select($"window_start", $"window_end", $"du")
        .as[(java.sql.Timestamp, java.sql.Timestamp, Long)].collect()
        .map { case (ws, we, du) => (ws.getTime / 1000L, we.getTime / 1000L, du) }
        .toSet
      assert(got.contains((10L, 70L, 1L)), got)
      assert(got.contains((100L, 230L, 2L)), got)
    } finally q.stop()
  }

  test("soak: window-join state is bounded by open windows, not key history") {
    // 50k keys pair once in an early window; after the watermark
    // passes it, the join must hold only the flush keys' state —
    // eviction scales with OPEN windows, not lifetime keys
    val spark = graft.SparkFixture.spark
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val nKeys = 50000
    val a = MemoryStream[(Long, java.sql.Timestamp, String)]
    val b = MemoryStream[(Long, java.sql.Timestamp, String)]
    a.toDF().toDF("k", "ts", "v").withWatermark("ts", "5 seconds")
      .createOrReplaceTempView("wjs_a")
    b.toDF().toDF("k", "ts", "v2").withWatermark("ts", "5 seconds")
      .createOrReplaceTempView("wjs_b")
    val q = spark.sql(WindowTvf.rewriteStreaming(
      """SELECT L.k, L.v, R.v2
        |FROM TABLE(TUMBLE(TABLE wjs_a, DESCRIPTOR(ts), INTERVAL '10' SECOND)) L
        |JOIN TABLE(TUMBLE(TABLE wjs_b, DESCRIPTOR(ts), INTERVAL '10' SECOND)) R
        |ON L.k = R.k AND L.window_start = R.window_start
        |  AND L.window_end = R.window_end""".stripMargin)).writeStream
      .format("memory").queryName("wjs_out").outputMode("append").start()
    try {
      a.addData((0L until nKeys).map(i => (i, ts(3), s"a$i")): _*)
      b.addData((0L until nKeys).map(i => (i, ts(4), s"b$i")): _*)
      q.processAllAvailable()
      assert(spark.table("wjs_out").count() === nKeys.toLong)
      // advance the watermark well past the [0,10) window, twice (the
      // eviction uses the PREVIOUS batch's watermark)
      a.addData((-1L, ts(100), "f")); b.addData((-2L, ts(100), "f"))
      q.processAllAvailable()
      a.addData((-1L, ts(200), "f")); b.addData((-2L, ts(200), "f"))
      q.processAllAvailable()
      val held = q.lastProgress.stateOperators.head.numRowsTotal
      assert(held <= 4L,
        s"watermark passed but $held join-state rows remain of $nKeys")
    } finally q.stop()
  }

  test("LEFT OUTER window join streams with NULL padding like batch") {
    // Flink's window join admits outer kinds; the rewrite is
    // join-keyword-agnostic, and Spark's stream-stream LEFT JOIN
    // accepts the window-struct equality for state eviction — unmatched
    // left rows emit NULL-padded once the watermark closes the window
    val spark = graft.SparkFixture.spark
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val a = MemoryStream[(Long, java.sql.Timestamp, String)]
    val b = MemoryStream[(Long, java.sql.Timestamp, String)]
    a.toDF().toDF("k", "ts", "v").withWatermark("ts", "5 seconds")
      .createOrReplaceTempView("wjl_a")
    b.toDF().toDF("k", "ts", "v2").withWatermark("ts", "5 seconds")
      .createOrReplaceTempView("wjl_b")
    def stmt(l: String, r: String) =
      s"""SELECT L.k, L.v, R.v2
         |FROM TABLE(TUMBLE(TABLE $l, DESCRIPTOR(ts), INTERVAL '10' SECOND)) L
         |LEFT JOIN TABLE(TUMBLE(TABLE $r, DESCRIPTOR(ts), INTERVAL '10' SECOND)) R
         |ON L.k = R.k AND L.window_start = R.window_start
         |  AND L.window_end = R.window_end""".stripMargin
    val q = spark.sql(WindowTvf.rewriteStreaming(stmt("wjl_a", "wjl_b")))
      .writeStream.format("memory").queryName("wjl_out")
      .outputMode("append").start()
    try {
      a.addData((1L, ts(3), "a1"), (2L, ts(4), "a2"))
      b.addData((1L, ts(4), "b1"))
      q.processAllAvailable()
      // close the [0,10) window (eviction uses the previous batch's
      // watermark, so advance twice)
      a.addData((9L, ts(100), "f")); b.addData((9L, ts(100), "f"))
      q.processAllAvailable()
      a.addData((9L, ts(200), "f")); b.addData((9L, ts(200), "f"))
      q.processAllAvailable()
      val got = spark.table("wjl_out")
        .filter($"k" < 9L)
        .select($"k", $"v", $"v2").as[(Long, String, Option[String])]
        .collect().toSet
      val expected = Set((1L, "a1", Some("b1")), (2L, "a2", None))
      assert(got === expected)
      // batch twin through the batch TVF rewrite
      Seq((1L, ts(3), "a1"), (2L, ts(4), "a2"))
        .toDF("k", "ts", "v").createOrReplaceTempView("wjl_ba")
      Seq((1L, ts(4), "b1")).toDF("k", "ts", "v2")
        .createOrReplaceTempView("wjl_bb")
      val bgot = spark.sql(WindowTvf.rewrite(stmt("wjl_ba", "wjl_bb")))
        .select($"k", $"v", $"v2").as[(Long, String, Option[String])]
        .collect().toSet
      assert(bgot === expected)
    } finally q.stop()
  }

  test("streaming GROUPING SETS over a window TVF expands to unioned window aggs") {
    // every set must carry both window columns (Flink's streaming
    // window-aggregation constraint) — rejected by name otherwise
    val e = intercept[IllegalArgumentException](WindowTvf.rewriteStreaming(
      "SELECT window_start, k, COUNT(*) AS n FROM " +
        "TABLE(TUMBLE(TABLE t, DESCRIPTOR(ts), INTERVAL '1' HOUR)) " +
        "GROUP BY GROUPING SETS ((window_start, k), (window_start))"))
    assert(e.getMessage.contains("window_start and window_end"), e.getMessage)
    // CUBE fan-out is bounded
    val eCube = intercept[IllegalArgumentException](WindowTvf.rewriteStreaming(
      "SELECT window_start, COUNT(*) AS n FROM " +
        "TABLE(TUMBLE(TABLE t, DESCRIPTOR(ts), INTERVAL '1' HOUR)) " +
        "GROUP BY window_start, window_end, CUBE (a, b, c, d, e)"))
    assert(eCube.getMessage.contains("streaming aggregations"), eCube.getMessage)

    def gsSql(src: String) =
      s"""SELECT k, window_start, window_end, COUNT(*) AS n,
         |  GROUPING(k) AS gk
         |FROM TABLE(TUMBLE(TABLE $src, DESCRIPTOR(ts), INTERVAL '1' MINUTE))
         |GROUP BY GROUPING SETS ((window_start, window_end, k),
         |  (window_start, window_end))""".stripMargin
    // text level: two UNION ALL'd native window aggregations, the
    // all-aggregated branch emitting NULL AS k and GROUPING(k) = 1
    val out = WindowTvf.rewriteStreaming(gsSql("gs_s"))
    assert("UNION ALL".r.findAllIn(out).size == 1, out)
    assert(out.contains("NULL AS k"), out)
    assert(out.contains("1 AS gk") && out.contains("0 AS gk"), out)
    assert(!WindowTvf.hasWindowTvf(out), out)
    // under an INSERT prefix the union nests once more — `INSERT INTO t
    // (SELECT...` would parse the first branch as a column list
    val ins = WindowTvf.rewriteStreaming("INSERT INTO gs_sink " + gsSql("gs_s"))
    assert(raw"(?is)^\s*INSERT\s+INTO\s+gs_sink\s+SELECT \* FROM \(\(".r
      .findFirstIn(ins).isDefined, ins)

    val spark = graft.SparkFixture.spark
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val rows = Seq(
      ("x", ts(10)), ("y", ts(20)), ("x", ts(30)))
    // batch twin: Spark's native grouping sets over the TVF expansion
    rows.toDF("k", "ts").createOrReplaceTempView("gs_b")
    def proj(df: org.apache.spark.sql.DataFrame) = df
      .select($"k",
        org.apache.spark.sql.functions.unix_timestamp($"window_start"),
        org.apache.spark.sql.functions.unix_timestamp($"window_end"),
        $"n", $"gk".cast("int"))
      .as[(Option[String], Long, Long, Long, Int)].collect().toSet
    val batch = proj(spark.sql(WindowTvf.rewrite(gsSql("gs_b"))))
    assert(batch == Set(
      (Some("x"), 0L, 60L, 2L, 0), (Some("y"), 0L, 60L, 1L, 0),
      (None, 0L, 60L, 3L, 1)))
    val input = MemoryStream[(String, java.sql.Timestamp)]
    input.toDF().toDF("k", "ts").withWatermark("ts", "5 seconds")
      .createOrReplaceTempView("gs_s")
    val q = spark.sql(WindowTvf.rewriteStreaming(gsSql("gs_s")))
      .writeStream.format("memory").queryName("gs_out")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      input.addData(("z", ts(500))); q.processAllAvailable()
      input.addData(("z", ts(900))); q.processAllAvailable()
      val got = proj(spark.table("gs_out")
        .filter("unix_timestamp(window_start) < 60"))
      assert(got == batch, s"got $got\nbatch $batch")
    } finally q.stop()
  }

  test("streaming GROUPING SETS carries HAVING into every branch") {
    val spark = graft.SparkFixture.spark
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val rows = Seq(("x", ts(10)), ("y", ts(20)), ("x", ts(30)))
    rows.toDF("k", "ts").createOrReplaceTempView("gs_hav")
    def sql(src: String) =
      s"""SELECT k, window_start, window_end, COUNT(*) AS n
         |FROM TABLE(TUMBLE(TABLE $src, DESCRIPTOR(ts), INTERVAL '1' MINUTE))
         |GROUP BY GROUPING SETS ((window_start, window_end, k),
         |  (window_start, window_end))
         |HAVING COUNT(*) > 1""".stripMargin
    // batch: per-k x=2 passes, y=1 is filtered; all-k branch n=3 passes
    val batch = spark.sql(WindowTvf.rewrite(sql("gs_hav")))
      .select($"k", $"n").as[(Option[String], Long)].collect().toSet
    assert(batch === Set((Some("x"), 2L), (None, 3L)))
    // streaming: the HAVING tail lands in each unioned branch, so the
    // filter applies per branch before the UNION ALL
    val out = WindowTvf.rewriteStreaming(sql("gs_hav"))
    assert("(?i)HAVING".r.findAllIn(out).size == 2, out)
    val streamed = spark.sql(out)
      .select($"k", $"n").as[(Option[String], Long)].collect().toSet
    assert(streamed === batch)
  }

  test("randomized: CUMULATE window join streaming equals the batch expansion") {
    val spark = graft.SparkFixture.spark
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val rnd = new scala.util.Random(59)
    val rowsA = (1 to 80).map(i =>
      (rnd.nextInt(5).toLong, ts(10L + rnd.nextInt(300)), s"a$i"))
    val rowsB = (1 to 80).map(i =>
      (rnd.nextInt(5).toLong, ts(10L + rnd.nextInt(300)), s"b$i"))
    def sql(ta: String, tb: String) =
      s"""SELECT L.k, L.window_start, L.window_end, L.v, R.v2
         |FROM TABLE(CUMULATE(TABLE $ta, DESCRIPTOR(ts), INTERVAL '20' SECOND, INTERVAL '60' SECOND)) L
         |JOIN TABLE(CUMULATE(TABLE $tb, DESCRIPTOR(ts), INTERVAL '20' SECOND, INTERVAL '60' SECOND)) R
         |ON L.k = R.k AND L.window_start = R.window_start
         |  AND L.window_end = R.window_end""".stripMargin
    rowsA.toDF("k", "ts", "v").createOrReplaceTempView("wcjr_ab")
    rowsB.toDF("k", "ts", "v2").createOrReplaceTempView("wcjr_bb")
    def proj(df: org.apache.spark.sql.DataFrame) = df
      .select($"k",
        org.apache.spark.sql.functions.unix_timestamp($"window_start"),
        org.apache.spark.sql.functions.unix_timestamp($"window_end"),
        $"v", $"v2")
      .as[(Long, Long, Long, String, String)].collect().toSet
    val batch = proj(spark.sql(WindowTvf.rewrite(sql("wcjr_ab", "wcjr_bb"))))
    assert(batch.nonEmpty)
    val a = MemoryStream[(Long, java.sql.Timestamp, String)]
    val b = MemoryStream[(Long, java.sql.Timestamp, String)]
    a.toDF().toDF("k", "ts", "v").withWatermark("ts", "400 seconds")
      .createOrReplaceTempView("wcjr_a")
    b.toDF().toDF("k", "ts", "v2").withWatermark("ts", "400 seconds")
      .createOrReplaceTempView("wcjr_b")
    val q = spark.sql(WindowTvf.rewriteStreaming(sql("wcjr_a", "wcjr_b")))
      .writeStream.format("memory").queryName("wcjr_out")
      .outputMode("append").start()
    try {
      // the wide watermark delay keeps every randomized row live until
      // the final flush — this trial checks JOIN x FAN-OUT equality,
      // not late-row policy (the deterministic test covers eviction)
      a.addData(rowsA: _*); b.addData(rowsB: _*)
      q.processAllAvailable()
      a.addData((9L, ts(5000), "fl")); b.addData((9L, ts(5000), "fl"))
      q.processAllAvailable()
      a.addData((9L, ts(9000), "fl")); b.addData((9L, ts(9000), "fl"))
      q.processAllAvailable()
      val got = proj(spark.table("wcjr_out").filter("v <> 'fl'"))
      assert(got == batch,
        s"missing=${(batch -- got).take(5)} extra=${(got -- batch).take(5)}")
    } finally q.stop()
  }

  test("e2e: INSERT-prefixed streaming GROUPING SETS runs through sql-submit") {
    // datagen rows at 0/10/20/30/40/50 s, key = ems % 2; two 30 s
    // tumbling windows, each emitting per-key rows plus the
    // all-aggregated branch (NULL key, GROUPING(k) = 1); the bounded
    // source flushes every window at end-of-input (Flink MAX_WATERMARK)
    val spark = graft.SparkFixture.spark
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-gs-out").toString
    val script = java.nio.file.Files.createTempFile("graft-gs", ".sql")
    java.nio.file.Files.writeString(script,
      s"""CREATE TABLE gs_cli_src (ems BIGINT,
         |  k AS CAST(ems % 2 AS STRING),
         |  ts AS TO_TIMESTAMP_LTZ(ems * 10000, 3),
         |  WATERMARK FOR ts AS ts - INTERVAL '1' SECOND)
         |WITH ('connector'='datagen', 'number-of-rows'='6',
         |  'fields.ems.kind'='sequence', 'fields.ems.start'='0',
         |  'fields.ems.end'='5');
         |CREATE TABLE gs_cli_sink (k STRING, ws TIMESTAMP(3), n BIGINT,
         |  gk INT)
         |WITH ('connector'='filesystem', 'path'='$out/sink',
         |  'format'='parquet');
         |INSERT INTO gs_cli_sink
         |SELECT k, window_start AS ws, COUNT(*) AS n, GROUPING(k) AS gk
         |FROM TABLE(TUMBLE(TABLE gs_cli_src, DESCRIPTOR(ts),
         |  INTERVAL '30' SECOND))
         |GROUP BY GROUPING SETS ((window_start, window_end, k),
         |  (window_start, window_end));
         |""".stripMargin)
    new SqlSubmitAction(script.toString, Map.empty,
      existingSession = Some(spark), durationSec = 20L).run()
    val got = spark.read.parquet(s"$out/sink")
      .select($"k",
        org.apache.spark.sql.functions.unix_timestamp($"ws"), $"n", $"gk")
      .as[(Option[String], Long, Long, Int)].collect().toSet
    assert(got == Set(
      (Some("0"), 0L, 2L, 0), (Some("1"), 0L, 1L, 0), (None, 0L, 3L, 1),
      (Some("0"), 30L, 1L, 0), (Some("1"), 30L, 2L, 0), (None, 30L, 3L, 1)),
      got)
  }

  test("e2e: INSERT INTO TABLE-prefixed streaming GROUPING SETS runs " +
      "through sql-submit") {
    // Flink's optional TABLE keyword after INSERT INTO stays in the
    // statement prefix, so each grouping-set branch starts at its SELECT
    val spark = graft.SparkFixture.spark
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-gst-out").toString
    val script = java.nio.file.Files.createTempFile("graft-gst", ".sql")
    java.nio.file.Files.writeString(script,
      s"""CREATE TABLE gst_cli_src (ems BIGINT,
         |  k AS CAST(ems % 2 AS STRING),
         |  ts AS TO_TIMESTAMP_LTZ(ems * 10000, 3),
         |  WATERMARK FOR ts AS ts - INTERVAL '1' SECOND)
         |WITH ('connector'='datagen', 'number-of-rows'='6',
         |  'fields.ems.kind'='sequence', 'fields.ems.start'='0',
         |  'fields.ems.end'='5');
         |CREATE TABLE gst_cli_sink (k STRING, ws TIMESTAMP(3), n BIGINT)
         |WITH ('connector'='filesystem', 'path'='$out/sink',
         |  'format'='parquet');
         |INSERT INTO TABLE gst_cli_sink
         |SELECT k, window_start AS ws, COUNT(*) AS n
         |FROM TABLE(TUMBLE(TABLE gst_cli_src, DESCRIPTOR(ts),
         |  INTERVAL '30' SECOND))
         |GROUP BY GROUPING SETS ((window_start, window_end, k),
         |  (window_start, window_end));
         |""".stripMargin)
    new SqlSubmitAction(script.toString, Map.empty,
      existingSession = Some(spark), durationSec = 20L).run()
    val got = spark.read.parquet(s"$out/sink")
      .select($"k",
        org.apache.spark.sql.functions.unix_timestamp($"ws"), $"n")
      .as[(Option[String], Long, Long)].collect().toSet
    assert(got == Set(
      (Some("0"), 0L, 2L), (Some("1"), 0L, 1L), (None, 0L, 3L),
      (Some("0"), 30L, 1L), (Some("1"), 30L, 2L), (None, 30L, 3L)), got)
  }

  test("streaming TVF contract violations are rejected explicitly") {
    val cum = intercept[IllegalArgumentException] {
      WindowTvf.rewriteStreaming(
        "SELECT window_start, COUNT(*) FROM TABLE(CUMULATE(TABLE t, " +
          "DESCRIPTOR(ts), INTERVAL '1' HOUR, INTERVAL '4' HOURS)) " +
          "GROUP BY window_start")
    }
    assert(cum.getMessage.contains("CUMULATE"))
    val noAgg = intercept[IllegalArgumentException] {
      WindowTvf.rewriteStreaming(
        "SELECT * FROM TABLE(TUMBLE(TABLE t, DESCRIPTOR(ts), " +
          "INTERVAL '1' HOUR))")
    }
    assert(noAgg.getMessage.contains("GROUP BY"))
    val noWinKey = intercept[IllegalArgumentException] {
      WindowTvf.rewriteStreaming(
        "SELECT k, COUNT(*) FROM TABLE(TUMBLE(TABLE t, DESCRIPTOR(ts), " +
          "INTERVAL '1' HOUR)) GROUP BY k")
    }
    assert(noWinKey.getMessage.contains("window_start"))
    // a legacy accessor with no matching group call cannot escalate
    val orphan = intercept[IllegalArgumentException] {
      WindowTvf.rewriteStreaming(
        "SELECT HOP_START(rt, INTERVAL '1' MINUTE, INTERVAL '5' MINUTE) FROM t")
    }
    assert(orphan.getMessage.contains("legacy"))
    // window columns do not exist before the aggregate: a WHERE filter
    // on them must fail the contract, not leak `window.start` noise
    val preAgg = intercept[IllegalArgumentException] {
      WindowTvf.rewriteStreaming(
        "SELECT window_start, COUNT(*) FROM TABLE(TUMBLE(TABLE t, " +
          "DESCRIPTOR(ts), INTERVAL '1' HOUR)) " +
          "WHERE window_start >= TIMESTAMP '2024-01-01 00:00:00' " +
          "GROUP BY window_start")
    }
    assert(preAgg.getMessage.contains("before the aggregation"))
  }

  test("a second legacy group-window key with different arguments rejects") {
    // Flink rejects two group windows in one GROUP BY; silently
    // collapsing both onto the first window would drop semantics
    val e = intercept[IllegalArgumentException] {
      WindowTvf.rewrite(
        "SELECT COUNT(*) FROM t GROUP BY " +
          "HOP(rt, INTERVAL '1' MINUTE, INTERVAL '5' MINUTE), " +
          "HOP(rt, INTERVAL '2' MINUTE, INTERVAL '20' MINUTE)")
    }
    assert(e.getMessage.contains("one HOP"), s"message: ${e.getMessage}")
  }

  test("streaming SESSION PARTITION BY keys must be grouping keys") {
    // Flink can aggregate per-key sessions ACROSS keys; Spark's
    // session_window cannot — dropping the key would merge sessions
    // globally and silently change counts, so it must reject
    val e = intercept[IllegalArgumentException] {
      WindowTvf.rewriteStreaming(
        "SELECT window_start, COUNT(*) FROM " +
          "TABLE(SESSION(TABLE t PARTITION BY k, DESCRIPTOR(ts), " +
          "INTERVAL '5' MINUTE)) GROUP BY window_start, window_end")
    }
    assert(e.getMessage.contains("PARTITION BY key 'k'"))
  }

  test("legacy accessors with mismatched window arguments are rejected") {
    val e = intercept[IllegalArgumentException] {
      WindowTvf.rewrite(
        "SELECT HOP_START(other_ts, INTERVAL '9' MINUTE, INTERVAL '9' MINUTE), " +
          "COUNT(*) FROM t GROUP BY " +
          "HOP(ts, INTERVAL '1' HOUR, INTERVAL '2' HOUR)")
    }
    assert(e.getMessage.contains("do not match"))
    // and a matching ROWTIME accessor groups cleanly (window_time is a
    // grouping key in the escalated form)
    val out = WindowTvf.rewrite(
      "SELECT HOP_ROWTIME(ts, INTERVAL '1' HOUR, INTERVAL '2' HOURS) AS rt, " +
        "COUNT(*) AS n FROM t GROUP BY " +
        "HOP(ts, INTERVAL '1' HOUR, INTERVAL '2' HOURS)")
    assert(out.contains("GROUP BY window_start, window_end, window_time"))
    assert(out.contains("window_time AS rt"))
  }

  test("e2e: streaming TUMBLE TVF aggregates through a live stream") {
    val spark = SparkFixture.spark
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, String)]
    input.toDF().toDF("ts", "k").createOrReplaceTempView("stvf_src")
    val sql = WindowTvf.rewriteStreaming(
      "SELECT window_start, k, COUNT(*) AS n FROM " +
        "TABLE(TUMBLE(TABLE stvf_src, DESCRIPTOR(ts), INTERVAL '1' HOUR)) " +
        "GROUP BY window_start, k")
    val query = spark.sql(sql).writeStream.format("memory")
      .queryName("stvf_out").outputMode("update").start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData(
        (t("2024-01-01 00:10:00"), "a"),
        (t("2024-01-01 00:20:00"), "a"),
        (t("2024-01-01 01:10:00"), "b"))
      query.processAllAvailable()
      val got = spark.table("stvf_out")
        .selectExpr("unix_seconds(window_start)", "k", "n")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sorted.toSeq
      assert(got === Seq(
        (1704067200L, "a", 2L), (1704070800L, "b", 1L)))
    } finally query.stop()
  }

  test("property: streaming SESSION TVF equals the batch rewrite on random input") {
    val spark = SparkFixture.spark
    import spark.implicits._
    implicit val sc = spark.sqlContext
    def q(table: String) =
      s"SELECT k, window_start, window_end, COUNT(*) AS n FROM " +
        s"TABLE(SESSION(TABLE $table PARTITION BY k, DESCRIPTOR(ts), " +
        "INTERVAL '10' SECOND)) GROUP BY k, window_start, window_end"
    for (seed <- Seq(31, 32)) {
      val rnd = new scala.util.Random(seed)
      // ts on a 1001 ms grid with a 10000 ms gap: inter-event diffs are
      // multiples of 1001 and can never equal the gap exactly, so the
      // touching-window merge boundary (where Flink semantics and
      // Spark's native session_window could differ) is not generated —
      // that boundary is pinned by its own dedicated test
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
      val events = Seq.fill(120)((
        new java.sql.Timestamp(t0 + rnd.nextInt(60) * 1001L),
        s"k${rnd.nextInt(3)}"))
      events.toDF("ts", "k").createOrReplaceTempView("sess_prop_b")
      val batch = spark.sql(WindowTvf.rewrite(q("sess_prop_b")))
        .selectExpr("k", "unix_millis(window_start)",
          "unix_millis(window_end)", "n")
        .collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(java.sql.Timestamp, String)]
      input.toDF().toDF("ts", "k").withWatermark("ts", "1 second")
        .createOrReplaceTempView("sess_prop_s")
      // session aggregations stream in APPEND mode only: each session
      // is emitted exactly once, when the watermark closes it
      val query = spark.sql(WindowTvf.rewriteStreaming(q("sess_prop_s")))
        .writeStream.format("memory").queryName(s"sess_prop_out$seed")
        .outputMode("append").start()
      try {
        input.addData(events: _*)
        query.processAllAvailable()
        // advance the watermark far past every session to flush them;
        // the flush key's own (never-closed) session is filtered out
        input.addData((new java.sql.Timestamp(t0 + 86400000L), "kf"))
        query.processAllAvailable()
        val stream = spark.table(s"sess_prop_out$seed")
          .filter("k <> 'kf'")
          .selectExpr("k", "unix_millis(window_start)",
            "unix_millis(window_end)", "n")
          .collect().map(r =>
            (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        assert(stream === batch, s"seed $seed")
      } finally query.stop()
    }
  }

  test("unrecognized TVF forms are rejected, never leaked") {
    // CUMULATE's offset form is supported (round 11): spans land on
    // the shifted grid, nothing leaks to the parser
    val cum = WindowTvf.rewrite(
      "SELECT * FROM TABLE(CUMULATE(TABLE t, DESCRIPTOR(ts), " +
        "INTERVAL '10' MINUTE, INTERVAL '1' HOUR, INTERVAL '15' MINUTE))")
    assert(!WindowTvf.hasWindowTvf(cum), cum)
    assert(cum.contains("- 900000L") && cum.contains("+ 900000L"), cum)
    // a SESSION with a trailing extra interval is NOT a supported
    // shape: recognized as a TVF, refused clearly
    val sess = intercept[IllegalArgumentException] {
      WindowTvf.rewrite(
        "SELECT * FROM TABLE(SESSION(TABLE t, DESCRIPTOR(ts), " +
          "INTERVAL '5' MINUTE, INTERVAL '1' MINUTE))")
    }
    assert(sess.getMessage.toLowerCase.contains("session"), sess.getMessage)
  }

  test("TUMBLE offset shifts the window grid, negative offsets included") {
    val out = WindowTvf.rewrite(
      "SELECT * FROM TABLE(TUMBLE(TABLE t, DESCRIPTOR(ts), " +
        "INTERVAL '1' HOUR, OFFSET => INTERVAL '15' MINUTE))")
    // floor in offset-space, shift back: (floor(t - off) + off)
    assert(out.contains("- 900000L"))
    assert(out.contains("+ 900000L"))
    val spark = SparkFixture.spark
    spark.sql("SELECT TIMESTAMP '2024-01-02 03:10:00' AS ts")
      .createOrReplaceTempView("off_t")
    // -8 HOUR on a 1 DAY window: the Pacific-day use; normalized to
    // +16 h, the covering window starts the previous day 16:00 UTC
    val row = spark.sql(WindowTvf.rewrite(
      "SELECT window_start, window_end FROM TABLE(TUMBLE(TABLE off_t, " +
        "DESCRIPTOR(ts), INTERVAL '1' DAY, INTERVAL '-8' HOUR))")).head
    assert(row.getTimestamp(0).toString == "2024-01-01 16:00:00.0")
    assert(row.getTimestamp(1).toString == "2024-01-02 16:00:00.0")
  }

  test("HOP offset shifts every covering window by the offset") {
    val spark = SparkFixture.spark
    spark.sql("SELECT TIMESTAMP '2024-01-01 00:59:00' AS ts")
      .createOrReplaceTempView("offh_t")
    val rows = spark.sql(WindowTvf.rewrite(
      "SELECT window_start FROM TABLE(HOP(TABLE offh_t, DESCRIPTOR(ts), " +
        "INTERVAL '30' MINUTE, INTERVAL '1' HOUR, INTERVAL '10' MINUTE)) " +
        "ORDER BY window_start")).collect().map(_.getTimestamp(0).toString)
    // grid = :10/:40; covering 1h windows for 00:59 start at 00:10, 00:40
    assert(rows.toSeq == Seq("2024-01-01 00:10:00.0", "2024-01-01 00:40:00.0"))
  }

  test("streaming TUMBLE/HOP offsets map onto the native window startTime") {
    val t = WindowTvf.rewriteStreaming(
      "SELECT window_start, COUNT(*) AS n FROM TABLE(TUMBLE(TABLE s, " +
        "DESCRIPTOR(ts), INTERVAL '1' HOUR, INTERVAL '-8' HOUR)) " +
        "GROUP BY window_start")
    // -8h normalized into [0, size) = 16h
    assert(t.contains(
      "window(ts, '3600000 milliseconds', '3600000 milliseconds', '0 milliseconds')")
      || t.contains("window(ts, '3600000 milliseconds')"), t)
    val t2 = WindowTvf.rewriteStreaming(
      "SELECT window_start, COUNT(*) AS n FROM TABLE(TUMBLE(TABLE s, " +
        "DESCRIPTOR(ts), INTERVAL '1' DAY, INTERVAL '-8' HOUR)) " +
        "GROUP BY window_start")
    assert(t2.contains(
      "window(ts, '86400000 milliseconds', '86400000 milliseconds', " +
        "'57600000 milliseconds')"), t2)
    val h = WindowTvf.rewriteStreaming(
      "SELECT window_start, COUNT(*) AS n FROM TABLE(HOP(TABLE s, " +
        "DESCRIPTOR(ts), INTERVAL '30' MINUTE, INTERVAL '1' HOUR, " +
        "INTERVAL '10' MINUTE)) GROUP BY window_start")
    assert(h.contains(
      "window(ts, '3600000 milliseconds', '1800000 milliseconds', " +
        "'600000 milliseconds')"), h)
  }

  test("legacy GROUP BY TUMBLE + accessors rewrite to floor arithmetic") {
    val out = WindowTvf.rewrite(
      "SELECT dim, TUMBLE_START(rt, INTERVAL '1' MINUTE) AS ws, " +
        "TUMBLE_END(rt, INTERVAL '1' MINUTE) AS we, COUNT(*) " +
        "FROM t GROUP BY dim, TUMBLE(rt, INTERVAL '1' MINUTE)")
    assert(out.contains(
      "timestamp_millis((unix_millis(cast(rt as timestamp)) - pmod(unix_millis(cast(rt as timestamp)), 60000L)))"))
    assert(out.contains("+ 60000L)"))
    // the GROUP BY key became the bare window-start expression
    assert(out.contains("GROUP BY dim, (unix_millis(cast(rt as timestamp)) - pmod(unix_millis(cast(rt as timestamp)), 60000L))"))
    assert(!WindowTvf.hasWindowTvf(out))
  }

  test("legacy TUMBLE_ROWTIME maps to the end-minus-1ms rowtime") {
    val out = WindowTvf.rewrite(
      "SELECT TUMBLE_ROWTIME(rt, INTERVAL '1' HOUR) FROM t " +
        "GROUP BY TUMBLE(rt, INTERVAL '1' HOUR)")
    assert(out.contains("+ 3600000L - 1L)"))
  }

  test("legacy HOP group window escalates to the TVF expansion") {
    val out = WindowTvf.rewrite(
      "SELECT HOP_START(rt, INTERVAL '1' MINUTE, INTERVAL '5' MINUTE) AS ws, " +
        "COUNT(*) AS n FROM t GROUP BY " +
        "HOP(rt, INTERVAL '1' MINUTE, INTERVAL '5' MINUTE)")
    // escalated to TABLE(HOP(...)) and expanded laterally like the TVF
    assert(out.contains("LATERAL VIEW explode(sequence("))
    assert(out.contains("GROUP BY window_start, window_end"))
    assert(out.contains("window_start AS ws"))
    assert(!WindowTvf.hasWindowTvf(out))
  }

  test("legacy SESSION group keys become the session PARTITION BY") {
    val out = WindowTvf.rewrite(
      "SELECT k, SESSION_START(rt, INTERVAL '5' MINUTE) AS ws, COUNT(*) " +
        "FROM t GROUP BY k, SESSION(rt, INTERVAL '5' MINUTE)")
    // per-key sessions: the sibling GROUP BY key partitions the islands
    assert(out.contains("LAG(unix_millis(cast(rt as timestamp))) OVER (PARTITION BY k ORDER BY"))
    assert(out.contains("GROUP BY k, window_start, window_end"))
    assert(out.contains("window_start AS ws"))
    assert(!WindowTvf.hasWindowTvf(out))
  }

  test("legacy HOP over a join explodes windows inline, keeping qualifiers") {
    val out = WindowTvf.rewrite(
      "SELECT HOP_START(rt, INTERVAL '1' MINUTE, INTERVAL '5' MINUTE) AS ws, " +
        "u.seg, COUNT(*) AS n " +
        "FROM t JOIN u ON t.k = u.k WHERE u.seg <> 'x' GROUP BY " +
        "u.seg, HOP(rt, INTERVAL '1' MINUTE, INTERVAL '5' MINUTE)")
    // the lateral view attaches AFTER the join and BEFORE the WHERE;
    // qualified references survive (no CTE flattening on this path)
    assert(out.contains("JOIN u ON t.k = u.k"), out)
    val lvIdx = out.indexOf("LATERAL VIEW explode(sequence(")
    assert(lvIdx >= 0 && lvIdx < out.indexOf("WHERE u.seg"), out)
    assert(out.contains("GROUP BY u.seg, __ws"), out)
    assert(out.contains("timestamp_millis(__ws) AS ws"), out)
    assert(!WindowTvf.hasWindowTvf(out))
  }

  test("legacy SESSION over a join windows a CTE-wrapped source") {
    val out = WindowTvf.rewrite(
      "SELECT u.seg, SESSION_START(rt, INTERVAL '5' MINUTE) AS ws, COUNT(*) " +
        "FROM t JOIN u ON t.k = u.k GROUP BY " +
        "u.seg, SESSION(rt, INTERVAL '5' MINUTE)")
    // the join materializes in the CTE; the session islands run over
    // it partitioned by the (flattened) sibling key
    assert(out.startsWith("WITH __lgw_src AS (SELECT * FROM t JOIN u ON t.k = u.k)"), out)
    assert(out.contains("PARTITION BY seg ORDER BY"), out)
    assert(out.contains("GROUP BY seg, window_start, window_end"), out)
    assert(!WindowTvf.hasWindowTvf(out))
    // an existing WITH cannot take a second CTE block — named rejection
    val e = intercept[IllegalArgumentException] {
      WindowTvf.rewrite(
        "WITH v AS (SELECT * FROM w) SELECT COUNT(*) FROM v JOIN u ON v.k = u.k " +
          "GROUP BY SESSION(rt, INTERVAL '5' MINUTE)")
    }
    assert(e.getMessage.contains("WITH"), e.getMessage)
    // streaming keeps the single-table contract (stream-stream joins
    // inside a legacy group window are not half-rewritten)
    val es = intercept[IllegalArgumentException] {
      WindowTvf.rewriteStreaming(
        "SELECT COUNT(*) FROM t JOIN u ON t.k = u.k GROUP BY " +
          "SESSION(rt, INTERVAL '5' MINUTE)")
    }
    assert(es.getMessage.contains("single-table FROM"), es.getMessage)
  }

  test("streaming window join: two TVF relations join on the window struct") {
    // text level: both TVFs become windowed derived tables, the two
    // window equalities collapse into one __graft_w struct equality
    val sql =
      """SELECT L.k, L.window_start, L.v, R.v2
        |FROM TABLE(TUMBLE(TABLE wj_a, DESCRIPTOR(ts), INTERVAL '10' SECOND)) L
        |JOIN TABLE(TUMBLE(TABLE wj_b, DESCRIPTOR(ts), INTERVAL '10' SECOND)) R
        |ON L.k = R.k AND L.window_start = R.window_start
        |  AND L.window_end = R.window_end""".stripMargin
    val out = WindowTvf.rewriteStreaming(sql)
    assert(!WindowTvf.hasWindowTvf(out), out)
    assert(out.contains("L.__graft_w = R.__graft_w"), out)
    assert(out.contains("L.k = R.k"), out)
    assert(!raw"(?i)window_start\s*=".r.findFirstIn(out).isDefined, out)

    // e2e: click/error pairing per (key, 10 s window) over two live
    // streams
    val spark = graft.SparkFixture.spark
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val a = MemoryStream[(Long, java.sql.Timestamp, String)]
    val b = MemoryStream[(Long, java.sql.Timestamp, String)]
    a.toDF().toDF("k", "ts", "v").withWatermark("ts", "5 seconds")
      .createOrReplaceTempView("wj_a")
    b.toDF().toDF("k", "ts", "v2").withWatermark("ts", "5 seconds")
      .createOrReplaceTempView("wj_b")
    val q = spark.sql(WindowTvf.rewriteStreaming(sql)).writeStream
      .format("memory").queryName("wj_out").outputMode("append").start()
    try {
      a.addData((1L, ts(3), "a1"), (1L, ts(14), "a2"), (2L, ts(4), "a3"))
      b.addData((1L, ts(7), "b1"), (2L, ts(15), "b2"), (1L, ts(12), "b3"))
      q.processAllAvailable()
      a.addData((8L, ts(100), "flush")); b.addData((9L, ts(100), "flush"))
      q.processAllAvailable()
      val got = spark.table("wj_out")
        .select($"k",
          org.apache.spark.sql.functions.unix_timestamp($"window_start"),
          $"v", $"v2")
        .as[(Long, Long, String, String)].collect().toSet
      // same key, same 10 s window: (1, [0,10)) pairs a1×b1; (1, [10,20))
      // pairs a2×b3; key 2 has its sides in different windows
      assert(got == Set((1L, 0L, "a1", "b1"), (1L, 10L, "a2", "b3")))
      // the struct-equality rewrite is what lets Spark evict join
      // state by watermark: after the watermark passes the early
      // windows, their rows must leave the state store
      a.addData((8L, ts(200), "flush2")); b.addData((9L, ts(200), "flush2"))
      q.processAllAvailable()
      val held = q.lastProgress.stateOperators.head.numRowsTotal
      assert(held <= 4,
        s"join state not evicted by watermark: $held rows held")
    } finally q.stop()

    // LEFT window join: the unmatched left row emits with NULLs once
    // the watermark closes its window (Flink's outer window join)
    val lq = spark.sql(WindowTvf.rewriteStreaming(
      sql.replace("JOIN TABLE(TUMBLE(TABLE wj_b", "LEFT JOIN TABLE(TUMBLE(TABLE wj_b")))
      .writeStream.format("memory").queryName("wj_left")
      .outputMode("append").start()
    try {
      a.addData((5L, ts(3), "lone"), (6L, ts(4), "pair"))
      b.addData((6L, ts(2), "pair2"))
      lq.processAllAvailable()
      a.addData((8L, ts(100), "fl")); b.addData((9L, ts(100), "fl"))
      lq.processAllAvailable()
      a.addData((8L, ts(200), "fl")); b.addData((9L, ts(200), "fl"))
      lq.processAllAvailable()
      val lgot = spark.table("wj_left")
        .select($"k", $"v", $"v2").as[(Long, String, String)]
        .collect().toSet
      assert(lgot.contains((6L, "pair", "pair2")), lgot)
      assert(lgot.contains((5L, "lone", null)), lgot)
    } finally lq.stop()

    // contract: both window equalities are required, SESSION rejects
    val eMiss = intercept[IllegalArgumentException](WindowTvf.rewriteStreaming(
      """SELECT L.k FROM TABLE(TUMBLE(TABLE wj_a, DESCRIPTOR(ts), INTERVAL '10' SECOND)) L
        |JOIN TABLE(TUMBLE(TABLE wj_b, DESCRIPTOR(ts), INTERVAL '10' SECOND)) R
        |ON L.k = R.k AND L.window_start = R.window_start""".stripMargin))
    assert(eMiss.getMessage.contains("window_end"), eMiss.getMessage)
    val eSess = intercept[IllegalArgumentException](WindowTvf.rewriteStreaming(
      """SELECT L.k FROM TABLE(SESSION(TABLE wj_a, DESCRIPTOR(ts), INTERVAL '10' SECOND)) L
        |JOIN TABLE(SESSION(TABLE wj_b, DESCRIPTOR(ts), INTERVAL '10' SECOND)) R
        |ON L.window_start = R.window_start AND L.window_end = R.window_end""".stripMargin))
    assert(eSess.getMessage.contains("TUMBLE, HOP and CUMULATE"), eSess.getMessage)
  }

  test("streaming CUMULATE window join: span join + stateless growing-window fan-out") {
    def cumJoinSql(ta: String, tb: String) =
      s"""SELECT L.k, L.window_start, L.window_end, L.v, R.v2
         |FROM TABLE(CUMULATE(TABLE $ta, DESCRIPTOR(ts), INTERVAL '5' SECOND, INTERVAL '10' SECOND)) L
         |JOIN TABLE(CUMULATE(TABLE $tb, DESCRIPTOR(ts), INTERVAL '5' SECOND, INTERVAL '10' SECOND)) R
         |ON L.k = R.k AND L.window_start = R.window_start
         |  AND L.window_end = R.window_end""".stripMargin
    // text level: span-struct equality + the fan-out lateral view, and
    // window_end references rewritten onto the fan-out column
    val out = WindowTvf.rewriteStreaming(cumJoinSql("wcj_a", "wcj_b"))
    assert(out.contains("L.__graft_w = R.__graft_w"), out)
    assert(out.contains("LATERAL VIEW explode(sequence(greatest("), out)
    assert(!raw"(?i)(?<!AS )\bwindow_end\b".r.findFirstIn(out).isDefined, out)

    val spark = graft.SparkFixture.spark
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val rowsA = Seq((1L, ts(3), "a1"), (1L, ts(14), "a2"), (2L, ts(4), "a3"))
    val rowsB = Seq((1L, ts(7), "b1"), (1L, ts(2), "b2"), (2L, ts(15), "b3"))
    // batch twin through the TVF expansion rewrite
    rowsA.toDF("k", "ts", "v").createOrReplaceTempView("wcj_ab")
    rowsB.toDF("k", "ts", "v2").createOrReplaceTempView("wcj_bb")
    def proj(df: org.apache.spark.sql.DataFrame) = df
      .select($"k",
        org.apache.spark.sql.functions.unix_timestamp($"window_start"),
        org.apache.spark.sql.functions.unix_timestamp($"window_end"),
        $"v", $"v2")
      .as[(Long, Long, Long, String, String)].collect().toSet
    val batch = proj(spark.sql(WindowTvf.rewrite(cumJoinSql("wcj_ab", "wcj_bb"))))
    // a1 (3 s) covers [0,5)+[0,10); b1 (7 s) only [0,10); b2 (2 s) both
    assert(batch == Set(
      (1L, 0L, 10L, "a1", "b1"),
      (1L, 0L, 5L, "a1", "b2"), (1L, 0L, 10L, "a1", "b2")))

    val a = MemoryStream[(Long, java.sql.Timestamp, String)]
    val b = MemoryStream[(Long, java.sql.Timestamp, String)]
    a.toDF().toDF("k", "ts", "v").withWatermark("ts", "5 seconds")
      .createOrReplaceTempView("wcj_a")
    b.toDF().toDF("k", "ts", "v2").withWatermark("ts", "5 seconds")
      .createOrReplaceTempView("wcj_b")
    val q = spark.sql(WindowTvf.rewriteStreaming(cumJoinSql("wcj_a", "wcj_b")))
      .writeStream.format("memory").queryName("wcj_out")
      .outputMode("append").start()
    try {
      a.addData(rowsA: _*); b.addData(rowsB: _*)
      q.processAllAvailable()
      a.addData((8L, ts(100), "flush")); b.addData((9L, ts(100), "flush"))
      q.processAllAvailable()
      val got = proj(spark.table("wcj_out"))
      assert(got == batch, s"got $got\nbatch $batch")
      // span-struct equality is what lets Spark evict join state
      a.addData((8L, ts(200), "fl2")); b.addData((9L, ts(200), "fl2"))
      q.processAllAvailable()
      val held = q.lastProgress.stateOperators.head.numRowsTotal
      assert(held <= 4, s"join state not evicted by watermark: $held rows held")
    } finally q.stop()

    // contract: mixed kinds, differing specs, ON-side window_end, and
    // unqualified window_end all fail by name
    def rejects(sql: String, frag: String): Unit = {
      val e = intercept[IllegalArgumentException](
        WindowTvf.rewriteStreaming(sql))
      assert(e.getMessage.contains(frag), e.getMessage)
    }
    rejects(cumJoinSql("wcj_a", "wcj_b").replaceFirst(
      raw"CUMULATE\(TABLE wcj_b, DESCRIPTOR\(ts\), INTERVAL '5' SECOND, ",
      "TUMBLE(TABLE wcj_b, DESCRIPTOR(ts), "),
      "BOTH sides to be CUMULATE")
    rejects(cumJoinSql("wcj_a", "wcj_b").replaceFirst(
      "INTERVAL '5' SECOND", "INTERVAL '2' SECOND"),
      "identical (step")
    rejects(cumJoinSql("wcj_a", "wcj_b") +
      " AND L.window_end > R.ts", "move the predicate to WHERE")
    rejects(cumJoinSql("wcj_a", "wcj_b").replace(
      "SELECT L.k, L.window_start, L.window_end",
      "SELECT L.k, L.window_start, window_end"),
      "qualify window_end")
  }

  test("streaming legacy TUMBLE escalates onto native window() grouping") {
    val out = WindowTvf.rewriteStreaming(
      "SELECT TUMBLE_START(rt, INTERVAL '1' MINUTE) AS ws, COUNT(*) AS n " +
        "FROM t GROUP BY TUMBLE(rt, INTERVAL '1' MINUTE)")
    assert(out.contains("GROUP BY window(rt, '60000 milliseconds')"))
    assert(out.contains("window.start AS ws"))
  }

  test("streaming legacy TUMBLE accessors match a lowercase interval") {
    val out = WindowTvf.rewriteStreaming(
      "SELECT dim, TUMBLE_START(row_time, interval '1' minute) AS ws, " +
        "COUNT(*) AS n FROM t GROUP BY dim, TUMBLE(row_time, interval '1' minute)")
    assert(out.contains("window(row_time, '60000 milliseconds')"), out)
    assert(out.contains("window.start AS ws"), out)
  }

  test("e2e: streaming TUMBLE TVF above a CREATE VIEW source (r16)") {
    // the CLI's view watermark registry serves every streaming rewrite
    // through the shared watermarkOf — a window TVF over a filter view
    // streams exactly like one over the declared table
    val spark = graft.SparkFixture.spark
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-tvf-view")
    val script = Files.createTempFile("graft-tv", ".sql")
    try {
      Files.writeString(script,
        s"""SET execution.runtime-mode = streaming;
           |SET execution.checkpointing.enabled = true;
           |SET state.checkpoints.dir = file://${dir.toString}/cp;
           |create table tsrc (
           |  id bigint,
           |  row_time as timestamp '2024-01-01 00:00:00' +
           |    make_interval(0, 0, 0, 0, 0, 0, cast(id as int)),
           |  watermark for row_time as row_time - interval '1' second
           |) with (
           |  'connector' = 'datagen',
           |  'rows-per-second' = '100',
           |  'fields.id.kind' = 'sequence',
           |  'fields.id.start' = '0',
           |  'fields.id.end' = '29'
           |);
           |create temporary view t_odd as
           |  select id, row_time from tsrc where id % 2 = 1;
           |create table tsnk (n bigint, s bigint) with (
           |  'connector' = 'filesystem',
           |  'path' = 'file://${dir.toString}/out',
           |  'format' = 'parquet'
           |);
           |insert into tsnk
           |SELECT COUNT(*) AS n, SUM(id) AS s
           |FROM TABLE(TUMBLE(TABLE t_odd, DESCRIPTOR(row_time),
           |  INTERVAL '10' SECOND))
           |GROUP BY window_start, window_end;
           |""".stripMargin)
      new SqlSubmitAction(script.toString, Map.empty, Some(spark),
        durationSec = 30L).run()
      val got = spark.read.parquet(s"$dir/out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // watermark 29-1=28 s: windows [0,10) and [10,20) closed; odd
      // ids 1..9 and 11..19
      assert(got === Set((5L, 25L), (5L, 75L)), got.toString)
    } finally {
      Files.deleteIfExists(script): Unit
    }
  }

  test("e2e: streaming TUMBLE TVF above a stream-static JOIN view " +
      "(r16 — lookup-join enrichment then windowed aggregation)") {
    // the canonical enrichment pipeline: dim attributes joined onto
    // the stream in a view, then a window TVF aggregation GROUPs BY
    // the dim column — the registry hands the TVF the stream side's
    // event-time attribute through the join
    val spark = graft.SparkFixture.spark
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-tvf-jview")
    val script = Files.createTempFile("graft-tj", ".sql")
    try {
      Files.writeString(script,
        s"""SET execution.runtime-mode = streaming;
           |SET execution.checkpointing.enabled = true;
           |SET state.checkpoints.dir = file://${dir.toString}/cp;
           |create table jt_src (
           |  id bigint,
           |  row_time as timestamp '2024-01-01 00:00:00' +
           |    make_interval(0, 0, 0, 0, 0, 0, cast(id as int)),
           |  watermark for row_time as row_time - interval '1' second
           |) with (
           |  'connector' = 'datagen',
           |  'rows-per-second' = '100',
           |  'fields.id.kind' = 'sequence',
           |  'fields.id.start' = '0',
           |  'fields.id.end' = '29'
           |);
           |create temporary view jt_dim as
           |  select * from (values (0, 'even'), (1, 'odd')) as t(r, tag);
           |create temporary view jt_enr as
           |  select s.id, s.row_time, d.tag
           |  from jt_src s join jt_dim d on (s.id % 2) = d.r;
           |create table jt_snk (tag string, n bigint, s bigint) with (
           |  'connector' = 'filesystem',
           |  'path' = 'file://${dir.toString}/out',
           |  'format' = 'parquet'
           |);
           |insert into jt_snk
           |SELECT tag, COUNT(*) AS n, SUM(id) AS s
           |FROM TABLE(TUMBLE(TABLE jt_enr, DESCRIPTOR(row_time),
           |  INTERVAL '10' SECOND))
           |GROUP BY tag, window_start, window_end;
           |""".stripMargin)
      new SqlSubmitAction(script.toString, Map.empty, Some(spark),
        durationSec = 30L).run()
      val got = spark.read.parquet(s"$dir/out")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet
      // watermark 28 s closes [0,10) and [10,20): per-parity counts
      // and sums of ids 0..9 and 10..19
      assert(got === Set(
        ("even", 5L, 20L), ("odd", 5L, 25L),
        ("even", 5L, 70L), ("odd", 5L, 75L)), got.toString)
    } finally {
      Files.deleteIfExists(script): Unit
    }
  }

  test("e2e: unsupported MATCH_RECOGNIZE form fails the contract, not the parser") {
    val spark = SparkFixture.spark
    // NEXT() navigation is outside the subset — the rewrite must throw
    // its own contract, not leak Flink syntax into Spark's parser
    // (supported forms, incl. cross-variable DEFINE, run:
    // MatchRecognizeSpec)
    val script =
      """SET execution.runtime-mode = batch;
        |select * from t match_recognize (
        |  partition by k order by ts
        |  measures A.ts as a_ts
        |  pattern (A B) define A as A.v > 0, B as B.v > NEXT(v));
        |""".stripMargin
    val file = Files.createTempFile("graft-mr-", ".sql")
    Files.writeString(file, script)
    val e = intercept[Exception] {
      new SqlSubmitAction(file.toString, Map.empty,
        existingSession = Some(spark)).run()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage) ++: messages(x.getCause))
    assert(messages(e).exists(_.contains("NEXT")))
  }

  test("e2e: TUMBLE TVF aggregation script runs through sql-submit") {
    val spark = SparkFixture.spark
    val dir = Files.createTempDirectory("graft-tvf").toString
    spark.sql(
      """SELECT * FROM VALUES
        |  (1L, TIMESTAMP'2024-01-01 00:10:00'),
        |  (2L, TIMESTAMP'2024-01-01 00:20:00'),
        |  (3L, TIMESTAMP'2024-01-01 01:10:00')
        |AS t(id, ts)""".stripMargin).write.parquet(s"$dir/ev")
    val script =
      s"""SET execution.runtime-mode = batch;
         |create table ev(id bigint, ts timestamp(3)) with (
         |  'connector' = 'filesystem', 'path' = '$dir/ev',
         |  'format' = 'parquet');
         |create table agg(window_start timestamp(3), n bigint) with (
         |  'connector' = 'filesystem', 'path' = '$dir/agg',
         |  'format' = 'parquet');
         |create temporary view hourly as
         |select window_start, count(*) as n
         |from table(tumble(table ev, descriptor(ts), interval '1' hour))
         |group by window_start;
         |insert into agg select window_start, n from hourly;
         |""".stripMargin
    val file = Files.createTempFile("graft-tvf-", ".sql")
    Files.writeString(file, script)
    new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(spark)).run()
    val got = spark.read.parquet(s"$dir/agg")
      .selectExpr("unix_seconds(window_start)", "n")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq
    // two events in the 00:00 hour, one in the 01:00 hour — and the TVF
    // inside the CTAS view body was rewritten on the CTAS dispatch path
    assert(got === Seq(1704067200L -> 2L, 1704070800L -> 1L))
  }
}
