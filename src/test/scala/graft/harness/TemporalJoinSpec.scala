package graft.harness

import java.nio.file.Files
import graft.SparkFixture
import graft.harness.TemporalJoin.VersionMeta
import org.scalatest.funsuite.AnyFunSuite

/** The Flink `FOR SYSTEM_TIME AS OF` surface: text rewrite unit cases
  * plus an end-to-end temporal-join script through `sql-submit` with the
  * versioned table's time attribute and primary key taken from its DDL.
  */
class TemporalJoinSpec extends AnyFunSuite {

  private val attr = Map("rates" -> VersionMeta("rt", Seq("k"))).get _

  test("inner temporal join becomes an interval-ized version join") {
    val sql = "SELECT o.k, r.rate FROM orders o " +
      "JOIN rates FOR SYSTEM_TIME AS OF o.ot AS r ON r.k = o.k WHERE o.k > 0"
    val out = TemporalJoin.rewrite(sql, attr)
    assert(out.contains(
      "JOIN (SELECT *, rt AS __vstart, " +
        "LEAD(rt) OVER (PARTITION BY k ORDER BY rt) AS __vend " +
        "FROM rates) AS r " +
        "ON (r.k = o.k) AND o.ot >= r.__vstart " +
        "AND (r.__vend IS NULL OR o.ot < r.__vend)"))
    // the trailing clause must survive untouched
    assert(out.endsWith("WHERE o.k > 0"))
  }

  test("LEFT JOIN keeps unmatched left rows; AS keyword optional") {
    val sql = "SELECT * FROM o LEFT JOIN rates FOR SYSTEM_TIME AS OF o.t r " +
      "ON r.k = o.k"
    val out = TemporalJoin.rewrite(sql, attr)
    assert(out.contains("LEFT OUTER JOIN (SELECT *, rt AS __vstart"))
    assert(out.contains("(r.__vend IS NULL OR o.t < r.__vend)"))
  }

  test("ON scan stops at the next join; both temporal joins rewrite") {
    val sql = "SELECT * FROM o " +
      "JOIN rates FOR SYSTEM_TIME AS OF o.t AS r ON r.k = o.k " +
      "JOIN rates FOR SYSTEM_TIME AS OF o.t AS r2 ON r2.k = o.k2"
    val out = TemporalJoin.rewrite(sql, attr)
    assert(!TemporalJoin.hasTemporalJoin(out))
    assert(out.contains("ON (r.k = o.k) AND"))
    assert(out.contains("ON (r2.k = o.k2) AND"))
  }

  test("alias-free temporal join addresses the version table by name") {
    val sql = "SELECT o.k, rates.rate FROM o " +
      "JOIN rates FOR SYSTEM_TIME AS OF o.t ON rates.k = o.k"
    val out = TemporalJoin.rewrite(sql, attr)
    assert(out.contains("FROM rates) AS rates ON (rates.k = o.k) AND"))
    assert(!TemporalJoin.hasTemporalJoin(out))
  }

  test("SELECT alias.* hides the interval helper columns") {
    val sql = "SELECT o.k, r.* FROM orders o " +
      "JOIN rates FOR SYSTEM_TIME AS OF o.ot AS r ON r.k = o.k"
    val out = TemporalJoin.rewrite(sql, attr)
    assert(out.contains("r.* EXCEPT (__vstart, __vend)"))
    // the version subquery's own star and qualified references survive
    assert(out.contains("(SELECT *, rt AS __vstart"))
    assert(out.contains("o.ot >= r.__vstart"))
  }

  test("unmatched FOR SYSTEM_TIME forms are rejected, never leaked") {
    // AS OF PROCTIME() is not a column reference — JoinRe skips it; the
    // residual check must fail with the contract instead of leaking
    // Flink syntax into Spark's parser
    val e = intercept[IllegalArgumentException] {
      TemporalJoin.rewrite(
        "SELECT * FROM o JOIN rates FOR SYSTEM_TIME AS OF PROCTIME() AS r " +
          "ON r.k = o.k", attr)
    }
    assert(e.getMessage.contains("Unsupported FOR SYSTEM_TIME"))
  }

  test("alias-free over a qualified table is rejected (alias required)") {
    val e = intercept[IllegalArgumentException] {
      TemporalJoin.rewrite(
        "SELECT * FROM o JOIN db.rates FOR SYSTEM_TIME AS OF o.t ON db.rates.k = o.k",
        _ => Some(VersionMeta("rt", Seq("k"))))
    }
    assert(e.getMessage.contains("requires an alias"))
  }

  test("e2e: streaming temporal join without a PRIMARY KEY is rejected " +
      "(r16 — the streaming form runs; Flink's versioned-table rules hold)") {
    val spark = SparkFixture.spark
    val script =
      s"""create table src(
         |  k bigint, ts timestamp(3),
         |  watermark for ts as ts - interval '1' second
         |) with ('connector' = 'datagen');
         |select * from src join src for system_time as of src.ts as v
         |  on v.k = src.k;
         |""".stripMargin
    val file = Files.createTempFile("graft-tj-stream-", ".sql")
    Files.writeString(file, script)
    val e = intercept[Exception] {
      new SqlSubmitAction(file.toString, Map.empty,
        existingSession = Some(spark), durationSec = 5).run()
    }
    // wrapped per-statement; the cause carries the contract message
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage) ++: messages(x.getCause))
    assert(messages(e).exists(_.contains("PRIMARY KEY")))
  }

  test("versionedViewOf parses Flink's deduplication-view shape and " +
      "rejects non-versioned variants (r19)") {
    import TemporalJoin.{versionedViewOf, VersionedView}
    val ok = """SELECT currency, update_time, rate FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY currency
      |    ORDER BY update_time DESC) AS rn
      |  FROM rates_log) WHERE rn = 1""".stripMargin
    assert(versionedViewOf(ok) === Some(VersionedView("rates_log",
      "update_time", Seq("currency"),
      Seq("currency", "update_time", "rate").map(c => c -> c))))
    // in-body AS renames are Flink-legal in a dedup view (r20): the
    // (source, output) pairs carry the rename, and outNameOf resolves
    // the meta columns to the view's surface
    val renamed = ok.replace("currency, update_time, rate",
      "currency, update_time AS version_ts, rate AS fx")
    assert(versionedViewOf(renamed) === Some(VersionedView("rates_log",
      "update_time", Seq("currency"),
      Seq("currency" -> "currency", "update_time" -> "version_ts",
        "rate" -> "fx"))))
    assert(versionedViewOf(renamed).get.outNameOf("update_time") ===
      "version_ts")
    // the bare-alias form (no AS) renames too
    assert(versionedViewOf(ok.replace("update_time, rate",
      "update_time vts, rate")).exists(_.outNameOf("update_time") == "vts"))
    // renaming the RANK column still rejects (rank values as data)
    assert(versionedViewOf(
      ok.replace("SELECT currency,", "SELECT rn AS r2, currency,")).isEmpty)
    // subquery alias + qualified outer items + qualified rank filter
    val aliased = """SELECT t.currency, t.update_time, t.rate FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY currency
      |    ORDER BY update_time DESC) AS rn
      |  FROM rates_log) t WHERE t.rn = 1""".stripMargin
    assert(versionedViewOf(aliased).exists(_.primaryKey == Seq("currency")))
    // composite key
    val comp = ok.replace("PARTITION BY currency",
      "PARTITION BY currency, venue")
    assert(versionedViewOf(comp).exists(
      _.primaryKey == Seq("currency", "venue")))
    // ASC is keep-FIRST deduplication, not a version history
    assert(versionedViewOf(ok.replace("DESC", "ASC")).isEmpty)
    // rn = 2 pins a rank; rn <= 1 is a top-N form — neither versions
    assert(versionedViewOf(ok.replace("rn = 1", "rn = 2")).isEmpty)
    assert(versionedViewOf(ok.replace("rn = 1", "rn <= 1")).isEmpty)
    // a star projection would expose the rank column
    assert(versionedViewOf(
      ok.replace("SELECT currency, update_time, rate FROM",
        "SELECT * FROM")).isEmpty)
    // expression items drop the shape
    assert(versionedViewOf(
      ok.replace("SELECT currency,", "SELECT upper(currency) AS c,"))
      .isEmpty)
    // projecting the rank column drops it too
    assert(versionedViewOf(
      ok.replace("SELECT currency,", "SELECT rn, currency,")).isEmpty)
  }

  private def tsOf(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  test("streaming temporal join equals the batch interval rewrite " +
      "(INNER and LEFT), watermark-gated") {
    val spark = SparkFixture.spark
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val rates = Seq((1L, tsOf(10), 1.0d), (1L, tsOf(30), 2.0d),
      (2L, tsOf(10), 9.0d))
    val orders = Seq((1L, tsOf(12), 100L), (1L, tsOf(35), 200L),
      (1L, tsOf(5), 300L), (2L, tsOf(11), 400L), (3L, tsOf(20), 500L))
    // batch twins through the interval rewrite
    rates.toDF("k", "rt", "rate").createOrReplaceTempView("tj_rates_b")
    orders.toDF("k", "ot", "amount").createOrReplaceTempView("tj_orders_b")
    val vm = Map("tj_rates_b" -> VersionMeta("rt", Seq("k")),
      "tj_rates_s" -> VersionMeta("rt", Seq("k"))).get _
    val wmOf: String => Option[(String, String)] = t =>
      if (t.equalsIgnoreCase("tj_orders_s")) Some(("ot", "5 seconds"))
      else None
    for (kw <- Seq("JOIN", "LEFT JOIN")) {
      val batchSql = TemporalJoin.rewrite(
        s"SELECT o.k, o.ot, o.amount, r.rate FROM tj_orders_b o $kw " +
          "tj_rates_b FOR SYSTEM_TIME AS OF o.ot AS r ON r.k = o.k", vm)
      val batch = spark.sql(batchSql).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
          Option(r.get(3)))).toSet
      assert(batch.nonEmpty)
      // streaming through the tracker rewrite, chunked delivery
      val oIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
      oIn.toDF().toDF("k", "ot", "amount")
        .createOrReplaceTempView("tj_orders_s")
      val rIn = MemoryStream[(Long, java.sql.Timestamp, Double)]
      rIn.toDF().toDF("k", "rt", "rate")
        .createOrReplaceTempView("tj_rates_s")
      val streamSql = TemporalJoin.rewriteStreaming(spark,
        s"SELECT o.k, o.ot, o.amount, r.rate FROM tj_orders_s o $kw " +
          "tj_rates_s FOR SYSTEM_TIME AS OF o.ot AS r ON r.k = o.k",
        wmOf, vm)
      val name = s"tj_out_${kw.length}"
      val query = spark.sql(streamSql).writeStream.format("memory")
        .queryName(name).outputMode("append").start()
      try {
        // rows deliver in rough event-time order so nothing arrives
        // BEHIND the watermark — Spark (like Flink) drops late rows
        // before the stateful operator, which is the documented
        // no-retraction contract, not a divergence to test here
        oIn.addData((1L, tsOf(5), 300L), (1L, tsOf(12), 100L),
          (2L, tsOf(11), 400L))
        query.processAllAvailable() // wm → 7; probes buffer
        rIn.addData((1L, tsOf(10), 1.0d), (2L, tsOf(10), 9.0d))
        query.processAllAvailable() // versions land behind buffered probes
        oIn.addData((3L, tsOf(20), 500L))
        query.processAllAvailable() // wm → 15: probes 5/11/12 mature
        rIn.addData((1L, tsOf(30), 2.0d))
        query.processAllAvailable() // wm → 25: probe 20 matures
        oIn.addData((1L, tsOf(35), 200L))
        query.processAllAvailable() // wm → 30
        oIn.addData((9L, tsOf(100000), 0L)) // watermark flush
        query.processAllAvailable()
        oIn.addData((9L, tsOf(200000), 0L))
        query.processAllAvailable()
        val streamed = spark.table(name).collect()
          .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
            Option(r.get(3)))).toSet
        // the flush rows themselves: unmatched probes, LEFT only
        val flushRows = streamed.filter(_._1 == 9L)
        assert(streamed -- flushRows === batch, kw)
        assert(flushRows.isEmpty == (kw == "JOIN"), kw)
      } finally query.stop()
    }
  }

  test("a versioned VIEW as the version side streams equal to the " +
      "batch interval rewrite (r19: substitution + tracker on a real " +
      "unbounded stream)") {
    val spark = SparkFixture.spark
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val rates = Seq((1L, tsOf(10), 1.0d), (1L, tsOf(30), 2.0d),
      (2L, tsOf(10), 9.0d))
    val orders = Seq((1L, tsOf(12), 100L), (1L, tsOf(35), 200L),
      (2L, tsOf(11), 400L))
    // batch twin: the plain interval rewrite over the HISTORY
    rates.toDF("k", "rt", "rate").createOrReplaceTempView("vvs_rates_b")
    orders.toDF("k", "ot", "amount").createOrReplaceTempView("vvs_orders_b")
    val batch = spark.sql(TemporalJoin.rewrite(
      "SELECT o.k, o.amount, r.rate FROM vvs_orders_b o JOIN " +
        "vvs_rates_b FOR SYSTEM_TIME AS OF o.ot AS r ON r.k = o.k",
      Map("vvs_rates_b" -> VersionMeta("rt", Seq("k"))).get))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    // streaming: the version side is a versioned VIEW over an
    // unbounded MemoryStream changelog
    val oIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
    oIn.toDF().toDF("k", "ot", "amount")
      .createOrReplaceTempView("vvs_orders_s")
    val rIn = MemoryStream[(Long, java.sql.Timestamp, Double)]
    rIn.toDF().toDF("k", "rt", "rate")
      .createOrReplaceTempView("vvs_rates_s")
    val vv = TemporalJoin.versionedViewOf(
      """SELECT k, rt, rate FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY rt DESC)
        |    AS rn FROM vvs_rates_s) WHERE rn = 1""".stripMargin).get
    val metas = scala.collection.mutable.Map.empty[String, VersionMeta]
    val subbed = TemporalJoin.substituteVersionedViews(spark,
      "SELECT o.k, o.amount, r.rate FROM vvs_orders_s o JOIN " +
        "vvs_latest FOR SYSTEM_TIME AS OF o.ot AS r ON r.k = o.k",
      n => if (n.equalsIgnoreCase("vvs_latest")) Some(vv) else None,
      metas.update)
    assert(subbed.contains("graft_vv_vvs_latest"), subbed)
    val streamSql = TemporalJoin.rewriteStreaming(spark, subbed,
      t => if (t.equalsIgnoreCase("vvs_orders_s"))
        Some(("ot", "5 seconds")) else None,
      n => metas.keys.find(_.equalsIgnoreCase(n)).map(metas))
    val query = spark.sql(streamSql).writeStream.format("memory")
      .queryName("vvs_out").outputMode("append").start()
    try {
      oIn.addData((1L, tsOf(12), 100L), (2L, tsOf(11), 400L))
      query.processAllAvailable()
      rIn.addData((1L, tsOf(10), 1.0d), (2L, tsOf(10), 9.0d))
      query.processAllAvailable()
      oIn.addData((1L, tsOf(35), 200L))
      rIn.addData((1L, tsOf(30), 2.0d))
      query.processAllAvailable()
      oIn.addData((9L, tsOf(100000), 0L))
      rIn.addData((9L, tsOf(100000), 0.0d))
      query.processAllAvailable()
      oIn.addData((9L, tsOf(200000), 0L))
      rIn.addData((9L, tsOf(200000), 0.0d))
      query.processAllAvailable()
      val streamed = spark.table("vvs_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet.filter(_._1 != 9L)
      assert(streamed === batch, streamed.toString)
    } finally query.stop()
  }

  test("a versioned VIEW chains with a DDL versioned table in one " +
      "statement (r19: substitution swaps only the view stage)") {
    val spark = SparkFixture.spark
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val rates = Seq((1L, tsOf(10), 1.0d), (1L, tsOf(30), 2.0d))
    val fees = Seq((1L, tsOf(5), 10.0d), (1L, tsOf(25), 20.0d))
    val orders = Seq((1L, tsOf(12), 100L), (1L, tsOf(35), 200L))
    rates.toDF("k", "rt", "rate").createOrReplaceTempView("vvc_rates_b")
    fees.toDF("k", "ft", "fee").createOrReplaceTempView("vvc_fees_b")
    orders.toDF("k", "ot", "amount").createOrReplaceTempView("vvc_orders_b")
    val batch = spark.sql(TemporalJoin.rewrite(
      "SELECT o.k, o.amount, r.rate, f.fee FROM vvc_orders_b o " +
        "JOIN vvc_rates_b FOR SYSTEM_TIME AS OF o.ot AS r ON r.k = o.k " +
        "JOIN vvc_fees_b FOR SYSTEM_TIME AS OF o.ot AS f ON f.k = o.k",
      Map("vvc_rates_b" -> VersionMeta("rt", Seq("k")),
        "vvc_fees_b" -> VersionMeta("ft", Seq("k"))).get))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    assert(batch === Set((1L, 100L, 1.0d, 10.0d),
      (1L, 200L, 2.0d, 20.0d)))
    val oIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
    oIn.toDF().toDF("k", "ot", "amount")
      .createOrReplaceTempView("vvc_orders_s")
    val rIn = MemoryStream[(Long, java.sql.Timestamp, Double)]
    rIn.toDF().toDF("k", "rt", "rate")
      .createOrReplaceTempView("vvc_rates_s")
    val fIn = MemoryStream[(Long, java.sql.Timestamp, Double)]
    fIn.toDF().toDF("k", "ft", "fee")
      .createOrReplaceTempView("vvc_fees_s")
    val vv = TemporalJoin.versionedViewOf(
      """SELECT k, ft, fee FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY ft DESC)
        |    AS rn FROM vvc_fees_s) WHERE rn = 1""".stripMargin).get
    val metas = scala.collection.mutable.Map.empty[String, VersionMeta]
    val subbed = TemporalJoin.substituteVersionedViews(spark,
      "SELECT o.k, o.amount, r.rate, f.fee FROM vvc_orders_s o " +
        "JOIN vvc_rates_s FOR SYSTEM_TIME AS OF o.ot AS r ON r.k = o.k " +
        "JOIN vvc_fees_latest FOR SYSTEM_TIME AS OF o.ot AS f " +
        "ON f.k = o.k",
      n => if (n.equalsIgnoreCase("vvc_fees_latest")) Some(vv) else None,
      metas.update)
    // only the VIEW stage is swapped; the DDL-table stage is untouched
    assert(subbed.contains("vvc_rates_s FOR SYSTEM_TIME"), subbed)
    assert(subbed.contains("graft_vv_vvc_fees_latest"), subbed)
    val vm: String => Option[VersionMeta] = n =>
      (if (n.equalsIgnoreCase("vvc_rates_s"))
        Some(VersionMeta("rt", Seq("k"))) else None)
        .orElse(metas.keys.find(_.equalsIgnoreCase(n)).map(metas))
    val streamSql = TemporalJoin.rewriteStreaming(spark, subbed,
      t => if (t.equalsIgnoreCase("vvc_orders_s"))
        Some(("ot", "5 seconds")) else None, vm)
    // the chained-scope confs the CLI applies at start (r17):
    // single-watermark propagation + the correctness heuristic
    // downgraded — tracker emissions are watermark-gated
    val corrKey =
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val multiKey = "spark.sql.streaming.statefulOperator.allowMultiple"
    val savedCorr = spark.conf.getOption(corrKey)
    val savedMulti = spark.conf.getOption(multiKey)
    spark.conf.set(corrKey, "false")
    spark.conf.set(multiKey, "false")
    val q = spark.sql(streamSql).writeStream.format("memory")
      .queryName("vvc_out").outputMode("append").start()
    savedCorr.fold(spark.conf.unset(corrKey))(spark.conf.set(corrKey, _))
    savedMulti.fold(spark.conf.unset(multiKey))(
      spark.conf.set(multiKey, _))
    try {
      rIn.addData((1L, tsOf(10), 1.0d))
      fIn.addData((1L, tsOf(5), 10.0d))
      oIn.addData((1L, tsOf(12), 100L))
      q.processAllAvailable()
      rIn.addData((1L, tsOf(30), 2.0d))
      fIn.addData((1L, tsOf(25), 20.0d))
      oIn.addData((1L, tsOf(35), 200L))
      q.processAllAvailable()
      for (t <- Seq(100000L, 200000L)) {
        oIn.addData((9L, tsOf(t), 0L))
        rIn.addData((9L, tsOf(t), 0.0d))
        fIn.addData((9L, tsOf(t), 0.0d))
        q.processAllAvailable()
      }
      val streamed = spark.table("vvc_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3))).toSet.filter(_._1 != 9L)
      assert(streamed === batch, streamed.toString)
    } finally q.stop()
  }

  test("checkpoint restart recovers temporal-join state exactly-once " +
      "(buffered probes + multiple versions survive the restore)") {
    // stop mid-stream with a probe buffered AND several versions in
    // state, deliver more rows on both inputs while the query is
    // down, restart from the checkpoint: the recovered state must
    // produce exactly the uninterrupted run's rows — nothing lost
    // (the buffered probe still matches), nothing duplicated (the
    // phase-1 emissions are not re-emitted)
    val spark = SparkFixture.spark
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val vm = Map("tjc_rates_b" -> VersionMeta("rt", Seq("k")),
      "tjc_rates_s" -> VersionMeta("rt", Seq("k"))).get _
    val wmOf: String => Option[(String, String)] = t =>
      if (t.equalsIgnoreCase("tjc_orders_s")) Some(("ot", "5 seconds"))
      else None
    // batch twin over the full delivery (flush rows excluded)
    val rates = Seq((1L, tsOf(10), 1.0d), (1L, tsOf(30), 2.0d),
      (2L, tsOf(10), 9.0d), (1L, tsOf(47), 3.0d))
    val orders = Seq((1L, tsOf(12), 100L), (2L, tsOf(11), 400L),
      (1L, tsOf(35), 200L), (1L, tsOf(50), 500L))
    rates.toDF("k", "rt", "rate").createOrReplaceTempView("tjc_rates_b")
    orders.toDF("k", "ot", "amount").createOrReplaceTempView("tjc_orders_b")
    val batch = spark.sql(TemporalJoin.rewrite(
      "SELECT o.k, o.ot, o.amount, r.rate FROM tjc_orders_b o JOIN " +
        "tjc_rates_b FOR SYSTEM_TIME AS OF o.ot AS r ON r.k = o.k", vm))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getDouble(3))).toSet
    val oIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
    oIn.toDF().toDF("k", "ot", "amount")
      .createOrReplaceTempView("tjc_orders_s")
    val rIn = MemoryStream[(Long, java.sql.Timestamp, Double)]
    rIn.toDF().toDF("k", "rt", "rate")
      .createOrReplaceTempView("tjc_rates_s")
    val streamSql = TemporalJoin.rewriteStreaming(spark,
      "SELECT o.k, o.ot, o.amount, r.rate FROM tjc_orders_s o JOIN " +
        "tjc_rates_s FOR SYSTEM_TIME AS OF o.ot AS r ON r.k = o.k",
      wmOf, vm)
    val ckpt = Files.createTempDirectory("graft-tjc-ckpt").toString
    val outDir = Files.createTempDirectory("graft-tjc-out").toString
    def start() = spark.sql(streamSql).writeStream
      .format("parquet").option("path", outDir).outputMode("append")
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      oIn.addData((1L, tsOf(12), 100L), (2L, tsOf(11), 400L))
      q1.processAllAvailable()
      rIn.addData((1L, tsOf(10), 1.0d), (2L, tsOf(10), 9.0d))
      q1.processAllAvailable()
      oIn.addData((1L, tsOf(35), 200L))
      rIn.addData((1L, tsOf(30), 2.0d))
      q1.processAllAvailable()
      oIn.addData((1L, tsOf(50), 500L)) // advances min wm past 11/12
      q1.processAllAvailable()
      // phase-1 emissions: probes 11, 12, 35 matured (the unioned
      // watermark reached 45); probe 50 still buffered, key-1 state
      // holds versions 10 AND 30
      assert(spark.read.parquet(outDir).count() === 3L)
    } finally q1.stop()
    // rows arriving while the query is down: a NEWER version the
    // buffered probe 50 must pick, and the flush rows
    rIn.addData((1L, tsOf(47), 3.0d))
    oIn.addData((9L, tsOf(100000), 0L))
    rIn.addData((9L, tsOf(100000), 0.0d))
    val q2 = start()
    try {
      q2.processAllAvailable()
      oIn.addData((9L, tsOf(200000), 0L))
      rIn.addData((9L, tsOf(200000), 0.0d))
      q2.processAllAvailable()
      val streamed = spark.read.parquet(outDir).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
          r.getDouble(3))).toSet
      // INNER join: the key-9 flush probes are unmatched-at-maturity
      // only if no 9-version landed first; tolerate either by
      // filtering them, then require exact batch equality AND no
      // duplicate of the phase-1 rows (set size == parquet row count)
      val real = streamed.filter(_._1 != 9L)
      assert(real === batch, real.toString)
      val realCount = spark.read.parquet(outDir)
        .filter($"k" =!= 9L).count()
      assert(realCount === batch.size.toLong,
        s"expected ${batch.size} rows exactly-once, saw $realCount")
    } finally q2.stop()
  }

  test("table.exec.source.idle-timeout unstalls a temporal join whose " +
      "version side is idle (r18: the mapped max watermark policy " +
      "excludes the silent input from the min)") {
    val spark = SparkFixture.spark
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.multipleWatermarkPolicy"
    val before = spark.conf.getOption(key)
    val vm = Map("tji_rates" -> VersionMeta("rt", Seq("k"))).get _
    val wmOf: String => Option[(String, String)] = t =>
      if (t.equalsIgnoreCase("tji_orders")) Some(("ot", "5 seconds"))
      else None
    def runOnce(idle: Boolean): Set[(Long, Option[Any])] = {
      val cfg = new EngineConfig(spark)
      if (idle) cfg.set("table.exec.source.idle-timeout", "10 s")
      else cfg.reset(Some("table.exec.source.idle-timeout"))
      // per-SOURCE watermarks, the CLI topology (source registration
      // applies the DDL watermark on each table) — the union then has
      // two upstream watermark nodes and the global watermark policy
      // (min vs the idle-timeout-mapped max) governs
      val oIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
      oIn.toDF().toDF("k", "ot", "amount")
        .withWatermark("ot", "5 seconds")
        .createOrReplaceTempView("tji_orders")
      val rIn = MemoryStream[(Long, java.sql.Timestamp, Double)]
      rIn.toDF().toDF("k", "rt", "rate")
        .withWatermark("rt", "5 seconds")
        .createOrReplaceTempView("tji_rates")
      val streamSql = TemporalJoin.rewriteStreaming(spark,
        "SELECT o.k, o.amount, r.rate FROM tji_orders o LEFT JOIN " +
          "tji_rates FOR SYSTEM_TIME AS OF o.ot AS r ON r.k = o.k",
        wmOf, vm)
      val name = s"tji_out_$idle"
      val q = spark.sql(streamSql).writeStream.format("memory")
        .queryName(name).outputMode("append").start()
      try {
        // the version side NEVER fires — Flink's idle-source scenario
        oIn.addData((1L, tsOf(10), 100L))
        q.processAllAvailable()
        oIn.addData((1L, tsOf(100), 0L)) // advances the probe watermark
        q.processAllAvailable()
        spark.table(name).collect()
          .map(r => (r.getLong(1), Option(r.get(2)))).toSet
      } finally q.stop()
    }
    try {
      // default (min policy): the idle version input pins the global
      // watermark at 0 — the probe never matures (Flink without an
      // idle timeout holds back exactly the same way)
      assert(runOnce(idle = false) === Set.empty)
      // with the idle timeout: the max policy follows the live probe
      // input, the probe matures and emits NULL-enriched (LEFT) —
      // Flink's post-timeout behavior
      assert(runOnce(idle = true) === Set((100L, None)))
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("streaming temporal join contract rejections are named") {
    val spark = SparkFixture.spark
    import spark.implicits._
    Seq((1L, tsOf(1), 1L)).toDF("k", "ot", "amount")
      .createOrReplaceTempView("tjr_o")
    Seq((1L, tsOf(1), 1.0d)).toDF("k", "rt", "rate")
      .createOrReplaceTempView("tjr_r")
    val vm = Map("tjr_r" -> VersionMeta("rt", Seq("k"))).get _
    val wmOf: String => Option[(String, String)] = t =>
      if (t.equalsIgnoreCase("tjr_o")) Some(("ot", "5 seconds")) else None
    def err(sql: String): String =
      intercept[IllegalArgumentException](
        TemporalJoin.rewriteStreaming(spark, sql, wmOf, vm)).getMessage
    // ON must equate exactly the version pk
    assert(err("SELECT o.k FROM tjr_o o JOIN tjr_r FOR SYSTEM_TIME AS OF " +
      "o.ot AS r ON r.rate = o.k").contains("PRIMARY KEY"))
    // AS OF must be the probe's event-time column
    assert(err("SELECT o.k FROM tjr_o o JOIN tjr_r FOR SYSTEM_TIME AS OF " +
      "o.amount AS r ON r.k = o.k").contains("event-time column"))
    // probe without a watermark
    assert(err("SELECT r.k FROM tjr_r r2 JOIN tjr_r FOR SYSTEM_TIME AS OF " +
      "r2.rt AS r ON r.k = r2.k").contains("WATERMARK"))
    // residual tail beyond WHERE
    assert(err("SELECT o.k FROM tjr_o o JOIN tjr_r FOR SYSTEM_TIME AS OF " +
      "o.ot AS r ON r.k = o.k ORDER BY o.k").contains("residual WHERE"))
    // bare side columns reject (could be an implicit alias or a
    // subquery's own column — a silent rewrite risks wrong rows)
    assert(err("SELECT k FROM tjr_o o JOIN tjr_r FOR SYSTEM_TIME AS OF " +
      "o.ot AS r ON r.k = o.k").contains("unqualified column k"))
    assert(err("SELECT o.k, rate FROM tjr_o o JOIN tjr_r FOR " +
      "SYSTEM_TIME AS OF o.ot AS r ON r.k = o.k")
      .contains("unqualified column rate"))
    // qualified probe table without an alias
    assert(err("SELECT o.k FROM db.tjr_o JOIN tjr_r FOR SYSTEM_TIME " +
      "AS OF ot AS r ON r.k = k").contains("requires an alias"))
    // a residual-WHERE subquery whose OWN alias collides with the
    // probe/version alias must reject by name — rewriting `r.rate`
    // inside it would silently correlate the subquery to the outer
    // version side (r16 advice)
    assert(err("SELECT o.k, r.rate FROM tjr_o o JOIN tjr_r FOR " +
      "SYSTEM_TIME AS OF o.ot AS r ON r.k = o.k " +
      "WHERE r.rate > (SELECT avg(r.rate) FROM tjr_r r)")
      .contains("collides"))
    assert(err("SELECT o.k, (SELECT max(o.amount) FROM tjr_o o) AS m " +
      "FROM tjr_o o JOIN tjr_r FOR SYSTEM_TIME AS OF o.ot AS r " +
      "ON r.k = o.k").contains("collides"))
  }

  /** Streams `on` over bounded twins (the tracker's MAX_WATERMARK-at-end
    * finality) and returns the rows with the batch rewrite's rows. */
  private def streamAndBatchOn(on: String) = {
    val spark = SparkFixture.spark
    import spark.implicits._
    Seq((1L, tsOf(12), 100L), (1L, tsOf(35), 200L), (2L, tsOf(11), 400L),
      (3L, tsOf(20), 500L)).toDF("k", "ot", "amount")
      .createOrReplaceTempView("tjon_o")
    Seq((1L, tsOf(10), 1.0d), (1L, tsOf(30), 2.0d), (2L, tsOf(10), 9.0d))
      .toDF("k", "rt", "rate").createOrReplaceTempView("tjon_r")
    val vm = Map("tjon_r" -> VersionMeta("rt", Seq("k"))).get _
    val wmOf: String => Option[(String, String)] = t =>
      if (t.equalsIgnoreCase("tjon_o")) Some(("ot", "5 seconds")) else None
    val sql = "SELECT o.k, o.amount, r.rate FROM tjon_o o LEFT JOIN tjon_r " +
      s"FOR SYSTEM_TIME AS OF o.ot AS r ON $on"
    def rows(q: String) = spark.sql(q).collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSet
    (rows(TemporalJoin.rewriteStreaming(spark, sql, wmOf, vm)),
      rows(TemporalJoin.rewrite(sql, vm)))
  }

  test("streaming ON takes a parenthesized key equality") {
    val (streamed, batch) = streamAndBatchOn("(r.k = o.k)")
    assert(streamed === batch)
    assert(streamed === Set((1L, 100L, Some(1.0d)), (1L, 200L, Some(2.0d)),
      (2L, 400L, Some(9.0d)), (3L, 500L, None)))
  }

  test("streaming ON takes backticked key columns") {
    val (streamed, batch) = streamAndBatchOn("r.`k` = o.`k`")
    assert(streamed === batch)
    assert(streamed.size === 4)
  }

  test("a quoted FOR SYSTEM_TIME AS OF text is no temporal clause") {
    val out = TemporalJoin.rewrite("SELECT o.k, r.rate FROM o JOIN rates " +
      "FOR SYSTEM_TIME AS OF o.t AS r ON r.k = o.k " +
      "WHERE o.note <> 'FOR SYSTEM_TIME AS OF x'", attr)
    assert(out.endsWith("WHERE o.note <> 'FOR SYSTEM_TIME AS OF x'"), out)
  }

  test("streaming DISTINCT keeps plain items' column names; an INSERT " +
      "INTO TABLE head passes through") {
    val spark = SparkFixture.spark
    import spark.implicits._
    Seq((1L, tsOf(12), 100L), (1L, tsOf(35), 100L)).toDF("k", "ot", "amount")
      .createOrReplaceTempView("tjd_o")
    Seq((1L, tsOf(10), 1.0d)).toDF("k", "rt", "rate")
      .createOrReplaceTempView("tjd_r")
    val vm = Map("tjd_r" -> VersionMeta("rt", Seq("k"))).get _
    val wmOf: String => Option[(String, String)] = t =>
      if (t.equalsIgnoreCase("tjd_o")) Some(("ot", "5 seconds")) else None
    val join = "FROM tjd_o o JOIN tjd_r FOR SYSTEM_TIME AS OF o.ot AS r " +
      "ON r.k = o.k"
    val distinct = spark.sql(TemporalJoin.rewriteStreaming(spark,
      s"SELECT DISTINCT o.k, r.rate $join", wmOf, vm))
    assert(distinct.columns.toSeq === Seq("k", "rate"))
    assert(distinct.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((1L, 1.0d)))
    val insert = TemporalJoin.rewriteStreaming(spark,
      s"INSERT INTO TABLE tjd_sink SELECT o.k, r.rate $join", wmOf, vm)
    assert(insert.startsWith("INSERT INTO TABLE tjd_sink SELECT "), insert)
  }

  test("versionedViewOf reads DESC NULLS LAST and a backticked source") {
    val body = """SELECT k, rt, rate FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY rt DESC
      |    NULLS LAST) AS rn
      |  FROM `rates_log`) WHERE rn = 1""".stripMargin
    assert(TemporalJoin.versionedViewOf(body) ===
      Some(TemporalJoin.VersionedView("rates_log", "rt", Seq("k"),
        Seq("k", "rt", "rate").map(c => c -> c))))
  }

  test("streaming probe table accepts backtick-quoted names like the " +
      "versioned side") {
    val spark = SparkFixture.spark
    import spark.implicits._
    Seq((1L, tsOf(1), 1L)).toDF("k", "ot", "amount")
      .createOrReplaceTempView("tjq_o")
    Seq((1L, tsOf(1), 1.0d)).toDF("k", "rt", "rate")
      .createOrReplaceTempView("tjq_r")
    val vm = Map("tjq_r" -> VersionMeta("rt", Seq("k"))).get _
    val wmOf: String => Option[(String, String)] = t =>
      if (t.equalsIgnoreCase("tjq_o")) Some(("ot", "5 seconds")) else None
    val out = TemporalJoin.rewriteStreaming(spark,
      "SELECT o.k, o.amount, r.rate FROM `tjq_o` o JOIN `tjq_r` " +
        "FOR SYSTEM_TIME AS OF o.ot AS r ON r.k = o.k", wmOf, vm)
    assert(out.contains("FROM graft_tj_"))
    // a non-colliding subquery alias in the residual WHERE still works
    val out2 = TemporalJoin.rewriteStreaming(spark,
      "SELECT o.k, r.rate FROM tjq_o o JOIN tjq_r FOR SYSTEM_TIME " +
        "AS OF o.ot AS r ON r.k = o.k " +
        "WHERE r.rate > (SELECT avg(x.rate) FROM tjq_r x)", wmOf, vm)
    assert(out2.contains("__r_rate >"))
    assert(out2.contains("avg(x.rate)"))
  }

  test("chained temporal joins in one statement (r17): a fact enriched " +
      "by two version histories equals the batch interval rewrite") {
    val spark = SparkFixture.spark
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val rates = Seq((1L, tsOf(10), 1.0d), (1L, tsOf(30), 2.0d))
    val fx = Seq((7L, tsOf(5), 10.0d), (7L, tsOf(25), 20.0d),
      (8L, tsOf(15), 30.0d))
    val orders = Seq((1L, 7L, tsOf(12), 100L), (1L, 7L, tsOf(35), 200L),
      (1L, 8L, tsOf(20), 300L), (1L, 9L, tsOf(22), 600L),
      (2L, 7L, tsOf(20), 500L))
    rates.toDF("k", "rt", "rate").createOrReplaceTempView("tjc_r_b")
    fx.toDF("c", "ft", "fxr").createOrReplaceTempView("tjc_f_b")
    orders.toDF("k", "c", "ot", "amount")
      .createOrReplaceTempView("tjc_o_b")
    val vm = Map(
      "tjc_r_b" -> VersionMeta("rt", Seq("k")),
      "tjc_f_b" -> VersionMeta("ft", Seq("c")),
      "tjc_r_s" -> VersionMeta("rt", Seq("k")),
      "tjc_f_s" -> VersionMeta("ft", Seq("c"))).get _
    def sqlFor(suffix: String) =
      s"SELECT o.k, o.c, o.ot, o.amount, r.rate, f.fxr " +
        s"FROM tjc_o_$suffix o " +
        s"JOIN tjc_r_$suffix FOR SYSTEM_TIME AS OF o.ot AS r ON r.k = o.k " +
        s"LEFT JOIN tjc_f_$suffix FOR SYSTEM_TIME AS OF o.ot AS f " +
        "ON f.c = o.c"
    val batch = spark.sql(TemporalJoin.rewrite(sqlFor("b"), vm)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
        r.getLong(3), Option(r.get(4)), Option(r.get(5)))).toSet
    assert(batch.nonEmpty)
    // streaming twin: chained trackers, CLI conf scope mirrored
    val oIn = MemoryStream[(Long, Long, java.sql.Timestamp, Long)]
    oIn.toDF().toDF("k", "c", "ot", "amount")
      .withWatermark("ot", "5 seconds")
      .createOrReplaceTempView("tjc_o_s")
    val rIn = MemoryStream[(Long, java.sql.Timestamp, Double)]
    rIn.toDF().toDF("k", "rt", "rate")
      .withWatermark("rt", "5 seconds")
      .createOrReplaceTempView("tjc_r_s")
    val fIn = MemoryStream[(Long, java.sql.Timestamp, Double)]
    fIn.toDF().toDF("c", "ft", "fxr")
      .withWatermark("ft", "5 seconds")
      .createOrReplaceTempView("tjc_f_s")
    val wmOf: String => Option[(String, String)] = t =>
      if (t.equalsIgnoreCase("tjc_o_s")) Some(("ot", "5 seconds"))
      else None
    val streamSql = TemporalJoin.rewriteStreaming(spark, sqlFor("s"),
      wmOf, vm)
    val corrKey =
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val multiKey = "spark.sql.streaming.statefulOperator.allowMultiple"
    val savedCorr = spark.conf.getOption(corrKey)
    val savedMulti = spark.conf.getOption(multiKey)
    spark.conf.set(corrKey, "false")
    spark.conf.set(multiKey, "false")
    val q = spark.sql(streamSql).writeStream.format("memory")
      .queryName("tjc_out").outputMode("append").start()
    try {
      rIn.addData((1L, tsOf(10), 1.0d))
      fIn.addData((7L, tsOf(5), 10.0d))
      q.processAllAvailable()
      oIn.addData((1L, 7L, tsOf(12), 100L), (2L, 7L, tsOf(20), 500L))
      q.processAllAvailable()
      fIn.addData((8L, tsOf(15), 30.0d), (7L, tsOf(25), 20.0d))
      rIn.addData((1L, tsOf(30), 2.0d))
      q.processAllAvailable()
      oIn.addData((1L, 8L, tsOf(20), 300L), (1L, 9L, tsOf(22), 600L))
      q.processAllAvailable()
      oIn.addData((1L, 7L, tsOf(35), 200L))
      q.processAllAvailable()
      // flushes: every input advances so the chain's min watermark
      // passes all probes; repeated to re-drive the second stage
      for (sec <- Seq(100000L, 200000L, 300000L)) {
        oIn.addData((9L, 9L, tsOf(sec), 0L))
        rIn.addData((9L, tsOf(sec), 0.0d))
        fIn.addData((9L, tsOf(sec), 0.0d))
        q.processAllAvailable()
      }
      val streamed = spark.table("tjc_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
          r.getLong(3), Option(r.get(4)), Option(r.get(5)))).toSet
      val flushRows = streamed.filter(_._1 == 9L)
      assert(streamed -- flushRows === batch,
        s"\nstream: ${streamed -- flushRows}\nbatch: $batch")
    } finally {
      q.stop()
      savedCorr.fold(spark.conf.unset(corrKey))(spark.conf.set(corrKey, _))
      savedMulti.fold(spark.conf.unset(multiKey))(
        spark.conf.set(multiKey, _))
    }
  }

  test("hot key: temporal-join state stays bounded by the watermark " +
      "window (version retention + pending probes, gauge-pinned)") {
    val spark = SparkFixture.spark
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{TemporalJoinTracker, TemporalRow}
    implicit val sc = spark.sqlContext
    TemporalJoinTracker.peakVersionRows.set(0L)
    TemporalJoinTracker.peakPendingProbes.set(0L)
    val input = MemoryStream[(String, java.sql.Timestamp, Boolean, String)]
    val ds = input.toDF().toDF("key", "ts", "isVersion", "payload")
      .as[TemporalRow]
    val joined = TemporalJoinTracker.joinRows(ds, "5 seconds")
    val query = joined.writeStream.format("memory")
      .queryName("tj_hotkey").outputMode("append").start()
    try {
      // ONE key, 300 s of versions (one per second) with probes at
      // every second too, delivered in 10 s chunks in time order —
      // the watermark trails each chunk by ~(chunk + delay)
      (0 until 300).grouped(10).foreach { secs =>
        input.addData(secs.flatMap(s => Seq(
          ("hot", tsOf(s.toLong), true, s"v$s"),
          ("hot", tsOf(s.toLong), false, s"p$s"))): _*)
        query.processAllAvailable()
      }
      val matched = spark.table("tj_hotkey").count()
      // probes behind the final watermark (294 s) matured
      assert(matched >= 290L, matched.toString)
      // retention: the latest version at-or-below the watermark plus
      // everything newer — the watermark trails by at most one chunk
      // (10 s) + delay (5 s), so kept versions stay ~16, never the
      // 300 the key received; same bound for buffered probes
      val pv = TemporalJoinTracker.peakVersionRows.get()
      val pp = TemporalJoinTracker.peakPendingProbes.get()
      assert(pv <= 20L, s"peakVersionRows $pv")
      assert(pp <= 20L, s"peakPendingProbes $pp")
    } finally query.stop()
  }

  test("hot key under randomized version CHURN: retained versions stay " +
      "bounded by the churn within the watermark horizon plus one") {
    val spark = SparkFixture.spark
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{TemporalJoinTracker, TemporalRow}
    implicit val sc = spark.sqlContext
    TemporalJoinTracker.peakVersionRows.set(0L)
    TemporalJoinTracker.peakPendingProbes.set(0L)
    val rnd = new scala.util.Random(17)
    val input = MemoryStream[(String, java.sql.Timestamp, Boolean, String)]
    val ds = input.toDF().toDF("key", "ts", "isVersion", "payload")
      .as[TemporalRow]
    val joined = TemporalJoinTracker.joinRows(ds, "5 seconds")
    val query = joined.writeStream.format("memory")
      .queryName("tj_churn").outputMode("append").start()
    try {
      // ONE key, 120 s of churn delivered in 1 s chunks: up to 5
      // versions per second at random millisecond offsets, plus one
      // probe per second. The watermark trails the chunk head by the
      // 5 s delay (+ chunk granularity), so retention must hold the
      // latest version at-or-below the watermark plus everything
      // newer: <= maxPerSec * horizonSec + 1, never the thousands the
      // key received.
      var maxVersions = 0
      (0 until 120).foreach { sec =>
        val n = 1 + rnd.nextInt(5)
        maxVersions = math.max(maxVersions, n)
        val versions = (0 until n).map { _ =>
          val ms = sec * 1000L + rnd.nextInt(1000)
          ("hot", new java.sql.Timestamp(ms), true, s"v$ms")
        }
        input.addData(versions :+
          (("hot", tsOf(sec.toLong), false, s"p$sec")): _*)
        if (sec % 10 == 9) query.processAllAvailable()
      }
      query.processAllAvailable()
      val matched = spark.table("tj_churn").count()
      assert(matched >= 100L, matched.toString)
      // horizon: delay (5 s) + at most one 10 s delivery chunk behind,
      // so <= 5/s * 16 s + 1 retained versions; generous margin to 100
      // still catches an unpruned list (600+ versions received)
      val pv = TemporalJoinTracker.peakVersionRows.get()
      assert(pv <= 100L, s"peakVersionRows $pv")
    } finally query.stop()
  }

  test("table.exec.state.ttl drops idle version state; without it the " +
      "latest version is retained indefinitely (Flink's default)") {
    val spark = SparkFixture.spark
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val vm = Map("ttl_r" -> VersionMeta("rt", Seq("k"))).get _
    val wmOf: String => Option[(String, String)] = t =>
      if (t.equalsIgnoreCase("ttl_o")) Some(("ot", "5 seconds")) else None
    // one version at t=10 (t=0 would tie the INITIAL watermark and
    // drop as late); the key then idles long past the watermark; a
    // LATER on-time probe either still enriches (no TTL) or
    // null-extends (TTL expired the version state)
    for ((ttl, expectRate) <- Seq((0L, Some(7.0d)), (60L, None))) {
      val oIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
      oIn.toDF().toDF("k", "ot", "amount").createOrReplaceTempView("ttl_o")
      val rIn = MemoryStream[(Long, java.sql.Timestamp, Double)]
      rIn.toDF().toDF("k", "rt", "rate").createOrReplaceTempView("ttl_r")
      val out = TemporalJoin.rewriteStreaming(spark,
        "SELECT o.k, o.amount, r.rate FROM ttl_o o LEFT JOIN ttl_r " +
          "FOR SYSTEM_TIME AS OF o.ot AS r ON r.k = o.k",
        wmOf, vm, stateTtlSec = ttl)
      val name = s"ttl_out_$ttl"
      val query = spark.sql(out).writeStream.format("memory")
        .queryName(name).outputMode("append").start()
      try {
        rIn.addData((1L, tsOf(10), 7.0d))
        query.processAllAvailable()
        // another key's probes push the watermark far past the idle
        // key's TTL horizon (several batches: TTL expiry needs a
        // timeout to fire after the horizon passes)
        Seq(10L, 200L, 400L).foreach { s =>
          oIn.addData((2L, tsOf(s), 0L))
          query.processAllAvailable()
        }
        // on-time probe on the idle key, then flush it
        oIn.addData((1L, tsOf(500), 42L))
        query.processAllAvailable()
        oIn.addData((2L, tsOf(900), 0L))
        query.processAllAvailable()
        val got = spark.table(name).collect()
          .filter(_.getLong(0) == 1L)
          .map(r => (r.getLong(1), Option(r.get(2)))).toSet
        assert(got === Set((42L, expectRate)), s"ttl=$ttl: $got")
      } finally query.stop()
    }
  }

  test("e2e: streaming temporal join above a registered PROBE VIEW " +
      "(the view watermark registry hands the probe side through)") {
    val spark = SparkFixture.spark
    val out = Files.createTempDirectory("graft-tjv-e2e").toString
    val script =
      s"""SET execution.runtime-mode = streaming;
         |create table tjv_rates (
         |  k bigint,
         |  seq bigint,
         |  rt as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 10 as int)),
         |  rate as 100 + seq,
         |  primary key (k) not enforced,
         |  watermark for rt as rt - interval '1' second
         |) with ('connector' = 'datagen', 'number-of-rows' = '3',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '2',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create table tjv_orders (
         |  k bigint,
         |  oseq bigint,
         |  ot as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(5 + oseq * 10 as int)),
         |  watermark for ot as ot - interval '1' second
         |) with ('connector' = 'datagen', 'number-of-rows' = '3',
         |  'fields.oseq.kind' = 'sequence',
         |  'fields.oseq.start' = '0', 'fields.oseq.end' = '2',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create temporary view tjv_big as
         |  select k, oseq, ot from tjv_orders where oseq >= 1;
         |create table tjv_sink (k bigint, oseq bigint, rate bigint) with (
         |  'connector' = 'filesystem', 'path' = '$out/sink',
         |  'format' = 'parquet');
         |insert into tjv_sink
         |select o.k, o.oseq, r.rate from tjv_big o
         |join tjv_rates for system_time as of o.ot as r on r.k = o.k;
         |""".stripMargin
    val file = Files.createTempFile("graft-tjv-", ".sql")
    Files.writeString(file, script)
    new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(spark), durationSec = 20).run()
    // the view filters oseq 0 out; bounded finality enriches the rest
    val got = spark.read.parquet(s"$out/sink")
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("oseq"),
        r.getAs[Long]("rate"))).toSet
    assert(got === Set((0L, 1L, 101L), (0L, 2L, 102L)), got.toString)
  }

  test("probeOf finds the probe table and alias for the view registry " +
      "(r18: temporal joins preserve the probe's rowtime)") {
    assert(TemporalJoin.probeOf(
      "select o.k, o.ot, r.rate from orders o " +
        "join rates for system_time as of o.ot as r on r.k = o.k")
      .contains(("orders", "o")))
    // alias-free probe: the bare table name is the alias
    assert(TemporalJoin.probeOf(
      "select orders.k from orders " +
        "join rates for system_time as of orders.ot as r on r.k = orders.k")
      .contains(("orders", "orders")))
    // backticked probe name resolves unquoted
    assert(TemporalJoin.probeOf(
      "select o.k from `orders` o " +
        "join rates for system_time as of o.ot as r on r.k = o.k")
      .contains(("orders", "o")))
    // a subquery probe has no single named table — unregistered
    assert(TemporalJoin.probeOf(
      "select k from (select * from orders) o " +
        "join rates for system_time as of o.ot as r on r.k = o.k").isEmpty)
  }

  test("e2e: a temporal-join VIEW keeps the probe's rowtime and feeds " +
      "a downstream TUMBLE aggregation (r18 two-stage pipeline)") {
    val spark = SparkFixture.spark
    val out = Files.createTempDirectory("graft-tjw-e2e").toString
    // rates 100/101/102 effective from 0/10/20 s; orders at 5/35/65 s
    // enrich to 100/102/102. TUMBLE(1 min) over the view's ot: window
    // [0,60) holds orders 5 s and 35 s (sum 202), [60,120) holds 65 s
    // (sum 102) — Flink's temporal-join-feeds-a-window pipeline shape
    val script =
      s"""SET execution.runtime-mode = streaming;
         |create table tjw_rates (
         |  k bigint,
         |  seq bigint,
         |  rt as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 10 as int)),
         |  rate as 100 + seq,
         |  primary key (k) not enforced,
         |  watermark for rt as rt - interval '1' second
         |) with ('connector' = 'datagen', 'number-of-rows' = '3',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '2',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create table tjw_orders (
         |  k bigint,
         |  oseq bigint,
         |  ot as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(5 + oseq * 30 as int)),
         |  watermark for ot as ot - interval '1' second
         |) with ('connector' = 'datagen', 'number-of-rows' = '3',
         |  'fields.oseq.kind' = 'sequence',
         |  'fields.oseq.start' = '0', 'fields.oseq.end' = '2',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create temporary view tjw_enriched as
         |  select o.k, o.ot, o.oseq, r.rate from tjw_orders o
         |  join tjw_rates for system_time as of o.ot as r on r.k = o.k;
         |create table tjw_sink (ws timestamp, n bigint, tot bigint)
         |  with ('connector' = 'filesystem', 'path' = '$out/sink',
         |  'format' = 'parquet');
         |insert into tjw_sink
         |select window_start as ws, count(*) as n, sum(rate) as tot
         |from table(tumble(table tjw_enriched, descriptor(ot),
         |  interval '1' minute))
         |group by window_start;
         |""".stripMargin
    val file = Files.createTempFile("graft-tjw-", ".sql")
    Files.writeString(file, script)
    new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(spark), durationSec = 30).run()
    val got = spark.read.parquet(s"$out/sink")
      .collect()
      .map(r => (r.getAs[java.sql.Timestamp]("ws").toString,
        r.getAs[Long]("n"), r.getAs[Long]("tot"))).toSet
    assert(got === Set(
      ("2024-01-01 00:00:00.0", 2L, 202L),
      ("2024-01-01 00:01:00.0", 1L, 102L)), got.toString)
  }

  test("e2e: a window top-N runs above a temporal-join view (r18 " +
      "chain matrix: enrichment head, ranking tail)") {
    val spark = SparkFixture.spark
    val out = Files.createTempDirectory("graft-tjt-e2e").toString
    // orders at 5/35/65 s enrich to rates 100/102/102; TUMBLE(1 min)
    // top-1 by rate: window [0,60) -> 102 (the 35 s order beats the
    // 5 s one), [60,120) -> 102
    val script =
      s"""SET execution.runtime-mode = streaming;
         |create table tjt_rates (
         |  k bigint,
         |  seq bigint,
         |  rt as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 10 as int)),
         |  rate as 100 + seq,
         |  primary key (k) not enforced,
         |  watermark for rt as rt - interval '1' second
         |) with ('connector' = 'datagen', 'number-of-rows' = '3',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '2',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create table tjt_orders (
         |  k bigint,
         |  oseq bigint,
         |  ot as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(5 + oseq * 30 as int)),
         |  watermark for ot as ot - interval '1' second
         |) with ('connector' = 'datagen', 'number-of-rows' = '3',
         |  'fields.oseq.kind' = 'sequence',
         |  'fields.oseq.start' = '0', 'fields.oseq.end' = '2',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create temporary view tjt_enriched as
         |  select o.k, o.ot, o.oseq, r.rate from tjt_orders o
         |  join tjt_rates for system_time as of o.ot as r on r.k = o.k;
         |create table tjt_sink (ws timestamp, rate bigint, rn bigint)
         |  with ('connector' = 'filesystem', 'path' = '$out/sink',
         |  'format' = 'parquet');
         |insert into tjt_sink
         |select window_start as ws, rate, rn from (
         |  select *, row_number() over (
         |    partition by window_start, window_end
         |    order by rate desc) as rn
         |  from table(tumble(table tjt_enriched, descriptor(ot),
         |    interval '1' minute))) where rn <= 1;
         |""".stripMargin
    val file = Files.createTempFile("graft-tjt-", ".sql")
    Files.writeString(file, script)
    new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(spark), durationSec = 30).run()
    val got = spark.read.parquet(s"$out/sink")
      .collect()
      .map(r => (r.getAs[java.sql.Timestamp]("ws").toString,
        r.getAs[Long]("rate"), r.getAs[Long]("rn"))).toSet
    assert(got === Set(
      ("2024-01-01 00:00:00.0", 102L, 1L),
      ("2024-01-01 00:01:00.0", 102L, 1L)), got.toString)
  }

  test("e2e: bounded streaming temporal join enriches with " +
      "MAX_WATERMARK-at-end finality through sql-submit") {
    val spark = SparkFixture.spark
    val out = Files.createTempDirectory("graft-tj-e2e").toString
    val script =
      s"""SET execution.runtime-mode = streaming;
         |create table tje_rates (
         |  k bigint,
         |  seq bigint,
         |  rt as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 10 as int)),
         |  rate as 100 + seq,
         |  primary key (k) not enforced,
         |  watermark for rt as rt - interval '1' second
         |) with ('connector' = 'datagen', 'number-of-rows' = '3',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '2',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create table tje_orders (
         |  k bigint,
         |  oseq bigint,
         |  ot as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(5 + oseq * 10 as int)),
         |  watermark for ot as ot - interval '1' second
         |) with ('connector' = 'datagen', 'number-of-rows' = '3',
         |  'fields.oseq.kind' = 'sequence',
         |  'fields.oseq.start' = '0', 'fields.oseq.end' = '2',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create table tje_sink (k bigint, oseq bigint, rate bigint) with (
         |  'connector' = 'filesystem', 'path' = '$out/sink',
         |  'format' = 'parquet');
         |insert into tje_sink
         |select o.k, o.oseq, r.rate from tje_orders o
         |join tje_rates for system_time as of o.ot as r on r.k = o.k;
         |""".stripMargin
    val file = Files.createTempFile("graft-tj-e2e-", ".sql")
    Files.writeString(file, script)
    new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(spark), durationSec = 20).run()
    // read BY NAME: plain `o.k` items must expose their column names
    // through the splice, not the decoded view's prefixed internals
    val got = spark.read.parquet(s"$out/sink")
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("oseq"),
        r.getAs[Long]("rate"))).toSet
    // orders at 5/15/25 s against rates 100/101/102 effective from
    // 0/10/20 s — bounded sources flush everything at end-of-input
    assert(got === Set((0L, 0L, 100L), (0L, 1L, 101L), (0L, 2L, 102L)),
      got.toString)
  }

  test("temporal join inside a CTE stops the ON scan at the closing paren") {
    val sql = "WITH x AS (SELECT o.k, r.rate FROM o " +
      "JOIN rates FOR SYSTEM_TIME AS OF o.t AS r ON r.k = o.k) " +
      "SELECT * FROM x WHERE k > 0"
    val out = TemporalJoin.rewrite(sql, attr)
    // the rewrite must stay inside the CTE body
    assert(out.contains("(r.__vend IS NULL OR o.t < r.__vend) ) SELECT * FROM x"))
    assert(out.endsWith("WHERE k > 0"))
  }

  test("qualified columns named like clause keywords do not cut the ON scan") {
    val sql = "SELECT * FROM o " +
      "JOIN rates FOR SYSTEM_TIME AS OF o.t AS r ON r.k = o.left AND r.g = o.order"
    val out = TemporalJoin.rewrite(sql, attr)
    assert(out.contains("ON (r.k = o.left AND r.g = o.order) AND"))
  }

  test("RIGHT/FULL temporal joins are rejected like Flink rejects them") {
    val e = intercept[IllegalArgumentException] {
      TemporalJoin.rewrite(
        "SELECT * FROM o RIGHT JOIN rates FOR SYSTEM_TIME AS OF o.t AS r ON r.k = o.k",
        attr)
    }
    assert(e.getMessage.contains("RIGHT"))
  }

  test("tables without time attribute or primary key are rejected") {
    val noTime = intercept[IllegalArgumentException] {
      TemporalJoin.rewrite(
        "SELECT * FROM o JOIN x FOR SYSTEM_TIME AS OF o.t AS r ON r.k = o.k",
        _ => None)
    }
    assert(noTime.getMessage.contains("WATERMARK"))
    val noPk = intercept[IllegalArgumentException] {
      TemporalJoin.rewrite(
        "SELECT * FROM o JOIN x FOR SYSTEM_TIME AS OF o.t AS r ON r.k = o.k",
        _ => Some(VersionMeta("ts", Seq.empty)))
    }
    assert(noPk.getMessage.contains("PRIMARY KEY"))
  }

  test("property: random ON conditions survive the scan; tails stay intact") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val col: Gen[String] = for {
      t <- Gen.oneOf("o", "r")
      // include keyword-named columns: qualified refs must never cut the scan
      c <- Gen.oneOf("k", "v", "left", "order", "group_x")
    } yield s"$t.$c"
    val atom: Gen[String] = for {
      a <- col
      op <- Gen.oneOf("=", "<", ">=", "<>")
      b <- Gen.oneOf(col, Gen.oneOf("5", "'ab'", "'a''b'", "3.5"))
    } yield s"$a $op $b"
    val parened: Gen[String] = for {
      x <- atom; y <- atom; j <- Gen.oneOf("AND", "OR")
    } yield s"($x $j $y)"
    val cond: Gen[String] = Gen.choose(1, 4).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(atom, parened)).map(_.mkString(" AND ")))
    val tail: Gen[String] = Gen.oneOf(
      "", "WHERE o.z > 1", "GROUP BY o.z", "ORDER BY o.z", "LIMIT 5",
      "JOIN t2 ON t2.a = o.a")
    val prop = Prop.forAll(cond, tail) { (c, t) =>
      val sql = s"SELECT * FROM o JOIN rates FOR SYSTEM_TIME AS OF o.t AS r ON $c" +
        (if (t.isEmpty) "" else s" $t")
      val out = TemporalJoin.rewrite(sql, attr)
      out.contains(s"ON ($c)") && (t.isEmpty || out.endsWith(t)) &&
        !TemporalJoin.hasTemporalJoin(out)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("e2e: temporal-join script runs through sql-submit") {
    val spark = SparkFixture.spark
    val dir = Files.createTempDirectory("graft-tj").toString
    spark.sql(
      """SELECT * FROM VALUES
        |  (1L, TIMESTAMP'2024-01-01 00:00:15'),
        |  (1L, TIMESTAMP'2024-01-01 00:00:25'),
        |  (2L, TIMESTAMP'2024-01-01 00:00:15')
        |AS t(k, ot)""".stripMargin).write.parquet(s"$dir/orders")
    spark.sql(
      """SELECT * FROM VALUES
        |  (1L, 100L, TIMESTAMP'2024-01-01 00:00:10'),
        |  (1L, 200L, TIMESTAMP'2024-01-01 00:00:20')
        |AS t(k, rate, rt)""".stripMargin).write.parquet(s"$dir/rates")
    val script =
      s"""SET execution.runtime-mode = batch;
         |create table orders(k bigint, ot timestamp(3)) with (
         |  'connector' = 'filesystem', 'path' = '$dir/orders',
         |  'format' = 'parquet');
         |create table rates(
         |  k bigint, rate bigint, rt timestamp(3),
         |  primary key (k) not enforced,
         |  watermark for rt as rt - interval '1' second
         |) with (
         |  'connector' = 'filesystem', 'path' = '$dir/rates',
         |  'format' = 'parquet');
         |create table joined(k bigint, rate bigint) with (
         |  'connector' = 'filesystem', 'path' = '$dir/joined',
         |  'format' = 'parquet');
         |insert into joined
         |select o.k, r.rate from orders o
         |join rates for system_time as of o.ot as r on r.k = o.k;
         |""".stripMargin
    val file = Files.createTempFile("graft-tj-", ".sql")
    Files.writeString(file, script)
    new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(spark)).run()
    val got = spark.read.parquet(s"$dir/joined")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq
    // order@15 sees the rate as of :10; order@25 the rate as of :20;
    // k=2 has no version and the inner temporal join drops it
    assert(got === Seq(1L -> 100L, 1L -> 200L))
  }
}
