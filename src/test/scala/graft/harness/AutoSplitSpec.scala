package graft.harness

import java.nio.file.Files
import java.sql.DriverManager
import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** `graft.streaming.auto-split-updating` (r19): the engine compiles the
  * two-statement recipe the updating-above-stateful rejection names —
  * stage 1 materializes the stateful view through a managed filesystem
  * intermediate (file sink commit log → file source, exactly-once),
  * stage 2 runs the TTL'd updating operator as its own streaming query
  * over it. Flink executes the same pipeline as ONE statement
  * (pass-through, `SQLSubmitAction.java:76`); this opt-in gives that
  * single-statement UX as Flink's same two jobs.
  *
  * Data shape shared by the tests: 10 sequence rows at 30 s spacing on
  * one key, TUMBLE 1 minute sums → window sums 1, 5, 9, 13, 17; the
  * final watermark (269 s) closes the first four windows, the fifth
  * stays open — so the downstream totals are exact literals.
  */
class AutoSplitSpec extends AnyFunSuite {

  private val bootUrl = "jdbc:derby:memory:graftasdb;create=true"
  private val url = "jdbc:derby:memory:graftasdb"

  private def resetTable(name: String, ddl: String): Unit = {
    val conn = DriverManager.getConnection(bootUrl)
    try {
      val st = conn.createStatement()
      try st.execute(s"DROP TABLE $name") catch { case _: Exception => () }
      st.execute(ddl)
      st.close()
    } finally conn.close()
  }

  private def readAll(q: String, cols: Int): Seq[Seq[Long]] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(q)
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => (1 to cols).map(r.getLong(_)).toSeq).toList
    } finally conn.close()
  }

  private def srcAndView(pre: String): String =
    s"""create table ${pre}_src (
       |  k bigint,
       |  seq bigint,
       |  v as seq,
       |  ts as timestamp '2024-01-01 00:00:00' +
       |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 30 as int)),
       |  watermark for ts as ts - interval '1' second
       |) with ('connector' = 'datagen', 'rows-per-second' = '5',
       |  'fields.seq.kind' = 'sequence',
       |  'fields.seq.start' = '0', 'fields.seq.end' = '9',
       |  'fields.k.min' = '0', 'fields.k.max' = '0');
       |create temporary view ${pre}_agg as
       |  select k, window_time, sum(v) as s
       |  from table(tumble(table ${pre}_src, descriptor(ts),
       |    interval '1' minute))
       |  group by k, window_start, window_end, window_time;
       |""".stripMargin

  private def run(script: String, tag: String,
      durationSec: Long = 25): Unit = {
    val file = Files.createTempFile(s"graft-asp-$tag-", ".sql")
    Files.writeString(file, script)
    new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(SparkFixture.spark),
      durationSec = durationSec).run()
  }

  test("auto-split runs a TTL'd top-N above a windowed view in ONE " +
      "statement, value-pinned to the hand-split twin (r19)") {
    resetTable("ASPTOP",
      "CREATE TABLE ASPTOP (K BIGINT, S BIGINT, RN BIGINT, " +
        "PRIMARY KEY (K, RN))")
    resetTable("ASPTOPH",
      "CREATE TABLE ASPTOPH (K BIGINT, S BIGINT, RN BIGINT, " +
        "PRIMARY KEY (K, RN))")
    // ONE statement, knob on: the engine materializes the view itself
    run(
      s"""SET execution.runtime-mode = streaming;
         |SET table.exec.state.ttl = 600 s;
         |SET graft.streaming.auto-split-updating = true;
         |${srcAndView("aspt")}
         |create table aspt_sink (k bigint, s bigint, rn bigint,
         |  primary key (k, rn) not enforced
         |) with ('connector' = 'jdbc', 'url' = '$url',
         |  'table-name' = 'ASPTOP');
         |insert into aspt_sink
         |select k, s, rn from (
         |  select *, row_number() over (partition by k order by s desc)
         |    as rn from aspt_agg) where rn <= 2;
         |""".stripMargin, "top-auto")
    // the hand-split twin the rejection message prescribes
    val matDir = Files.createTempDirectory("graft-asph-mat").toString
    run(
      s"""SET execution.runtime-mode = streaming;
         |SET table.exec.state.ttl = 600 s;
         |${srcAndView("asph")}
         |create table asph_mat (k bigint, wt timestamp(3), s bigint)
         |  with ('connector' = 'filesystem', 'path' = '$matDir',
         |  'format' = 'parquet');
         |create table asph_sink (k bigint, s bigint, rn bigint,
         |  primary key (k, rn) not enforced
         |) with ('connector' = 'jdbc', 'url' = '$url',
         |  'table-name' = 'ASPTOPH');
         |insert into asph_mat select k, window_time, s from asph_agg;
         |insert into asph_sink
         |select k, s, rn from (
         |  select *, row_number() over (partition by k order by s desc)
         |    as rn from asph_mat) where rn <= 2;
         |""".stripMargin, "top-hand")
    val auto = readAll("SELECT K, S, RN FROM ASPTOP ORDER BY RN", 3)
    val hand = readAll("SELECT K, S, RN FROM ASPTOPH ORDER BY RN", 3)
    // closed-window sums 1/5/9/13 -> top-2 = 13, 9
    assert(auto === Seq(Seq(0L, 13L, 1L), Seq(0L, 9L, 2L)), auto.toString)
    assert(auto === hand, s"auto=$auto hand=$hand")
  }

  test("auto-split runs a TTL'd GROUP BY above a windowed view in ONE " +
      "statement (r19)") {
    resetTable("ASPSUM",
      "CREATE TABLE ASPSUM (K BIGINT PRIMARY KEY, TOTAL BIGINT)")
    run(
      s"""SET execution.runtime-mode = streaming;
         |SET table.exec.state.ttl = 600 s;
         |SET graft.streaming.auto-split-updating = true;
         |${srcAndView("aspg")}
         |create table aspg_sink (k bigint, total bigint,
         |  primary key (k) not enforced
         |) with ('connector' = 'jdbc', 'url' = '$url',
         |  'table-name' = 'ASPSUM');
         |insert into aspg_sink
         |select k, sum(aspg_agg.s) as total from aspg_agg group by k;
         |""".stripMargin, "sum-auto")
    // closed-window sums 1 + 5 + 9 + 13
    assert(readAll("SELECT K, TOTAL FROM ASPSUM", 2) === Seq(Seq(0L, 28L)))
  }

  test("auto-split runs an rn = 1 DEDUP above a windowed view in ONE " +
      "statement, with view-QUALIFIED references swapped too (r19)") {
    resetTable("ASPDED",
      "CREATE TABLE ASPDED (K BIGINT, S BIGINT, RN BIGINT, " +
        "PRIMARY KEY (K, RN))")
    // keep-last by window sum (the canonical dedup shape takes a BARE
    // ORDER BY column; the qualifier swap is exercised on the GROUP BY
    // test's aggregate argument)
    run(
      s"""SET execution.runtime-mode = streaming;
         |SET table.exec.state.ttl = 600 s;
         |SET graft.streaming.auto-split-updating = true;
         |${srcAndView("aspd")}
         |create table aspd_sink (k bigint, s bigint, rn bigint,
         |  primary key (k, rn) not enforced
         |) with ('connector' = 'jdbc', 'url' = '$url',
         |  'table-name' = 'ASPDED');
         |insert into aspd_sink
         |select k, s, rn from (
         |  select *, row_number() over (partition by k
         |    order by s desc) as rn
         |  from aspd_agg) where rn = 1;
         |""".stripMargin, "ded-auto")
    // closed-window sums 1/5/9/13 -> keep-last (largest) = 13
    assert(readAll("SELECT K, S, RN FROM ASPDED", 3) ===
      Seq(Seq(0L, 13L, 1L)))
  }

  test("auto-split materializes a PATTERN view too: TTL'd GROUP BY " +
      "above MATCH_RECOGNIZE in one statement (r19)") {
    resetTable("ASPPAT",
      "CREATE TABLE ASPPAT (K BIGINT PRIMARY KEY, TOTAL BIGINT)")
    // matches (a a b) complete at 60/150/240 s; emission is
    // watermark-gated, final wm = 239 s, so the 240 s match stays
    // pending -> the downstream total folds the first two (na = 2
    // each)
    run(
      s"""SET execution.runtime-mode = streaming;
         |SET table.exec.state.ttl = 600 s;
         |SET graft.streaming.auto-split-updating = true;
         |create table aspp_src (
         |  k bigint,
         |  seq bigint,
         |  t as case when seq % 3 = 2 then 'b' else 'a' end,
         |  ts as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 30 as int)),
         |  watermark for ts as ts - interval '1' second
         |) with ('connector' = 'datagen', 'rows-per-second' = '5',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '8',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create temporary view aspp_pat as
         |  select k, mrt, na from (
         |    select * from aspp_src match_recognize (
         |      partition by k order by ts
         |      measures match_rowtime() as mrt, count(a.*) as na
         |      one row per match after match skip past last row
         |      pattern (a+ b)
         |      define a as t = 'a', b as t = 'b'));
         |create table aspp_sink (k bigint, total bigint,
         |  primary key (k) not enforced
         |) with ('connector' = 'jdbc', 'url' = '$url',
         |  'table-name' = 'ASPPAT');
         |insert into aspp_sink
         |select k, sum(na) as total from aspp_pat group by k;
         |""".stripMargin, "pat-auto")
    assert(readAll("SELECT K, TOTAL FROM ASPPAT", 2) === Seq(Seq(0L, 4L)))
  }

  test("auto-split materializes a TEMPORAL-JOIN view too: TTL'd " +
      "GROUP BY above an enrichment stage in one statement (r19)") {
    resetTable("ASPTJ",
      "CREATE TABLE ASPTJ (K BIGINT PRIMARY KEY, TOTAL BIGINT)")
    // probes at 0/150/300 s against versions at 0/100/200/300 s
    // (rates 100..103); the unioned watermark ends at 299 s, so the
    // 300 s probe stays pending -> enriched rows (0 -> 100),
    // (150 -> 101), and the TTL'd sum folds 201
    run(
      s"""SET execution.runtime-mode = streaming;
         |SET table.exec.state.ttl = 600 s;
         |SET graft.streaming.auto-split-updating = true;
         |create table asptj_rates (
         |  k bigint,
         |  seq bigint,
         |  rt as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 100 as int)),
         |  rate as 100 + seq,
         |  primary key (k) not enforced,
         |  watermark for rt as rt - interval '1' second
         |) with ('connector' = 'datagen', 'rows-per-second' = '5',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '3',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create table asptj_orders (
         |  k bigint,
         |  seq bigint,
         |  ot as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 150 as int)),
         |  watermark for ot as ot - interval '1' second
         |) with ('connector' = 'datagen', 'rows-per-second' = '5',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '2',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create temporary view asptj_enriched as
         |  select o.k, o.ot, r.rate from asptj_orders o
         |  join asptj_rates for system_time as of o.ot as r
         |  on r.k = o.k;
         |create table asptj_sink (k bigint, total bigint,
         |  primary key (k) not enforced
         |) with ('connector' = 'jdbc', 'url' = '$url',
         |  'table-name' = 'ASPTJ');
         |insert into asptj_sink
         |select k, sum(rate) as total from asptj_enriched group by k;
         |""".stripMargin, "tj-auto")
    assert(readAll("SELECT K, TOTAL FROM ASPTJ", 2) === Seq(Seq(0L, 201L)))
  }

  test("auto-split fires inside EXECUTE STATEMENT SET too (r19: the " +
      "statement-set route shares the INSERT path)") {
    resetTable("ASPSET",
      "CREATE TABLE ASPSET (K BIGINT PRIMARY KEY, TOTAL BIGINT)")
    val out = Files.createTempDirectory("graft-aspset-raw").toString
    run(
      s"""SET execution.runtime-mode = streaming;
         |SET table.exec.state.ttl = 600 s;
         |SET graft.streaming.auto-split-updating = true;
         |${srcAndView("asps")}
         |create table asps_raw (k bigint, s bigint)
         |  with ('connector' = 'filesystem', 'path' = '$out',
         |  'format' = 'parquet');
         |create table asps_sink (k bigint, total bigint,
         |  primary key (k) not enforced
         |) with ('connector' = 'jdbc', 'url' = '$url',
         |  'table-name' = 'ASPSET');
         |EXECUTE STATEMENT SET BEGIN
         |  insert into asps_raw select k, s from asps_agg;
         |  insert into asps_sink
         |    select k, sum(s) as total from asps_agg group by k;
         |END;
         |""".stripMargin, "set-auto")
    // the plain windowed insert ran beside the auto-split one
    assert(readAll("SELECT K, TOTAL FROM ASPSET", 2) === Seq(Seq(0L, 28L)))
    val raw = SparkFixture.spark.read.parquet(out)
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(raw === Seq(1L, 5L, 9L, 13L), raw.toString)
  }

  test("two updating statements over ONE stateful view share a single " +
      "materialization (r20: one intermediate per view per run, as " +
      "Flink shares the stage)") {
    resetTable("ASPSH1",
      "CREATE TABLE ASPSH1 (K BIGINT PRIMARY KEY, TOTAL BIGINT)")
    resetTable("ASPSH2",
      "CREATE TABLE ASPSH2 (K BIGINT, S BIGINT, RN BIGINT, " +
        "PRIMARY KEY (K, RN))")
    val file = Files.createTempFile("graft-asp-share-", ".sql")
    Files.writeString(file,
      s"""SET execution.runtime-mode = streaming;
         |SET table.exec.state.ttl = 600 s;
         |SET graft.streaming.auto-split-updating = true;
         |${srcAndView("aspx")}
         |create table aspx_sum (k bigint, total bigint,
         |  primary key (k) not enforced
         |) with ('connector' = 'jdbc', 'url' = '$url',
         |  'table-name' = 'ASPSH1');
         |create table aspx_top (k bigint, s bigint, rn bigint,
         |  primary key (k, rn) not enforced
         |) with ('connector' = 'jdbc', 'url' = '$url',
         |  'table-name' = 'ASPSH2');
         |EXECUTE STATEMENT SET BEGIN
         |  insert into aspx_sum
         |    select k, sum(s) as total from aspx_agg group by k;
         |  insert into aspx_top
         |    select k, s, rn from (
         |      select *, row_number() over (partition by k
         |        order by s desc) as rn from aspx_agg) where rn <= 1;
         |END;
         |""".stripMargin)
    val action = new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(SparkFixture.spark), durationSec = 25)
    action.run()
    // both consumers saw the full closed-window stream (1/5/9/13)
    assert(readAll("SELECT K, TOTAL FROM ASPSH1", 2) === Seq(Seq(0L, 28L)))
    assert(readAll("SELECT K, S, RN FROM ASPSH2", 3) ===
      Seq(Seq(0L, 13L, 1L)))
    // exactly ONE materialization query fed both stage-2 queries
    val matQueries = action.startedQueryNames.filter(_.contains("graft_mat_"))
    assert(matQueries.size === 1, action.startedQueryNames.toString)
  }

  test("with a durable checkpoint base, a KILLED auto-split run " +
      "restarts exactly-once: same intermediate, same commit log, " +
      "same state (r20: Flink's single-statement recovery contract)") {
    resetTable("ASPRC",
      "CREATE TABLE ASPRC (K BIGINT PRIMARY KEY, TOTAL BIGINT)")
    val cpBase = Files.createTempDirectory("graft-asprc-cp").toString
    // 1 row/s over seq 0..9: run 1 is stopped mid-generation (~6 s in),
    // run 2 resumes the rate offsets, the file-sink commit log, and the
    // TTL'd tracker state from the SAME checkpoint base
    def script: String =
      s"""SET execution.runtime-mode = streaming;
         |SET table.exec.state.ttl = 600 s;
         |SET graft.streaming.auto-split-updating = true;
         |SET execution.checkpointing.enabled = true;
         |SET state.checkpoints.dir = $cpBase;
         |create table asprc_src (
         |  k bigint,
         |  seq bigint,
         |  v as seq,
         |  ts as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 30 as int)),
         |  watermark for ts as ts - interval '1' second
         |) with ('connector' = 'datagen', 'rows-per-second' = '1',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '9',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create or replace temporary view asprc_agg as
         |  select k, window_time, sum(v) as s
         |  from table(tumble(table asprc_src, descriptor(ts),
         |    interval '1' minute))
         |  group by k, window_start, window_end, window_time;
         |create table asprc_sink (k bigint, total bigint,
         |  primary key (k) not enforced
         |) with ('connector' = 'jdbc', 'url' = '$url',
         |  'table-name' = 'ASPRC');
         |insert into asprc_sink
         |select k, sum(s) as total from asprc_agg group by k;
         |""".stripMargin
    val file = Files.createTempFile("graft-asp-rc-", ".sql")
    Files.writeString(file, script)
    // phase 1: stopped ~7 s into the 10 s generation — the kill lands
    // with open windows in the tracker and a partially-written
    // intermediate; state + both commit logs persist under cpBase
    new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(SparkFixture.spark), durationSec = 7).run()
    // phase 2: the SAME script recomputes the same intermediate name
    // (definition hash), resumes the rate offsets, the file sink's
    // commit log, and the TTL'd fold state, and runs to completion
    new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(SparkFixture.spark), durationSec = 30).run()
    // the fold saw every closed window exactly once: 1 + 5 + 9 + 13
    assert(readAll("SELECT K, TOTAL FROM ASPRC", 2) === Seq(Seq(0L, 28L)))
    // the intermediate is ONE directory (same hash across runs) and
    // holds each closed window exactly once — nothing re-materialized
    val matBase = new java.io.File(s"$cpBase/graft-intermediates")
    val dirs = Option(matBase.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("graft_mat_asprc_agg_"))
    assert(dirs.length === 1, dirs.map(_.getName).toSeq.toString)
    val rows = SparkFixture.spark.read.parquet(dirs.head.toString)
      .collect().map(_.getAs[Long]("s")).sorted.toSeq
    assert(rows === Seq(1L, 5L, 9L, 13L), rows.toString)
  }

  test("auto-split widens to STREAM-STATIC enrichment (r20): a TTL'd " +
      "GROUP BY above (stateful view JOIN static dim) runs in one " +
      "statement, value-pinned") {
    resetTable("ASPJN",
      "CREATE TABLE ASPJN (K BIGINT PRIMARY KEY, TOTAL BIGINT)")
    run(
      s"""SET execution.runtime-mode = streaming;
         |SET table.exec.state.ttl = 600 s;
         |SET graft.streaming.auto-split-updating = true;
         |${srcAndView("aspj")}
         |create table aspj_dim (
         |  k bigint, mult bigint
         |) with ('connector' = 'datagen', 'number-of-rows' = '1',
         |  'fields.k.min' = '0', 'fields.k.max' = '0',
         |  'fields.mult.min' = '3', 'fields.mult.max' = '3');
         |create table aspj_sink (k bigint, total bigint,
         |  primary key (k) not enforced
         |) with ('connector' = 'jdbc', 'url' = '$url',
         |  'table-name' = 'ASPJN');
         |insert into aspj_sink
         |select a.k, sum(d.mult) as total
         |from aspj_agg a join aspj_dim d on d.k = a.k
         |group by a.k;
         |""".stripMargin, "join-auto")
    // four closed windows enrich against mult = 3 -> sum 12
    assert(readAll("SELECT K, TOTAL FROM ASPJN", 2) === Seq(Seq(0L, 12L)))
  }

  test("the enrichment form chains TWO static dims (r20): both join " +
      "into one collision-free view, value-pinned") {
    resetTable("ASPJ2",
      "CREATE TABLE ASPJ2 (K BIGINT PRIMARY KEY, TOTAL BIGINT)")
    run(
      s"""SET execution.runtime-mode = streaming;
         |SET table.exec.state.ttl = 600 s;
         |SET graft.streaming.auto-split-updating = true;
         |${srcAndView("aspw")}
         |create table aspw_dim1 (
         |  k bigint, mult bigint
         |) with ('connector' = 'datagen', 'number-of-rows' = '1',
         |  'fields.k.min' = '0', 'fields.k.max' = '0',
         |  'fields.mult.min' = '3', 'fields.mult.max' = '3');
         |create table aspw_dim2 (
         |  k bigint, bonus bigint
         |) with ('connector' = 'datagen', 'number-of-rows' = '1',
         |  'fields.k.min' = '0', 'fields.k.max' = '0',
         |  'fields.bonus.min' = '5', 'fields.bonus.max' = '5');
         |create table aspw_sink (k bigint, total bigint,
         |  primary key (k) not enforced
         |) with ('connector' = 'jdbc', 'url' = '$url',
         |  'table-name' = 'ASPJ2');
         |insert into aspw_sink
         |select a.k, sum(d1.mult + d2.bonus) as total
         |from aspw_agg a
         |join aspw_dim1 d1 on d1.k = a.k
         |join aspw_dim2 d2 on d2.k = a.k
         |group by a.k;
         |""".stripMargin, "join2-auto")
    // four closed windows x (3 + 5) = 32
    assert(readAll("SELECT K, TOTAL FROM ASPJ2", 2) === Seq(Seq(0L, 32L)))
  }

  test("the enrichment form stays INNER-only and single-stream: a " +
      "stream-STREAM join above the stateful view still fails loud " +
      "(r20)") {
    val msgs = interceptMessages(
      s"""SET execution.runtime-mode = streaming;
         |SET table.exec.state.ttl = 600 s;
         |SET graft.streaming.auto-split-updating = true;
         |${srcAndView("aspz")}
         |create table aspz_other (
         |  k bigint,
         |  seq bigint,
         |  ts2 as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 30 as int)),
         |  watermark for ts2 as ts2 - interval '1' second
         |) with ('connector' = 'datagen', 'rows-per-second' = '5',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '9',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create table aspz_sink (k bigint, total bigint,
         |  primary key (k) not enforced
         |) with ('connector' = 'print');
         |insert into aspz_sink
         |select a.k, sum(a.s) as total
         |from aspz_agg a join aspz_other b on b.k = a.k
         |group by a.k;
         |""".stripMargin, "join-ss")
    assert(msgs.nonEmpty, "a stream-stream join above a stateful view " +
      "must not silently run")
  }

  test("the enrichment form rejects references to collision-DROPPED " +
      "dim columns (r20 review: qualifier-stripping must never " +
      "silently rebind them onto the stream side)") {
    // dim column s collides with the view's s and is dropped from the
    // enrichment projection; sum(d.s) would strip to sum(s) = the
    // STREAM's s — wrong data, so the shape must keep the named
    // rejection instead
    val msgs = interceptMessages(
      s"""SET execution.runtime-mode = streaming;
         |SET table.exec.state.ttl = 600 s;
         |SET graft.streaming.auto-split-updating = true;
         |${srcAndView("aspq")}
         |create table aspq_dim (
         |  k bigint, s bigint
         |) with ('connector' = 'datagen', 'number-of-rows' = '1',
         |  'fields.k.min' = '0', 'fields.k.max' = '0',
         |  'fields.s.min' = '3', 'fields.s.max' = '3');
         |create table aspq_sink (k bigint, total bigint,
         |  primary key (k) not enforced
         |) with ('connector' = 'print');
         |insert into aspq_sink
         |select a.k, sum(d.s) as total
         |from aspq_agg a join aspq_dim d on d.k = a.k
         |group by a.k;
         |""".stripMargin, "drop-ref")
    // the gate declines (no enrichment compiles) and the single-plan
    // path fails LOUD — Spark's multi-stateful correctness rejection
    // for this unrouted shape; what must never happen is a silent run
    // aggregating the stream's s
    assert(msgs.exists(m => m.contains("cannot run above another stateful")
      || m.contains("correctness")), msgs.mkString(" | "))
  }

  test("the dropped-column guard sees BACKTICK-quoted references too " +
      "(second review pass: masking blanks tick interiors, so " +
      "sum(d.`s`) must not slip past)") {
    val msgs = interceptMessages(
      s"""SET execution.runtime-mode = streaming;
         |SET table.exec.state.ttl = 600 s;
         |SET graft.streaming.auto-split-updating = true;
         |${srcAndView("aspt2")}
         |create table aspt2_dim (
         |  k bigint, s bigint
         |) with ('connector' = 'datagen', 'number-of-rows' = '1',
         |  'fields.k.min' = '0', 'fields.k.max' = '0',
         |  'fields.s.min' = '3', 'fields.s.max' = '3');
         |create table aspt2_sink (k bigint, total bigint,
         |  primary key (k) not enforced
         |) with ('connector' = 'print');
         |insert into aspt2_sink
         |select a.k, sum(d.`s`) as total
         |from aspt2_agg a join aspt2_dim d on d.k = a.k
         |group by a.k;
         |""".stripMargin, "drop-tick")
    assert(msgs.exists(m => m.contains("cannot run above another stateful")
      || m.contains("correctness")), msgs.mkString(" | "))
  }

  test("a changed view DEFINITION under a durable base starts FRESH " +
      "stage-2 state (r20 review: the checkpoint keys on the " +
      "intermediate's identity, so old state never folds new data)") {
    resetTable("ASPRD",
      "CREATE TABLE ASPRD (K BIGINT PRIMARY KEY, TOTAL BIGINT)")
    val cpBase = Files.createTempDirectory("graft-asprd-cp").toString
    def script(mult: Int): String =
      s"""SET execution.runtime-mode = streaming;
         |SET table.exec.state.ttl = 600 s;
         |SET graft.streaming.auto-split-updating = true;
         |SET execution.checkpointing.enabled = true;
         |SET state.checkpoints.dir = $cpBase;
         |create table asprd_src (
         |  k bigint,
         |  seq bigint,
         |  v as seq,
         |  ts as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 30 as int)),
         |  watermark for ts as ts - interval '1' second
         |) with ('connector' = 'datagen', 'rows-per-second' = '5',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '9',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create or replace temporary view asprd_agg as
         |  select k, window_time, sum(v * $mult) as s
         |  from table(tumble(table asprd_src, descriptor(ts),
         |    interval '1' minute))
         |  group by k, window_start, window_end, window_time;
         |create table asprd_sink (k bigint, total bigint,
         |  primary key (k) not enforced
         |) with ('connector' = 'jdbc', 'url' = '$url',
         |  'table-name' = 'ASPRD');
         |insert into asprd_sink
         |select k, sum(s) as total from asprd_agg group by k;
         |""".stripMargin
    val f1 = Files.createTempFile("graft-asp-rd1-", ".sql")
    Files.writeString(f1, script(1))
    new SqlSubmitAction(f1.toString, Map.empty,
      existingSession = Some(SparkFixture.spark), durationSec = 25).run()
    assert(readAll("SELECT K, TOTAL FROM ASPRD", 2) === Seq(Seq(0L, 28L)))
    // run 2 changes the view's DEFINITION (v * 2): a fresh hash keys a
    // fresh intermediate AND a fresh stage-2 checkpoint — the fold
    // restarts at 2 * 28 = 56, never 28 + 56
    val f2 = Files.createTempFile("graft-asp-rd2-", ".sql")
    Files.writeString(f2, script(2))
    new SqlSubmitAction(f2.toString, Map.empty,
      existingSession = Some(SparkFixture.spark), durationSec = 25).run()
    assert(readAll("SELECT K, TOTAL FROM ASPRD", 2) === Seq(Seq(0L, 56L)))
  }

  test("shared intermediate composes with retention: the sentinel " +
      "holds deletion while the second consumer attaches; both " +
      "values exact (r20 review)") {
    resetTable("ASPSR1",
      "CREATE TABLE ASPSR1 (K BIGINT PRIMARY KEY, TOTAL BIGINT)")
    resetTable("ASPSR2",
      "CREATE TABLE ASPSR2 (K BIGINT, S BIGINT, RN BIGINT, " +
        "PRIMARY KEY (K, RN))")
    run(
      s"""SET execution.runtime-mode = streaming;
         |SET table.exec.state.ttl = 600 s;
         |SET graft.streaming.auto-split-updating = true;
         |SET graft.streaming.intermediate-retention = 0 s;
         |${srcAndView("aspy")}
         |create table aspy_sum (k bigint, total bigint,
         |  primary key (k) not enforced
         |) with ('connector' = 'jdbc', 'url' = '$url',
         |  'table-name' = 'ASPSR1');
         |create table aspy_top (k bigint, s bigint, rn bigint,
         |  primary key (k, rn) not enforced
         |) with ('connector' = 'jdbc', 'url' = '$url',
         |  'table-name' = 'ASPSR2');
         |EXECUTE STATEMENT SET BEGIN
         |  insert into aspy_sum
         |    select k, sum(s) as total from aspy_agg group by k;
         |  insert into aspy_top
         |    select k, s, rn from (
         |      select *, row_number() over (partition by k
         |        order by s desc) as rn from aspy_agg) where rn <= 1;
         |END;
         |""".stripMargin, "share-ret", durationSec = 40)
    assert(readAll("SELECT K, TOTAL FROM ASPSR1", 2) === Seq(Seq(0L, 28L)))
    assert(readAll("SELECT K, S, RN FROM ASPSR2", 3) ===
      Seq(Seq(0L, 13L, 1L)))
  }

  test("graft.streaming.intermediate-retention bounds the managed " +
      "intermediate: data files every consumer has committed are " +
      "deleted past the horizon while the pipeline's values stay " +
      "exact (r20)") {
    resetTable("ASPRET",
      "CREATE TABLE ASPRET (K BIGINT PRIMARY KEY, TOTAL BIGINT)")
    val matBase = Files.createTempDirectory("graft-aspret-mat").toString
    run(
      s"""SET execution.runtime-mode = streaming;
         |SET table.exec.state.ttl = 600 s;
         |SET graft.streaming.auto-split-updating = true;
         |SET graft.streaming.intermediate-dir = $matBase;
         |SET graft.streaming.intermediate-retention = 0 s;
         |${srcAndView("aspn")}
         |create table aspn_sink (k bigint, total bigint,
         |  primary key (k) not enforced
         |) with ('connector' = 'jdbc', 'url' = '$url',
         |  'table-name' = 'ASPRET');
         |insert into aspn_sink
         |select k, sum(s) as total from aspn_agg group by k;
         |""".stripMargin, "retention", durationSec = 40)
    // deletion never cost the consumer a row: the fold saw all four
    // closed windows (1 + 5 + 9 + 13)
    assert(readAll("SELECT K, TOTAL FROM ASPRET", 2) === Seq(Seq(0L, 28L)))
    val matDir = new java.io.File(matBase).listFiles()
      .filter(_.getName.startsWith("graft_mat_aspn_agg_")).head
    val entries = matDir.listFiles().map(_.getName).toSeq
    assert(entries.contains("_spark_metadata"), entries.toString)
    // sustained input is REAL here: the rate source keeps ticking past
    // the sequence end, so stage 1 appends a (mostly empty) parquet
    // file per micro-batch — an unswept 25 s run accumulates 14+. The
    // sink manifest records every file ever committed; the directory
    // itself must be at STEADY STATE: the one-batch safety margin
    // plus the last batch or two stage 2 has not committed yet.
    val everWritten = new java.io.File(matDir, "_spark_metadata")
      .listFiles().filter(f => !f.getName.startsWith("."))
      .flatMap(f => "\"path\":".r.findAllIn(
        new String(java.nio.file.Files.readAllBytes(f.toPath),
          "UTF-8")).toSeq).length
    val dataFiles = entries
      .filterNot(Set("_spark_metadata", "_graft_swept"))
      .filterNot(_.startsWith("."))
    assert(dataFiles.size <= 5, s"steady state exceeded: $dataFiles")
    assert(everWritten >= dataFiles.size + 5,
      s"expected the sweep to have deleted committed files: " +
        s"everWritten=$everWritten remaining=${dataFiles.size}")
  }

  test("durable restart composes with retention: a KILLED run whose " +
      "committed files were already deleted still resumes " +
      "exactly-once (r20: the restored seen-files log skips them)") {
    resetTable("ASPDR",
      "CREATE TABLE ASPDR (K BIGINT PRIMARY KEY, TOTAL BIGINT)")
    val cpBase = Files.createTempDirectory("graft-aspdr-cp").toString
    def script: String =
      s"""SET execution.runtime-mode = streaming;
         |SET table.exec.state.ttl = 600 s;
         |SET graft.streaming.auto-split-updating = true;
         |SET execution.checkpointing.enabled = true;
         |SET state.checkpoints.dir = $cpBase;
         |SET graft.streaming.intermediate-retention = 0 s;
         |create table aspdr_src (
         |  k bigint,
         |  seq bigint,
         |  v as seq,
         |  ts as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 30 as int)),
         |  watermark for ts as ts - interval '1' second
         |) with ('connector' = 'datagen', 'rows-per-second' = '1',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '9',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create or replace temporary view aspdr_agg as
         |  select k, window_time, sum(v) as s
         |  from table(tumble(table aspdr_src, descriptor(ts),
         |    interval '1' minute))
         |  group by k, window_start, window_end, window_time;
         |create table aspdr_sink (k bigint, total bigint,
         |  primary key (k) not enforced
         |) with ('connector' = 'jdbc', 'url' = '$url',
         |  'table-name' = 'ASPDR');
         |insert into aspdr_sink
         |select k, sum(s) as total from aspdr_agg group by k;
         |""".stripMargin
    val file = Files.createTempFile("graft-asp-dr-", ".sql")
    Files.writeString(file, script)
    // phase 1: killed mid-generation; the 0 s retention has already
    // deleted every file stage 2 committed by then
    new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(SparkFixture.spark), durationSec = 8).run()
    // phase 2: the restored file-source seen-files log must SKIP the
    // deleted-but-committed files (no read error, no replay) and the
    // fold must land exactly once
    new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(SparkFixture.spark), durationSec = 40).run()
    assert(readAll("SELECT K, TOTAL FROM ASPDR", 2) === Seq(Seq(0L, 28L)))
  }

  test("a durable intermediate an EARLIER run swept refuses a brand-new " +
      "consumer: the sweep's marker outlives the run, so the new sink " +
      "cannot replay files the manifest still lists") {
    resetTable("ASPSWA",
      "CREATE TABLE ASPSWA (K BIGINT PRIMARY KEY, TOTAL BIGINT)")
    resetTable("ASPSWB",
      "CREATE TABLE ASPSWB (K BIGINT PRIMARY KEY, TOTAL BIGINT)")
    val cpBase = Files.createTempDirectory("graft-aspsw-cp").toString
    // both runs share the session, so the view must be replaceable
    val srcView = srcAndView("aspsw")
      .replace("create temporary view", "create or replace temporary view")
    def script(sink: String): String =
      s"""SET execution.runtime-mode = streaming;
         |SET table.exec.state.ttl = 600 s;
         |SET graft.streaming.auto-split-updating = true;
         |SET execution.checkpointing.enabled = true;
         |SET state.checkpoints.dir = $cpBase;
         |SET graft.streaming.intermediate-retention = 0 s;
         |$srcView
         |create table aspsw_$sink (k bigint, total bigint,
         |  primary key (k) not enforced
         |) with ('connector' = 'jdbc', 'url' = '$url',
         |  'table-name' = 'ASPSW${sink.toUpperCase}');
         |insert into aspsw_$sink
         |select k, sum(s) as total from aspsw_agg group by k;
         |""".stripMargin
    // run 1: the sweep deletes files sink a has committed, which the
    // intermediate's manifest still lists
    run(script("a"), "swept-1", durationSec = 20)
    val matDir = new java.io.File(cpBase, "graft-intermediates").listFiles()
      .filter(_.getName.startsWith("graft_mat_aspsw_agg_")).head
    val listed = new java.io.File(matDir, "_spark_metadata").listFiles()
      .filter(f => !f.getName.startsWith("."))
      .flatMap(f => "\"path\":\"[^\"]*/([^/\"]+)\"".r.findAllMatchIn(
        new String(Files.readAllBytes(f.toPath), "UTF-8")).map(_.group(1)))
    assert(listed.exists(n => !new java.io.File(matDir, n).exists),
      s"run 1 deleted nothing: ${matDir.list().toSeq}")
    // run 2: a NEW sink over the same view recomputes the same path
    val msgs = interceptMessages(script("b"), "swept-2")
    assert(msgs.exists(_.contains("cannot attach another consumer")),
      msgs.mkString("\n"))
  }

  private def interceptMessages(script: String, tag: String,
      durationSec: Long = 10): Seq[String] = {
    val file = Files.createTempFile(s"graft-asp-$tag-", ".sql")
    Files.writeString(file, script)
    val e = intercept[Exception] {
      new SqlSubmitAction(file.toString, Map.empty,
        existingSession = Some(SparkFixture.spark),
        durationSec = durationSec).run()
    }
    Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
  }

  test("auto-split declines an UPDATE-mode stateful view (unbounded " +
      "GROUP BY): the named rejection is kept instead of a raw " +
      "append-mode AnalysisException on generated SQL (r20 advice)") {
    val msgs = interceptMessages(
      s"""SET execution.runtime-mode = streaming;
         |SET table.exec.state.ttl = 600 s;
         |SET graft.streaming.auto-split-updating = true;
         |create table aspu_src (
         |  k bigint,
         |  seq bigint,
         |  v as seq,
         |  ts as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 30 as int)),
         |  watermark for ts as ts - interval '1' second
         |) with ('connector' = 'datagen', 'rows-per-second' = '5',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '9',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create temporary view aspu_agg as
         |  select k, sum(v) as s from aspu_src group by k;
         |create table aspu_sink (k bigint, s bigint, rn bigint) with (
         |  'connector' = 'print');
         |insert into aspu_sink
         |select k, s, rn from (
         |  select *, row_number() over (partition by k order by s desc)
         |    as rn from aspu_agg) where rn <= 2;
         |""".stripMargin, "upd-view")
    assert(msgs.exists(_.contains("cannot run above another stateful")),
      msgs.mkString(" | "))
    assert(!msgs.exists(_.toLowerCase.contains("append output mode")),
      msgs.mkString(" | "))
  }

  test("an intermediate-dir outside the path charset keeps the named " +
      "rejection instead of failing on engine-generated DDL (r20 " +
      "advice)") {
    val msgs = interceptMessages(
      s"""SET execution.runtime-mode = streaming;
         |SET table.exec.state.ttl = 600 s;
         |SET graft.streaming.auto-split-updating = true;
         |SET graft.streaming.intermediate-dir = /tmp/graft bad(dir;
         |${srcAndView("aspb")}
         |create table aspb_sink (k bigint, total bigint) with (
         |  'connector' = 'print');
         |insert into aspb_sink
         |select k, sum(s) as total from aspb_agg group by k;
         |""".stripMargin, "bad-dir")
    assert(msgs.exists(m => m.contains("cannot run above another stateful")
      && m.contains("auto-split-updating")), msgs.mkString(" | "))
  }

  test("a view column outside the identifier charset (unaliased " +
      "aggregate) keeps the named rejection instead of failing on " +
      "engine-generated DDL (r20 advice)") {
    val msgs = interceptMessages(
      s"""SET execution.runtime-mode = streaming;
         |SET table.exec.state.ttl = 600 s;
         |SET graft.streaming.auto-split-updating = true;
         |create table aspc_src (
         |  k bigint,
         |  seq bigint,
         |  v as seq,
         |  ts as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 30 as int)),
         |  watermark for ts as ts - interval '1' second
         |) with ('connector' = 'datagen', 'rows-per-second' = '5',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '9',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create temporary view aspc_agg as
         |  select k, window_time, sum(v)
         |  from table(tumble(table aspc_src, descriptor(ts),
         |    interval '1' minute))
         |  group by k, window_start, window_end, window_time;
         |create table aspc_sink (k bigint, c bigint) with (
         |  'connector' = 'print');
         |insert into aspc_sink
         |select k, count(*) as c from aspc_agg group by k;
         |""".stripMargin, "bad-col")
    assert(msgs.exists(_.contains("cannot run above another stateful")),
      msgs.mkString(" | "))
  }

  test("without the knob the one-statement form keeps the named " +
      "rejection, which now names the knob (r19)") {
    val script =
      s"""SET execution.runtime-mode = streaming;
         |SET table.exec.state.ttl = 600 s;
         |${srcAndView("aspr")}
         |create table aspr_sink (k bigint, total bigint) with (
         |  'connector' = 'print');
         |insert into aspr_sink
         |select k, sum(s) as total from aspr_agg group by k;
         |""".stripMargin
    val file = Files.createTempFile("graft-aspr-", ".sql")
    Files.writeString(file, script)
    val e = intercept[Exception] {
      new SqlSubmitAction(file.toString, Map.empty,
        existingSession = Some(SparkFixture.spark), durationSec = 10).run()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .toSeq
    assert(msgs.exists(m => m.contains("cannot run above another stateful")
      && m.contains("auto-split-updating")), msgs.mkString(" | "))
  }
}
