package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import graft.SparkFixture
import graft.harness.SqlSubmitAction
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming-semantics tests (SURVEY.md §5 item 5): watermark late-row
  * dropping and interval joins through `sql-submit`, the injected
  * streaming rules (HLL distinct, dedup and top-1 rewrites), checkpoint
  * restart, and the stream-static faces in [[StreamOps]].
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  test("extension-injected functions resolve in plain SQL without register()") {
    // SparkFixture builds with GraftSparkExtensions: graft_* must work
    // through spark.sql alone (cluster wiring via spark.sql.extensions)
    val h = spark.sql("SELECT graft_poly_hash('abc') AS h")
      .collect().head.getLong(0)
    // ((0*31+97)*31+98)*31+99 mod 1e9+7
    assert(h == ((97L * 31 + 98) * 31 + 99) % 1000000007L)
  }

  test("resolution rule rewrites streaming COUNT(DISTINCT) to HLL") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    input.toDF().toDF("dim", "uid").createOrReplaceTempView("sad_src")
    // native Spark rejects this plan; the injected StreamingApproxDistinct
    // rule must rewrite it during analysis
    val agg = spark.sql(
      "SELECT dim, COUNT(DISTINCT uid) AS dis FROM sad_src GROUP BY dim")
    val query = agg.writeStream.format("memory")
      .queryName("sad_agg").outputMode("complete").start()
    try {
      input.addData(("a", 1L), ("a", 1L), ("a", 2L), ("b", 7L))
      query.processAllAvailable()
      val got = spark.table("sad_agg")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // HLL is exact at this cardinality
      assert(got == Map("a" -> 2L, "b" -> 1L))
      // batch plans must be untouched (exact distinct still planned)
      val batchPlan = spark.range(5).selectExpr("id % 2 AS k", "id AS v")
        .groupBy($"k").agg(countDistinct($"v"))
        .queryExecution.optimizedPlan.toString
      assert(!batchPlan.contains("approx_count_distinct"))
    } finally query.stop()
  }

  /** Runs `script` through sql-submit on the shared session for 15 s:
    * an unbounded file source never finishes on its own. */
  private def submit(script: String): Unit = {
    val file = Files.createTempFile("graft-stream-", ".sql")
    try {
      Files.writeString(file, script)
      new SqlSubmitAction(file.toString, Map.empty, Some(spark),
        durationSec = 15L).run()
    } finally Files.deleteIfExists(file): Unit
  }

  /** Streaming-mode script header: a durable checkpoint under `dir`, so
    * a second run of the same script resumes the first one's offsets
    * and watermark. Each run reads only the files added since. */
  private def restartable(dir: String, name: String): String =
    s"""SET execution.runtime-mode = streaming;
       |SET execution.checkpointing.enabled = true;
       |SET state.checkpoints.dir = file://$dir/cp;
       |SET pipeline.name = $name;
       |""".stripMargin

  test("sql-submit: a TUMBLE GROUP BY does not count a row behind the DDL watermark") {
    val dir = Files.createTempDirectory("graft-late-row").toString
    def put(rows: (Timestamp, String, Double)*): Unit =
      rows.toDF("row_time", "dim", "price").write.mode("append")
        .parquet(s"$dir/src")
    val script = restartable(dir, "late-row") +
      s"""create table src (
         |  row_time timestamp(3),
         |  dim string,
         |  price double,
         |  watermark for row_time as row_time - interval '5' second
         |) with ('connector' = 'filesystem', 'path' = 'file://$dir/src',
         |  'format' = 'parquet');
         |create table snk (ws timestamp, dim string, pv bigint,
         |  sum_price double) with ('connector' = 'filesystem',
         |  'path' = 'file://$dir/out', 'format' = 'parquet');
         |insert into snk
         |select TUMBLE_START(row_time, INTERVAL '1' MINUTE) as ws, dim,
         |  count(*) as pv, sum(price) as sum_price
         |from src group by dim, TUMBLE(row_time, INTERVAL '1' MINUTE);
         |""".stripMargin
    put((ts(60), "a", 1.0), (ts(70), "a", 2.0), (ts(300), "b", 9.0))
    submit(script) // watermark -> 295 s, so [60,120) closes for "a"
    // the row at 65 s is behind the restored watermark when it arrives
    put((ts(65), "a", 100.0), (ts(600), "c", 1.0))
    submit(script) // watermark -> 595 s, so [300,360) closes for "b"
    val got = spark.read.parquet(s"$dir/out")
      .select($"dim", $"pv", $"sum_price").as[(String, Long, Double)]
      .collect().toSeq
    // the late row is not counted, and no second "a" window emits;
    // "b" shows that the second run processed its batch
    assert(got.sortBy(_._1) == Seq(("a", 2L, 3.0), ("b", 1L, 9.0)), got)
  }

  test("sql-submit: a BETWEEN interval join pairs in-window rows, drops late ones") {
    val dir = Files.createTempDirectory("graft-interval-join").toString
    def put(table: String, rows: (Long, Timestamp)*): Unit =
      rows.toDF("user_id", "t").write.mode("append").parquet(s"$dir/$table")
    def source(name: String) =
      s"""create table $name (
         |  user_id bigint,
         |  t timestamp(3),
         |  watermark for t as t - interval '5' second
         |) with ('connector' = 'filesystem', 'path' = 'file://$dir/$name',
         |  'format' = 'parquet');
         |""".stripMargin
    val script = restartable(dir, "interval-join") + source("purchases") +
      source("clicks") +
      s"""create table snk (p_user bigint, p_time timestamp,
         |  c_time timestamp) with ('connector' = 'filesystem',
         |  'path' = 'file://$dir/out', 'format' = 'parquet');
         |insert into snk
         |select p.user_id as p_user, p.t as p_time, c.t as c_time
         |from purchases p join clicks c
         |  on p.user_id = c.user_id
         |  and c.t between p.t - interval '60' second and p.t;
         |""".stripMargin
    put("clicks", (1L, ts(100)), (1L, ts(150)), (1L, ts(170)), (2L, ts(160)))
    put("purchases", (1L, ts(165)))
    submit(script) // watermark -> min(165, 170) - 5 = 160 s
    def pairs() = spark.read.parquet(s"$dir/out")
      .select($"p_user", $"c_time").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000)).toSet
    // user 1's purchase at 165: only the click at 150 is in [105,165];
    // 100 is too old, 170 is after, user 2 is another key
    assert(pairs() == Set((1L, 150L)))
    // the click at 155 lies in the held purchase's window but behind
    // the restored watermark, so it joins nothing
    put("clicks", (9L, ts(990)), (1L, ts(155)))
    put("purchases", (9L, ts(1000)))
    submit(script)
    assert(pairs() == Set((1L, 150L), (9L, 990L)))
  }

  test("stream-static incremental dedup drops known fingerprints statelessly") {
    implicit val sc = spark.sqlContext
    val corpus = Seq(100L, 200L).toDF("fp")
    val input = MemoryStream[(Long, Long)]
    val deduped = StreamOps.incrementalDedup(
      input.toDF().toDF("doc_id", "fp"), corpus, "fp")
    val query = deduped.writeStream.format("memory")
      .queryName("inc_dedup").outputMode("append").start()
    try {
      input.addData((1L, 100L), (2L, 300L), (3L, 200L), (4L, 400L))
      query.processAllAvailable()
      val kept = spark.table("inc_dedup")
        .select($"doc_id").as[Long].collect().sorted.toSeq
      assert(kept == Seq(2L, 4L))
      // a later batch is filtered against the same static corpus
      input.addData((5L, 100L), (6L, 500L))
      query.processAllAvailable()
      val kept2 = spark.table("inc_dedup")
        .select($"doc_id").as[Long].collect().sorted.toSeq
      assert(kept2 == Seq(2L, 4L, 6L))
      // stateless: the join keeps no streaming state between batches
      assert(query.lastProgress.stateOperators.isEmpty)
    } finally query.stop()
  }

  test("stream-static minhash near-dup flags pairs once despite multi-band hits") {
    implicit val sc = spark.sqlContext
    // K=16 signatures, 4 bands × 4 rows; agreement floor 12
    val corpus = Seq(
      (100L, (1L to 16L).toSeq),
      (200L, (101L to 116L).toSeq)).toDF("doc_id", "sig")
    val index = StreamOps.minhashBandIndex(corpus, "doc_id", "sig", 4, 4)
    val input = MemoryStream[(Long, Timestamp, Seq[Long])]
    val flagged = StreamOps.nearDupCandidates(
      input.toDF().toDF("doc_id", "row_time", "sig"),
      "doc_id", "sig", "row_time", "5 seconds", index, 4, 4, 12)
    val query = flagged.writeStream.format("memory")
      .queryName("near_dup").outputMode("append").start()
    try {
      input.addData(
        // identical to corpus 100: 4 band hits, one output row, agree 16
        (1L, ts(10), (1L to 16L).toSeq),
        // two bands equal but only 8/16 minima agree -> filtered
        (2L, ts(11), (1L to 8L) ++ (901L to 908L)),
        // disjoint -> no band collision at all
        (3L, ts(12), (501L to 516L).toSeq),
        // one element off: 3 band hits, agree 15 -> flagged once
        (4L, ts(13), (1L to 15L) :+ 999L))
      query.processAllAvailable()
      val got = spark.table("near_dup")
        .select($"doc_id", $"corpus_id", $"n_agree")
        .as[(Long, Long, Int)].collect().toSet
      assert(got == Set((1L, 100L, 16), (4L, 100L, 15)))
    } finally query.stop()
  }

  test("stateless bloom screen: members always hit, misses are exact") {
    implicit val sc = spark.sqlContext
    import graft.functions.TextHash
    val bits = 4096
    val corpus = Seq(1001L, 2002L, 3003L).toDF("fp")
    val mask = StreamOps.bloomMaskOf(corpus, "fp", bits, 3)
    assert(mask.length == bits / 64)
    // reference model of the same arithmetic, for exact expectations
    def ps(fp: Long) = (0 until 3).map(j =>
      ((TextHash.a(j) * fp + TextHash.b(j)) % TextHash.P) % bits)
    def hit(fp: Long) = ps(fp).forall(p =>
      ((mask((p / 64).toInt) >> (p % 64).toInt) & 1L) == 1L)
    val probes = Seq(9999L, 123456L, 55555L)
    assert(probes.exists(!hit(_)), "sizing should leave a definite miss")
    val input = MemoryStream[(Long, Long)]
    val screened = StreamOps.bloomScreen(
      input.toDF().toDF("doc_id", "fp"), "fp", mask, 3)
    val query = screened.writeStream.format("memory")
      .queryName("bloom_screen").outputMode("append").start()
    try {
      input.addData((1L, 1001L), (2L, probes(0)), (3L, 2002L),
        (4L, probes(1)))
      query.processAllAvailable()
      val got = spark.table("bloom_screen")
        .select($"doc_id", $"fp", $"bloom_hit")
        .as[(Long, Long, Boolean)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      // members always hit; non-members match the model exactly
      assert(got(1L)._2 && got(3L)._2)
      assert(got(2L)._2 == hit(probes(0)))
      assert(got(4L)._2 == hit(probes(1)))
      // a later batch screens against the same literal mask — and the
      // plan keeps NO streaming state at all (pure projection)
      input.addData((5L, 3003L), (6L, probes(2)))
      query.processAllAvailable()
      val all = spark.table("bloom_screen")
        .select($"doc_id", $"bloom_hit").as[(Long, Boolean)]
        .collect().toMap
      assert(all(5L) && all(6L) == hit(probes(2)))
      assert(all.size == 6)
      assert(query.lastProgress.stateOperators.isEmpty)
    } finally query.stop()
  }

  test("checkpoint restart resumes exactly-once (test.sql:8-9 semantics)") {
    // a stateful agg with a checkpointLocation, killed mid-stream and
    // restarted: the new query must recover BOTH the aggregation state
    // (no lost keys) and the source offsets (no reprocessed keys)
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Long]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val agg = input.toDF().toDF("v")
      .groupBy($"v").agg(count(lit(1)).as("n"))
    def start(name: String) = agg.writeStream.format("memory")
      .queryName(name).outputMode("complete")
      .option("checkpointLocation", ckpt).start()
    val q1 = start("ckpt_a")
    try {
      input.addData(1L to 5L: _*)
      q1.processAllAvailable()
      assert(spark.table("ckpt_a").count() == 5)
    } finally q1.stop()
    // rows arriving while the job is down
    input.addData(6L to 10L: _*)
    val q2 = start("ckpt_b")
    try {
      q2.processAllAvailable()
      val rows = spark.table("ckpt_b").select($"v", $"n")
        .as[(Long, Long)].collect().toMap
      assert(rows.keySet == (1L to 10L).toSet) // state recovered: no loss
      assert(rows.values.forall(_ == 1L)) // offsets recovered: no duplicates
    } finally q2.stop()
  }

  test("Flink streaming dedup pattern rewrites onto Deduplicate, keep-first") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    input.toDF().toDF("k", "t", "v").createOrReplaceTempView("fl_dedup_src")
    val sql = """SELECT k, v, rn FROM (
      SELECT k, v, ROW_NUMBER() OVER (PARTITION BY k ORDER BY t ASC) AS rn
      FROM fl_dedup_src) WHERE rn = 1"""
    val df = spark.sql(sql)
    assert(df.queryExecution.analyzed.collect {
      case d: org.apache.spark.sql.catalyst.plans.logical.Deduplicate => d
    }.nonEmpty, "expected a Deduplicate node in the rewritten plan")
    val q = df.writeStream.format("memory")
      .queryName("fl_dedup").outputMode("append").start()
    try {
      // distinct keys per batch: within-batch keep-first order is
      // shuffle-dependent, across batches it is deterministic
      input.addData((1L, ts(10), "a"), (2L, ts(11), "c"))
      q.processAllAvailable()
      input.addData((1L, ts(12), "z"), (3L, ts(13), "d")) // (1, z) dup key
      q.processAllAvailable()
      val got = spark.table("fl_dedup").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      assert(got == Set((1L, "a", 1), (2L, "c", 1), (3L, "d", 1)))
    } finally q.stop()
    // batch plans keep the real window (WindowGroupLimit path)
    Seq((1L, ts(2), "b"), (1L, ts(1), "a")).toDF("k", "t", "v")
      .createOrReplaceTempView("fl_dedup_b")
    val batch = spark.sql(sql.replace("fl_dedup_src", "fl_dedup_b"))
    assert(batch.queryExecution.analyzed.collect {
      case d: org.apache.spark.sql.catalyst.plans.logical.Deduplicate => d
    }.isEmpty)
    assert(batch.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a")))
  }

  test("keep-last dedup (rn=1 ORDER BY time DESC) runs as an updating argmax") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    input.toDF().toDF("k", "t", "v").createOrReplaceTempView("fl_last_src")
    val df = spark.sql("""SELECT k, v, rn FROM (
      SELECT k, t, v, ROW_NUMBER() OVER (PARTITION BY k ORDER BY t DESC) AS rn
      FROM fl_last_src) WHERE rn = 1""")
    // the plan is an argmax Aggregate, not a Deduplicate or a Window
    val analyzed = df.queryExecution.analyzed
    assert(analyzed.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.nonEmpty, analyzed.toString)
    assert(analyzed.collect {
      case d: org.apache.spark.sql.catalyst.plans.logical.Deduplicate => d
    }.isEmpty)
    val q = df.writeStream.format("memory")
      .queryName("fl_last").outputMode("update").start()
    try {
      // within a batch the argmax is exact: "a" (t10) never emits
      input.addData((1L, ts(10), "a"), (1L, ts(12), "z"), (2L, ts(11), "c"))
      q.processAllAvailable()
      // a LATE row with an earlier timestamp loses the argmax — the
      // case keep-first Deduplicate would get wrong
      input.addData((1L, ts(11), "y"))
      q.processAllAvailable()
      input.addData((1L, ts(99), "w"))
      q.processAllAvailable()
      val vals = spark.table("fl_last").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
      assert(!vals.exists(v => v._2 == "a" || v._2 == "y"), vals)
      assert(vals.contains((1L, "w", 1)) && vals.contains((2L, "c", 1)), vals)
      assert(vals.forall(_._3 == 1))
    } finally q.stop()
  }

  test("argmax ranks NULL-ordered rows like batch ROW_NUMBER null placement") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Option[Long], String)]
    input.toDF().toDF("k", "t", "price", "tag")
      .createOrReplaceTempView("fl_null_src")
    // DESC = NULLS LAST (Spark batch): a real price beats NULL, and a
    // key with ONLY NULL prices still emits its actual row, not a
    // NULL-padded struct
    val df = spark.sql("""SELECT k, price, tag FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY price DESC) AS rn
      FROM fl_null_src) WHERE rn = 1""")
    val q = df.writeStream.format("memory")
      .queryName("fl_null").outputMode("update").start()
    try {
      input.addData(
        (1L, ts(1), None, "n1"), (1L, ts(2), Some(5L), "p5"),
        (2L, ts(3), None, "n2"))
      q.processAllAvailable()
      val got = spark.table("fl_null")
        .select($"k", $"price", $"tag")
        .as[(Long, Option[Long], String)].collect().toSet
      assert(got === Set((1L, Some(5L), "p5"), (2L, None, "n2")), got)
    } finally q.stop()
  }

  test("value-ordered streaming top-1 runs as an updating min_by/max_by") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String)]
    input.toDF().toDF("k", "t", "price", "tag")
      .createOrReplaceTempView("fl_top1_src")
    val df = spark.sql("""SELECT k, price, tag FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY price ASC) AS rn
      FROM fl_top1_src) WHERE rn = 1""")
    val q = df.writeStream.format("memory")
      .queryName("fl_top1").outputMode("update").start()
    try {
      input.addData((1L, ts(1), 5L, "p5"), (1L, ts(2), 3L, "p3"),
        (2L, ts(3), 9L, "p9"))
      q.processAllAvailable()
      input.addData((1L, ts(4), 7L, "p7")) // loses to the held min 3
      q.processAllAvailable()
      input.addData((1L, ts(5), 1L, "p1")) // new min
      q.processAllAvailable()
      val vals = spark.table("fl_top1").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
      assert(!vals.exists(v => v._2 == 5L || v._2 == 7L), vals)
      assert(vals.contains((1L, 1L, "p1")) && vals.contains((2L, 9L, "p9")),
        vals)
    } finally q.stop()
  }

  test("dedup rewrite on a watermarked order column emits the arrival-order notice") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    // an EVENT-time (watermarked) order key: keep-first-arrival only
    // matches Flink's min-rowtime dedup for in-order input, so the
    // rewrite must say so on stderr when it fires
    input.toDF().toDF("k", "t", "v").withWatermark("t", "10 seconds")
      .createOrReplaceTempView("fl_dedup_wm")
    val captured = new java.io.ByteArrayOutputStream()
    val old = System.err
    val analyzed = try {
      System.setErr(new java.io.PrintStream(captured, true))
      spark.sql("""SELECT k FROM (SELECT k, ROW_NUMBER() OVER (
        PARTITION BY k ORDER BY t ASC) AS rn FROM fl_dedup_wm)
        WHERE rn = 1""").queryExecution.analyzed
    } finally System.setErr(old)
    assert(analyzed.collect {
      case d: org.apache.spark.sql.catalyst.plans.logical.Deduplicate => d
    }.nonEmpty)
    assert(captured.toString.contains("FIRST-ARRIVING"), captured.toString)
  }

  test("streaming ANN lookup: top-k per query emits on watermark, equals scalar math") {
    implicit val sc = spark.sqlContext
    graft.functions.GraftFunctions.register(spark)
    // corpus: two axis-aligned clusters in dim 4, ids chosen so ties
    // can't occur (every quantized cosine distinct per bucket)
    val corpus = Seq(
      (10L, Seq(1.0f, 0.1f, 0f, 0f)), (11L, Seq(1.0f, 0.2f, 0f, 0f)),
      (12L, Seq(1.0f, 0.3f, 0f, 0f)), (13L, Seq(1.0f, 0.4f, 0f, 0f)),
      (20L, Seq(0.1f, 1.0f, 0f, 0f)), (21L, Seq(0.2f, 1.0f, 0f, 0f)),
      (22L, Seq(0.3f, 1.0f, 0f, 0f)))
    val centroids = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0, 0.0)))
    val centDf = centroids.toDF("cid", "cv")
    val index = StreamOps.annIndex(
      corpus.toDF("vec_id", "embedding"), "vec_id", "embedding", centDf)
    // scalar reference: identical IEEE sequential fold as the engine
    def norm(v: Seq[Float]): Seq[Double] = {
      val d = v.map(_.toDouble)
      val n = math.sqrt(d.foldLeft(0.0)((a, x) => a + x * x))
      d.map(_ / n)
    }
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0)((acc, p) => acc + p._1 * p._2)
    def q(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
    def expectTopK(qv: Seq[Float], k: Int): Seq[(Long, Long)] = {
      val qn = norm(qv)
      val cid = centroids.map { case (c, cv) => (q(dot(qn, cv)), -c, c) }
        .max._3
      corpus.map { case (id, v) => (id, norm(v)) }
        .filter { case (_, nv) =>
          centroids.map { case (c, cv) => (q(dot(nv, cv)), -c, c) }.max._3 == cid }
        .map { case (id, nv) => (q(dot(qn, nv)), id) }
        .sortBy { case (cm, id) => (-cm, id) }.take(k)
        .map { case (cm, id) => (id, cm) }
    }
    val queries = MemoryStream[(Long, Timestamp, Seq[Float])]
    val out = StreamOps.annLookup(
      queries.toDF().toDF("qid", "ts", "vec"), "qid", "vec", "ts", "5 seconds",
      index, centroids, k = 3)
    val query = out.writeStream.format("memory")
      .queryName("ann_lookup").outputMode("append").start()
    try {
      val q1 = Seq(1.0f, 0.15f, 0f, 0f) // x-cluster
      val q2 = Seq(0.25f, 1.0f, 0f, 0f) // y-cluster
      queries.addData((100L, ts(10), q1), (200L, ts(11), q2))
      query.processAllAvailable()
      // watermark has not passed the query times: nothing emitted yet
      assert(spark.table("ann_lookup").count() == 0)
      queries.addData((999L, ts(1000), q1))
      query.processAllAvailable()
      val got = spark.table("ann_lookup")
        .select($"qid", $"corpus_id", $"cos_micros", $"rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(t => (t._2, t._3)).toSeq)
        .toMap
      assert(got(100L) == expectTopK(q1, 3))
      assert(got(200L) == expectTopK(q2, 3))
    } finally query.stop()
  }
}
