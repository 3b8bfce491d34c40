package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The stream-static faces of the batch dedup, similarity and vector
  * operators: a micro-batch probes a static corpus (or an index or
  * sketch built from it) with no SQL form in the reference dialect.
  *  - [[incrementalDedup]]: left-anti join on exact fingerprints;
  *  - [[bloomMaskOf]] / [[bloomScreen]]: a Bloom mask built once,
  *    tested per row as a literal;
  *  - [[minhashBandIndex]] / [[nearDupCandidates]]: MinHash LSH band
  *    index and near-duplicate probe;
  *  - [[annIndex]] / [[annLookup]]: IVF index and top-k probe.
  *
  * Watermarked windows, joins, sessions and distinct counts are written
  * in SQL and run through `sql-submit` ([[graft.harness.SqlSubmitAction]]).
  */
object StreamOps {

  /** Streaming incremental dedup: drop incoming docs whose fingerprint
    * already exists in the (static) corpus — the continuous-ingestion
    * face of [[graft.operators.Curation.extIncrementalDedup]]. A
    * stream-static left-anti join needs no state store at all: the
    * static side is broadcast or re-read per micro-batch, and the
    * stream never shuffles into state.
    */
  def incrementalDedup(
      incoming: DataFrame,
      corpusFingerprints: DataFrame,
      fpCol: String): DataFrame =
    incoming.join(
      corpusFingerprints.select(col(fpCol).as("__corpus_fp")),
      col(fpCol) === col("__corpus_fp"), "left_anti")

  /** LSH band keys over a MinHash signature array: one 32-bit key per
    * band, hashing the band's signature slice together with the band
    * index (so equal slices in different bands never collide). Shared by
    * the static index builder and the streaming probe side — both MUST
    * use the identical arithmetic.
    */
  private def bandKeysExpr(sigCol: String, bands: Int, rowsPerBand: Int): String =
    s"transform(sequence(0, ${bands - 1}), " +
      s"b -> hash(slice($sigCol, b * $rowsPerBand + 1, $rowsPerBand), b))"

  /** Bloom mask of a static corpus fingerprint column, as bits/64
    * longs: built through [[graft.functions.BloomMask]] (fixed-width
    * partition partials, OR-merged) and fetched to the driver ONCE.
    * The fetch is the sketch itself — bits/8 bytes REGARDLESS of
    * corpus size (the broadcast-a-sketch pattern), never a
    * corpus-sized materialization; `first()` reads the aggregation's
    * single row.
    */
  def bloomMaskOf(
      corpus: DataFrame, fpCol: String, bits: Int, k: Int): Seq[Long] = {
    val agg = udaf(new graft.functions.BloomMask(bits),
      org.apache.spark.sql.Encoders.scalaLong)
    val ps = graft.functions.BloomMask.positionsExpr(fpCol, bits.toLong, k)
    corpus.select(explode(expr(ps)).as("__pos"))
      .agg(agg(col("__pos")).as("bw"))
      .selectExpr("bw.words AS words")
      .first().getSeq[Long](0)
  }

  /** Stateless streaming Bloom screen: flag each incoming row whose
    * fingerprint hits every mask bit — the sketch-level face of
    * [[incrementalDedup]] when even the fingerprint set is too big to
    * join per micro-batch. The mask rides the plan as a LITERAL word
    * array (no join, no state, pure projection), so the screen costs
    * one row-local bit test per hash; hits carry Bloom's one-sided
    * error (a false-positive rate set by the mask sizing, measurable
    * via [[graft.operators.Curation]]'s ext_bloom_screen oracle) and
    * misses are EXACT non-members — the decisive property for dedup:
    * dropping only confirmed-member hits never loses a novel doc.
    */
  def bloomScreen(
      incoming: DataFrame, fpCol: String,
      maskWords: Seq[Long], k: Int): DataFrame = {
    require(maskWords.nonEmpty, "empty bloom mask")
    val bits = maskWords.length.toLong * 64L
    val wordsLit = maskWords.map(w => s"${w}L")
      .mkString("array(", ", ", ")")
    incoming.withColumn("bloom_hit",
      expr(graft.functions.BloomMask.memberExpr(fpCol, bits, k, wordsLit)))
  }

  /** Static-side MinHash LSH index: one (band_key, corpus_id,
    * corpus_sig) row per band per corpus doc. Built once in batch and
    * joined by every micro-batch — at corpus scale this is the
    * parquet-backed index table a deployment maintains incrementally.
    */
  def minhashBandIndex(
      corpus: DataFrame, idCol: String, sigCol: String,
      bands: Int, rowsPerBand: Int): DataFrame =
    corpus.select(col(idCol).as("corpus_id"), col(sigCol).as("corpus_sig"))
      .select(col("corpus_id"), col("corpus_sig"),
        explode(expr(bandKeysExpr("corpus_sig", bands, rowsPerBand)))
          .as("band_key"))

  /** Streaming near-dup detection against a static corpus MinHash
    * index — the sketch-level face of [[incrementalDedup]]: incoming
    * docs explode to their LSH band keys and stream-static inner-join
    * the index (STATELESS — band collisions need no stream state);
    * signature agreement is confirmed natively on the joined row, and
    * multi-band duplicate hits collapse with
    * `dropDuplicatesWithinWatermark`, the only stateful step, bounded
    * by the watermark.
    *
    * Emits (doc, corpus doc, n_agree) candidate pairs with
    * `n_agree >= minAgree` of the signature's K minima agreeing.
    */
  def nearDupCandidates(
      incoming: DataFrame, idCol: String, sigCol: String,
      eventTime: String, delay: String,
      bandIndex: DataFrame,
      bands: Int, rowsPerBand: Int, minAgree: Int): DataFrame = {
    val agree = s"aggregate(zip_with($sigCol, corpus_sig, " +
      "(x, y) -> IF(x = y, 1, 0)), 0, (a, v) -> a + v)"
    Watermarks.ensure(incoming, eventTime, delay)
      .select(col(idCol), col(sigCol), col(eventTime),
        explode(expr(bandKeysExpr(sigCol, bands, rowsPerBand))).as("band_key"))
      .join(bandIndex, "band_key")
      .filter(col(idCol) =!= col("corpus_id"))
      .select(col(idCol), col("corpus_id"), col(eventTime),
        expr(agree).as("n_agree"))
      .filter(col("n_agree") >= minAgree)
      .dropDuplicatesWithinWatermark(idCol, "corpus_id")
  }

  /** Static IVF index for streaming ANN probes: corpus vectors
    * L2-normalized and bucketed to their nearest centroid (quantized
    * argmax, ties to the smallest centroid id — the batch IVF
    * operator's exact assignment). Build once per corpus snapshot;
    * every micro-batch joins against it. Caller provides centroids as
    * `(cid, cv)` with cv already normalized.
    */
  def annIndex(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame =
    corpus
      .select(col(idCol).as("corpus_id"),
        expr(s"graft_l2_normalize($vecCol)").as("cnv"))
      .crossJoin(broadcast(centroids))
      .select(col("corpus_id"), col("cnv"), col("cid"),
        floor(expr("graft_dot(cnv, cv)") * 1e6d + 0.5d).cast("long").as("cdot"))
      .groupBy(col("corpus_id"))
      .agg(max(struct(col("cdot"), (-col("cid")).as("negcid"),
        col("cid"), col("cnv"))).as("m"))
      .select(col("m.cid").as("cid"), col("corpus_id"), col("m.cnv").as("cnv"))

  /** Streaming approximate-nearest-neighbor lookup: each incoming query
    * vector routes to its nearest centroid (a per-row fold over the
    * centroid array — streaming allows only ONE aggregation, which the
    * top-k needs, so assignment cannot be an argmax aggregate) and
    * probes that centroid's inverted list via a stream-static equi-join
    * on the cluster id. Top-k per query emits in APPEND mode: the
    * aggregation groups by (query id, event time), and the watermarked
    * event-time key finalizes each query's result as the watermark
    * passes it. Ordering is deterministic: quantized cosine descending,
    * corpus id ascending.
    *
    * `centroids` is driver-side (small by construction — the coarse
    * quantizer); it inlines into the plan as a literal array, so the
    * routing is a codegen'd scalar expression, not a join.
    */
  def annLookup(queries: DataFrame, idCol: String, vecCol: String,
      eventTime: String, delay: String,
      index: DataFrame, centroids: Seq[(Long, Seq[Double])],
      k: Int): DataFrame = {
    require(centroids.nonEmpty, "annLookup needs at least one centroid")
    val centSql = centroids.map { case (cid, cv) =>
      s"struct(${cid}L as cid, array(${cv.mkString("D, ")}D) as cv)"
    }.mkString("array(", ", ", ")")
    // lexicographic struct max = (best dot, then smallest cid)
    val best = s"array_max(transform($centSql, " +
      "c -> struct(cast(floor(graft_dot(__qnv, c.cv) * 1000000.0 + 0.5) as long) as d, " +
      "-c.cid as negcid, c.cid as cid))).cid"
    Watermarks.ensure(queries, eventTime, delay)
      .select(col(idCol).as("qid"), col(eventTime).as("__qt"),
        expr(s"graft_l2_normalize($vecCol)").as("__qnv"))
      .withColumn("cid", expr(best))
      .join(index, "cid")
      .select(col("qid"), col("__qt"), col("corpus_id"),
        floor(expr("graft_dot(__qnv, cnv)") * 1e6d + 0.5d).cast("long")
          .as("cos_micros"))
      .groupBy(col("qid"), col("__qt"))
      // size-k heap aggregate: state bounded by k per (query, time)
      // group, not by the probed inverted list's size — partitions
      // pre-trim to k before the shuffle (native TypedImperative form,
      // no per-row encoder: TopKByScoreAgg)
      .agg(expr(s"graft_topk_by_score(cos_micros, corpus_id, $k)").as("tk"))
      .select(col("qid"), col("__qt").as(eventTime),
        posexplode(col("tk.top")).as(Seq("pos", "t")))
      .select(col("qid"), col(eventTime), col("t.corpus_id").as("corpus_id"),
        col("t.cos_micros").as("cos_micros"), (col("pos") + 1L).as("rn"))
  }
}
