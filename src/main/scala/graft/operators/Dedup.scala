package graft.operators

import graft.functions.TextHash._
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` (north-star extension set):
  * exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design (the 100 TB story):
  *  - exact dedup = one hash aggregation on the full text (or its
  *    fingerprint) — single shuffle;
  *  - near-dup pair search canonicalizes exact duplicates FIRST (group
  *    by a 2×30-bit content fingerprint → min doc_id, text carried as
  *    payload): on a corpus with heavy exact duplication,
  *    posting lists and band buckets otherwise grow with the copy count
  *    and pair generation goes quadratic (measured 170× on a 10×
  *    replicated corpus). Dedup-then-near-dup is the required pipeline
  *    order at scale;
  *  - Jaccard near-dup avoids the O(n²) cross join with a posting-list
  *    self-join: explode distinct word-trigram shingle HASHES (8-byte
  *    join keys, not strings), join docs that share one (inverted
  *    index) within a `lang` block, then verify exactly. Its expansion
  *    is Θ(Σ_shingle C(df, 2)) even under the df cap — every true pair
  *    pays once per SHARED shingle — so on a corpus whose near-dup
  *    pair count itself is large the exact path is shuffle-bound by
  *    the output times the witness count (measured at the 100×
  *    variant corpus: ~4.5 B expansion rows where banded MinHash
  *    finds the same 26.9 M pairs in 48.8 s). Operator guidance: run
  *    [[extShingleDfProfile]] first; if the df mass near the cap is
  *    heavy, take the banded-MinHash route and keep the exact path
  *    for verification of its candidates;
  *  - MinHash+LSH replaces the full signature compare with a band-bucket
  *    join: each doc explodes into 4 band keys (one pass, no UNION
  *    re-reads), docs collide only on exact band equality, so the
  *    candidate set is tiny and the verify join stays narrow;
  *  - SimHash packs a doc into 30 bits; near-dup candidates come from
  *    10-bit chunk equality (pigeonhole: hamming ≤ 2 ⇒ some chunk
  *    equal — see [[extSimhashPairs]]).
  */
object Dedup {

  /** Exact dedup: one row per distinct text with canonical id + copies. */
  val extDedupExact: Q = Q(
    "ext_dedup_exact",
    """SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies,
      |  MIN(n_chars) AS n_chars
      |FROM documents GROUP BY text""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "documents")
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_copies"),
        min(col("n_chars")).as("n_chars"))
      .drop("text")
  }

  /** Document-frequency cap for the exact-Jaccard pair-expansion paths:
    * shingles shared by more than this many canonical docs are dropped
    * from CANDIDATE GENERATION (a pair sharing only ultra-common
    * boilerplate shingles is not a near-dup signal; the banded-MinHash
    * path carries recall for those). Without the cap, pair expansion is
    * quadratic in a hot shingle's df and the per-shingle aggregation
    * state grows with it — the one shape that kills the query at
    * corpus scale. Knob: `graft.dedup.df-cap` (session conf); the
    * DuckDB oracle pins this default, so override it only for scale
    * experiments, not oracle runs. Dropped-shingle counts surface via
    * `Dataset.observe` → [[graft.functions.GraftMetrics]] (the
    * no-silent-caps rule).
    */
  val DfCapDefault = 1000

  private def dfCap(s: org.apache.spark.sql.SparkSession): Int =
    s.conf.getOption("graft.dedup.df-cap").map { v =>
      val n = scala.util.Try(v.trim.toInt).getOrElse(
        throw new IllegalArgumentException(
          s"graft.dedup.df-cap must be a positive integer, got '$v'"))
      require(n > 0, s"graft.dedup.df-cap must be positive, got $n")
      n
    }.getOrElse(DfCapDefault)

  /** Spark SQL: distinct word-trigram shingle hash array (native
    * per-shingle hash; see [[graft.functions.PolyHash]] and the shingle
    * rationale in [[graft.functions.TextHash.shingleHashesSpark]]).
    */
  private val gramHashesSpark: String =
    s"array_distinct(${shingleHashesSpark("toks")})"

  /** DuckDB: identical distinct trigram shingle hashes. */
  private val gramHashesDuck: String =
    s"list_distinct(${shingleHashesDuck("toks")})"

  /** DuckDB CTE chain `fdoc, canon, d, post, cand`: fingerprinted docs →
    * exact-canonicalized docs (grouped on the 2×30-bit fingerprint, text
    * carried as arg_min payload — mirror of [[canonicalDocs]]) → distinct
    * shingle hashes → posting list → candidate pairs with columns
    * (doc_a, doc_b, sz_a, sz_b, inter). Shared by the Jaccard pair query
    * and the connected-components clustering oracle.
    */
  /** The one spelling (per dialect) of the content-fingerprint pair
    * projection over `documents` — every canonicalization derives from
    * these, so a fingerprint change cannot desynchronize a dialect.
    */
  private def fdocDuck(cols: String): String =
    s"SELECT $cols, ${polyHashDuck("text")} AS fp, " +
      s"${polyHashDuck("text", 131L)} AS fp2 FROM documents"

  private def fdocSpark(cols: String): String =
    s"SELECT $cols, graft_poly_hash(text) AS fp, " +
      "graft_poly_hash2(text) AS fp2 FROM documents"

  private val pairCtesDuck: String =
    s"""fdoc AS (${fdocDuck("doc_id, lang, text")}),
       |canon AS (
       |  SELECT MIN(doc_id) AS doc_id, lang, fp, fp2,
       |    arg_min(text, doc_id) AS text
       |  FROM fdoc GROUP BY fp, fp2, lang),
       |d AS (
       |  SELECT doc_id, lang, $gramHashesDuck AS ghs
       |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM canon)),
       |post AS (SELECT doc_id, lang, LEN(ghs) AS sz, UNNEST(ghs) AS gh FROM d),
       |dfc AS (
       |  SELECT gh, lang FROM post GROUP BY gh, lang
       |  HAVING COUNT(*) <= $DfCapDefault),
       |cand AS (
       |  SELECT p1.doc_id AS doc_a, p2.doc_id AS doc_b,
       |    p1.sz AS sz_a, p2.sz AS sz_b, COUNT(*) AS inter
       |  FROM post p1 JOIN post p2
       |    ON p1.gh = p2.gh AND p1.lang = p2.lang AND p1.doc_id < p2.doc_id
       |  JOIN dfc ON dfc.gh = p1.gh AND dfc.lang = p1.lang
       |  GROUP BY 1, 2, 3, 4)""".stripMargin

  /** Adds the 2×30-bit content fingerprint (independent 31/131
    * polynomial folds — ~60 bits combined). Map-side, codegen'd, one
    * pass over the text per fold.
    */
  private def withFingerprint(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.withColumn("fp", expr("graft_poly_hash(text)"))
      .withColumn("fp2", expr("graft_poly_hash2(text)"))

  /** Exact-dedup canonicalization: one representative doc per content
    * fingerprint × lang — the mandatory first stage of every near-dup
    * pipeline (see the object Scaladoc).
    *
    * Fingerprint-first: the groupBy keys are (fp, fp2, lang) — three
    * fixed-width ints — with the text riding along as a `min_by`
    * payload. The text bytes still cross the wire exactly once (that is
    * the floor for any exact dedup), but the shuffle SORTS AND COMPARES
    * 8-byte keys instead of kilobyte strings, which is the difference
    * that matters at 100 TB. Everything downstream shuffles 8-byte
    * shingle/band hashes only. A fingerprint collision (two texts, one
    * key — ~2^-60 per pair here; production would widen to 128-bit)
    * merges the pair in BOTH engines: the oracle runs the identical
    * arithmetic.
    */
  private[operators] def canonicalDocs(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    withFingerprint(docs)
      .groupBy(col("fp"), col("fp2"), col("lang"))
      .agg(min(col("doc_id")).as("doc_id"),
        min_by(col("text"), col("doc_id")).as("text"))

  /** Grouped-posting-list pair expansion shared by the exact-Jaccard
    * paths: postings shuffle ONCE on the shingle key(s), each list
    * collects through the df-capped aggregate
    * ([[graft.functions.CappedPostings]] — state bounded at cap+1,
    * true df carried), hot shingles (df > cap) are dropped BEFORE
    * `graft_doc_pairs` expands pairs, with the dropped count observed
    * per the no-silent-caps rule, and the pair-keyed count is the only
    * other shuffle.
    */
  private def pairsFromPost(
      post: org.apache.spark.sql.DataFrame, byLang: Boolean,
      cap: Int, metricName: String): org.apache.spark.sql.DataFrame = {
    val keys = if (byLang) Seq(col("gh"), col("lang")) else Seq(col("gh"))
    post
      .groupBy(keys: _*)
      // native TypedImperativeAggregate (primitive-array buffer), not a
      // typed Aggregator: the per-row encoder + Vector-append of the
      // udaf form cost ~2.7 µs per posting (r21 decomposition: the agg
      // stage alone was ~0.7 s of ext_jaccard_pairs' 1.2 s at sf0.1)
      .agg(expr(s"graft_capped_postings(doc_id, sz, $cap)").as("pl"))
      .observe(metricName,
        sum(when(col("pl.df") > cap, 1L).otherwise(0L))
          .as("dropped_shingles"),
        max(col("pl.df")).as("max_df"))
      .filter(col("pl.df") <= cap)
      .select(explode(expr("graft_doc_pairs(pl.ds)")).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.sz_a").as("sz_a"), col("p.sz_b").as("sz_b"))
      .agg(count(lit(1)).as("inter"))
  }

  /** Candidate near-dup pairs (doc_a, doc_b, sz_a, sz_b, inter) over
    * canonical docs via the grouped-posting-list inverted index.
    *
    * Grouped-posting-list shape instead of a posting self-join: the
    * self-join computed the whole shingle pipeline twice and broadcast
    * the full posting table (impossible at corpus scale); here postings
    * shuffle ONCE on (shingle, lang), pairs expand natively per list
    * (graft_doc_pairs), and the pair-keyed count is the only other
    * shuffle. Candidate set is identical — every doc pair sharing ≥1
    * NON-HOT shingle (df ≤ [[DfCapDefault]], see its scale rationale)
    * within a lang block appears once per shared shingle.
    *
    * `metricName` names this call site's `Dataset.observe` aggregate:
    * Spark requires observed-metric names to be unique per plan, so a
    * query composing two capped subtrees (or two queries sharing a
    * session) must thread distinct names through here.
    */
  private[operators] def candidatePairs(
      canon: org.apache.spark.sql.DataFrame,
      metricName: String = "graft_dedup_df_cap"): org.apache.spark.sql.DataFrame = {
    // explode_outer + null post-filter, not explode: a plain explode
    // makes the optimizer infer `size(ghs) > 0 AND isnotnull(ghs)` and
    // push it below the projection, re-evaluating the whole shingle-
    // hash pipeline twice more per row (r21 plan audit: 3× the
    // canonical corpus hashed per execution). The outer generate gets
    // no inferred filter; the cheap isnotnull on the GENERATED column
    // drops exactly the rows explode would have dropped (ghs is
    // containsNull=false, so null gh ⇔ empty/null ghs).
    val post = canon
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("lang"), expr(gramHashesSpark).as("ghs"))
      .select(col("doc_id"), col("lang"),
        size(col("ghs")).cast("long").as("sz"),
        explode_outer(col("ghs")).as("gh"))
      .filter(col("gh").isNotNull)
    pairsFromPost(post, byLang = true, dfCap(canon.sparkSession), metricName)
  }

  /** Exact Jaccard from the candidate-pair columns. */
  private val jacCol =
    col("inter") * lit(1.0d) / (col("sz_a") + col("sz_b") - col("inter"))

  /** Word-trigram Jaccard near-dup via inverted-index join (no cross
    * join): docs sharing ≥1 shingle hash (same lang block) are
    * candidates; exact Jaccard ≥ 0.6 confirms. Shingles are joined by
    * polynomial hash — identical arithmetic in the oracle, so any
    * collision is mirrored there.
    */
  val extJaccardPairs: Q = Q(
    "ext_jaccard_pairs",
    s"""WITH $pairCtesDuck
       |SELECT doc_a, doc_b,
       |  CAST(FLOOR((inter * 1.0 / (sz_a + sz_b - inter)) * 1000 + 0.5) AS BIGINT) AS jaccard_mils
       |FROM cand
       |WHERE inter * 1.0 / (sz_a + sz_b - inter) >= 0.6""".stripMargin) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    candidatePairs(canonicalDocs(Tables.load(s, dir, "documents")),
        "graft_dedup_df_cap_jaccard")
      .filter(jacCol >= 0.6d)
      .select(col("doc_a"), col("doc_b"),
        floor(jacCol * 1000d + 0.5d).cast("long").as("jaccard_mils"))
  }

  /** Connected-components dedup clustering — the full at-scale dedup
    * pipeline in one operator: exact-canonicalize → near-dup edges
    * (Jaccard ≥ 0.5 on the inverted-index candidates) → connected
    * components → expand cluster ids back to every original doc.
    *
    * Components run as distributed min-label propagation: each round is
    * one shuffle join (edges ⋈ labels) plus one min-aggregation, with
    * `localCheckpoint` truncating lineage between rounds; convergence is
    * detected by the (monotonically decreasing) label sum reaching a
    * fixpoint. Rounds = graph diameter, and near-dup clusters are
    * small-diameter by construction, so this settles in a handful of
    * rounds even at corpus scale (a 100 TB deployment with adversarial
    * chain-shaped clusters would swap in alternating large-star/
    * small-star contraction — O(log n) rounds — without changing this
    * operator's contract). The oracle recomputes components with a
    * recursive CTE (min-reachable-id), which is feasible at oracle scale
    * only.
    */
  /** DuckDB CTE tail shared by the clustering oracles: near-dup edges
    * (Jaccard ≥ 0.5 on `cand`) → recursive min-reachable-id components
    * → every raw doc mapped to its cluster id (relation `mapped`).
    * Callers prepend `WITH RECURSIVE $pairCtesDuck,`.
    */
  private val clusterCtesDuck: String =
    """pairs AS (
      |  SELECT doc_a, doc_b FROM cand
      |  WHERE inter * 1.0 / (sz_a + sz_b - inter) >= 0.5),
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(v, lbl) AS (
      |  SELECT doc_id, doc_id FROM canon
      |  UNION
      |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.v),
      |cc AS (SELECT v, MIN(lbl) AS cluster_id FROM reach GROUP BY v),
      |mapped AS (
      |  SELECT d.doc_id, cc.cluster_id
      |  FROM fdoc d
      |  JOIN canon c ON d.fp = c.fp AND d.fp2 = c.fp2 AND d.lang = c.lang
      |  JOIN cc ON cc.v = c.doc_id)""".stripMargin

  /** The shared near-dup clustering pipeline: exact-canonicalize →
    * df-capped candidate edges (Jaccard ≥ 0.5) → connected components
    * → every raw doc mapped to (doc_id, n_chars, cluster_id).
    *
    * Components run as distributed min-label propagation: each round is
    * one shuffle join (edges ⋈ labels) plus one min-aggregation, with
    * `localCheckpoint` truncating lineage between rounds; convergence is
    * detected by the (monotonically decreasing) label sum reaching a
    * fixpoint. Rounds = graph diameter, and near-dup clusters are
    * small-diameter by construction, so this settles in a handful of
    * rounds even at corpus scale (a 100 TB deployment with adversarial
    * chain-shaped clusters would swap in alternating large-star/
    * small-star contraction — O(log n) rounds — without changing this
    * contract). Components run only over vertices that actually have a
    * near-dup edge: isolated canonicals (the overwhelming majority of a
    * deduped corpus) are trivially their own cluster and must not ride
    * through the iteration. The map-back joins on the fingerprint —
    * three 8-byte keys, never raw text — with docs whose canonical has
    * no edges keeping the canonical id as cluster id.
    */
  private def clusteredDocs(
      s: org.apache.spark.sql.SparkSession, dir: String,
      metricName: String): org.apache.spark.sql.DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val docs = Tables.load(s, dir, "documents")
    // lazy localCheckpoint, not persist: same reuse (pair pipeline +
    // fingerprint map-back), but no columnar encode/decode of the text
    // on build/read, and the blocks are reclaimed by the ContextCleaner
    // when the result frame drops instead of leaking across a
    // 185-query session
    val canon = canonicalDocs(docs).localCheckpoint(false)
    val pairs = candidatePairs(canon, metricName)
      .filter(jacCol >= 0.5d)
      .select(col("doc_a"), col("doc_b"))
    val cc = Graph.connectedComponents(pairs.toDF("src", "dst"))
      .select(col("v").as("canon_key"), col("component").as("cc_id"))
    withFingerprint(docs)
      .select(col("doc_id"), col("n_chars"), col("fp"), col("fp2"), col("lang"))
      .join(canon.select(col("fp"), col("fp2"), col("lang"),
          col("doc_id").as("canon_id")),
        Seq("fp", "fp2", "lang"))
      .join(cc, col("canon_id") === col("canon_key"), "left_outer")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("cc_id"), col("canon_id")).as("cluster_id"))
  }

  /** Connected-components dedup clustering — the full at-scale dedup
    * pipeline in one operator (see [[clusteredDocs]]); the oracle
    * recomputes components with a recursive CTE (min-reachable-id),
    * feasible at oracle scale only.
    */
  val extDedupCluster: Q = Q(
    "ext_dedup_cluster",
    s"""WITH RECURSIVE $pairCtesDuck,
       |$clusterCtesDuck
       |SELECT doc_id, cluster_id,
       |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_sz
       |FROM mapped""".stripMargin) { (s, dir) =>
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
    clusteredDocs(s, dir, "graft_dedup_df_cap_cluster")
      .select(col("doc_id"), col("cluster_id"))
      .withColumn("cluster_sz", count(lit(1)).over(w))
  }

  /** Lang-agnostic canonicalization CTE (named `canon`), one spelling
    * per dialect — shared by the MinHash and SimHash pair queries.
    */
  private val canonNoLangDuck: String =
    s"""canon AS (
       |  SELECT MIN(doc_id) AS doc_id, arg_min(text, doc_id) AS text
       |  FROM (${fdocDuck("doc_id, text")})
       |  GROUP BY fp, fp2)""".stripMargin

  private val canonNoLangSpark: String =
    s"""canon AS (
       |  SELECT MIN(doc_id) AS doc_id, min_by(text, doc_id) AS text
       |  FROM (${fdocSpark("doc_id, text")})
       |  GROUP BY fp, fp2)""".stripMargin

  /** The DataFrame spelling of [[canonNoLangSpark]], shared by the
    * sketch queries.
    */
  private def canonNoLangSparkDf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    withFingerprint(docs.select(col("doc_id"), col("text")))
      .groupBy(col("fp"), col("fp2"))
      .agg(min(col("doc_id")).as("doc_id"),
        min_by(col("text"), col("doc_id")).as("text"))

  /** All K minima come from one native pass (graft_minhash_sig), then
    * fan out into columns.
    */
  private def sigSelectSpark(source: String = "documents"): String =
    (0 until K).map(i => s"sig[$i] AS sig_$i")
      .mkString(s"SELECT doc_id, ", ", ",
        s" FROM (SELECT doc_id, graft_minhash_sig(${shingleHashesSpark("split(text, ' ')")}) AS sig FROM $source)")

  private def sigSelectDuck(source: String = "documents"): String =
    (0 until K).map(i => s"${minhashDuck("tokhs", i)} AS sig_$i")
      .mkString(s"SELECT doc_id, ", ", ",
        s" FROM (SELECT doc_id, ${shingleHashesDuck("toks")} AS tokhs" +
          s" FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM $source))")

  /** MinHash signatures (16 permutations over word-token hashes). */
  val extMinhashSig: Q = Q(
    "ext_minhash_sig",
    s"""SELECT doc_id, ${(0 until K).map(i => s"sig_$i").mkString(", ")}
       |FROM (${sigSelectDuck()})""".stripMargin) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    // DataFrame form of sigSelectSpark; identical expressions and
    // output columns
    val base = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        expr(s"graft_minhash_sig(${shingleHashesSpark("split(text, ' ')")})")
          .as("sig"))
    base.select(col("doc_id") +:
      (0 until K).map(i => col("sig").getItem(i).as(s"sig_$i")): _*)
  }

  /** MinHash+LSH near-dup pairs: each doc explodes into its 4 band keys
    * (single pass over signatures), the band equi-join proposes
    * candidates, exact signature agreement (≥ 8 of 16 ⇒ estimated
    * Jaccard ≥ 0.5) confirms.
    */
  val extMinhashPairs: Q = Q(
    "ext_minhash_pairs", {
      val bandList = (0 until Bands)
        .map(bd => bandKeyDuck(i => s"sig_$i", bd)).mkString("[", ", ", "]")
      val agree = (0 until K)
        .map(i => s"(CASE WHEN a.sig_$i = b.sig_$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $canonNoLangDuck,
         |s AS (${sigSelectDuck("canon")}),
         |banded AS (
         |  SELECT doc_id, ${(0 until K).map(i => s"sig_$i").mkString(", ")},
         |    UNNEST($bandList) AS band_key FROM s),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, $agree AS n_agree
         |  FROM banded a JOIN banded b
         |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, n_agree FROM cand WHERE n_agree >= 8""".stripMargin
    }) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    // One canonicalization + signature pass (lazily checkpointed) feeding
    // both sides of the band self-join — the single-SQL form inlined the
    // `canon` CTE into each side and re-ran the text canonicalization
    // twice per execution (r21 plan audit). Values unchanged.
    val docs = Tables.load(s, dir, "documents")
    val canon = canonNoLangSparkDf(docs)
    val sigs = canon.select(col("doc_id"),
        expr(s"graft_minhash_sig(${shingleHashesSpark("split(text, ' ')")})")
          .as("sig"))
      .localCheckpoint(false)
    val bandArray = (0 until Bands)
      .map(bd => bandKeySpark(i => s"sig[$i]", bd)).mkString("array(", ", ", ")")
    val banded = sigs.select(col("doc_id"), col("sig"),
      explode(expr(bandArray)).as("band_key"))
    val agreeCol = (0 until K).map(i =>
        when(col("a.sig").getItem(i) === col("b.sig").getItem(i), 1)
          .otherwise(0))
      .reduce(_ + _)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        agreeCol.as("n_agree"))
      .distinct()
      .filter(col("n_agree") >= 8)
  }

  /** SimHash: 30-bit signature from per-token hash bit votes (token
    * frequency weighted).
    */
  val extSimhash: Q = Q(
    "ext_simhash", {
      val bits = (0 until SimBits).map(j =>
        s"(CASE WHEN SUM(2 * ((th >> $j) & 1) - 1) > 0 THEN ${1L << j} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH t AS (
         |  SELECT doc_id, UNNEST(${tokenHashesDuck("text")}) AS th FROM documents)
         |SELECT doc_id, CAST($bits AS BIGINT) AS simhash
         |FROM t GROUP BY doc_id""".stripMargin
    }) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        expr(s"graft_simhash(${tokenHashesSpark("text")})").as("simhash"))
  }

  /** SimHash near-dup pairs by pigeonhole chunk blocking: the 30-bit
    * signature splits into three 10-bit chunks; hamming distance ≤ 2
    * implies at least one chunk is untouched, so the equi-join on
    * (chunk-position-prefixed) chunk values proposes every qualifying
    * pair and `bit_count(xor)` verifies exactly. Candidate generation
    * is an 8-byte-key equi self-join within chunk buckets — the same
    * scale shape as the MinHash band join, no all-pairs anywhere.
    *
    * Duplicate proposals (a pair whose signatures agree on 2+ chunks
    * collides in each of them) dedupe by FIRST-WITNESS FILTER, not
    * DISTINCT: a proposal from chunk position p survives only if every
    * chunk before p differs. That is a scalar predicate on (sh_a,
    * sh_b, ck) — each qualifying pair survives exactly once, and the
    * suite's former slowest wide stage (shuffle + hash-dedup over the
    * full candidate set) disappears from the plan; the query's only
    * exchange is the chunk-key self-join itself.
    */
  val extSimhashPairs: Q = Q(
    "ext_simhash_pairs", {
      val bits = (0 until SimBits).map(j =>
        s"(CASE WHEN SUM(2 * ((th >> $j) & 1) - 1) > 0 THEN ${1L << j} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $canonNoLangDuck,
         |t AS (
         |  SELECT doc_id, UNNEST(${tokenHashesDuck("text")}) AS th FROM canon),
         |s AS (SELECT doc_id, CAST($bits AS BIGINT) AS sh FROM t GROUP BY doc_id),
         |b AS (
         |  SELECT doc_id, sh, UNNEST([
         |    (sh & 1023), (1024 + ((sh >> 10) & 1023)),
         |    (2048 + ((sh >> 20) & 1023))]) AS ck
         |  FROM s),
         |cand AS (
         |  SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         |    a.sh AS sh_a, b2.sh AS sh_b, a.ck AS ck
         |  FROM b a JOIN b b2 ON a.ck = b2.ck AND a.doc_id < b2.doc_id
         |  WHERE a.ck < 1024
         |    OR (a.ck < 2048 AND (a.sh & 1023) <> (b2.sh & 1023))
         |    OR (a.ck >= 2048 AND (a.sh & 1023) <> (b2.sh & 1023)
         |        AND ((a.sh >> 10) & 1023) <> ((b2.sh >> 10) & 1023)))
         |SELECT doc_a, doc_b,
         |  CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 2""".stripMargin
    }) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    // One canonicalization + simhash pass (lazily checkpointed) feeding
    // both sides of the chunk-key self-join — the single-SQL form
    // inlined the `canon` CTE into each side and re-ran the text
    // canonicalization twice per execution (r21 plan audit). The
    // checkpointed relation is two longs per canonical doc. Values
    // unchanged.
    val docs = Tables.load(s, dir, "documents")
    val canon = canonNoLangSparkDf(docs)
    val sh = canon.select(col("doc_id"),
        expr(s"graft_simhash(${tokenHashesSpark("text")})").as("sh"))
      .localCheckpoint(false)
    val b = sh.select(col("doc_id"), col("sh"), explode(array(
        expr("sh & 1023"),
        expr("1024 + (shiftright(sh, 10) & 1023)"),
        expr("2048 + (shiftright(sh, 20) & 1023)"))).as("ck"))
    b.toDF("doc_a", "sh_a", "ck")
      .join(b.toDF("doc_b", "sh_b", "ck"), Seq("ck"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(expr(
        """ck < 1024
          |  OR (ck < 2048 AND (sh_a & 1023) <> (sh_b & 1023))
          |  OR (ck >= 2048 AND (sh_a & 1023) <> (sh_b & 1023)
          |      AND (shiftright(sh_a, 10) & 1023) <> (shiftright(sh_b, 10) & 1023))""".stripMargin))
      .filter(expr("bit_count(sh_a ^ sh_b) <= 2"))
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(bit_count(sh_a ^ sh_b) AS BIGINT)").as("hamming"))
  }

  /** MinHash estimation-error audit: for every LSH candidate pair
    * (band collision, signature agreement ≥ 8/16), the sketch's Jaccard
    * estimate (`n_agree / K`) side by side with the EXACT shingle
    * Jaccard, plus the absolute error — the calibration check a
    * pipeline runs before trusting a sketch threshold at corpus scale.
    *
    * Scale design: the exact pass is restricted to the candidate set
    * (Q pairs, not corpus²) — each pair pulls its two docs' distinct
    * shingle-hash arrays and intersects them natively, so the audit
    * costs O(candidates · doc shingles), a rounding error next to the
    * LSH pass itself, and the corpus-scale posting relation never
    * shuffles.
    */
  val extMinhashEst: Q = Q(
    "ext_minhash_est", {
      val bandList = (0 until Bands)
        .map(bd => bandKeyDuck(i => s"sig_$i", bd)).mkString("[", ", ", "]")
      val agree = (0 until K)
        .map(i => s"(CASE WHEN a.sig_$i = b.sig_$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $canonNoLangDuck,
         |s AS (${sigSelectDuck("canon")}),
         |banded AS (
         |  SELECT doc_id, ${(0 until K).map(i => s"sig_$i").mkString(", ")},
         |    UNNEST($bandList) AS band_key FROM s),
         |est AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, $agree AS n_agree
         |  FROM banded a JOIN banded b
         |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |cand AS (SELECT doc_a, doc_b, n_agree FROM est WHERE n_agree >= 8),
         |g AS (
         |  SELECT doc_id, $gramHashesDuck AS ghs
         |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM canon)),
         |post AS (SELECT doc_id, LEN(ghs) AS sz, UNNEST(ghs) AS gh FROM g),
         |ex AS (
         |  SELECT c.doc_a, c.doc_b, pa.sz AS sz_a, pb.sz AS sz_b,
         |    COUNT(*) AS inter
         |  FROM cand c
         |  JOIN post pa ON pa.doc_id = c.doc_a
         |  JOIN post pb ON pb.doc_id = c.doc_b AND pb.gh = pa.gh
         |  GROUP BY 1, 2, 3, 4)
         |SELECT c.doc_a, c.doc_b,
         |  CAST(FLOOR(c.n_agree * 1000.0 / $K + 0.5) AS BIGINT) AS est_mils,
         |  CAST(COALESCE(
         |    FLOOR(ex.inter * 1000.0 / (ex.sz_a + ex.sz_b - ex.inter) + 0.5),
         |    0) AS BIGINT) AS jac_mils,
         |  ABS(CAST(FLOOR(c.n_agree * 1000.0 / $K + 0.5) AS BIGINT)
         |    - CAST(COALESCE(
         |        FLOOR(ex.inter * 1000.0 / (ex.sz_a + ex.sz_b - ex.inter) + 0.5),
         |        0) AS BIGINT)) AS err_mils
         |FROM cand c LEFT JOIN ex ON ex.doc_a = c.doc_a AND ex.doc_b = c.doc_b""".stripMargin
    }) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    // One canonicalization + ONE shingle-hash pass (lazily checkpointed),
    // shared by the signature/band branch, the truth postings, and the
    // candidate set — the former single-SQL form inlined the `canon` CTE
    // into every consumer and re-ran the text canonicalization SIX times
    // per execution (r21 plan audit: 6 × [Scan→SortAggregate×2]). Same
    // restructure extBandRecall already carries; values are unchanged
    // (identical expressions over the identical relation).
    val docs = Tables.load(s, dir, "documents")
    val canon = canonNoLangSparkDf(docs)
    val hashed = canon
      .select(col("doc_id"),
        expr(shingleHashesSpark("split(text, ' ')")).as("hs"))
      .localCheckpoint(false)
    val sigs = hashed.select(col("doc_id"),
      expr("graft_minhash_sig(hs)").as("sig"))
    val bandArray = (0 until Bands)
      .map(bd => bandKeySpark(i => s"sig[$i]", bd)).mkString("array(", ", ", ")")
    val banded = sigs.select(col("doc_id"), col("sig"),
      explode(expr(bandArray)).as("band_key"))
    val agreeCol = (0 until K).map(i =>
        when(col("a.sig").getItem(i) === col("b.sig").getItem(i), 1)
          .otherwise(0))
      .reduce(_ + _)
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        agreeCol.as("n_agree"))
      .distinct()
      .filter(col("n_agree") >= 8)
    // Exact Jaccard per CANDIDATE pair via native array_intersect over
    // the checkpointed per-doc hash arrays, not a postings explode +
    // witness-count aggregation: every cand doc matches exactly one
    // hashed row, so the join chain is 1:1 (no left-outer, no pair-keyed
    // re-aggregation), the intersection count equals the old
    // shared-shingle COUNT(*) by definition, and the corpus-scale
    // posting relation never shuffles — the audit stays O(candidates ·
    // doc shingles). Locally this removed two localCheckpoint
    // materialization jobs and three shuffles (r21 carried cand/post
    // checkpoints that cost more than they saved at bench scale: the
    // driver read 1.76 s vs 1.29 s in r20).
    val g = hashed.select(col("doc_id"), array_distinct(col("hs")).as("ghs"))
    val estM = floor(col("n_agree") * lit(1000.0d) / K + lit(0.5d))
      .cast("long")
    // inter = 0 (no shared shingle) must yield jac_mils 0 exactly like
    // the old left-outer's NULL → COALESCE(…, 0) path — and NOT ride a
    // 0/0 = NaN when both arrays are empty — hence the explicit guard
    val jacM = when(col("sz_a") + col("sz_b") - col("inter") > 0L,
      floor(col("inter") * lit(1000.0d) /
        (col("sz_a") + col("sz_b") - col("inter")) + lit(0.5d)))
      .otherwise(lit(0L)).cast("long")
    cand
      .join(g.select(col("doc_id").as("doc_a"), col("ghs").as("ghs_a")),
        "doc_a")
      .join(g.select(col("doc_id").as("doc_b"), col("ghs").as("ghs_b")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_agree"),
        size(col("ghs_a")).cast("long").as("sz_a"),
        size(col("ghs_b")).cast("long").as("sz_b"),
        size(array_intersect(col("ghs_a"), col("ghs_b"))).cast("long")
          .as("inter"))
      .select(col("doc_a"), col("doc_b"),
        estM.as("est_mils"), jacM.as("jac_mils"))
      .withColumn("err_mils", abs(col("est_mils") - col("jac_mils")))
  }

  /** INTER-document duplicate-span ratio: for each document, the share
    * of its distinct word-8-gram spans that also occur in at least one
    * OTHER document (ext_repetition is the intra-doc complement). The
    * standard "documents assembled from corpus boilerplate" signal a
    * curation pipeline cuts on.
    *
    * Scale shape: docs explode to (doc_id, 8-byte span hash) pairs —
    * never span text — so both shuffles (span-frequency aggregation and
    * the frequency join back) move narrow fixed-width rows; the
    * span-hash join key makes the second shuffle co-partitioned with
    * the first. No driver materialization, no all-pairs.
    */
  val extSpanDedup: Q = Q(
    "ext_span_dedup", {
      val hs = shingleHashesDuck("string_split(text, ' ')", 8)
      s"""WITH t AS (
         |  SELECT doc_id, list_distinct($hs) AS hs FROM documents),
         |s AS (SELECT doc_id, UNNEST(hs) AS span FROM t),
         |f AS (SELECT span, COUNT(*) AS n_docs FROM s GROUP BY span)
         |SELECT s.doc_id, COUNT(*) AS total_spans,
         |  CAST(SUM(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS shared_spans,
         |  CAST(FLOOR(SUM(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END)
         |    * 1000.0 / COUNT(*) + 0.5) AS BIGINT) AS shared_mils
         |FROM s JOIN f USING (span)
         |GROUP BY s.doc_id""".stripMargin
    }) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    // fingerprint-first (exact): a text's span set is a function of the
    // text alone, and a span's doc frequency is the multiplicity sum of
    // the distinct texts carrying it — so hashing, the frequency count,
    // and the per-doc rollup all run once per DISTINCT text, and
    // doc_ids join back on the fingerprint. The frequency is a SUM(m)
    // window over the span key — same value as the old aggregate-then-
    // join-back pair (spans are distinct within a text, so the weighted
    // frequency IS the number of documents carrying the span), but the
    // exploded relation crosses the wire once and needs no
    // localCheckpoint to keep the explode+hash pipeline single-pass.
    val raw = Tables.load(s, dir, "documents")
    val ids = raw.select(col("doc_id"), xxhash64(col("text")).as("fp"))
    val spans = raw
      .groupBy(xxhash64(col("text")).as("fp"))
      .agg(count(lit(1)).as("m"), min(col("text")).as("text"))
      .selectExpr("fp", "m",
        s"explode(array_distinct(${shingleHashesSpark("split(text, ' ')", 8)})) AS span")
    val bySpan = org.apache.spark.sql.expressions.Window
      .partitionBy(col("span"))
    val perFp = spans.withColumn("n_docs", sum(col("m")).over(bySpan))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("total_spans"),
        sum(when(col("n_docs") > 1L, 1L).otherwise(0L)).as("shared_spans"))
      .withColumn("shared_mils", expr(
        "CAST(FLOOR(shared_spans * 1000.0D / total_spans + 0.5D) AS BIGINT)"))
    ids.join(perFp, "fp")
      .select(col("doc_id"), col("total_spans"), col("shared_spans"),
        col("shared_mils"))
  }

  /** Source-overlap matrix: pairwise shingle Jaccard between SOURCES
    * (which corpora duplicate each other — the mixing/dedup planning
    * view, a corpus-level complement of the per-doc near-dup ops).
    * Postings are (source, shingle) DISTINCT rows — at most #sources
    * per shingle — so the shingle-keyed self-join is bounded by source
    * count, not corpus size, and the per-source totals broadcast.
    */
  /** Maximal duplicated-substring regions per document (the Lee et al.
    * 2022 "Deduplicating Training Data" shape at 8-token granularity):
    * every position whose 8-gram occurs more than once ANYWHERE in the
    * corpus (another doc or the same one) starts a duplicated window,
    * and overlapping/touching windows merge into maximal spans — the
    * regions a substring-level dedup pass would cut, with the exact
    * duplicated-token count their union covers ([[extSpanDedup]] is
    * the positionless share of shared grams; this adds positions and
    * the interval-union merge).
    *
    * The merge is gaps-and-islands over duplicated START positions:
    * windows of width 8 at positions i, j overlap or touch iff
    * `j − i ≤ 8`, so a LAG flag breaks islands on larger gaps and a
    * running sum numbers them; each island covers exactly
    * `last − first + 8` tokens (touching windows concatenate with no
    * double count). Scale shape: the occurrence-count aggregation and
    * the count join move (8-byte hash, position) rows keyed on the
    * hash; the island windowing partitions by doc_id — each doc's
    * positions sort locally, no global order. Docs shorter than the
    * gram width carry no true 8-gram and are excluded in both
    * dialects.
    */
  val extDupSpans: Q = Q(
    "ext_dup_spans", {
      val hs = shingleHashesDuck("toks", 8)
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |g AS (
         |  SELECT doc_id, LEN(toks) AS n_tok, $hs AS hs
         |  FROM t WHERE LEN(toks) >= 8),
         |p AS (
         |  SELECT doc_id, n_tok,
         |    UNNEST(generate_series(1, LEN(hs))) AS pos,
         |    UNNEST(hs) AS h
         |  FROM g),
         |c AS (SELECT h, COUNT(*) AS occ FROM p GROUP BY h),
         |d AS (
         |  SELECT p.doc_id, p.n_tok, p.pos,
         |    CASE WHEN p.pos - LAG(p.pos)
         |      OVER (PARTITION BY p.doc_id ORDER BY p.pos) <= 8
         |      THEN 0 ELSE 1 END AS brk
         |  FROM p JOIN c ON c.h = p.h WHERE c.occ > 1),
         |i AS (
         |  SELECT doc_id, n_tok, pos,
         |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS UNBOUNDED PRECEDING) AS isl
         |  FROM d),
         |s AS (
         |  SELECT doc_id, n_tok, isl,
         |    MAX(pos) - MIN(pos) + 8 AS span_tok
         |  FROM i GROUP BY doc_id, n_tok, isl)
         |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
         |  CAST(COUNT(*) AS BIGINT) AS n_spans,
         |  CAST(SUM(span_tok) AS BIGINT) AS dup_tok,
         |  CAST(FLOOR(SUM(span_tok) * 1000.0 / n_tok + 0.5) AS BIGINT)
         |    AS dup_mils
         |FROM s GROUP BY doc_id, n_tok""".stripMargin
    }) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    import org.apache.spark.sql.expressions.Window
    // single pass: the occurrence count is a COUNT(*) window over the
    // gram hash — same value as the old aggregate-then-join-back pair
    // (occ per row = number of corpus positions sharing its h), but the
    // position table crosses the wire ONCE (one h-keyed exchange) where
    // agg+join shuffled it twice and needed a localCheckpoint to avoid
    // re-running the tokenize+hash+posexplode pipeline per consumer
    // (r21's checkpoint cost more than it saved at bench scale; this
    // shape needs neither the checkpoint nor the join)
    val p = Tables.load(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 8)
      .select(col("doc_id"), size(col("toks")).as("n_tok"),
        posexplode(expr(shingleHashesSpark("toks", 8))).as(Seq("pos0", "h")))
      // DuckDB list positions are 1-based; align so span arithmetic
      // matches digit for digit
      .withColumn("pos", col("pos0") + 1).drop("pos0")
    val byH = Window.partitionBy(col("h"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val d = p.withColumn("occ", count(lit(1)).over(byH))
      .filter(col("occ") > 1L)
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= 8, 0L)
          .otherwise(1L))
      .withColumn("isl", sum(col("brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    d.groupBy(col("doc_id"), col("n_tok"), col("isl"))
      .agg((max(col("pos")) - min(col("pos")) + 8).as("span_tok"))
      .groupBy(col("doc_id"), col("n_tok"))
      .agg(count(lit(1)).cast("long").as("n_spans"),
        sum(col("span_tok")).cast("long").as("dup_tok"))
      .select(col("doc_id"), col("n_tok").cast("long").as("n_tok"),
        col("n_spans"), col("dup_tok"),
        expr("CAST(FLOOR(dup_tok * 1000.0D / n_tok + 0.5D) AS BIGINT)")
          .as("dup_mils"))
  }

  /** Pairwise source-overlap matrix (shared shingles + Jaccard per
    * source pair). The pair expansion reuses the grouped-posting-list
    * machinery ([[pairsFromPost]], r14): sources map to dense ids via
    * a tiny sorted dim (id order = lexicographic source order, so
    * `doc_a < doc_b` comes back out as `source_a < source_b`), each
    * source's distinct-shingle count rides as the posting size, and
    * the same [[DfCapDefault]] df cap bounds the per-shingle fan-out —
    * the old posting self-join was quadratic in the number of sources
    * carrying a shared boilerplate shingle, fine at ten source labels
    * but a blow-up at thousands. A capped shingle (more distinct
    * sources than the cap) drops from `shared_shingles` identically in
    * both dialects, observed under `graft_source_overlap_df_cap`.
    */
  val extSourceOverlap: Q = Q(
    "ext_source_overlap",
    s"""WITH t AS (
       |  SELECT source, string_split(text, ' ') AS toks FROM documents),
       |p AS (
       |  SELECT DISTINCT source, gh
       |  FROM (SELECT source, UNNEST($gramHashesDuck) AS gh FROM t)),
       |tot AS (SELECT source, COUNT(*) AS n FROM p GROUP BY source),
       |dfs AS (SELECT gh FROM p GROUP BY gh
       |  HAVING COUNT(*) <= $DfCapDefault),
       |ix AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |    COUNT(*) AS shared_shingles
       |  FROM p a JOIN p b ON a.gh = b.gh AND a.source < b.source
       |  JOIN dfs ON dfs.gh = a.gh
       |  GROUP BY 1, 2)
       |SELECT source_a, source_b, shared_shingles,
       |  CAST(FLOOR((shared_shingles * 1.0 /
       |    (ta.n + tb.n - shared_shingles)) * 1000 + 0.5) AS BIGINT) AS jaccard_mils
       |FROM ix
       |JOIN tot ta ON ta.source = ix.source_a
       |JOIN tot tb ON tb.source = ix.source_b""".stripMargin) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    import org.apache.spark.sql.expressions.Window
    // lazily checkpointed: the distinct (source, shingle) postings feed
    // both the per-source totals (via sid) and the pair expansion —
    // without the checkpoint the tokenize+hash+distinct pipeline ran
    // twice per execution (r21; the sid checkpoint below had already
    // stopped the THIRD/FOURTH runs its broadcasts caused)
    val p = Tables.load(s, dir, "documents")
      .select(col("source"), split(col("text"), " ").as("toks"))
      .select(col("source"), explode(expr(gramHashesSpark)).as("gh"))
      .distinct()
      .localCheckpoint(false)
    val tot = p.groupBy(col("source")).agg(count(lit(1)).as("n"))
    // dense ids over the (small, bounded) source label set: the
    // single-partition window sorts #sources rows, not postings.
    // Lazily checkpointed: sid is broadcast three times (posting sz
    // injection + the two label map-backs), and without the checkpoint
    // each broadcast re-ran the full distinct-postings subtree feeding
    // `tot` — three corpus-scale passes for a #sources-row dim
    // (r21 plan audit: 3 × [Scan→Generate→HashAgg×2→Window]).
    val sid = tot.select(col("source"), col("n"),
      row_number().over(Window.orderBy(col("source"))).cast("long").as("sid"))
      .localCheckpoint(false)
    val post = p.join(broadcast(sid), "source")
      .select(col("sid").as("doc_id"), col("n").as("sz"), col("gh"))
    pairsFromPost(post, byLang = false, dfCap(s),
      "graft_source_overlap_df_cap")
      .join(broadcast(sid.select(col("sid").as("doc_a"),
        col("source").as("source_a"))), "doc_a")
      .join(broadcast(sid.select(col("sid").as("doc_b"),
        col("source").as("source_b"))), "doc_b")
      .select(col("source_a"), col("source_b"),
        col("inter").as("shared_shingles"),
        floor(col("inter") * lit(1.0d) /
          (col("sz_a") + col("sz_b") - col("inter")) * 1000d + 0.5d)
          .cast("long").as("jaccard_mils"))
  }

  /** Banded-LSH candidate RECALL against exact Jaccard truth, per
    * threshold: of the pairs whose true Jaccard ≥ t, how many share at
    * least one MinHash band (and would be found by the banded join).
    * This measures the band/row configuration the near-dup operators
    * run with — the knob-verification query an operator of record
    * needs before anyone trusts its candidate generation at scale.
    * Truth comes from the inverted shingle index (pairs above any
    * positive threshold share a shingle by definition), so no
    * all-pairs pass anywhere, and the truth expansion runs through the
    * same df cap as candidate generation ([[DfCapDefault]] — the
    * `dfc` CTE here, [[pairsFromPost]] on the Spark side): a
    * boilerplate shingle shared corpus-wide would otherwise make the
    * truth pass itself quadratic, the exact blow-up the cap exists to
    * prevent. A capped truth pair undercounts `inter` by its hot
    * shingles only — identically in both engines — and any pair above
    * a 0.5 threshold still surfaces through its non-hot shingles
    * unless the docs are near-dups of pure boilerplate.
    *
    * One shingle-hash pass: the Spark side hashes each canonical text
    * once into a lazily checkpointed relation both the signature/band
    * branch and the truth postings read, instead of re-shingling the
    * corpus per branch.
    */
  val extBandRecall: Q = Q(
    "ext_band_recall", {
      val bandList = (0 until Bands)
        .map(bd => bandKeyDuck(i => s"sig_$i", bd)).mkString("[", ", ", "]")
      s"""WITH $canonNoLangDuck,
         |s AS (${sigSelectDuck("canon")}),
         |banded AS (
         |  SELECT doc_id, UNNEST($bandList) AS band_key FROM s),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM banded a JOIN banded b
         |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |g AS (
         |  SELECT doc_id, $gramHashesDuck AS ghs
         |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM canon)),
         |post AS (SELECT doc_id, LEN(ghs) AS sz, UNNEST(ghs) AS gh FROM g),
         |dfc AS (
         |  SELECT gh FROM post GROUP BY gh
         |  HAVING COUNT(*) <= $DfCapDefault),
         |ex AS (
         |  SELECT pa.doc_id AS doc_a, pb.doc_id AS doc_b,
         |    pa.sz AS sz_a, pb.sz AS sz_b, COUNT(*) AS inter
         |  FROM post pa JOIN post pb
         |    ON pb.gh = pa.gh AND pa.doc_id < pb.doc_id
         |  JOIN dfc ON dfc.gh = pa.gh
         |  GROUP BY 1, 2, 3, 4),
         |truth AS (
         |  SELECT doc_a, doc_b,
         |    CAST(FLOOR(inter * 1000.0 / (sz_a + sz_b - inter) + 0.5) AS BIGINT) AS jac_mils
         |  FROM ex),
         |th AS (SELECT UNNEST([500, 600, 700, 800, 900]) AS t_mils),
         |j AS (
         |  SELECT th.t_mils, t.doc_a, t.doc_b,
         |    CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS caught
         |  FROM th JOIN truth t ON t.jac_mils >= th.t_mils
         |  LEFT JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
         |SELECT CAST(t_mils AS BIGINT) AS t_mils, COUNT(*) AS n_true,
         |  CAST(SUM(caught) AS BIGINT) AS n_caught,
         |  CAST(FLOOR(SUM(caught) * 1000.0 / COUNT(*) + 0.5) AS BIGINT) AS recall_mils
         |FROM j GROUP BY t_mils""".stripMargin
    }) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    val docs = Tables.load(s, dir, "documents")
    // lang-agnostic canonicalization (the DataFrame spelling of
    // canonNoLangDuck above)
    val canon = canonNoLangSparkDf(docs)
    // shingle-hash once; both branches (signatures and truth postings)
    // read this relation, and the lazy checkpoint materializes it on
    // first use so the heaviest stage never runs twice
    val hashed = canon
      .select(col("doc_id"),
        expr(shingleHashesSpark("split(text, ' ')")).as("hs"))
      .localCheckpoint(false)
    val sigs = hashed.select(col("doc_id"),
      expr("graft_minhash_sig(hs)").as("sig"))
    val bandArray = (0 until Bands)
      .map(bd => bandKeySpark(i => s"sig[$i]", bd)).mkString("array(", ", ", ")")
    val banded = sigs.select(col("doc_id"), explode(expr(bandArray)).as("band_key"))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val post = hashed
      .select(col("doc_id"), array_distinct(col("hs")).as("ghs"))
      .select(col("doc_id"), size(col("ghs")).cast("long").as("sz"),
        explode_outer(col("ghs")).as("gh"))
      .filter(col("gh").isNotNull)
    val truth = pairsFromPost(post, byLang = false, dfCap(s),
        "graft_band_truth_df_cap")
      .select(col("doc_a"), col("doc_b"),
        floor(col("inter") * lit(1000.0d) /
          (col("sz_a") + col("sz_b") - col("inter")) + 0.5d)
          .cast("long").as("jac_mils"))
    val th = s.sql("SELECT explode(array(500, 600, 700, 800, 900)) AS t_mils")
    truth
      .join(broadcast(th), col("jac_mils") >= col("t_mils"))
      .join(cand.withColumn("hit", lit(1)), Seq("doc_a", "doc_b"), "left_outer")
      .groupBy(col("t_mils").cast("long").as("t_mils"))
      .agg(count(lit(1)).as("n_true"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_caught"))
      .withColumn("recall_mils",
        floor(col("n_caught") * lit(1000.0d) / col("n_true") + 0.5d)
          .cast("long"))
  }

  /** Quality-based cluster REPRESENTATIVE: the full near-dup pipeline
    * of [[extDedupCluster]] (canonicalize → capped candidate edges →
    * connected components → map back to raw docs), then per cluster
    * the production keep-policy — the LONGEST document wins, ties to
    * the smallest doc_id — instead of min-id. "Keep best, not first"
    * is what a real curation pipeline ships: the first-crawled copy of
    * a page is often the truncated one. One extra aggregation over the
    * mapped relation (max_by on a two-field struct), nothing else
    * changes scale-wise.
    */
  val extDedupRep: Q = Q(
    "ext_dedup_rep",
    s"""WITH RECURSIVE $pairCtesDuck,
       |$clusterCtesDuck
       |SELECT cluster_id, doc_id AS rep_doc_id, cluster_sz,
       |  n_chars AS rep_n_chars
       |FROM (
       |  SELECT m.cluster_id, m.doc_id, d.n_chars,
       |    COUNT(*) OVER (PARTITION BY m.cluster_id) AS cluster_sz,
       |    ROW_NUMBER() OVER (PARTITION BY m.cluster_id
       |      ORDER BY d.n_chars DESC, m.doc_id ASC) AS rn
       |  FROM mapped m JOIN documents d ON d.doc_id = m.doc_id)
       |WHERE rn = 1""".stripMargin) { (s, dir) =>
    clusteredDocs(s, dir, "graft_dedup_df_cap_rep")
      .groupBy(col("cluster_id"))
      .agg(
        // minimize (-n_chars, doc_id) = longest first, ties to min id
        min_by(col("doc_id"), struct((-col("n_chars")).as("neg"),
          col("doc_id"))).as("rep_doc_id"),
        count(lit(1)).as("cluster_sz"),
        max(col("n_chars")).as("rep_n_chars"))
      .select(col("cluster_id"), col("rep_doc_id"), col("cluster_sz"),
        col("rep_n_chars"))
  }

  /** Asymmetric near-CONTAINMENT pairs over the same df-capped
    * candidate set as the Jaccard path: `inter / sz_a` (share of A's
    * shingles that B also has) catches quote/subset duplication —
    * a short doc embedded in a long one — that symmetric Jaccard
    * misses because the size difference drags the union down.
    * Containment ≥ Jaccard always, so the candidate generation
    * (shared-shingle inverted index, hot shingles capped) is complete
    * for any threshold the Jaccard path would accept. Same scale
    * shape as ext_jaccard_pairs: one capped posting shuffle, native
    * per-list pair expansion, one pair-keyed count.
    */
  val extContainmentPairs: Q = Q(
    "ext_containment_pairs",
    s"""WITH $pairCtesDuck
       |SELECT doc_a, doc_b,
       |  CAST(FLOOR(inter * 1000.0 / sz_a + 0.5) AS BIGINT) AS cont_a_mils,
       |  CAST(FLOOR(inter * 1000.0 / sz_b + 0.5) AS BIGINT) AS cont_b_mils
       |FROM cand
       |WHERE inter * 1.0 / sz_a >= 0.5 OR inter * 1.0 / sz_b >= 0.5""".stripMargin) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    candidatePairs(canonicalDocs(Tables.load(s, dir, "documents")),
        "graft_dedup_df_cap_containment")
      .filter(col("inter") * lit(1.0d) / col("sz_a") >= 0.5d ||
        col("inter") * lit(1.0d) / col("sz_b") >= 0.5d)
      .select(col("doc_a"), col("doc_b"),
        floor(col("inter") * lit(1000.0d) / col("sz_a") + 0.5d)
          .cast("long").as("cont_a_mils"),
        floor(col("inter") * lit(1000.0d) / col("sz_b") + 0.5d)
          .cast("long").as("cont_b_mils"))
  }

  /** Per-document n-gram NOVELTY: the share of a doc's distinct
    * trigram shingles whose FIRST corpus occurrence (by doc_id) is
    * this document — the curation signal for "how much genuinely new
    * text does each doc add", with exact duplicates scoring zero.
    *
    * Fingerprint-first like [[extSpanDedup]]: shingling, the
    * first-occurrence aggregation, and the per-doc rollup all run
    * once per DISTINCT text (a shingle's earliest doc is the min over
    * the distinct texts' own min doc_ids), and raw doc_ids join back
    * on the fingerprint — a non-minimal copy inherits its text's
    * totals with zero novels. Both shuffles move 8-byte hashes.
    */
  val extNgramNovelty: Q = Q(
    "ext_ngram_novelty", {
      val hs = shingleHashesDuck("toks")
      s"""WITH d AS (
         |  SELECT doc_id, list_distinct($hs) AS ghs
         |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
         |p AS (SELECT doc_id, UNNEST(ghs) AS gh FROM d),
         |f AS (SELECT gh, MIN(doc_id) AS first_doc FROM p GROUP BY gh)
         |SELECT p.doc_id, COUNT(*) AS total_shingles,
         |  CAST(SUM(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |    AS novel_shingles,
         |  CAST(FLOOR(SUM(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)
         |    * 1000.0 / COUNT(*) + 0.5) AS BIGINT) AS novelty_mils
         |FROM p JOIN f USING (gh)
         |GROUP BY p.doc_id""".stripMargin
    }) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    val raw = Tables.load(s, dir, "documents")
    val ids = raw.select(col("doc_id"), xxhash64(col("text")).as("fp"))
    val spans = raw
      .groupBy(xxhash64(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("m"),
        min_by(col("text"), col("doc_id")).as("text"))
      .selectExpr("fp", "m",
        s"explode(array_distinct(${shingleHashesSpark("split(text, ' ')")})) AS gh")
    // a shingle's earliest corpus doc is a MIN(m) window over the gh
    // key — same value as the old aggregate-then-join-back pair, one
    // gh-keyed exchange instead of two and no localCheckpoint needed to
    // keep the explode+hash pipeline single-pass
    val byGh = org.apache.spark.sql.expressions.Window.partitionBy(col("gh"))
    val perFp = spans.withColumn("first_doc", min(col("m")).over(byGh))
      .groupBy(col("fp"), col("m"))
      .agg(count(lit(1)).as("total_shingles"),
        sum(when(col("first_doc") === col("m"), 1L).otherwise(0L))
          .as("novel_shingles"))
    ids.join(perFp, "fp")
      .withColumn("novel",
        when(col("doc_id") === col("m"), col("novel_shingles")).otherwise(0L))
      .select(col("doc_id"), col("total_shingles"),
        col("novel").as("novel_shingles"),
        floor(col("novel") * lit(1000.0d) / col("total_shingles") + 0.5d)
          .cast("long").as("novelty_mils"))
  }

  /** Shingle document-frequency PROFILE: how many distinct (shingle,
    * lang) keys fall in each power-of-two df bucket, their posting
    * mass, and how many exceed [[DfCapDefault]] — the diagnostic an
    * operator of record runs before choosing `graft.dedup.df-cap`
    * (what fraction of candidate-generation signal would a given cap
    * drop?). Buckets are `LENGTH(BIN(df))` — exact integer bit length
    * in both engines, no floating log2 at power-of-two boundaries.
    * One aggregation over the capped paths' own posting relation.
    */
  val extShingleDfProfile: Q = Q(
    "ext_shingle_df_profile",
    s"""WITH $pairCtesDuck,
       |dfs AS (SELECT gh, lang, COUNT(*) AS df FROM post GROUP BY gh, lang)
       |SELECT CAST(LENGTH(BIN(df)) AS BIGINT) AS df_bucket,
       |  COUNT(*) AS n_shingles,
       |  CAST(SUM(df) AS BIGINT) AS n_postings,
       |  CAST(SUM(CASE WHEN df > $DfCapDefault THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_over_cap
       |FROM dfs GROUP BY 1""".stripMargin) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    // explode_outer + null post-filter: see candidatePairs — a plain
    // explode gets an inferred size/isnotnull filter pushed below the
    // projection, re-running the shingle hashing twice more per row
    val post = canonicalDocs(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("lang"), expr(gramHashesSpark).as("ghs"))
      .select(col("lang"), explode_outer(col("ghs")).as("gh"))
      .filter(col("gh").isNotNull)
    post.groupBy(col("gh"), col("lang"))
      .agg(count(lit(1)).as("df"))
      .groupBy(length(bin(col("df"))).cast("long").as("df_bucket"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(col("df")).as("n_postings"),
        sum(when(col("df") > DfCapDefault, 1L).otherwise(0L)).as("n_over_cap"))
  }

  def all: Seq[Q] = Seq(
    extDedupExact, extJaccardPairs, extDedupCluster,
    extMinhashSig, extMinhashPairs, extMinhashEst, extSimhash,
    extSimhashPairs, extSpanDedup, extDupSpans, extSourceOverlap, extBandRecall,
    extDedupRep, extContainmentPairs, extNgramNovelty, extShingleDfProfile)
}
