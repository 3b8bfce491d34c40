package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph primitives used by the dedup-clustering pipeline.
  *
  * Kept as a standalone operator so callers can cluster any pair
  * relation (near-dup edges, citation links, co-occurrence graphs)
  * without going through the document pipeline.
  */
object Graph {

  /** Propagation rounds before [[connectedComponents]] hands off to the
    * O(log n) star contraction: near-dup cluster graphs have tiny
    * diameters (2-4), so propagation normally converges well inside
    * this budget with one cheap round per hop; anything still moving
    * after this many rounds is a long-chain graph where contraction's
    * doubling wins.
    */
  val PropRoundBudget: Int = 6

  /** Hard cap on star-contraction rounds (2^64 vertices would converge
    * in 64; hitting this means a bug, not a big graph).
    */
  private val StarRoundCap: Int = 64

  /** Rounds the last [[connectedComponentsStar]] call took — test
    * observability for the O(log n) convergence contract.
    */
  @volatile private[graft] var lastStarRounds: Int = 0

  /** Connected components: (v, component) for every vertex appearing in
    * `edges0` (either orientation; self-loops allowed), where
    * `component` is the minimum vertex id in v's component.
    *
    * Hybrid strategy: min-label propagation — one shuffle join
    * (edges ⋈ labels) plus one min-aggregation per round, the right
    * cost model for the small-diameter graphs dedup produces — with a
    * handoff to alternating large-star/small-star contraction
    * ([[connectedComponentsStar]], O(log n) rounds) if the graph is
    * still moving after [[PropRoundBudget]] rounds, seeding the
    * contraction with the labels learned so far (v → lbl edges preserve
    * reachability, so no progress is lost).
    *
    * Convergence is detected by comparing each vertex's new label to
    * its previous one — carried through the round's own aggregation as
    * a `prev` column, so the probe is an emptiness check on the
    * checkpointed result, not a second join — exact and overflow-proof
    * at any corpus scale, unlike a label-sum fixpoint probe, which can
    * wrap in int64 and terminate early on a collision. `localCheckpoint`
    * truncates lineage between rounds; the probe action materializes it
    * in the same job.
    */
  def connectedComponents(edges0: DataFrame): DataFrame = {
    val fwd = edges0.select(col("src").cast("long"), col("dst").cast("long"))
    // both orientations from ONE pass over the input: a union of fwd with
    // its swap would evaluate the (often expensive) upstream pair
    // pipeline twice when this frame first materializes
    val bidir = fwd.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist()
    // No up-front edge-count/coalesce job (r21): the count was a whole
    // extra action before round 1 could start, and AQE already
    // coalesces each round's small shuffles; the cached edge frame
    // keeps whatever partitioning its own (AQE-final) plan produced.
    val edges = bidir
    // Seed labels with the minimum of each vertex's CLOSED 1-hop
    // neighborhood — one aggregation over the edge frame, no join — so
    // the first propagation round starts from hop-1 labels instead of
    // identity. Diameter-1 components (the bulk of near-dup clusters)
    // then confirm convergence on round 1.
    var labels = edges
      .groupBy(col("src").as("v"))
      .agg(least(min(col("dst")), first(col("src"))).as("lbl"))
      .localCheckpoint(false) // lazy: round 1's probe action materializes it
    // no up-front emptiness probe: an empty graph yields an empty first
    // round whose changed-count is zero, converging in one action
    var converged = false
    var rounds = 0
    while (!converged && rounds < PropRoundBudget) {
      val prop = edges
        .join(labels, col("src") === col("v"))
        .select(col("dst").as("v"), col("lbl"))
      // One aggregation yields BOTH the new label and the previous one
      // (each v has exactly one labels row, so min(prev) ignores the
      // null-tagged propagated rows and recovers the old label): the
      // convergence probe then reads the CHECKPOINTED result instead of
      // re-joining next against labels — one shuffle join less per
      // round (r21).
      val next = labels.select(col("v"), col("lbl"), col("lbl").as("prev"))
        .union(prop.select(col("v"), col("lbl"),
          lit(null).cast("long").as("prev")))
        .groupBy(col("v"))
        .agg(min(col("lbl")).as("lbl"), min(col("prev")).as("prev"))
        .localCheckpoint(false) // one job per round: checkpoint + probe together
      if (next.filter(col("lbl") =!= col("prev")).isEmpty) converged = true
      // superseded rounds' checkpoint blocks are reclaimed by the
      // ContextCleaner once the old `labels` reference drops here (no
      // public API frees localCheckpoint blocks eagerly)
      labels = next.select(col("v"), col("lbl"))
      rounds += 1
    }
    if (converged) {
      bidir.unpersist()
      labels.select(col("v"), col("lbl").as("component"))
    } else {
      // long-chain graph: contraction finishes in O(log n) rounds where
      // propagation would need one per remaining hop. Seed from the
      // PERSISTED bidir frame (not fwd) so the upstream pair pipeline
      // is not evaluated again.
      val seed = bidir.union(labels.filter(col("v") =!= col("lbl"))
        .select(col("v").as("src"), col("lbl").as("dst")))
      val out = connectedComponentsStar(seed)
      bidir.unpersist()
      out
    }
  }

  /** Connected components by alternating large-star/small-star
    * contraction — O(log n) rounds regardless of diameter (the
    * two-operation alternation of Kiveris et al., "Connected Components
    * in MapReduce and Beyond", SoCC'14).
    *
    * Each round:
    *  - large-star: every vertex points its strictly LARGER neighbors
    *    at the minimum of its closed neighborhood — long chains halve;
    *  - small-star: every vertex points its smaller neighbors and
    *    itself at its minimum neighbor — partial stars flatten.
    *
    * Both steps are a groupBy-min plus an equi-join on the vertex id —
    * 8-byte keys, no neighbor-list materialization beyond the grouped
    * aggregate, so a round costs a constant number of shuffles of the
    * (shrinking) edge set. The edge set stays oriented big → small,
    * monotonically approaching a star forest whose centers are the
    * component minima; convergence = the edge set reaching a fixpoint
    * (checked with two anti-joins, no counters to overflow).
    */
  def connectedComponentsStar(edges0: DataFrame): DataFrame = {
    val raw = edges0.select(col("src").cast("long").as("u"), col("dst").cast("long").as("v"))
    // the contract covers every vertex mentioned in the input, including
    // self-loop-only vertices that the contraction itself never sees.
    // explode, not union-with-swap: one pass over the (possibly
    // expensive) input when this materializes
    val verts = raw.select(explode(array(col("u"), col("v"))).as("v0"))
      .distinct()
      .localCheckpoint(false)
    var edges = raw.filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct()
      .localCheckpoint(false)
    var done = edges.isEmpty
    var rounds = 0
    while (!done) {
      rounds += 1
      if (rounds > StarRoundCap)
        throw new IllegalStateException(
          s"star contraction exceeded $StarRoundCap rounds — not converging")
      // large-star over the undirected neighborhood
      val bidir = edges
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = bidir.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = bidir.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")).distinct()
      // small-star over the big→small orientation `large` guarantees
      val smins = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val next = large.join(smins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(smins.select(col("u"), col("m").as("v")))
        .distinct()
        .localCheckpoint(false)
      val diff = next.join(edges, Seq("u", "v"), "left_anti")
        .union(edges.join(next, Seq("u", "v"), "left_anti"))
      done = diff.isEmpty
      edges = next
    }
    lastStarRounds = rounds
    // star forest: every leaf points at its component min; centers and
    // isolated vertices label themselves
    verts.join(edges.select(col("u"), col("v").as("ctr")),
        col("v0") === col("u"), "left_outer")
      .select(col("v0").as("v"), coalesce(col("ctr"), col("v0")).as("component"))
  }
}
