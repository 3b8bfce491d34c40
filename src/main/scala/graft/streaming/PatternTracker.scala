package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.collection.mutable.ArrayBuffer

/** One input row of a streaming row-pattern match: an opaque grouping
  * key (the harness packs PARTITION BY columns as JSON), the event
  * time, a bitmask with bit i set iff the row satisfies pattern
  * variable i's DEFINE predicate (evaluated by Catalyst upstream — the
  * tracker never evaluates SQL), and an opaque per-row payload (the
  * harness packs the non-event-time measure columns as JSON; "" when
  * no measure needs one).
  */
final case class PatternEvent(key: String, ts: Timestamp, defs: Long,
    vals: String, lag: String)

/** Per-key NFA state: rows (time, def-bitmask, measure payload, PREV
  * payload) not yet consumed by an emitted match or passed over by a
  * final no-match decision, the match counter, and the last-consumed
  * rows' PREV payloads (`ctx`, newest last) — retained so a later row's
  * `PREV(col, k)` can still see physical predecessors that an earlier
  * match already consumed.
  */
final case class PatternState(rows: List[(Long, Long, String, String)],
    matchNo: Long, ctx: List[String])

/** One emitted match. `values` holds the long-valued measures in caller
  * order (times as epoch ms, counts and MATCH_NUMBER as plain longs,
  * [[PatternTracker.UnmatchedTime]] for a FIRST/LAST over a variable
  * that matched no row; a placeholder 0 in the slots of column
  * measures). `cvals` holds one row payload per column measure (kinds
  * 5/6) in measure order — null when the variable matched no row.
  */
final case class PatternMatch(key: String, values: List[Long],
    cvals: List[String])

/** Streaming event-time row-pattern recognition — the per-key CEP core
  * behind the harness's streaming `MATCH_RECOGNIZE` subset, with the
  * mechanics of Flink's event-time CEP operator:
  *
  *  - rows buffer in per-key state until the watermark passes them;
  *    only matured rows (ts strictly below the watermark — a future
  *    row may still carry ts == watermark) participate in decisions;
  *  - the greedy backtracking matcher (same semantics as the batch
  *    [[graft.harness.MatchRecognize]] NFA) runs over the matured
  *    prefix and tracks whether any explored path was cut short by the
  *    maturity boundary (regex-`hitEnd` discipline): a match or a
  *    no-match decision is emitted only when more input could not
  *    change it, so results are exactly the batch results on the same
  *    ordered data — no retraction needed, append mode;
  *  - event-time timeouts re-drive keys whose watermark advanced with
  *    no new rows, so pending decisions finalize without traffic.
  *
  * State is bounded by the watermark delay plus the longest
  * still-undecided match attempt on each key — the contract of any
  * event-time CEP engine (an unbounded greedy run over always-matching
  * rows holds state until a non-matching row or the key goes quiet).
  * A WITHIN horizon tightens both bounds: matches prune during
  * matching on the strict `ts(first) + n` bound (exactly the batch
  * matcher / Flink CEP), and a start's decision is FINAL once the
  * watermark passes its horizon — the watermark drops later arrivals,
  * so the candidate set is complete and no breaker row is needed.
  */
object PatternTracker {

  /** Pattern node: a quantified variable ([[Elem]]: bit index, min and
    * max repetitions, `hi = Int.MaxValue` for unbounded) or a
    * quantified grouped sub-pattern ([[Group]]: the alternation
    * branches repeat as a unit — each iteration tries the branches
    * leftmost-first, greedy with full backtracking across both the
    * branch choice and the group boundary — the streaming mirror of
    * the batch matcher's pattern tree; a body with no `|` is a single
    * branch).
    */
  sealed trait PatNode
  final case class Elem(varIdx: Int, lo: Int, hi: Int) extends PatNode
  final case class Group(branches: Seq[Seq[PatNode]], lo: Int, hi: Int)
    extends PatNode

  /** Matcher-compiled pattern node: the [[PatNode]] tree with every
    * branch list materialized as arrays ONCE at compile time — the
    * matcher's group loop visits branches per row per match attempt,
    * so a per-visit `Seq.toArray` there would be a hot-loop
    * allocation. */
  private sealed trait CNode extends Serializable
  private final case class CElem(varIdx: Int, lo: Int, hi: Int) extends CNode
  private final case class CGrp(branches: Array[Array[CNode]], lo: Int,
      hi: Int) extends CNode
  private def compileNode(n: PatNode): CNode = n match {
    case Elem(v, lo, hi) => CElem(v, lo, hi)
    case Group(bs, lo, hi) =>
      CGrp(bs.map(_.map(compileNode).toArray).toArray, lo, hi)
  }

  /** Measure: (kind, varMask) with kind 0 = FIRST(var ts), 1 = LAST(var
    * ts), 2 = COUNT(var.*), 3 = COUNT(*), 4 = MATCH_NUMBER(),
    * 5 = FIRST(var payload), 6 = LAST(var payload) — 5/6 return the
    * matched row's `vals` JSON via [[PatternMatch.cvals]] —
    * 7 = CLASSIFIER() as the last matched row's variable INDEX (the
    * harness maps it back to the variable name), 8 = SUM / 9 = MIN /
    * 10 = MAX / 11 = AVG over an integer field of the var's assigned
    * rows' `vals` payloads (see [[AggSpec]]; results ride
    * [[PatternMatch.cvals]] as decimal strings, null when the variable
    * matched no row or only NULLs — SQL aggregate discipline).
    * `varMask` selects the variable's rows by def-bit: a single bit
    * for a pattern variable, an OR-mask for a SQL:2016 SUBSET union
    * (whose rows are any member's rows).
    */
  type Measure = (Int, Long)

  /** Bit `a` of `mask` — membership of primary-variable index `a` in a
    * readable variable's mask (`a = -1`, no assignment, is in none). */
  @inline private def inMask(mask: Long, a: Int): Boolean =
    a >= 0 && ((mask >> a) & 1L) == 1L

  /** Executor-side contract for aggregate measures (kinds 8-11):
    * `aggCols(j)` is the `vals`-payload field name of the j-th
    * aggregate measure, in measure order. The harness gates these
    * columns to integral types, so the tracker aggregates exact longs
    * (AVG divides as double on emission — identical arithmetic to the
    * batch matcher's long-mode accumulation).
    */
  final case class AggSpec(aggCols: Array[String])

  /** FIRST/LAST result for a variable that matched no row — decoded to
    * SQL NULL by the harness. Long.MinValue, not -1: epoch ms of -1 (or
    * any pre-1970 event time) is a legitimate timestamp.
    */
  val UnmatchedTime: Long = Long.MinValue

  /** Executor-side contract for `PREV(col[, k])` in DEFINE predicates.
    * The harness type-gates the referenced columns (JSON-lossless types
    * only), packs them as a per-row JSON payload ([[PatternEvent.lag]]),
    * and translates each PREV-containing predicate into a bound
    * Catalyst expression over the flat layout
    * `cols ++ __prev_1_<col>... ++ __prev_maxK_<col>...`. The tracker
    * re-evaluates those variables' def bits over the matured,
    * event-time-ordered rows — the same physical-row navigation the
    * batch rewrite gets from `lag(col, k)` over the match order. A row
    * whose k-th predecessor is absent (start of the key, or beyond the
    * retained context) sees NULLs, so the predicate is unknown and the
    * variable does not match — identical to batch lag semantics.
    */
  final case class PrevSpec(
      cols: Array[String],
      types: Array[org.apache.spark.sql.types.DataType],
      maxK: Int,
      preds: Array[(Int, org.apache.spark.sql.catalyst.expressions.Expression)],
      // cross-variable / running-aggregate conjuncts
      // (FIRST/LAST(V.col[, k]) of another variable,
      // SUM/AVG/MIN/MAX(V.col) of any variable): evaluated DURING
      // matching against the running assignment, over the layout
      // `cols ++ one slot per ref ++ one slot per aggregate`; refs are
      // (isFirst, refVarMask, ordinal of the column in `cols`, logical
      // offset k — the slot holds the (k+1)-th row from the
      // first/last), aggRefs are (fnKind 0=SUM 1=AVG 2=MIN 3=MAX,
      // refVarMask, ordinal). The mask is a single def-bit for a
      // pattern variable, an OR-mask for a SUBSET union. Aggregates
      // follow the batch matcher's SQL:2016 running semantics: rows
      // assigned to the masked set so far, plus — when the variable
      // being DEFINEd is a member of the mask — the current element's
      // run and the candidate row itself.
      crossPreds: Array[(Int,
        org.apache.spark.sql.catalyst.expressions.Expression,
        Array[(Boolean, Long, Int, Int)],
        Array[(Int, Long, Int)])] = Array(),
      // max NEXT(col, k) lead offset: the preds layout gains
      // `__next_1_<col>.. __next_maxNextK_<col>` blocks after the PREV
      // blocks, filled from MATURED successors (their values are final
      // — all rows below the watermark are present and sorted, and a
      // row's successor is never consumed while the row is undecided).
      // Decisions defer within maxNextK of the maturity boundary: the
      // last maxNextK matured rows' successors may not have arrived.
      maxNextK: Int = 0) {

    /** Codegen'd predicates, compiled once per deserialized instance:
      * `update` runs once per key per trigger, and interpreted
      * `Expression.eval` per row is the hot cost of the PREV/NEXT bit
      * recompute and the cross/aggregate match-time evaluation. The
      * spec deserializes with the task closure, so each task compiles
      * (and exclusively owns) its own predicates — generated code that
      * carries mutable state (e.g. a non-foldable RLIKE pattern cache)
      * is never shared across concurrently-running tasks, which a memo
      * keyed by STRUCTURAL expression equality could not guarantee.
      */
    @transient lazy val compiledPreds:
        Array[(Int, org.apache.spark.sql.catalyst.expressions.BasePredicate)] =
      preds.map { case (v, ex) =>
        (v, org.apache.spark.sql.catalyst.expressions.Predicate.create(ex)) }
    @transient lazy val compiledCrossPreds:
        Array[org.apache.spark.sql.catalyst.expressions.BasePredicate] =
      crossPreds.map { case (_, ex, _, _) =>
        org.apache.spark.sql.catalyst.expressions.Predicate.create(ex) }
  }

  private lazy val jackson = new com.fasterxml.jackson.databind.ObjectMapper

  // memo sentinel for "this row has no vals payload" (null can't be a
  // HashMap hit marker)
  private val NullTree: AnyRef = new Object

  /** Decodes one row's lag payload into internal-typed values aligned
    * with `spec.cols` (null for absent/null fields). */
  private def parseLag(spec: PrevSpec, json: String): Array[Any] = {
    val out = new Array[Any](spec.cols.length)
    if (json != null && json.nonEmpty && json != "{}") {
      val node = jackson.readTree(json)
      var i = 0
      while (i < spec.cols.length) {
        val jn = node.get(spec.cols(i))
        if (jn != null && !jn.isNull) {
          import org.apache.spark.sql.types._
          out(i) = spec.types(i) match {
            case StringType =>
              org.apache.spark.unsafe.types.UTF8String.fromString(jn.asText)
            case LongType => jn.asLong
            case IntegerType => jn.asInt
            case ShortType => jn.asInt.toShort
            case ByteType => jn.asInt.toByte
            case BooleanType => jn.asBoolean
            case _ => null
          }
        }
        i += 1
      }
    }
    out
  }

  /** Event-time idle TTL for keys holding only match-number continuity
    * (no buffered rows): once the watermark moves this far past a
    * quiet key, its state is dropped — bounding state by ACTIVE key
    * cardinality. A key that returns later restarts MATCH_NUMBER at 1
    * (the same trade Flink makes under state TTL).
    */
  val IdleTtlMs: Long = 3600L * 1000L

  def track(
      input: Dataset[PatternEvent],
      watermarkDelay: String,
      elems: Seq[PatNode],
      measures: Seq[Measure],
      skipToNextRow: Boolean,
      withinMs: Long = 0L): Dataset[PatternMatch] =
    trackBranches(input, watermarkDelay, Seq(elems), measures,
      skipToNextRow, None, withinMs)

  /** Full-surface variant: alternation branches in preference order
    * (leftmost wins, as in the batch matcher) and AFTER MATCH SKIP TO
    * FIRST/LAST var as `skipTo = Some((isFirst, varMask))` — the
    * standard's no-row / match-start error cases throw at runtime,
    * failing the streaming query exactly like Flink's CEP operator.
    */
  def trackBranches(
      input: Dataset[PatternEvent],
      watermarkDelay: String,
      branches: Seq[Seq[PatNode]],
      measures: Seq[Measure],
      skipToNextRow: Boolean,
      skipTo: Option[(Boolean, Long)],
      withinMs: Long,
      prevSpec: Option[PrevSpec] = None,
      aggSpec: Option[AggSpec] = None,
      // per-measure FIRST/LAST logical offset (SQL:2016
      // `FIRST/LAST(V.col, k)`), parallel to `measures`; null = all 0.
      // Evaluation happens at emission time, when the match extent is
      // fully matured, so the offset is a plain occurrence count over
      // the final assignment — no extra state.
      measureOffsets: Array[Int] = null): Dataset[PatternMatch] = {
    implicit val outEnc = Encoders.product[PatternMatch]
    implicit val stateEnc = Encoders.product[PatternState]
    implicit val keyEnc = Encoders.STRING
    // compiled once here (driver side, shipped in the closure): the
    // matcher then walks array-backed nodes with zero per-visit
    // conversion
    val branchArr = branches.map(_.map(compileNode).toArray).toArray
    val measureArr = measures.toArray
    Watermarks.ensure(input, "ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: String, rows: Iterator[PatternEvent],
         state: GroupState[PatternState]) =>
          update(key, rows, state, branchArr, measureArr, skipToNextRow,
            skipTo, withinMs, prevSpec, aggSpec, measureOffsets))
  }

  private def update(
      key: String,
      rows: Iterator[PatternEvent],
      state: GroupState[PatternState],
      branches: Array[Array[CNode]],
      measures: Array[Measure],
      skipToNextRow: Boolean,
      skipTo: Option[(Boolean, Long)],
      withinMs: Long,
      prevSpec: Option[PrevSpec],
      aggSpec: Option[AggSpec],
      measureOffsets: Array[Int]): Iterator[PatternMatch] = {
    val prev = state.getOption.getOrElse(PatternState(Nil, 0L, Nil))
    val incoming = rows.map(e => (e.ts.getTime, e.defs, e.vals, e.lag)).toList
    // ties on (ts, defs, vals) have no further discriminator; sorting on
    // all three keeps replays deterministic (Flink breaks CEP ties by
    // arrival)
    val all = (prev.rows ++ incoming).sortBy(identity)
    // a bounded run has the group's complete input here, so everything
    // is matured and every decision is final — the batch matcher's
    // semantics through the identical code path
    val (wmMs, isFinal) = Watermarks.current(state)
    val matured = all.takeWhile(_._1 < wmMs).toArray
    val unmatured = all.drop(matured.length)

    val n = matured.length
    // PREV-dependent def bits arrive as 0 from upstream (Catalyst can't
    // see neighboring stream rows) and are recomputed here over the
    // matured, ordered prefix — predecessors are either still in
    // `matured` or, if consumed by an earlier match, in the retained
    // `ctx` payload window. Bits are recomputed (not persisted) each
    // update: cheap over the small undecided window, and state rows
    // keep their original sort-stable tuples.
    // parsed lag payloads, shared by the PREV bit recompute and the
    // cross-variable match-time evaluation
    val lagVals: Array[Array[Any]] = prevSpec match {
      case Some(ps) if ps.preds.nonEmpty || ps.crossPreds.nonEmpty =>
        matured.map(r => parseLag(ps, r._4))
      case _ => null
    }
    val effDefs: Array[Long] = prevSpec match {
      case None => null
      case Some(ps) if ps.preds.isEmpty => null
      case Some(ps) =>
        val c0 = ps.cols.length
        val ctxVals = prev.ctx.map(parseLag(ps, _)).toArray
        Array.tabulate(n) { i =>
          var d = matured(i)._2
          val row = new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(c0 * (ps.maxK + 1 + ps.maxNextK))
          var c = 0
          while (c < c0) { row.update(c, lagVals(i)(c)); c += 1 }
          var k = 1
          while (k <= ps.maxK) {
            val j = i - k
            val src =
              if (j >= 0) lagVals(j)
              else if (ctxVals.length + j >= 0) ctxVals(ctxVals.length + j)
              else null
            var c2 = 0
            while (c2 < c0) {
              row.update(k * c0 + c2, if (src == null) null else src(c2))
              c2 += 1
            }
            k += 1
          }
          // NEXT slots from matured successors; a successor past the
          // maturity boundary stays NULL — in batch mode (isFinal,
          // input complete) that IS the partition end and the bit is
          // final, while in streaming the decision loop never decides
          // a row within maxNextK of the boundary (see decN below)
          k = 1
          while (k <= ps.maxNextK) {
            val j = i + k
            val src = if (j < n) lagVals(j) else null
            var c2 = 0
            while (c2 < c0) {
              row.update((ps.maxK + k) * c0 + c2,
                if (src == null) null else src(c2))
              c2 += 1
            }
            k += 1
          }
          // upstream supplies the variable's NON-PREV conjuncts as its
          // def bit; the tracker ANDs in the PREV-bearing conjuncts by
          // clearing the bit when they don't hold (skipping eval when
          // the upstream bit is already 0, like SQL AND short-circuit)
          ps.compiledPreds.foreach { case (v, pred) =>
            if (((d >> v) & 1L) == 1L && !pred.eval(row))
              d &= ~(1L << v)
          }
          d
        }
    }
    // a row satisfies variable v iff bit v of its (effective) defs mask
    // is set
    @inline def okAt(i: Int, v: Int): Boolean =
      (((if (effDefs == null) matured(i)._2 else effDefs(i)) >> v) & 1L) == 1L
    var hitEnd = false
    val assign = Array.fill(n)(-1)
    // cross-variable conjuncts by variable index (null when unused);
    // the predicate is the instance-owned compiled form (see PrevSpec)
    val crossByVar: Array[(org.apache.spark.sql.catalyst.expressions.BasePredicate,
        Array[(Boolean, Long, Int, Int)], Array[(Int, Long, Int)])] = prevSpec match {
      case Some(ps) if ps.crossPreds.nonEmpty =>
        val arr = new Array[(org.apache.spark.sql.catalyst.expressions.BasePredicate,
          Array[(Boolean, Long, Int, Int)], Array[(Int, Long, Int)])](64)
        ps.crossPreds.zip(ps.compiledCrossPreds).foreach {
          case ((v, _, refs, aggs), pred) => arr(v) = (pred, refs, aggs) }
        arr
      case _ => null
    }
    /** Variable v's cross/aggregate conjuncts at matured row `rowAbs`:
      * each FIRST/LAST(V.col) slot resolves over the rows the running
      * assignment gives V in [pAbs, elemStart) — NULL while V has
      * matched no row — and each SUM/AVG/MIN/MAX(V.col) slot aggregates
      * those rows plus (when V is the variable being DEFINEd) the
      * current element's run and the candidate row, SQL:2016 running
      * semantics with SQL null discipline (NULL payload values skip; no
      * non-null value → NULL slot → predicate unknown). A false here is
      * a PREDICATE failure (all inputs are matured and assigned), never
      * a hitEnd deferral. The undecided window is small, so the
      * per-candidate rescan the batch matcher amortizes away is fine
      * here.
      */
    def crossOk(v: Int, rowAbs: Int, pAbs: Int, elemStart: Int): Boolean = {
      if (crossByVar == null) return true
      val cd = crossByVar(v)
      if (cd == null) return true
      val (pred, refs, aggs) = cd
      val c0 = prevSpec.get.cols.length
      val irow = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(c0 + refs.length + aggs.length)
      val cur = lagVals(rowAbs)
      var i = 0
      while (i < c0) { irow.update(i, cur(i)); i += 1 }
      var j = 0
      while (j < refs.length) {
        val (first, rvMask, colIdx, skip) = refs(j)
        var found = -1
        var remaining = skip
        if (first) {
          var r = pAbs
          while (found < 0 && r < elemStart) {
            if (inMask(rvMask, assign(r))) {
              if (remaining == 0) found = r else remaining -= 1
            }
            r += 1
          }
        } else {
          var r = elemStart - 1
          while (found < 0 && r >= pAbs) {
            if (inMask(rvMask, assign(r))) {
              if (remaining == 0) found = r else remaining -= 1
            }
            r -= 1
          }
        }
        irow.update(c0 + j, if (found < 0) null else lagVals(found)(colIdx))
        j += 1
      }
      var a = 0
      while (a < aggs.length) {
        val (fnKind, rvMask, colIdx) = aggs(a)
        var sumL = 0L
        var cnt = 0L
        var best: Any = null
        def acc(value: Any): Unit = if (value != null) {
          fnKind match {
            case 0 | 1 => sumL += value.asInstanceOf[Number].longValue
            case _ =>
              val cmp =
                if (best == null) 0
                else value.asInstanceOf[Comparable[Any]].compareTo(best)
              if (best == null || (fnKind == 2 && cmp < 0) ||
                  (fnKind == 3 && cmp > 0))
                best = value
          }
          cnt += 1
        }
        var r = pAbs
        while (r < elemStart) {
          if (inMask(rvMask, assign(r))) acc(lagVals(r)(colIdx))
          r += 1
        }
        // the current element's run accrues when the DEFINEd variable
        // is a member of the aggregate's mask — itself, or through a
        // SUBSET union containing it
        if (inMask(rvMask, v)) {
          r = elemStart
          while (r <= rowAbs) { acc(lagVals(r)(colIdx)); r += 1 }
        }
        irow.update(c0 + refs.length + a, fnKind match {
          case 0 => if (cnt == 0) null else sumL
          case 1 => if (cnt == 0) null else sumL.toDouble / cnt
          case _ => best
        })
        a += 1
      }
      pred.eval(irow)
    }
    // WITHIN horizon for a match starting at p: rows with
    // ts - ts(p) < withinMs, strict — identical to the batch matcher
    // and Flink CEP. Because the watermark drops later-than-wm arrivals,
    // the candidate set for a start is COMPLETE once wm >= ts(p)+within:
    // a horizon-truncated run is then a final decision, not a hitEnd.
    // decision horizon: rows within maxNextK of the maturity boundary
    // have undecidable NEXT bits (their physical successors may not
    // have arrived), so while the stream is live the matcher walks —
    // and decides — only [0, decN); the tail rows' VALUES are final
    // and already serve as NEXT context for earlier rows, but their
    // own classification defers until their successors mature
    val decN = prevSpec match {
      case Some(ps) if ps.maxNextK > 0 && !isFinal =>
        math.max(0, n - ps.maxNextK)
      case _ => n
    }
    // true WITHIN horizon end over the matured rows (n when unbounded)
    def horizonEnd(p: Int): Int = {
      if (withinMs <= 0L) return n
      var r = p
      while (r < n && matured(r)._1 - matured(p)._1 < withinMs) r += 1
      r
    }
    // greedy backtracking over the matured prefix; `hitEnd` latches when
    // any explored path is truncated by the DEFERRAL boundary (maturity
    // end, or the NEXT decidability edge decN) rather than by a failing
    // predicate or a closed WITHIN horizon — the decision is then
    // deferred. `deferAtLim` is precomputed per start (see the decision
    // loop): true when a run reaching `lim` means "more input needed".
    def tryBranch(elems: Array[CNode], e: Int, pos: Int, pAbs: Int,
        lim: Int, deferAtLim: Boolean): Int = {
      tryNodes(elems, e, pos, pAbs, lim, deferAtLim, p2 => p2)
    }

    /** Continuation-walking matcher for pattern trees with grouped
      * sub-patterns — the streaming mirror of the batch matcher's
      * `tryNodes`: `cont` receives the position after this node list
      * and returns the final match end (or -1 to reject and
      * backtrack), so a group's repetition loop threads through it and
      * backtracking crosses the group boundary.
      */
    def tryNodes(nodes: Array[CNode], e: Int, pos: Int, pAbs: Int,
        lim: Int, deferAtLim: Boolean, cont: Int => Int): Int = {
      if (e == nodes.length) return cont(pos)
      nodes(e) match {
        case el: CElem =>
          var run = 0
          while (run < el.hi && pos + run < lim && okAt(pos + run, el.varIdx) &&
              crossOk(el.varIdx, pos + run, pAbs, pos))
            run += 1
          if (run < el.hi && pos + run == lim && deferAtLim)
            hitEnd = true
          var k = run
          while (k >= el.lo) {
            var r = 0
            while (r < k) { assign(pos + r) = el.varIdx; r += 1 }
            val end = tryNodes(nodes, e + 1, pos + k, pAbs, lim,
              deferAtLim, cont)
            if (end >= 0) return end
            k -= 1
          }
          -1
        case g: CGrp =>
          // greedy repetition: attempt one more inner iteration before
          // settling for n so far, trying alternation branches
          // leftmost-first within each iteration (branch arrays were
          // materialized once at compile time — see compileNode); an
          // iteration that consumes no rows terminates the loop (the
          // regex empty-loop rule). A branch truncated by the maturity
          // boundary latches hitEnd like any other path, so the outer
          // decision loop defers — branch preference can never be
          // decided early.
          val bs = g.branches
          def rep(iter: Int, here: Int): Int = {
            if (iter < g.hi) {
              var bi = 0
              while (bi < bs.length) {
                val more = tryNodes(bs(bi), 0, here, pAbs, lim, deferAtLim,
                  p2 => if (p2 == here) -1 else rep(iter + 1, p2))
                if (more >= 0) return more
                bi += 1
              }
            }
            if (iter >= g.lo)
              tryNodes(nodes, e + 1, here, pAbs, lim, deferAtLim, cont)
            else -1
          }
          rep(0, pos)
      }
    }

    val out = ArrayBuffer.empty[PatternMatch]
    var matchNo = prev.matchNo
    var p = 0
    var decided = true
    while (decided && p < decN) {
      hitEnd = false
      val hEnd = horizonEnd(p)
      val lim = math.min(hEnd, decN)
      // all rows that could ever join a match at p are matured once the
      // horizon closes below the watermark (future arrivals have
      // ts >= wm >= horizon)
      val horizonFinal =
        withinMs > 0L && matured(p)._1 + withinMs <= wmMs
      // a run reaching `lim` defers (rather than finally truncating)
      // when lim is the NEXT decidability edge with in-horizon rows
      // beyond it, or the maturity end of a horizon that has not
      // closed — a truncation at a CLOSED horizon (hEnd < n, or
      // horizonFinal) is a final predicate-style stop, as in batch
      val deferAtLim = (lim == decN && decN < hEnd) ||
        (hEnd == n && lim == hEnd && !horizonFinal)
      // branches in preference order, exactly the batch matcher: the
      // first branch with a NON-EMPTY match wins. A branch that latches
      // hitEnd stops the scan — a deferred higher-preference branch may
      // still beat any later branch once more input matures, so neither
      // a later branch's match nor a no-match is final yet.
      var end = -1
      var b = 0
      // the hitEnd abort only applies when decisions can defer: in
      // final mode every branch must be tried (the batch matcher does),
      // or a boundary-touching higher branch would skip real matches
      while (b < branches.length && end < 0 && !(hitEnd && !isFinal)) {
        java.util.Arrays.fill(assign, -1)
        val e2 = tryBranch(branches(b), 0, p, p, lim, deferAtLim)
        if (e2 > p) end = e2
        b += 1
      }
      if (hitEnd && !isFinal) {
        // boundary reached: neither this match nor this no-match is
        // final; everything from p on stays buffered
        decided = false
      } else if (end > p) {
        matchNo += 1
        // first/last matching row of a masked variable set in [p, end):
        // shared by the time measures (value = its time) and the
        // payload measures (value = its vals JSON); -1 when the set
        // matched no row. The mask is a single def-bit for a pattern
        // variable, an OR-mask for a SUBSET union.
        def edgeRow(vMask: Long, first: Boolean, skip: Int = 0): Int = {
          var r = if (first) p else end - 1
          val step = if (first) 1 else -1
          var left = end - p
          var remaining = skip
          while (left > 0) {
            if (inMask(vMask, assign(r))) {
              if (remaining == 0) return r
              remaining -= 1
            }
            r += step; left -= 1
          }
          -1
        }
        val cvals = List.newBuilder[String]
        var ai = -1 // aggregate-measure ordinal, in measure order
        // per-match memo: a matched row's vals JSON parses at most once
        // per emitted match, however many aggregate measures read it
        val valsTreeMemo = new java.util.HashMap[Int, AnyRef]()
        def valsTreeAt(r: Int): com.fasterxml.jackson.databind.JsonNode = {
          var node = valsTreeMemo.get(r)
          if (node == null) {
            node =
              if (matured(r)._3 == null || matured(r)._3.isEmpty) NullTree
              else jackson.readTree(matured(r)._3)
            valsTreeMemo.put(r, node)
          }
          if (node eq NullTree) null
          else node.asInstanceOf[com.fasterxml.jackson.databind.JsonNode]
        }
        val vals = measures.zipWithIndex.map { case ((kind, vMask), mi) =>
          def off: Int = if (measureOffsets == null) 0 else measureOffsets(mi)
          kind match {
            case 0 | 1 =>
              // found-ness tracked separately from the value: any epoch
              // ms (including negatives) is a legitimate match time;
              // a logical offset past the assignment list → unmatched
              val r = edgeRow(vMask, first = kind == 0, skip = off)
              if (r < 0) UnmatchedTime else matured(r)._1
            case 5 | 6 =>
              val r = edgeRow(vMask, first = kind == 5, skip = off)
              cvals += (if (r < 0) null else matured(r)._3)
              0L // placeholder: the payload rides cvals
            case 2 =>
              var cnt = 0L
              var r = p
              while (r < end) { if (inMask(vMask, assign(r))) cnt += 1; r += 1 }
              cnt
            case 3 => (end - p).toLong
            case 4 => matchNo
            case 7 => assign(end - 1).toLong // CLASSIFIER(): last row's var
            case _ =>
              // SUM/MIN/MAX/AVG (8-11) over variable v's rows: exact
              // long accumulation over the gated integral payload
              // field, SQL null discipline (NULL values skip; none →
              // null). AVG divides as double on emission — the same
              // arithmetic as the batch matcher's long mode.
              ai += 1
              val colName = aggSpec.get.aggCols(ai)
              var sum = 0L
              var cnt = 0L
              var best = 0L
              var found = false
              var r = p
              while (r < end) {
                if (inMask(vMask, assign(r))) {
                  val node = valsTreeAt(r)
                  val jn = if (node == null) null else node.get(colName)
                  if (jn != null && !jn.isNull) {
                    val x = jn.asLong
                    kind match {
                      case 8 | 11 => sum += x
                      case 9 => if (!found || x < best) best = x
                      case _ => if (!found || x > best) best = x
                    }
                    cnt += 1
                    found = true
                  }
                }
                r += 1
              }
              cvals += (if (!found) null
                else kind match {
                  case 8 => sum.toString
                  case 11 => (sum.toDouble / cnt).toString
                  case _ => best.toString
                })
              0L // placeholder: the result rides cvals
          }
        }.toList
        out += PatternMatch(key, vals, cvals.result())
        p =
          if (skipToNextRow) p + 1
          else skipTo match {
            case None => end
            case Some((first, vMask)) =>
              // SKIP TO FIRST/LAST <var>: resume AT that row; the
              // standard's two error cases are data-dependent and throw
              // at runtime, failing the query like Flink's CEP operator
              val r = edgeRow(vMask, first)
              if (r < 0) throw new IllegalArgumentException(
                "MATCH_RECOGNIZE: AFTER MATCH SKIP TO variable matched " +
                  "no row in this match")
              if (r == p) throw new IllegalArgumentException(
                "MATCH_RECOGNIZE: AFTER MATCH SKIP TO resumes at the " +
                  "match start — infinite loop")
              r
          }
      } else {
        p += 1 // final no-match at p (failed on a predicate, not input end)
      }
    }

    if (!isFinal) {
      val kept = matured.drop(p).toList ++ unmatured
      // PREV context: payloads of rows consumed this update ride along
      // (newest last, capped at maxK) so later rows still see their
      // physical predecessors
      val ctx = prevSpec.fold(List.empty[String]) { ps =>
        (prev.ctx ++ matured.take(p).map(_._4)).takeRight(ps.maxK)
      }
      // ctx must survive an all-no-match flush: rows finally passed
      // over are still PHYSICAL predecessors of future rows, so their
      // PREV payloads ride state until the idle TTL reclaims the key
      if (kept.isEmpty && matchNo == 0L && ctx.isEmpty) state.remove()
      else if (kept.isEmpty && state.hasTimedOut &&
          incoming.isEmpty && prev.rows.isEmpty) {
        // idle expiry: a timeout fired for a key that was ALREADY empty
        // and received nothing — it held only MATCH_NUMBER continuity
        // and the PREV ctx window for IdleTtlMs of event time, so drop
        // it (state stays bounded by active keys). A key that returns
        // later restarts MATCH_NUMBER at 1 and sees NULL PREV across
        // the gap — the same trade Flink makes under state TTL. A
        // maturation wake that merely CONSUMED the last buffered rows
        // is not idle: its matchNo survives and the idle clock starts
        // below.
        state.remove()
      } else {
        state.update(PatternState(kept, matchNo, ctx))
        if (kept.isEmpty)
          // nothing buffered: wake only to expire the idle key
          state.setTimeoutTimestamp(wmMs + IdleTtlMs)
        else
          // wake when the earliest buffered row can mature (strictly
          // past the current watermark by construction)
          kept.headOption.foreach { case (ts, _, _, _) =>
            state.setTimeoutTimestamp(math.max(ts, wmMs) + 1L)
          }
      }
    }
    out.iterator
  }
}
