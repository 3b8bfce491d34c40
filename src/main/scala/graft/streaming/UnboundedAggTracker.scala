package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One input row of a TTL'd unbounded GROUP BY aggregation: the opaque
  * group key (the harness packs the GROUP BY tuple as JSON) and the
  * per-aggregate input slots — the same (nn, lv, dv, sv) layout every
  * other slot tracker rides ([[CumulateEvent]] minus the event time:
  * an unbounded aggregation has no time attribute).
  */
final case class UnboundedAggEvent(key: String,
    nn: List[Boolean], lv: List[Long], dv: List[Double], sv: List[String])

/** Per-key state: one accumulator per aggregate slot (the shared
  * [[CumAcc]] carrier with span/step pinned to 0 — an unbounded group
  * has no window). */
final case class UnboundedAggState(accs: List[CumAcc])

/** One emitted update: the group key and the aggregate results as the
  * house vals JSON (`{"a0": ..., ...}`, null results omitted). */
final case class UnboundedAggRow(key: String, vals: String)

/** Flink's plain unbounded GROUP BY aggregation under
  * `table.exec.state.ttl` — Spark's native streaming aggregation keeps
  * one state row per key FOREVER (no TTL hook), which at 100 TB key
  * cardinalities is the dominant state-growth risk; Flink expires the
  * per-key accumulator after the configured idle TTL. This tracker
  * re-hosts the aggregation on `flatMapGroupsWithState`:
  *
  *  - rows fold into per-key slot accumulators by the shared
  *    slot-accumulator law ([[CumAcc]]: Welford moments, NaN-safe
  *    extrema, exact decimal seats, sorted distinct sets);
  *  - every batch that touches a key re-emits the key's current
  *    aggregate row (update-mode semantics, same as Spark's native
  *    update-mode aggregation);
  *  - each write re-arms a PROCESSING-TIME timeout of the TTL
  *    (Flink's OnCreateAndWrite visibility); an idle key drops its
  *    accumulator entirely, so a returning row aggregates fresh —
  *    exactly Flink's expired-state behavior.
  *
  * Exactness note: this path makes COUNT(DISTINCT) and the decimal
  * kinds EXACT (value-set / BigDecimal state), where the native
  * streaming path would have HLL-approximated distinct counts.
  * On a BOUNDED run the single invocation holds the whole input and
  * the emission is the batch aggregate.
  */
object UnboundedAggTracker {

  /** Test-observable per-key state high-water mark (the
    * OverAggTracker.peak* pattern): the largest exact-distinct value
    * set any key's accumulator held, updated at every state save.
    * Exact COUNT(DISTINCT) state is O(distinct values per active key)
    * — the one dimension of this tracker's state the TTL does NOT
    * bound (an always-hot key never expires) — so the gauge makes a
    * hot key's growth observable before production finds it.
    * Monotonic maximum; specs reset before a run and assert the
    * data-declared bound. */
  private[graft] val peakDistinctValues =
    new java.util.concurrent.atomic.AtomicLong
  private def bump(g: java.util.concurrent.atomic.AtomicLong, v: Long): Unit =
    { g.getAndAccumulate(v, math.max(_, _)): Unit }

  def track(
      input: Dataset[UnboundedAggEvent],
      aggKinds: Seq[Int],
      ttlSec: Long): Dataset[UnboundedAggRow] = {
    require(ttlSec > 0L, "UnboundedAggTracker is the TTL'd form; " +
      "without a state TTL Spark's native streaming aggregation applies")
    implicit val outEnc = Encoders.product[UnboundedAggRow]
    implicit val stateEnc = Encoders.product[UnboundedAggState]
    implicit val keyEnc = Encoders.STRING
    val kinds = aggKinds.toArray
    input
      .groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.ProcessingTimeTimeout)(
        (key: String, rows: Iterator[UnboundedAggEvent],
         state: GroupState[UnboundedAggState]) =>
          update(key, rows, state, kinds, ttlSec))
  }

  private def update(
      key: String,
      rows: Iterator[UnboundedAggEvent],
      state: GroupState[UnboundedAggState],
      kinds: Array[Int],
      ttlSec: Long): Iterator[UnboundedAggRow] = {
    // idle past the TTL: drop the key's accumulators — a later row
    // aggregates fresh (Flink's expired-state behavior)
    if (state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    val accs = state.getOption.map(_.accs.toArray)
      .getOrElse(Array.tabulate(kinds.length)(CumAcc.empty(_)))
    // DISTINCT slots keep their set in a mutable side set for O(1)
    // inserts (the CumAcc.ds list is only the state carrier)
    val dsets = accs.map(a => scala.collection.mutable.HashSet.from(a.ds))
    rows.foreach { e =>
      var i = 0
      while (i < kinds.length) {
        if (e.nn(i)) {
          if (CumAcc.isDistinctKind(kinds(i))) dsets(i) += e.sv(i)
          accs(i) = CumAcc.fold(kinds(i), accs(i), e.lv(i), e.dv(i), e.sv(i))
        }
        i += 1
      }
    }
    state.update(UnboundedAggState(kinds.indices.map(i =>
      if (dsets(i).nonEmpty) accs(i).copy(ds = dsets(i).toList.sorted)
      else accs(i)).toList))
    if (dsets.nonEmpty) bump(peakDistinctValues, dsets.map(_.size).max.toLong)
    // re-arm on every write (OnCreateAndWrite); bounded runs execute
    // the operator in batch where the timeout never fires
    state.setTimeoutDuration(ttlSec * 1000L)
    Iterator.single(
      UnboundedAggRow(key, CumAcc.vals(kinds, accs(_), dsets(_))))
  }
}
