package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.collection.mutable.ArrayBuffer

/** One input row of a streaming OVER aggregation: the opaque partition
  * key (PARTITION BY columns as JSON), the event time, per-aggregate
  * input slots (`nn`/`lv`/`dv`/`sv` — the [[CumulateEvent]] contract;
  * `sv` carries the string-encoded value for DISTINCT slots only), and
  * the carrier-encoded payload of every other source column (the
  * emission re-joins aggregates to their input row, Flink's OVER
  * output shape).
  */
final case class OverEvent(key: String, ts: Timestamp,
    nn: List[Boolean], lv: List[Long], dv: List[Double], sv: List[String],
    payload: String)

/** One buffered row in per-key state — the event with its time as
  * epoch ms (state never stores Timestamp objects). */
final case class OverRow(tsMs: Long, nn: List[Boolean], lv: List[Long],
    dv: List[Double], sv: List[String], payload: String)

/** Per-key state: `pending` rows not yet matured by the watermark,
  * `hist` matured rows a bounded frame still needs (within the RANGE
  * horizon / the last N for ROWS), for UNBOUNDED frames the running
  * accumulators `acc` plus per-slot distinct-value sets `ds` (sorted
  * for deterministic state; non-distinct slots keep Nil), and
  * `lagHist` — the last max-LAG-offset matured rows, kept whatever the
  * frame is (LAG is positional and ignores the frame).
  */
final case class OverAggState(pending: List[OverRow],
    hist: List[OverRow], acc: List[CumAcc], ds: List[List[String]],
    lagHist: List[OverRow])

/** One emitted row: key, the row's event time (epoch ms), its payload
  * verbatim, and the aggregate results as `{"a0": ..., ...}` JSON
  * (the [[CumulateWindow]] vals contract). */
final case class OverOut(key: String, tsMs: Long, payload: String,
    vals: String)

/** Streaming event-time OVER aggregation — Flink's over-window
  * operator (`AGG(x) OVER (PARTITION BY k ORDER BY rowtime <frame>)`),
  * which Spark rejects on streams ("non-time-based windows"). A row
  * emits once the watermark passes its timestamp, extended with
  * aggregates over its frame of already-matured rows:
  *
  *  - RANGE UNBOUNDED PRECEDING (the SQL default with a bare ORDER
  *    BY): running accumulators; rows sharing a timestamp are PEERS
  *    and all contribute to each other's value (each timestamp group
  *    folds in before the group emits — Flink's
  *    RowTimeRangeUnboundedPrecedingFunction does the same).
  *  - ROWS UNBOUNDED PRECEDING: running accumulators, one fold per
  *    row in (time, payload) order — peers do NOT see each other
  *    beyond their fold position (ROWS semantics; ties are
  *    order-dependent in batch too, so determinism comes from the
  *    payload tiebreak).
  *  - RANGE INTERVAL ... PRECEDING: each timestamp group aggregates
  *    the matured rows in `[ts - range, ts]`, peers included. State
  *    keeps only rows with `ts >= wm - range` — every future row's
  *    frame reaches at most that far back.
  *  - ROWS n PRECEDING: each row aggregates itself plus the previous
  *    n matured rows; state keeps the last n matured rows.
  *
  * Frames are re-folded per row/group in ascending time order —
  * exactly how batch window execution replays a sliding frame, so
  * double sums match batch bit-for-bit (an add/retract accumulator
  * would drift). Cost is O(frame) per row with the frame bounded by
  * the declared range/N, not data volume. Aggregate kinds and
  * emission values are the [[CumAcc]] law — kinds 0-8 plus the
  * exact DISTINCT kinds 9-13 (bounded frames rebuild the frame's
  * value set from its rows; UNBOUNDED frames keep running per-slot
  * sets, growing with the key's distinct values exactly as Flink's
  * distinct over-aggregation state does) plus the variance family
  * 17-20 (fixed-size central moments, Spark's CentralMomentAgg
  * arithmetic).
  *
  * State per key: pending rows (bounded by the watermark delay),
  * frame history (bounded by the frame declaration), and for
  * UNBOUNDED frames a fixed-size accumulator list that persists for
  * the key's lifetime — the same retention contract as Flink's
  * unbounded over-aggregation (idle-state TTL is an operational
  * concern there too).
  */
// Serializable: the state-handler lambda reads the module's gauge
// fields, so closure serialization carries the module reference
// (deserialization resolves back to the per-JVM singleton — the
// gauges are test-observable in local mode, where executors share
// the driver JVM)
object OverAggTracker extends Serializable {

  sealed trait Frame extends Serializable
  /** RANGE UNBOUNDED PRECEDING AND CURRENT ROW (peers included). */
  case object UnboundedRange extends Frame
  /** ROWS UNBOUNDED PRECEDING AND CURRENT ROW. */
  case object UnboundedRows extends Frame
  /** RANGE BETWEEN <ms> PRECEDING AND CURRENT ROW. */
  final case class RangePreceding(ms: Long) extends Frame
  /** ROWS BETWEEN <n> PRECEDING AND CURRENT ROW. */
  final case class RowsPreceding(n: Int) extends Frame

  /** Test-observable per-key state high-water marks (the
    * MatchRecognize.peakWindowRows pattern): saved-state row counts
    * and distinct-set sizes, updated at every state save. Monotonic
    * maxima; specs reset before a run and assert the frame-declared
    * bounds — catching an unbounded-buffering regression that output
    * correctness alone would never show. */
  private[graft] val peakPendingRows = new java.util.concurrent.atomic.AtomicLong
  private[graft] val peakHistRows = new java.util.concurrent.atomic.AtomicLong
  private[graft] val peakLagRows = new java.util.concurrent.atomic.AtomicLong
  private[graft] val peakDistinctValues = new java.util.concurrent.atomic.AtomicLong
  private def bump(g: java.util.concurrent.atomic.AtomicLong, v: Long): Unit =
    { g.getAndAccumulate(v, math.max(_, _)): Unit }

  /** Folds one row's slot `i` of kind `kind` into `a` by the shared
    * slot-accumulator law — the sequential per-row fold is exactly the
    * update path Spark's batch window execution runs, so streamed
    * variance matches batch bit for bit. */
  private def fold(a: CumAcc, r: OverRow, i: Int, kind: Int): CumAcc =
    if (r.nn(i)) CumAcc.fold(kind, a, r.lv(i), r.dv(i), r.sv(i)) else a

  /** The LAG slot kind: emission is the string-carried value of the
    * row `lags(i)` positions back in matured order (NULL when there is
    * no such row, or its input was null) — positional, frame-blind,
    * exactly SQL LAG. */
  private[streaming] val LagKind = 14

  /** FIRST_VALUE / LAST_VALUE slot kinds: the first / last NON-NULL
    * string-carried value within the frame, Flink's null-skipping
    * semantics (its First/LastValueAggFunction ignore nulls). The
    * chosen value rides the slot's distinct-set seat as a 0/1-element
    * set — running UNBOUNDED frames keep first-ever / latest, bounded
    * frames re-pick per frame. */
  private[streaming] val FirstValueKind = 15
  private[streaming] val LastValueKind = 16

  def track(events: Dataset[OverEvent], watermarkDelay: String,
      kinds: Seq[Int], frame: Frame, lags: Seq[Int]): Dataset[OverOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val withWm = Watermarks.ensure(events, "ts", watermarkDelay)
    val unbounded = frame == UnboundedRange || frame == UnboundedRows
    val noSet = scala.collection.Set.empty[String]
    val maxLag = if (lags.isEmpty) 0 else lags.max

    def handle(key: String, it: Iterator[OverEvent],
        state: GroupState[OverAggState]): Iterator[OverOut] = {
      val st = state.getOption.getOrElse(
        OverAggState(Nil, Nil,
          if (unbounded) kinds.indices.map(CumAcc.empty(_)).toList else Nil,
          if (unbounded) kinds.indices.map(_ => List.empty[String]).toList
          else Nil, Nil))
      val incoming = it.map(e => OverRow(e.ts.getTime, e.nn, e.lv, e.dv,
        e.sv, e.payload)).toList
      val (wmMs, isFinal) = Watermarks.current(state)
      val all = st.pending ++ incoming
      // a row matures when the watermark passes it STRICTLY: only then
      // is its peer group (same-timestamp rows) complete
      val (maturedRaw, pending) =
        if (isFinal) (all, Nil) else all.partition(_.tsMs < wmMs)
      // ascending time; payload text breaks timestamp ties so replay
      // and ROWS-frame / LAG order are deterministic
      val matured = maturedRaw.sortBy(r => (r.tsMs, r.payload))
      val out = ArrayBuffer.empty[OverOut]
      var hist = st.hist
      var lagHist = st.lagHist
      var acc = st.acc.toIndexedSeq
      // running distinct sets (UNBOUNDED frames only) — mutable here,
      // re-sorted into state at the end for deterministic replay
      val runDs: IndexedSeq[scala.collection.mutable.Set[String]] =
        if (unbounded)
          st.ds.map(l =>
            scala.collection.mutable.Set[String](l: _*)).toIndexedSeq
        else IndexedSeq.empty
      def foldRun(r: OverRow): Unit = {
        acc = kinds.indices.map { i =>
          if (kinds(i) == LagKind) acc(i)
          else if (kinds(i) == FirstValueKind) {
            if (r.nn(i) && runDs(i).isEmpty) runDs(i) += r.sv(i)
            acc(i)
          } else if (kinds(i) == LastValueKind) {
            if (r.nn(i)) { runDs(i).clear(); runDs(i) += r.sv(i) }
            acc(i)
          } else if (CumAcc.isDistinctKind(kinds(i))) {
            if (r.nn(i)) runDs(i) += r.sv(i)
            acc(i)
          } else fold(acc(i), r, i, kinds(i))
        }.toIndexedSeq
      }
      def runSnapshot: IndexedSeq[scala.collection.Set[String]] =
        kinds.indices.map(i =>
          if (CumAcc.isDistinctKind(kinds(i)) ||
              kinds(i) == FirstValueKind || kinds(i) == LastValueKind)
            runDs(i)
          else noSet)
      // one frame's accumulators + distinct sets, re-folded fresh
      def foldFrame(rows: Seq[OverRow]):
          (IndexedSeq[CumAcc], IndexedSeq[scala.collection.Set[String]]) = {
        val a = kinds.indices.map { i =>
          if (CumAcc.isDistinctKind(kinds(i)) ||
              kinds(i) == LagKind) CumAcc.empty(i)
          else rows.foldLeft(CumAcc.empty(i))((x, r) => fold(x, r, i, kinds(i)))
        }.toIndexedSeq
        val d = kinds.indices.map { i =>
          if (CumAcc.isDistinctKind(kinds(i)))
            rows.iterator.filter(_.nn(i)).map(_.sv(i))
              .toSet: scala.collection.Set[String]
          else if (kinds(i) == FirstValueKind)
            rows.find(_.nn(i)).map(r => Set(r.sv(i)))
              .getOrElse(noSet): scala.collection.Set[String]
          else if (kinds(i) == LastValueKind)
            rows.reverseIterator.find(_.nn(i)).map(r => Set(r.sv(i)))
              .getOrElse(noSet): scala.collection.Set[String]
          else noSet
        }.toIndexedSeq
        (a, d)
      }
      // aggregate fields are per frame/group; LAG fields are per ROW
      // (positional, frame-blind): emit merges them, then the row joins
      // the lag history. A LAG slot also carries a PRESENCE flag
      // (`a<i>_p`): SQL's three-arg default applies only when the
      // offset leaves the partition, NOT to an in-bounds NULL value —
      // the value field alone cannot distinguish the two.
      def emit(r: OverRow, a: IndexedSeq[CumAcc],
          d: IndexedSeq[scala.collection.Set[String]]): Unit = {
        val fields = kinds.indices.flatMap { i =>
          if (kinds(i) == LagKind) {
            val k = lags(i)
            val present = lagHist.size >= k
            val v =
              if (present) {
                val p = lagHist(lagHist.size - k)
                if (p.nn(i)) Some(CumAcc.jsonText(p.sv(i))) else None
              } else None
            v.map(s"a$i" -> _).toSeq :+ (s"a${i}_p" -> present.toString)
          } else {
            val v =
              if (kinds(i) == FirstValueKind ||
                  kinds(i) == LastValueKind)
                d(i).headOption.map(CumAcc.jsonText)
              else CumAcc.fieldValue(kinds(i), a(i), d(i))
            v.map(s"a$i" -> _).toSeq
          }
        }
        out += OverOut(key, r.tsMs, r.payload, CumAcc.valsJson(fields))
        if (maxLag > 0) lagHist = (lagHist :+ r).takeRight(maxLag)
      }

      frame match {
        case UnboundedRows =>
          matured.foreach { r =>
            foldRun(r)
            emit(r, acc, runSnapshot)
          }
        case UnboundedRange =>
          // per-timestamp peer groups: the whole group folds in, then
          // every member emits the group-inclusive value
          matured.groupBy(_.tsMs).toSeq.sortBy(_._1).foreach {
            case (_, group) =>
              group.foreach(foldRun)
              val snap = runSnapshot
              group.foreach(r => emit(r, acc, snap))
          }
        case RangePreceding(ms) =>
          matured.groupBy(_.tsMs).toSeq.sortBy(_._1).foreach {
            case (ts, group) =>
              val frameRows = hist.filter(_.tsMs >= ts - ms) ++ group
              val (a, d) = foldFrame(frameRows)
              group.foreach(r => emit(r, a, d))
              hist = hist ++ group
          }
          // future rows have ts >= wm, so their frames reach back to
          // wm - ms at most
          if (!isFinal) hist = hist.filter(_.tsMs >= wmMs - ms)
          else hist = Nil
        case RowsPreceding(n) =>
          matured.foreach { r =>
            val (a, d) = foldFrame(hist.takeRight(n) :+ r)
            emit(r, a, d)
            hist = (hist :+ r).takeRight(n)
          }
          if (isFinal) hist = Nil
      }

      if (isFinal ||
          (pending.isEmpty && hist.isEmpty && lagHist.isEmpty && !unbounded))
        state.remove()
      else {
        bump(peakPendingRows, pending.size.toLong)
        bump(peakHistRows, hist.size.toLong)
        bump(peakLagRows, lagHist.size.toLong)
        if (unbounded && runDs.nonEmpty)
          bump(peakDistinctValues, runDs.map(_.size).max.toLong)
        state.update(OverAggState(pending.sortBy(r => (r.tsMs, r.payload)),
          hist, acc.toList,
          if (unbounded) runDs.map(_.toList.sorted).toList else Nil,
          if (isFinal) Nil else lagHist))
        // wake when the earliest pending row can mature; with nothing
        // pending, only new data changes anything — no timeout
        if (pending.nonEmpty)
          state.setTimeoutTimestamp(
            math.max(pending.map(_.tsMs).min + 1L, wmMs + 1L))
      }
      out.iterator
    }

    withWm.groupByKey(_.key)
      .flatMapGroupsWithState[OverAggState, OverOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(handle)
  }
}
