package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.collection.mutable.ArrayBuffer

/** One open (not yet emittable) session: instant bounds of its EVENTS
  * (the emitted window end is `last + gap`) and one accumulator per
  * aggregate slot ([[CumAcc]] with the span/step fields unused — the
  * session IS the window). `ds` lists are deduplicated and sorted at
  * state-save time for deterministic replay.
  */
final case class OpenSess(start: Long, last: Long, accs: List[CumAcc])

final case class SessionAggState(sessions: List[OpenSess])

/** Streaming `SESSION(gap)` window aggregation with EXACT distinct
  * aggregates — the gap-merge counterpart of [[CumulateTracker]] /
  * [[GridAggTracker]], used when a session statement carries
  * COUNT/SUM/AVG(DISTINCT): Spark's native `session_window` path
  * compiles to a plain streaming Aggregate where exact distinct is
  * rejected (and the session-extension rule would silently run it as
  * an HLL approximation), while Flink's session aggregation keeps the
  * exact per-session value set. Statements without a distinct
  * aggregate stay on the native `session_window` path.
  *
  * Mechanics: per key, incoming rows become unit sessions and merge
  * with the held open sessions wherever they touch — Flink merges
  * events exactly `gap` apart (`diff <= gap`), so the merge condition
  * over start-sorted sessions is `next.start <= cur.last + gap`. A
  * session is final once no future row can extend it: future rows
  * carry `ts >= watermark`, and any row with `ts <= last + gap` would
  * merge, so emission waits for `watermark > last + gap` (strict — a
  * row AT `last + gap` still touches). The emitted window is
  * `[start, last + gap)`, Flink's session bounds. State is bounded by
  * open sessions per active key; event-time timeouts re-drive quiet
  * keys so pending sessions close without traffic.
  */
object SessionAggTracker {

  def track(
      input: Dataset[CumulateEvent],
      watermarkDelay: String,
      gapMs: Long,
      aggKinds: Seq[Int]): Dataset[CumulateWindow] = {
    require(gapMs > 0, "session gap must be positive")
    implicit val outEnc = Encoders.product[CumulateWindow]
    implicit val stateEnc = Encoders.product[SessionAggState]
    implicit val keyEnc = Encoders.STRING
    val kinds = aggKinds.toArray
    Watermarks.ensure(input, "ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: String, rows: Iterator[CumulateEvent],
         state: GroupState[SessionAggState]) =>
          update(key, rows, state, gapMs, kinds))
  }

  private def update(
      key: String,
      rows: Iterator[CumulateEvent],
      state: GroupState[SessionAggState],
      gapMs: Long,
      kinds: Array[Int]): Iterator[CumulateWindow] = {
    val prev = state.getOption.getOrElse(SessionAggState(Nil))
    val units = rows.map { e =>
      val t = e.ts.getTime
      val accs = kinds.indices.map { i =>
        val a = CumAcc.empty(i)
        if (!e.nn(i)) a
        else {
          val u = CumAcc.fold(kinds(i), a, e.lv(i), e.dv(i), e.sv(i))
          // a DISTINCT slot carries the row's encoded value
          if (CumAcc.isDistinctKind(kinds(i))) u.copy(ds = List(e.sv(i)))
          else u
        }
      }.toList
      OpenSess(t, t, accs)
    }.toList
    // start-sorted fold-merge: held sessions are disjoint and a unit
    // session is a point, so one left-to-right pass merges everything
    // that touches (a unit bridging two held sessions merges all three)
    val all = (prev.sessions ++ units).sortBy(s => (s.start, s.last))
    val merged = ArrayBuffer.empty[OpenSess]
    all.foreach { s =>
      merged.lastOption match {
        case Some(c) if s.start <= c.last + gapMs =>
          merged(merged.size - 1) = OpenSess(c.start,
            math.max(c.last, s.last),
            c.accs.lazyZip(s.accs).lazyZip(kinds.toSeq)
              .map((m, a, k) => CumAcc.merge(k, m, a)))
        case _ => merged += s
      }
    }
    val (wmMs, isFinal) = Watermarks.current(state)
    val out = ArrayBuffer.empty[CumulateWindow]
    val open = ArrayBuffer.empty[OpenSess]
    merged.foreach { s =>
      if (isFinal || wmMs > s.last + gapMs) {
        out += CumulateWindow(key, s.start, s.last + gapMs,
          CumAcc.vals(kinds, s.accs(_), i => s.accs(i).ds.toSet))
      } else open += s
    }
    if (!isFinal) {
      if (open.isEmpty) state.remove()
      else {
        state.update(SessionAggState(open.toList.map(s =>
          s.copy(accs = s.accs.map(a =>
            if (a.ds.isEmpty) a else a.copy(ds = a.ds.distinct.sorted))))))
        // wake once the earliest open session can close (strict bound:
        // the session is final only when wm EXCEEDS last + gap)
        val nextClose = open.iterator.map(_.last + gapMs + 1L).min
        state.setTimeoutTimestamp(math.max(nextClose, wmMs + 1L))
      }
    }
    out.iterator
  }
}
