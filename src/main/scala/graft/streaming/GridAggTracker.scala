package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.collection.mutable.ArrayBuffer

/** One input row of a PINNED-window streaming aggregation: the opaque
  * group key, the event time (watermark source — always the original
  * instant), the row's pre-assigned window bounds as INSTANT epoch
  * millis, and the per-aggregate input slots (same layout as
  * [[CumulateEvent]]). The upstream fan-out owns the window
  * arithmetic — for DST-region zone grids it computes wall-clock
  * floors with `from_utc_timestamp`/`to_utc_timestamp` (exactly the
  * batch rewrite's expressions) and replicates HOP/CUMULATE rows per
  * covering window, so the tracker never needs a fixed slide.
  */
final case class GridEvent(key: String, ts: Timestamp, ws: Long, we: Long,
    nn: List[Boolean], lv: List[Long], dv: List[Double], sv: List[String])

/** One open pinned window of a key: its instant bounds and one
  * accumulator per aggregate slot ([[CumAcc]] with span/step unused —
  * the bounds pin the window). `ds` lists are sorted at state-save time
  * for deterministic replay.
  */
final case class GridWin(ws: Long, we: Long, accs: List[CumAcc])

/** Per-key state: the still-open pinned windows. State is bounded by
  * aggregates × ACTIVE (key, window) — each window's state drops at
  * emission.
  */
final case class GridAggState(wins: List[GridWin])

/** Streaming aggregation over PINNED windows — the window set is
  * assigned per row upstream (each row already fanned out to every
  * window that covers it), so any grid Spark's native `window()`
  * cannot express becomes expressible: the driving case is
  * TUMBLE/HOP/CUMULATE under a DST region `table.local-time-zone`,
  * whose wall-clock grid has a variable instant offset (23/25-hour
  * daily windows across transitions). Mechanics mirror
  * [[CumulateTracker]]: rows fold into per-(key, window, aggregate)
  * accumulators; a window emits exactly once when the watermark passes
  * its end (append mode — late rows are dropped upstream by the
  * watermark); event-time timeouts re-drive keys whose watermark
  * advanced without traffic; emitted windows drop from state.
  * Aggregate kinds and null semantics are the [[CumAcc]] law (the
  * DISTINCT kinds keep the window's exact value set — besides the
  * DST-zone case, plain UTC TUMBLE/HOP with a distinct aggregate also
  * route here, since the native streaming aggregate would only run it
  * as an HLL approximation); output rides the same
  * [[CumulateWindow]] JSON carrier, so the harness decode path is
  * shared.
  */
object GridAggTracker {

  def track(
      input: Dataset[GridEvent],
      watermarkDelay: String,
      aggKinds: Seq[Int]): Dataset[CumulateWindow] = {
    implicit val outEnc = Encoders.product[CumulateWindow]
    implicit val stateEnc = Encoders.product[GridAggState]
    implicit val keyEnc = Encoders.STRING
    val kinds = aggKinds.toArray
    Watermarks.ensure(input, "ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: String, rows: Iterator[GridEvent],
         state: GroupState[GridAggState]) =>
          update(key, rows, state, kinds))
  }

  private def update(
      key: String,
      rows: Iterator[GridEvent],
      state: GroupState[GridAggState],
      kinds: Array[Int]): Iterator[CumulateWindow] = {
    // (ws, we) -> one accumulator per slot, plus the DISTINCT slots'
    // side sets for O(1) inserts (the CumAcc.ds list is only the state
    // carrier)
    val wins = scala.collection.mutable.HashMap.empty[(Long, Long),
      (Array[CumAcc], Array[scala.collection.mutable.HashSet[String]])]
    state.getOption.foreach(_.wins.foreach { w =>
      val accs = w.accs.toArray
      wins((w.ws, w.we)) =
        (accs, accs.map(a => scala.collection.mutable.HashSet.from(a.ds)))
    })

    rows.foreach { e =>
      // any row creates its window's entry, null inputs included: the
      // window exists — matching the batch rewrite, which only
      // produces windows containing a row
      val (accs, dsets) = wins.getOrElseUpdate((e.ws, e.we),
        (Array.tabulate(kinds.length)(CumAcc.empty(_)),
          Array.fill(kinds.length)(
            scala.collection.mutable.HashSet.empty[String])))
      var i = 0
      while (i < kinds.length) {
        if (e.nn(i)) {
          if (CumAcc.isDistinctKind(kinds(i))) dsets(i) += e.sv(i)
          accs(i) = CumAcc.fold(kinds(i), accs(i), e.lv(i), e.dv(i), e.sv(i))
        }
        i += 1
      }
    }

    val (wmMs, isFinal) = Watermarks.current(state)

    val out = ArrayBuffer.empty[CumulateWindow]
    // per-trigger O(W log W) over this key's OPEN windows only — W is
    // bounded by grid geometry, not data volume: (covering windows per
    // event, <= size/slide or the zone fan-out) x (watermark horizon /
    // slide), since emission removes every window at or behind the
    // watermark each trigger.
    wins.keys.toSeq.sorted.foreach { case k @ (ws, we) =>
      if (isFinal || wmMs >= we) {
        val (accs, dsets) = wins.remove(k).get
        out += CumulateWindow(key, ws, we,
          CumAcc.vals(kinds, accs(_), dsets(_)))
      }
    }

    if (!isFinal) {
      if (wins.isEmpty) state.remove()
      else {
        state.update(GridAggState(wins.toList.sortBy(_._1).map {
          case ((ws, we), (accs, dsets)) =>
            GridWin(ws, we, accs.indices.map(i =>
              if (dsets(i).isEmpty) accs(i)
              else accs(i).copy(ds = dsets(i).toList.sorted)).toList)
        }))
        // wake at the earliest pending window end
        val nextEnd = wins.keys.map(_._2).min
        state.setTimeoutTimestamp(math.max(nextEnd, wmMs + 1L))
      }
    }
    out.iterator
  }
}
