package graft.streaming

import java.sql.Timestamp
import graft.functions.{RankedRow, TopRows}
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.collection.mutable.ArrayBuffer

/** One input row for streaming window top-N: the partition key, the
  * event time (assigns the tumbling window when `ws` is negative), the
  * ranking metric, and an opaque payload carried through to the
  * emission. A `ws` other than the Long.MinValue sentinel pre-assigns
  * the window start (negative starts are legitimate pre-epoch
  * windows) — the HOP form fans each row out to its covering windows
  * upstream and pins each copy's window here, while the event time
  * stays the ORIGINAL timestamp so the watermark (and late-row drop)
  * is unchanged. A `we` other than the sentinel additionally pins the
  * window END (otherwise `ws + windowMs`): CUMULATE's growing windows
  * share one start with per-copy ends, so the upstream fan-out pins
  * both.
  */
final case class RankEvent(key: String, ts: Timestamp, metric: Double,
    payload: String, ws: Long = Long.MinValue, we: Long = Long.MinValue,
    nullMetric: Boolean = false)

/** Per-key state: for each open (window start, window end), the (at
  * most N) best candidates seen so far, in [[TopRows]] rank order —
  * state is bounded to N rows per ACTIVE (key, window), never the
  * window's full row count.
  */
final case class TopNState(windows: List[(Long, Long, List[RankedRow])])

/** One emitted ranked row of a closed window. */
final case class TopNRow(key: String, ws: Long, we: Long, rank: Int,
    metric: Double, payload: String, nullMetric: Boolean = false)

/** Streaming window top-N (Flink's Window Top-N: `ROW_NUMBER() OVER
  * (PARTITION BY window_start, key ORDER BY metric DESC) <= N`), which
  * Structured Streaming cannot express natively — ranking functions are
  * unsupported on streams. Mechanics mirror [[CumulateTracker]]: rows
  * fold into a per-(key, window) buffer that keeps only the N best
  * (metric DESC by default — `asc = true` ranks smallest-first with
  * NaN last, matching a batch `ORDER BY metric ASC` under Spark's
  * NaN-greatest ordering — payload ASC tie-break, so ranking is
  * deterministic); a window emits its ranked rows exactly once when
  * the watermark passes its end (append mode — later rows are dropped
  * upstream by the watermark, so every emission is final); event-time
  * timeouts re-drive keys whose watermark advanced without fresh
  * traffic; a window's state drops at emission.
  */
object TopNTracker {

  def track(
      input: Dataset[RankEvent],
      watermarkDelay: String,
      windowMs: Long,
      n: Int,
      asc: Boolean = false): Dataset[TopNRow] = {
    require(windowMs > 0 && n > 0, "window size and N must be positive")
    implicit val outEnc = Encoders.product[TopNRow]
    implicit val stateEnc = Encoders.product[TopNState]
    implicit val keyEnc = Encoders.STRING
    Watermarks.ensure(input, "ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: String, rows: Iterator[RankEvent], state: GroupState[TopNState]) =>
          update(key, rows, state, windowMs, n, asc))
  }

  private def update(
      key: String,
      rows: Iterator[RankEvent],
      state: GroupState[TopNState],
      windowMs: Long,
      n: Int,
      asc: Boolean): Iterator[TopNRow] = {
    val buffers =
      scala.collection.mutable.HashMap.empty[(Long, Long), Vector[RankedRow]]
    state.getOption.foreach(_.windows.foreach {
      case (ws, we, es) => buffers((ws, we)) = es.toVector
    })

    rows.foreach { e =>
      val ws =
        if (e.ws != Long.MinValue) e.ws
        else Math.floorDiv(e.ts.getTime, windowMs) * windowMs
      val we = if (e.we != Long.MinValue) e.we else ws + windowMs
      // insert-sorted, trimmed: the buffer never exceeds N entries
      buffers((ws, we)) = TopRows.insert(n, asc)(
        buffers.getOrElse((ws, we), Vector.empty),
        RankedRow(e.metric, e.payload, e.nullMetric))
    }

    val (wmMs, isFinal) = Watermarks.current(state)

    val out = ArrayBuffer.empty[TopNRow]
    buffers.keys.toSeq.sorted.foreach { case k @ (ws, we) =>
      if (isFinal || wmMs >= we) {
        buffers.remove(k).foreach(_.zipWithIndex.foreach { case (en, i) =>
          out += TopNRow(key, ws, we, i + 1, en.metric, en.payload,
            en.nullMetric)
        })
      }
    }

    if (!isFinal) {
      if (buffers.isEmpty) state.remove()
      else {
        state.update(TopNState(buffers.toList.sortBy(_._1)
          .map { case ((ws, we), es) => (ws, we, es.toList) }))
        // wake at the earliest pending window end
        val nextEnd = buffers.keys.map(_._2).min
        state.setTimeoutTimestamp(math.max(nextEnd, wmMs + 1L))
      }
    }
    out.iterator
  }
}
