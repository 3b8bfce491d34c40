package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.collection.mutable.ArrayBuffer

/** One input row of a streaming CUMULATE aggregation: the opaque group
  * key (the harness packs GROUP BY columns as JSON), the event time,
  * and per-aggregate input values — `nn(i)` is the i-th aggregate
  * input's non-null flag, with its value cast to both long (`lv`) and
  * double (`dv`) so integral aggregates stay exact; `sv(i)` carries
  * the string-encoded value for the slots that read it — the DISTINCT
  * kinds 9-13, 21 and 26-29 and the decimal kinds 22-25 (null for
  * every other kind; see [[CumAcc]]). The other slot trackers' events
  * share this (nn, lv, dv, sv) layout.
  */
final case class CumulateEvent(key: String, ts: Timestamp,
    nn: List[Boolean], lv: List[Long], dv: List[Double], sv: List[String])

/** Per-key state: accumulators plus, per span, how many growing windows
  * have already been emitted. */
final case class CumulateState(accs: List[CumAcc],
    emitted: List[(Long, Int)])

/** One emitted window: group key, window bounds (epoch ms), and the
  * aggregate results as a JSON object `{"a0": ..., "a1": ...}` (null
  * results omitted), decoded by the harness with the result schema.
  */
final case class CumulateWindow(key: String, ws: Long, we: Long,
    vals: String)

/** Streaming `CUMULATE(step, size)` windows — Flink's growing windows
  * `[span, span + k*step)` for k = 1..size/step, which Spark has no
  * native streaming equivalent for. Mechanics mirror
  * [[PatternTracker]]: rows fold into per-(key, span, step) partial
  * accumulators; window k emits once the watermark passes its end
  * (later arrivals are dropped by the watermark upstream, so every
  * emission is final — append mode); event-time timeouts re-drive keys
  * whose watermark advanced without traffic; a span's state drops as
  * soon as its last window emits, so state is bounded by
  * size/step × aggregates per ACTIVE (key, span).
  *
  * Aggregate kinds and their arithmetic are the slot-accumulator law
  * in [[CumAcc]]. Windows with zero rows so far emit nothing at all
  * (the batch rewrite only produces windows that contain a row).
  */
object CumulateTracker {

  def track(
      input: Dataset[CumulateEvent],
      watermarkDelay: String,
      stepMs: Long,
      sizeMs: Long,
      aggKinds: Seq[Int],
      offsetMs: Long = 0L): Dataset[CumulateWindow] = {
    require(sizeMs % stepMs == 0 && stepMs > 0, "size must be k * step")
    require(offsetMs >= 0 && offsetMs < sizeMs,
      "offset must be normalized into [0, size)")
    implicit val outEnc = Encoders.product[CumulateWindow]
    implicit val stateEnc = Encoders.product[CumulateState]
    implicit val keyEnc = Encoders.STRING
    val kinds = aggKinds.toArray
    Watermarks.ensure(input, "ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: String, rows: Iterator[CumulateEvent],
         state: GroupState[CumulateState]) =>
          update(key, rows, state, stepMs, sizeMs, kinds, offsetMs))
  }

  private def update(
      key: String,
      rows: Iterator[CumulateEvent],
      state: GroupState[CumulateState],
      stepMs: Long,
      sizeMs: Long,
      kinds: Array[Int],
      offsetMs: Long): Iterator[CumulateWindow] = {
    val nSteps = (sizeMs / stepMs).toInt
    val prev = state.getOption.getOrElse(CumulateState(Nil, Nil))
    // (span, step, agg) -> accumulator
    val accs = scala.collection.mutable.HashMap.empty[(Long, Int, Int), CumAcc]
    // DISTINCT slots keep their set in a mutable side map for O(1)
    // inserts (the immutable CumAcc.ds list is only the state carrier)
    val dsets = scala.collection.mutable.HashMap
      .empty[(Long, Int, Int), scala.collection.mutable.HashSet[String]]
    prev.accs.foreach { a =>
      val k = (a.span, a.step, a.agg)
      if (a.ds.isEmpty) accs(k) = a
      else {
        dsets(k) = scala.collection.mutable.HashSet.from(a.ds)
        accs(k) = a.copy(ds = Nil)
      }
    }
    val emitted = scala.collection.mutable.HashMap.empty[Long, Int]
    prev.emitted.foreach { case (s, k) => emitted(s) = k }

    rows.foreach { e =>
      val t = e.ts.getTime
      // the offset shifts the span grid (span starts land on
      // offset + k*size), matching the batch rewrite's offset-space floor
      val span = Math.floorDiv(t - offsetMs, sizeMs) * sizeMs + offsetMs
      val step = ((t - span) / stepMs).toInt
      var i = 0
      while (i < kinds.length) {
        val k = (span, step, i)
        val a = accs.getOrElse(k, CumAcc.empty(i, span, step))
        if (e.nn(i) && CumAcc.isDistinctKind(kinds(i)))
          dsets.getOrElseUpdate(k,
            scala.collection.mutable.HashSet.empty[String]) += e.sv(i)
        // a null-input row still creates the (cnt=0) entry: the step
        // had a row, so its windows exist
        accs(k) =
          if (e.nn(i)) CumAcc.fold(kinds(i), a, e.lv(i), e.dv(i), e.sv(i))
          else a
        i += 1
      }
      emitted.getOrElseUpdate(span, 0): Unit
    }

    val (wmMs, isFinal) = Watermarks.current(state)

    val out = ArrayBuffer.empty[CumulateWindow]
    val doneSpans = ArrayBuffer.empty[Long]
    emitted.keys.toSeq.sorted.foreach { span =>
      var k = emitted(span)
      // running cumulative accumulator: the already-emitted prefix is
      // rebuilt once per update call (O(nSteps × aggs)), then each
      // emitted window folds in exactly one more step — catching up a
      // whole span is linear in nSteps, not quadratic
      val merged = Array.tabulate(kinds.length)(i => CumAcc.empty(i, span))
      // cumulative distinct sets of the DISTINCT slots (union across
      // steps)
      val mergedDs = Array.fill(kinds.length)(
        scala.collection.mutable.HashSet.empty[String])
      // any-row presence for window existence: COUNT semantics per agg
      // count only non-null inputs, but a step with ANY accumulator
      // entry had >= 1 row (null-input rows create cnt=0 entries)
      var stepsWithRows = 0L
      def mergeStep(s: Int): Unit = {
        var sawStep = false
        var i = 0
        while (i < kinds.length) {
          accs.get((span, s, i)).foreach { a =>
            sawStep = true
            dsets.get((span, s, i)).foreach(mergedDs(i) ++= _)
            merged(i) = CumAcc.merge(kinds(i), merged(i), a)
          }
          i += 1
        }
        if (sawStep) stepsWithRows += 1L
      }
      var s = 0
      while (s < k) { mergeStep(s); s += 1 }
      var advanced = true
      while (advanced && k < nSteps) {
        val winEnd = span + (k + 1).toLong * stepMs
        if (isFinal || wmMs >= winEnd) {
          mergeStep(k)
          if (stepsWithRows > 0)
            out += CumulateWindow(key, span, winEnd,
              CumAcc.vals(kinds, merged(_), mergedDs(_)))
          k += 1
          emitted(span) = k
        } else advanced = false
      }
      if (k >= nSteps) doneSpans += span
    }
    doneSpans.foreach { span =>
      emitted.remove(span)
      (0 until nSteps).foreach(s =>
        kinds.indices.foreach { i =>
          accs.remove((span, s, i))
          dsets.remove((span, s, i)): Unit
        })
    }

    if (!isFinal) {
      if (accs.isEmpty && emitted.isEmpty) state.remove()
      else {
        state.update(CumulateState(accs.values.toList.map(a =>
          dsets.get((a.span, a.step, a.agg)) match {
            case Some(ds) => a.copy(ds = ds.toList.sorted)
            case None => a
          }).sortBy(a => (a.span, a.step, a.agg)),
          emitted.toList.sortBy(_._1)))
        // wake at the earliest unemitted window end
        val nextEnd = emitted.map { case (span, k) =>
          span + (k + 1).toLong * stepMs
        }.min
        state.setTimeoutTimestamp(math.max(nextEnd, wmMs + 1L))
      }
    }
    out.iterator
  }
}
