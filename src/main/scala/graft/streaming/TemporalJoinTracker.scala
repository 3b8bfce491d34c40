package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.collection.mutable.ArrayBuffer

/** One tagged row of the unioned temporal-join input: `isVersion = true`
  * rows are versioned-table updates, `false` rows are probes to enrich.
  * Callers watermark-tag and union their two streams into this shape.
  */
final case class TemporalInput(
    key: Long, ts: Timestamp, isVersion: Boolean, value: Double)

/** Per-key temporal-join state: versions sorted by time ascending, and
  * probes still waiting for the watermark to pass their event time.
  * Both lists are (second, value) pairs.
  */
final case class TemporalJoinState(
    versions: List[(Long, Double)], pending: List[(Long, Double)])

/** One enriched probe: the version in effect at the probe's event time,
  * or `versionSec = -1` when no version existed yet (LEFT semantics —
  * filter `versionSec >= 0` for INNER).
  */
final case class TemporalMatch(
    key: Long, probeSec: Long, probeValue: Double,
    versionSec: Long, versionValue: Double)

/** Generic (SQL-facing) variant of [[TemporalInput]]: the key is the
  * JSON-encoded equi-key tuple and the payload a JSON row of the
  * side's columns through the exact state carrier
  * ([[StateFormat.carrierOf]]) — the same generic shape the other SQL
  * trackers ride. */
final case class TemporalRow(
    key: String, ts: Timestamp, isVersion: Boolean, payload: String)

/** Per-key generic temporal-join state, millisecond event times. */
final case class TemporalRowState(
    versions: List[(Long, String)], pending: List[(Long, String)])

/** One enriched probe row: `versionPayload` is null when no version
  * existed at or before the probe's time (LEFT semantics — the SQL
  * splice filters `versionPayload IS NOT NULL` for INNER). */
final case class TemporalRowMatch(
    key: String, probeTs: Timestamp, probePayload: String,
    versionPayload: String)

/** Streaming event-time temporal join (`FOR SYSTEM_TIME AS OF` as a
  * stream-stream operator): each probe row is enriched with the latest
  * version at or before its event time, on the same key.
  *
  * The batch harness rewrite ([[graft.harness.TemporalJoin]]) interval-
  * izes a static version table; this is the streaming form, matching
  * Flink's event-time temporal join mechanics:
  *  - probes buffer in per-key state until the watermark passes their
  *    event time — only then can no earlier version still arrive, so
  *    the match is final (exactly-once, no retraction needed);
  *  - version state is pruned to the single latest version at or below
  *    the watermark plus everything newer — the same retention Flink's
  *    temporal-join state keeps;
  *  - maturation is driven by event-time timeouts, so probes emit even
  *    when their key receives no further input.
  *
  * State is per-key and partitioned. The probe buffer is bounded by
  * the watermark delay; the version buffer retains the latest version
  * per key indefinitely by default — the same retention a Flink
  * temporal-join state keeps, since a probe may arrive arbitrarily
  * long after the version it matches. Pass `idleVersionTtlSec` to
  * drop a key's version state once it has gone that long past the
  * watermark with no pending probes (trading late enrichment for
  * bounded state on high-cardinality key spaces).
  */
object TemporalJoinTracker extends Serializable {

  /** Test-observable per-key state high-water marks (the
    * OverAggTracker.peak* pattern): saved version-list and
    * pending-probe sizes, updated at every state save. Monotonic
    * maxima; specs reset before a run and assert the
    * watermark-declared bounds — catching an unbounded-buffering
    * regression that output correctness alone would never show. */
  private[graft] val peakVersionRows =
    new java.util.concurrent.atomic.AtomicLong
  private[graft] val peakPendingProbes =
    new java.util.concurrent.atomic.AtomicLong
  private def bump(g: java.util.concurrent.atomic.AtomicLong,
      v: Long): Unit =
    { g.getAndAccumulate(v, math.max(_, _)): Unit }

  def join(
      input: Dataset[TemporalInput],
      watermarkDelay: String = "10 seconds",
      idleVersionTtlSec: Long = 0L): Dataset[TemporalMatch] = {
    implicit val matchEnc = Encoders.product[TemporalMatch]
    implicit val stateEnc = Encoders.product[TemporalJoinState]
    implicit val longEnc = Encoders.scalaLong
    Watermarks.ensure(input, "ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: Long, rows: Iterator[TemporalInput],
         state: GroupState[TemporalJoinState]) =>
          update(key, rows, state, idleVersionTtlSec))
  }

  // NOTE: [[updateRows]] below is this state machine's generic twin
  // (string payloads, millisecond maturity, batch finality) — a change
  // to the retention cutoff or timeout arithmetic here almost
  // certainly applies there too. The typed variant keeps its
  // second-granularity maturity contract (a probe matures once its
  // WHOLE second is behind the watermark), pinned by StreamingSpec.
  private def update(
      key: Long,
      rows: Iterator[TemporalInput],
      state: GroupState[TemporalJoinState],
      idleVersionTtlSec: Long): Iterator[TemporalMatch] = {
    val prev = state.getOption.getOrElse(TemporalJoinState(Nil, Nil))
    // a timeout with nothing pending is the idle-TTL expiry: drop the
    // retained version state (probe timeouts always have pending rows)
    if (state.hasTimedOut && prev.pending.isEmpty) {
      state.remove()
      return Iterator.empty
    }
    // ingest this batch (absent on a pure timeout invocation)
    val newVersions = ArrayBuffer.empty[(Long, Double)]
    val newProbes = ArrayBuffer.empty[(Long, Double)]
    rows.foreach { r =>
      val sec = r.ts.getTime / 1000L
      if (r.isVersion) newVersions += ((sec, r.value))
      else newProbes += ((sec, r.value))
    }
    val versions = (prev.versions ++ newVersions).sortBy(v => (v._1, v._2))
    val pending = prev.pending ++ newProbes

    val wmMs = state.getCurrentWatermarkMs()
    val wmSec = wmMs / 1000L
    // a probe matures once its WHOLE second is behind the watermark:
    // rows at exactly the watermark are still on time, so a version in
    // the probe's own second could otherwise arrive after we finalized
    val (matured, waiting) = pending.partition(p => (p._1 + 1L) * 1000L <= wmMs)
    val out = matured.sortBy(p => (p._1, p._2)).map { case (pSec, pVal) =>
      versions.takeWhile(_._1 <= pSec).lastOption match {
        case Some((vSec, vVal)) => TemporalMatch(key, pSec, pVal, vSec, vVal)
        case None => TemporalMatch(key, pSec, pVal, -1L, 0.0d)
      }
    }

    // retention: the earliest possible future probe second is wmSec, so
    // only the latest version at or below it (plus all newer) can match
    val cutoff = versions.takeWhile(_._1 <= wmSec).lastOption
    val kept = cutoff.toList ::: versions.dropWhile(_._1 <= wmSec)

    if (waiting.isEmpty && kept.isEmpty) state.remove()
    else {
      state.update(TemporalJoinState(kept, waiting))
      // wake when the earliest waiting probe matures; that instant is
      // strictly past the current watermark, or it would have matured
      waiting.map(_._1).minOption match {
        case Some(sec) => state.setTimeoutTimestamp((sec + 1L) * 1000L)
        case None if idleVersionTtlSec > 0L =>
          // version-only state: expire after the idle TTL
          state.setTimeoutTimestamp(
            math.max(wmMs, 0L) + idleVersionTtlSec * 1000L)
        case None => () // retain the latest version indefinitely
      }
    }
    out.iterator
  }

  /** Generic (SQL-facing) temporal join over [[TemporalRow]]s — the
    * operator behind the CLI's streaming `FOR SYSTEM_TIME AS OF`
    * rewrite ([[graft.harness.TemporalJoin.rewriteStreaming]]). Same
    * mechanics as [[join]] at millisecond precision: probes buffer
    * until the watermark passes their event time STRICTLY (a version
    * AT the probe's instant is still on time until then), version
    * state prunes to the latest at-or-below the watermark plus
    * everything newer, and maturation is timeout-driven. On a BOUNDED
    * run (batch execution of the stateful operator — Spark throws
    * from `getCurrentWatermarkMs`) every probe is final: the single
    * invocation holds the whole input, Flink's MAX_WATERMARK at the
    * end of a bounded stream. Version ties on one timestamp order by
    * payload text — deterministic, matching the batch interval
    * rewrite only on tie-free data (ties are non-deterministic there
    * too: LEAD over an ambiguous sort).
    */
  def joinRows(
      input: Dataset[TemporalRow],
      watermarkDelay: String,
      idleVersionTtlSec: Long = 0L): Dataset[TemporalRowMatch] = {
    implicit val matchEnc = Encoders.product[TemporalRowMatch]
    implicit val stateEnc = Encoders.product[TemporalRowState]
    implicit val keyEnc = Encoders.STRING
    Watermarks.ensure(input, "ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: String, rows: Iterator[TemporalRow],
         state: GroupState[TemporalRowState]) =>
          updateRows(key, rows, state, idleVersionTtlSec))
  }

  private def updateRows(
      key: String,
      rows: Iterator[TemporalRow],
      state: GroupState[TemporalRowState],
      idleVersionTtlSec: Long): Iterator[TemporalRowMatch] = {
    val prev = state.getOption.getOrElse(TemporalRowState(Nil, Nil))
    if (state.hasTimedOut && prev.pending.isEmpty) {
      state.remove()
      return Iterator.empty
    }
    val newVersions = ArrayBuffer.empty[(Long, String)]
    val newProbes = ArrayBuffer.empty[(Long, String)]
    rows.foreach { r =>
      val ms = r.ts.getTime
      if (r.isVersion) newVersions += ((ms, r.payload))
      else newProbes += ((ms, r.payload))
    }
    val versions = (prev.versions ++ newVersions).sortBy(v => (v._1, v._2))
    val pending = prev.pending ++ newProbes

    val (wmMs, isFinal) = Watermarks.current(state)

    val (matured, waiting) =
      if (isFinal) (pending, Nil)
      else pending.partition(_._1 < wmMs)
    val out = matured.sortBy(p => (p._1, p._2)).map { case (pMs, pPay) =>
      versions.takeWhile(_._1 <= pMs).lastOption match {
        case Some((_, vPay)) =>
          TemporalRowMatch(key, new Timestamp(pMs), pPay, vPay)
        case None => TemporalRowMatch(key, new Timestamp(pMs), pPay, null)
      }
    }

    if (isFinal) {
      state.remove()
      return out.iterator
    }
    // retention: the earliest possible future on-time probe sits AT
    // the watermark, so keep the latest version at-or-below it plus
    // everything newer
    val cutoff = versions.takeWhile(_._1 <= wmMs).lastOption
    val kept = cutoff.toList ::: versions.dropWhile(_._1 <= wmMs)

    if (waiting.isEmpty && kept.isEmpty) state.remove()
    else {
      state.update(TemporalRowState(kept, waiting))
      bump(peakVersionRows, kept.size.toLong)
      bump(peakPendingProbes, waiting.size.toLong)
      waiting.map(_._1).minOption match {
        case Some(ms) => state.setTimeoutTimestamp(ms + 1L)
        case None if idleVersionTtlSec > 0L =>
          state.setTimeoutTimestamp(
            math.max(wmMs, 0L) + idleVersionTtlSec * 1000L)
        case None => () // retain the latest version indefinitely
      }
    }
    out.iterator
  }
}
