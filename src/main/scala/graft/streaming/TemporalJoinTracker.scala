package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.collection.mutable.ArrayBuffer

/** One tagged row of the unioned temporal-join input: `isVersion = true`
  * rows are versioned-table updates, `false` rows are probes to enrich.
  * The key is the JSON-encoded equi-key tuple and the payload a JSON
  * row of the side's columns through the exact state carrier
  * ([[StateFormat.carrierOf]]), the generic shape the other SQL
  * trackers ride. */
final case class TemporalRow(
    key: String, ts: Timestamp, isVersion: Boolean, payload: String)

/** Per-key temporal-join state, millisecond event times: versions
  * sorted by time ascending, and probes still waiting for the
  * watermark to pass their event time. */
final case class TemporalRowState(
    versions: List[(Long, String)], pending: List[(Long, String)])

/** One enriched probe row: `versionPayload` is null when no version
  * existed at or before the probe's time (LEFT semantics — the SQL
  * splice filters `versionPayload IS NOT NULL` for INNER). */
final case class TemporalRowMatch(
    key: String, probeTs: Timestamp, probePayload: String,
    versionPayload: String)

/** Streaming event-time temporal join (`FOR SYSTEM_TIME AS OF` as a
  * stream-stream operator), the operator behind the CLI's streaming
  * rewrite ([[graft.harness.TemporalJoin.rewriteStreaming]]): each
  * probe row is enriched with the latest version at or before its
  * event time, on the same key. The batch rewrite
  * ([[graft.harness.TemporalJoin]]) intervalizes a static version
  * table instead.
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

  /** Temporal join over [[TemporalRow]]s, Flink's event-time
    * mechanics at millisecond precision:
    *  - probes buffer in per-key state until the watermark passes their
    *    event time STRICTLY (a version AT the probe's instant is still
    *    on time until then), so each match is final (exactly-once, no
    *    retraction needed);
    *  - version state prunes to the latest version at or below the
    *    watermark plus everything newer;
    *  - maturation is driven by event-time timeouts, so probes emit
    *    even when their key receives no further input.
    * On a BOUNDED run (batch execution of the stateful operator — Spark
    * throws from `getCurrentWatermarkMs`) every probe is final: the
    * single invocation holds the whole input, Flink's MAX_WATERMARK at
    * the end of a bounded stream. Version ties on one timestamp order
    * by payload text — deterministic, matching the batch interval
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
    // a timeout with nothing pending is the idle-TTL expiry: drop the
    // retained version state (probe timeouts always have pending rows)
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
      // wake when the earliest waiting probe matures; that instant is
      // strictly past the current watermark, or it would have matured
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
