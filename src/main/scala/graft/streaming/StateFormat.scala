package graft.streaming

import org.apache.hadoop.fs.Path

/** State-store format versions of the stateful trackers, stamped beside
  * each durable checkpoint so an incompatible restore fails with a
  * named contract error instead of a Spark encoder stack trace.
  *
  * Spark's state store deserializes with the CURRENT build's encoder:
  * when a tracker's state case class changes shape (as the round-5
  * measure payload and round-6 PREV payload/ctx extensions did for
  * [[PatternState]]), restoring an older checkpoint dies deep inside
  * the encoder. The stamp file makes that failure mode explicit and
  * early — at query start, with an error that says what to do.
  */
object StateFormat {

  /** The JSON-lossless type set: types whose JSON text decodes
    * bit-identically, and therefore the only types admitted wherever
    * streaming state rides a to_json/from_json round-trip — PARTITION
    * BY / GROUP BY keys, column measures, and PREV payload columns all
    * share this one rule (timestamp/decimal/float could lose precision
    * or formatting fidelity on the way back; NaN doubles produce
    * non-decodable JSON).
    */
  def jsonLossless(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType | LongType | IntegerType | ShortType | ByteType
          | BooleanType => true
      case _ => false
    }
  }

  /** The exact state carrier for one source column: how it rides a
    * to_json/from_json streaming-state payload without loss.
    * JSON-lossless types pass through natively; timestamps ride epoch
    * micros (a long — `unix_micros`/`timestamp_micros` round-trip the
    * instant exactly, and TIMESTAMP_NTZ converts through the session
    * zone symmetrically on both legs); doubles / floats / decimals /
    * dates ride an exact STRING carrier — cast-to-string is Java's
    * round-trip representation (`Double.toString` guarantees the
    * shortest string that parses back bit-identically, NaN/Infinity
    * included; decimal/date strings are canonical), and the reverse
    * cast restores the original value. Nested and binary types have no
    * carrier (None) — the callers reject or drop those by name.
    *
    * `enc` reads the column from the source row; `storage` is the type
    * the value has INSIDE the JSON payload (what from_json must decode
    * it as); `dec` maps the decoded storage value back to the source
    * type. Proven by UnboundedTopNSpec's round-trip cases (round 14)
    * and shared since round 15 by the window top-N payload and the
    * MATCH_RECOGNIZE column measures.
    */
  final case class Carrier(
      enc: org.apache.spark.sql.Column,
      storage: org.apache.spark.sql.types.DataType,
      dec: org.apache.spark.sql.Column => org.apache.spark.sql.Column)

  def carrierOf(f: org.apache.spark.sql.types.StructField): Option[Carrier] = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions._
    f.dataType match {
      case dt if jsonLossless(dt) =>
        Some(Carrier(col(s"`${f.name}`"), dt, identity[Column] _))
      case _: TimestampType | _: TimestampNTZType =>
        Some(Carrier(expr(s"unix_micros(cast(`${f.name}` as timestamp))"),
          LongType,
          (c: Column) => timestamp_micros(c).cast(f.dataType)))
      case _: DoubleType | _: FloatType | _: DecimalType | _: DateType =>
        Some(Carrier(col(s"`${f.name}`").cast("string"), StringType,
          (c: Column) => c.cast(f.dataType)))
      case _ => None
    }
  }

  /** Bump when [[PatternState]]/[[PatternEvent]] change shape.
    * v1 = (time, bitmask) rows; v2 = + measure payload (round 5);
    * v3 = + PREV lag payload and consumed-predecessor ctx (round 6).
    * (Round 15's carrier-encoded column measures change only the
    * CONTENT of `vals` for queries that were previously rejected by
    * name — no accepted query's state layout changed, so no bump.)
    */
  val PatternTrackerVersion = 3

  /** Bump when [[CumulateState]]/[[CumulateEvent]] change shape.
    * v1 = (nn, lv, dv) slots; v2 = + sv slot and CumAcc.ds distinct
    * set (COUNT(DISTINCT) support, round 14); v3 = CumAcc gains the
    * m1/m2 central-moment fields (variance family, round 16) — the
    * encoder schema changed for EVERY query's state, so a v2
    * checkpoint must fail the named check, not the encoder.
    */
  val CumulateTrackerVersion = 3

  /** Bump when [[TopNState]]/[[graft.functions.RankedRow]] change shape.
    * v1 = per-key (ws, entries) windows (round 12);
    * v2 = (ws, we, entries) — CUMULATE pins per-copy window ends
    * (round 13); v3 = entries carry a null-metric flag and the
    * payload JSON carries the row's event time (round 14);
    * v4 = payload columns widen through [[carrierOf]] (round 15) —
    * double/float/decimal/date/timestamp payload columns that a v3
    * build silently DROPPED from the payload JSON are now carried, so
    * a v3 checkpoint of the same query would decode the new schema's
    * extra fields as NULL silently.
    * A round-12/13 checkpoint predates the stamp key entirely, so it
    * fails the named check (key absent → v0) rather than dying in the
    * encoder.
    */
  val TopNTrackerVersion = 4

  /** Bump when [[graft.functions.RankedRow]] (the UNBOUNDED top-N
    * collector's kryo buffer element) changes shape.
    * v1 = (metric, payload) (round 13); v2 = + null-metric flag
    * (round 14).
    */
  val UnboundedTopNVersion = 2

  /** Bump when [[GridAggState]]/[[GridWin]]/[[GridEvent]] change shape
    * (the pinned-window aggregation tracker behind DST-region zone
    * grids, round 14). v2 = the per-(window, aggregate) accumulator
    * gains the m1/m2 central-moment fields (variance family, round 16);
    * v3 = per-window [[GridWin]] rows carrying one shared [[CumAcc]]
    * per aggregate, in place of the grid-only accumulator rows.
    */
  val GridAggTrackerVersion = 3

  /** Bump when [[SessionAggState]]/[[OpenSess]] change shape (the
    * gap-merge aggregation tracker behind exact distinct aggregates in
    * streaming SESSION windows, round 15). v2 = the embedded CumAcc
    * gains the m1/m2 central-moment fields (variance family,
    * round 16).
    */
  val SessionAggTrackerVersion = 2

  /** Bump when [[OverAggState]]/[[OverEvent]] change shape (the
    * event-time OVER aggregation tracker, round 15). v2 = the
    * embedded CumAcc accumulators gain the m1/m2 central-moment
    * fields (variance family, round 16).
    */
  val OverAggTrackerVersion = 2

  /** Bump when [[TemporalRowState]]/[[TemporalRow]] change shape (the
    * generic event-time temporal-join tracker, round 16/17). v1 =
    * per-key (versions, pending) lists of (millis, payload JSON)
    * pairs.
    */
  val TemporalJoinTrackerVersion = 1

  /** Bump when [[TtlTopNState]]/[[RankedEvent]] change shape (the
    * TTL'd updating top-N / rn=1 dedup tracker behind
    * `table.exec.state.ttl`, round 17). v1 = per-key rank-sorted
    * [[graft.functions.RankedRow]] list. RankedRow itself is ALSO the
    * unboundedTopN and topNTracker element — a RankedRow field change
    * bumps all three keys.
    */
  val TtlTopNTrackerVersion = 1

  /** Bump when [[UnboundedAggState]]/[[UnboundedAggEvent]] change
    * shape (the TTL'd unbounded GROUP BY tracker behind
    * `table.exec.state.ttl`, round 17). v1 = per-key [[CumAcc]]
    * accumulator list. CumAcc is shared with cumulate/grid/session/
    * over trackers — a CumAcc field change bumps ALL carriers of it.
    */
  val UnboundedAggTrackerVersion = 1

  private val FileName = "graft-state-format.json"

  /** Every stamped key, in stamp order. ANY stateful tracker whose
    * state case class a durable checkpoint can carry MUST have a row
    * here — an absent key reads back as v0 on restore, so a tracker
    * added without a stamp key fails old-checkpoint restores by name
    * (the safe direction) but a tracker whose STATE SHAPE changed
    * without a bump restores as a silent encoder mismatch (the r14
    * failure mode). */
  private val Keys: Seq[(String, Int)] = Seq(
    "patternTracker" -> PatternTrackerVersion,
    "cumulateTracker" -> CumulateTrackerVersion,
    "topNTracker" -> TopNTrackerVersion,
    "unboundedTopN" -> UnboundedTopNVersion,
    "gridAggTracker" -> GridAggTrackerVersion,
    "sessionAggTracker" -> SessionAggTrackerVersion,
    "overAggTracker" -> OverAggTrackerVersion,
    "temporalJoinTracker" -> TemporalJoinTrackerVersion,
    "ttlTopNTracker" -> TtlTopNTrackerVersion,
    "unboundedAggTracker" -> UnboundedAggTrackerVersion)

  private def stampJson: String =
    Keys.map { case (k, v) => s""""$k": $v""" }
      .mkString("{", ", ", "}")

  /** Verifies (or creates) the format stamp for checkpoint directory
    * `dir`. Three cases:
    *  - no directory / empty directory: stamp it with the current
    *    versions and proceed;
    *  - stamp present and equal to the current versions: proceed;
    *  - stamp present but older (or checkpoint data exists without any
    *    stamp — a pre-stamp build wrote it): fail with the named
    *    contract error telling the operator to restart from a fresh
    *    checkpoint.
    *
    * Goes through the Hadoop FileSystem API so `file://` and DFS
    * checkpoint locations behave identically (same access path the
    * script reader uses).
    */
  def check(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stamp = new Path(path, FileName)
    def fail(found: String): Nothing = throw new IllegalStateException(
      s"incompatible streaming state at $dir ($found; this build writes " +
        Keys.map { case (k, v) => s"$k v$v" }.mkString(", ") +
        "): the state-store schema changed — " +
        "restart the query from a fresh checkpoint directory")
    if (fs.exists(stamp)) {
      // any read failure (corrupt file, checksum mismatch from an
      // out-of-band edit) is still an unverifiable format — name it
      val text =
        try {
          val in = fs.open(stamp)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        } catch {
          case e: java.io.IOException => fail(s"unreadable stamp: " +
            e.getMessage.takeWhile(_ != '\n'))
        }
      def ver(key: String): Int =
        (s""""$key"\\s*:\\s*(\\d+)""").r.findFirstMatchIn(text)
          .map(_.group(1).toInt).getOrElse(0)
      val found = Keys.map { case (k, _) => k -> ver(k) }
      if (found != Keys)
        fail("stamped " +
          found.map { case (k, v) => s"$k v$v" }.mkString(", "))
    } else if (fs.exists(path) && fs.listStatus(path).nonEmpty) {
      // checkpoint data from a build that predates the stamp: every
      // such build used an older state schema
      fail("unstamped checkpoint from a pre-versioning build")
    } else {
      fs.mkdirs(path)
      val out = fs.create(stamp, true)
      try out.write(stampJson.getBytes("UTF-8"))
      finally out.close()
    }
  }
}
