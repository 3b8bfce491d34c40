package graft.harness

/** Flink windowing table-valued function rewrites.
  *
  * Flink scripts window with TVFs — `FROM TABLE(TUMBLE(TABLE t,
  * DESCRIPTOR(ts), INTERVAL '1' HOUR))` — which Spark's parser
  * rejects. The reference router passes them through verbatim
  * (`SQLSubmitAction.java:76`), so the harness rewrites them into
  * derived tables carrying the TVF contract columns (`window_start`,
  * `window_end`, `window_time` = end − 1 ms):
  *
  *  - TUMBLE: row-local epoch arithmetic — a pure projection, no
  *    shuffle, pushdown transparent;
  *  - HOP(slide, size): each row fans into its size/slide covering
  *    windows via `LATERAL VIEW explode(sequence(...))` — the bounded
  *    per-row expansion a hopping window is;
  *  - CUMULATE(step, size): each row fans into every growing window of
  *    its span whose end lies after it, same lateral shape;
  *  - SESSION([PARTITION BY keys], gap): gaps-and-islands — a LAG flag
  *    marks gap breaks, a running SUM numbers sessions, and MIN/MAX
  *    windows over (keys, session) derive each row's window bounds.
  *    The TVF call carries its own partition keys, so the rewrite
  *    needs no schema knowledge; session ids are stable under
  *    timestamp ties (tied rows see a zero gap either way).
  *
  * All window arithmetic runs in MILLISECONDS (`unix_millis`), the
  * precision of Flink's `TIMESTAMP(3)` time attributes: a session gap
  * comparison on second-floored values would merge events whose true
  * millisecond gap exceeds the declared gap by under a second, and
  * window bounds would lose their sub-second part. Window starts floor
  * like Flink's even before the epoch: the arithmetic is
  * `t - pmod(t, unit)` (pmod is non-negative), never a truncating
  * `div` or a double `FLOOR(x / unit)` that can misround at a
  * boundary. Rows with a NULL time attribute are dropped from window
  * assignment, as Flink drops them. Internal helper columns stay out
  * of `SELECT *` via the table-qualified star (lateral forms) or
  * `SELECT * EXCEPT` (session form). TUMBLE and HOP accept the
  * trailing window-offset argument (possibly negative — the
  * timezone-alignment use), normalized into `[0, size)` / `[0,
  * slide)` and applied as a grid shift (batch) or the native
  * window's startTime (streaming); CUMULATE offsets shift the span
  * grid the same way in both modes. A shifted fixed-offset session
  * zone composes into the same offset slots via [[alignToZone]]. Any
  * TVF variant the rewrite does not understand (SESSION offsets,
  * fractional intervals) is rejected explicitly rather than leaked
  * to Spark's parser.
  */
object WindowTvf {

  private val Ident = raw"(?:`[^`]+`|[A-Za-z_]\w*)"
  private val Dotted = s"$Ident(?:\\.$Ident)*"
  private val Interval =
    raw"(?:(SIZE|SLIDE|STEP)\s*=>\s*)?INTERVAL\s+'(\d+)'\s+(\w+)"
  /** Trailing window-offset argument (Flink 1.14+): may be negative —
    * the canonical use is shifting whole-day windows into a non-UTC
    * timezone (`INTERVAL '-8' HOUR`).
    */
  private val OffsetIv =
    raw"(?:(OFFSET)\s*=>\s*)?INTERVAL\s+'(-?\d+)'\s+(\w+)"

  /** `TABLE(TUMBLE([DATA =>] [TABLE] t, [TIMECOL =>] DESCRIPTOR(col), INTERVAL 'n' UNIT[, offset]))` */
  private val TumbleRe = (
    raw"(?is)\bTABLE\s*\(\s*TUMBLE\s*\(\s*(?:DATA\s*=>\s*)?(?:TABLE\s+)?($Dotted)\s*,\s*" +
      raw"(?:TIMECOL\s*=>\s*)?DESCRIPTOR\s*\(\s*($Ident)\s*\)\s*,\s*$Interval" +
      raw"(?:\s*,\s*$OffsetIv)?\s*\)\s*\)").r

  /** `TABLE(HOP(t, DESCRIPTOR(col), slide, size[, offset]))` — Flink's
    * argument order puts the slide before the window size.
    */
  private val HopRe = (
    raw"(?is)\bTABLE\s*\(\s*HOP\s*\(\s*(?:DATA\s*=>\s*)?(?:TABLE\s+)?($Dotted)\s*,\s*" +
      raw"(?:TIMECOL\s*=>\s*)?DESCRIPTOR\s*\(\s*($Ident)\s*\)\s*,\s*$Interval\s*,\s*$Interval" +
      raw"(?:\s*,\s*$OffsetIv)?\s*\)\s*\)").r

  /** `TABLE(CUMULATE(t, DESCRIPTOR(col), step, size[, offset]))` */
  private val CumulateRe = (
    raw"(?is)\bTABLE\s*\(\s*CUMULATE\s*\(\s*(?:DATA\s*=>\s*)?(?:TABLE\s+)?($Dotted)\s*,\s*" +
      raw"(?:TIMECOL\s*=>\s*)?DESCRIPTOR\s*\(\s*($Ident)\s*\)\s*,\s*$Interval\s*,\s*$Interval" +
      raw"(?:\s*,\s*$OffsetIv)?\s*\)\s*\)").r

  /** `TABLE(SESSION(t [PARTITION BY k1, k2], DESCRIPTOR(col), [GAP =>] INTERVAL))` */
  private val SessionTvfRe = (
    raw"(?is)\bTABLE\s*\(\s*SESSION\s*\(\s*(?:DATA\s*=>\s*)?(?:TABLE\s+)?($Dotted)" +
      raw"(?:\s+PARTITION\s+BY\s+($Ident(?:\s*,\s*$Ident)*))?\s*,\s*" +
      raw"(?:TIMECOL\s*=>\s*)?DESCRIPTOR\s*\(\s*($Ident)\s*\)\s*,\s*" +
      raw"(?:(GAP)\s*=>\s*)?INTERVAL\s+'(\d+)'\s+(\w+)\s*\)\s*\)").r

  /** Broad marker: any windowing TVF call, supported shape or not —
    * drives both the batch-only guard and the residual check below.
    */
  private val AnyTvfRe =
    raw"(?is)\bTABLE\s*\(\s*(TUMBLE|HOP|CUMULATE|SESSION)\s*\(".r

  /** Flink 1.x legacy group-window functions (`GROUP BY TUMBLE(ts,
    * INTERVAL ...)` + `TUMBLE_START/...`), the pre-TVF syntax an older
    * script submits.
    */
  private val AnyLegacyRe =
    raw"(?is)\b(TUMBLE|HOP|SESSION)(_START|_END|_ROWTIME|_PROCTIME)?\s*\(".r

  private val LegacyIv = raw"INTERVAL\s+'(\d+)'\s+(\w+)"
  private def legacyTumble(suffix: String) =
    (raw"(?is)\bTUMBLE$suffix\s*\(\s*($Dotted)\s*,\s*$LegacyIv\s*\)").r
  private val LegacyTumbleStart = legacyTumble("_START")
  private val LegacyTumbleEnd = legacyTumble("_END")
  private val LegacyTumbleTime = legacyTumble("(?:_ROWTIME|_PROCTIME)")
  private val LegacyTumbleGroup = legacyTumble("")

  /** Legacy group-window calls (`GROUP BY HOP/SESSION/TUMBLE(ts, ...)`)
    * and their accessors — the first argument is a time COLUMN, which
    * distinguishes them from the TVF forms (first argument `TABLE t`).
    */
  private val LegacyHopGroup = (
    raw"(?is)\bHOP\s*\(\s*($Dotted)\s*,\s*$LegacyIv\s*,\s*$LegacyIv\s*\)").r
  private val LegacySessionGroup = (
    raw"(?is)\bSESSION\s*\(\s*($Dotted)\s*,\s*$LegacyIv\s*\)").r
  private def legacyAccessor(fn: String) = (
    raw"(?is)\b${fn}_(START|END|ROWTIME|PROCTIME)\s*\(\s*($Dotted)\s*" +
      raw"((?:,\s*$LegacyIv\s*){1,2})\)").r
  private val LegacyIvRe = ("(?i)" + LegacyIv).r

  def hasWindowTvf(sql: String): Boolean =
    AnyTvfRe.findFirstIn(sql).isDefined ||
      AnyLegacyRe.findFirstIn(sql).isDefined

  /** The NAMED source relation of the first window-TVF call, for the
    * view registry's window_time propagation (r17). */
  private val TvfSrcNameRe = (raw"(?is)\bTABLE\s*\(\s*" +
    raw"(?:TUMBLE|HOP|CUMULATE|SESSION)\s*\(\s*(?:DATA\s*=>\s*)?" +
    raw"(?:TABLE\s+)?($Dotted)").r
  def tvfSourceName(sql: String): Option[String] =
    TvfSrcNameRe.findFirstMatchIn(sql)
      .map(m => ddl.DdlParser.unquoteName(m.group(1)))

  /** A window-TVF call whose SOURCE argument is an inline subquery —
    * `TABLE(TUMBLE(TABLE (SELECT ...), DESCRIPTOR(...), ...))`. The
    * match's final `(` opens the subquery. */
  private val SubqSrcRe = (raw"(?is)\b(TUMBLE|HOP|CUMULATE|SESSION)" +
    raw"\s*\(\s*(?:DATA\s*=>\s*)?(?:TABLE\s*)?\(").r

  /** Inline subquery sources in window-TVF calls (r17, ACCEPTED
    * SUPERSET: Flink's TVF grammar takes only a named relation there —
    * portable scripts CREATE VIEW first, which the r16 view registry
    * already serves). Each `TABLE (SELECT ...)` source evaluates into
    * a temp view and the call rewrites to `TABLE <view>`, so the
    * existing grammar and both mode paths apply unchanged. In
    * streaming mode the subquery resolves by the shared event-time
    * lineage law ([[SubquerySource]]) and the returned resolver hands
    * the views' (column, delay) to the stateful rewrites; in batch
    * mode the subquery just evaluates (no watermark requirement —
    * batch TVFs window any relation). Returns the rewritten text and
    * the extended watermark resolver.
    */
  def inlineSubquerySources(
      spark: org.apache.spark.sql.SparkSession,
      sql: String,
      watermarkOf: String => Option[(String, String)],
      streaming: Boolean): (String, String => Option[(String, String)]) = {
    def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)
    var out = sql
    var extra = Map.empty[String, (String, String)]
    val resolver: String => Option[(String, String)] =
      t => watermarkOf(t).orElse(extra.get(t.toLowerCase))
    var m = SubqSrcRe.findFirstMatchIn(MatchRecognize.maskQuoted(out))
    while (m.isDefined) {
      val open = m.get.end - 1
      val close = MatchRecognize.closeParen(out, open)
      val inner = out.substring(open + 1, close - 1)
      val view = s"graft_tvf_${tvfViewCounter.incrementAndGet()}"
      val df =
        if (streaming) {
          val (d, wm) = SubquerySource.resolve(spark, inner, resolver,
            "window TVF", fail)
          extra += (view.toLowerCase -> wm)
          d
        } else {
          try spark.sql(inner)
          catch { case e: Exception =>
            fail(s"cannot evaluate window-TVF subquery source: " +
              e.getMessage)
          }
        }
      df.createOrReplaceTempView(view)
      out = out.substring(0, open) + view + out.substring(close)
      m = SubqSrcRe.findFirstMatchIn(MatchRecognize.maskQuoted(out))
    }
    (out, resolver)
  }

  /** A GRID-windowing TVF call is present (TUMBLE/HOP/CUMULATE —
    * the forms whose boundaries align to an epoch grid). SESSION is
    * deliberately excluded: gap-based windows are grid-free, so a
    * shifted session zone cannot move their boundaries.
    */
  private val GridTvfRe =
    raw"(?is)\bTABLE\s*\(\s*(TUMBLE|HOP|CUMULATE)\s*\(".r
  def hasGridTvf(sql: String): Boolean =
    GridTvfRe.findFirstIn(sql).isDefined

  /** A legacy GROUP BY grid window (TUMBLE/HOP group call or one of
    * their accessors) is present. Legacy SESSION is excluded — gap
    * windows are zone-invariant.
    */
  private val LegacyGridAccessorRe =
    raw"(?is)\b(TUMBLE|HOP)_(START|END|ROWTIME|PROCTIME)\s*\(".r
  def hasLegacyGridWindow(sql: String): Boolean =
    LegacyTumbleGroup.findFirstIn(sql).isDefined ||
      LegacyHopGroup.findFirstIn(sql).isDefined ||
      LegacyGridAccessorRe.findFirstIn(sql).isDefined

  /** Compose a shifted session zone's constant instant-offset into
    * every grid-window TVF call (Flink's local-timeline window
    * alignment under a fixed-offset `table.local-time-zone`).
    *
    * Flink aligns TUMBLE/HOP/CUMULATE boundaries to the session
    * zone's LOCAL timeline — a whole-day tumble under `GMT+08:00`
    * covers local midnight→midnight. On this engine every timestamp
    * is an instant rendered in the session zone, so "local wall-clock
    * multiple of the size" is exactly "instant ≡ −shift (mod size)":
    * one extra window offset of `−zoneShiftMs` composed with any
    * offset the call already declares. Emitting the combined offset
    * back into the SQL text (canonical positional form, MILLISECOND
    * unit — always exact: declared offsets are integer multiples of a
    * supported unit and zone offsets are whole seconds) lets every
    * downstream consumer — batch rewrite, streaming trackers, window
    * top-N, window join, GROUPING SETS — inherit the alignment from
    * the one offset path they already implement, instead of threading
    * a zone parameter through each.
    *
    * SESSION stays untouched (gap windows have no grid); legacy group
    * windows have no offset argument and are rejected upstream by
    * name. Normalization into `[0, unit)` happens at the existing use
    * sites, so the possibly-negative combined value is fine.
    */
  def alignToZone(sql: String, zoneShiftMs: Long): String = {
    def iv(m: scala.util.matching.Regex.Match, base: Int): String =
      // keep a `NAME =>` tag so the use-site's declaration-order
      // validation still sees it
      Option(m.group(base)).map(n => s"$n => ").getOrElse("") +
        s"INTERVAL '${m.group(base + 1)}' ${m.group(base + 2)}"
    def combined(m: scala.util.matching.Regex.Match, base: Int): String =
      s"INTERVAL '${offsetMillis(m, base) - zoneShiftMs}' MILLISECOND"
    val t = TumbleRe.replaceAllIn(sql, m =>
      java.util.regex.Matcher.quoteReplacement(
        s"TABLE(TUMBLE(TABLE ${m.group(1)}, DESCRIPTOR(${m.group(2)}), " +
          s"${iv(m, 3)}, ${combined(m, 6)}))"))
    val h = HopRe.replaceAllIn(t, m =>
      java.util.regex.Matcher.quoteReplacement(
        s"TABLE(HOP(TABLE ${m.group(1)}, DESCRIPTOR(${m.group(2)}), " +
          s"${iv(m, 3)}, ${iv(m, 6)}, ${combined(m, 9)}))"))
    CumulateRe.replaceAllIn(h, m =>
      java.util.regex.Matcher.quoteReplacement(
        s"TABLE(CUMULATE(TABLE ${m.group(1)}, DESCRIPTOR(${m.group(2)}), " +
          s"${iv(m, 3)}, ${iv(m, 6)}, ${combined(m, 9)}))"))
  }

  private[harness] def unitMillis(unit: String): Long =
    unit.toUpperCase.stripSuffix("S") match {
      case "MILLISECOND" => 1L
      case "SECOND" => 1000L
      case "MINUTE" => 60000L
      case "HOUR" => 3600000L
      case "DAY" => 86400000L
      case other => throw new IllegalArgumentException(
        s"Unsupported window TVF interval unit '$other'")
    }

  /** One interval argument: value in milliseconds, bound by its
    * `name =>` tag when present (Flink's named arguments are
    * order-free, so a positional read of a named call would silently
    * swap slide/size).
    */
  private def millis(m: scala.util.matching.Regex.Match, base: Int,
      expected: String): Long = {
    Option(m.group(base)).map(_.toUpperCase).foreach(name =>
      if (name != expected) throw new IllegalArgumentException(
        s"Window TVF argument $name => where $expected was expected; " +
          "write named intervals in declaration order"))
    val s = m.group(base + 1).toLong * unitMillis(m.group(base + 2))
    require(s > 0, "window TVF intervals must be positive")
    s
  }

  /** The optional trailing offset argument: 0 when absent; signed
    * (negative offsets shift windows earlier — the timezone-alignment
    * use). Normalization into `[0, unit)` happens at the use site,
    * against the window size (TUMBLE) or slide (HOP): window sets are
    * invariant under offset mod that unit, and the normalized value
    * keeps the epoch arithmetic single-branch.
    */
  private def offsetMillis(m: scala.util.matching.Regex.Match,
      base: Int): Long = {
    if (m.group(base + 1) == null) return 0L
    Option(m.group(base)).map(_.toUpperCase).foreach(name =>
      if (name != "OFFSET") throw new IllegalArgumentException(
        s"Window TVF argument $name => where OFFSET was expected"))
    m.group(base + 1).toLong * unitMillis(m.group(base + 2))
  }

  private def normOffset(off: Long, unit: Long): Long =
    ((off % unit) + unit) % unit

  /** Flink-floor window arithmetic: `t - pmod(t, unit)` floors for
    * negative epochs too, exactly, in integer space.
    */
  private def floorTo(expr: String, unit: Long): String =
    s"($expr - pmod($expr, ${unit}L))"

  /** Epoch milliseconds of the time attribute. The cast makes the
    * arithmetic accept TIMESTAMP_NTZ columns (what a parquet file
    * written without UTC adjustment scans as) alongside TIMESTAMP —
    * the harness pins the session timezone to UTC, so the cast is
    * value-preserving, matching Flink's naive TIMESTAMP(3) timeline.
    */
  private def epochMs(tcol: String): String = epochMs(tcol, None)

  /** Epoch milliseconds of the time attribute — or, under a LOCAL-zone
    * grid (`zone` set: a DST region `table.local-time-zone`, batch
    * mode), the attribute's WALL-CLOCK milliseconds in that zone
    * (`from_utc_timestamp` applies the offset in force at each
    * instant, so grid floors happen on the local timeline and daily
    * windows are 23/25 h across transitions, as Flink's). The cast
    * makes the arithmetic accept TIMESTAMP_NTZ columns alongside
    * TIMESTAMP.
    */
  private def epochMs(tcol: String, zone: Option[String]): String =
    zone match {
      case None => s"unix_millis(cast($tcol as timestamp))"
      case Some(z) =>
        s"unix_millis(from_utc_timestamp(cast($tcol as timestamp), '$z'))"
    }

  private def contract(startMs: String, endMs: String): String =
    contract(startMs, endMs, None)

  /** Window contract columns. Under a local-zone grid the bounds are
    * wall-clock millis and convert back to instants with
    * `to_utc_timestamp` — java.time's gap/overlap resolution (shift
    * forward through a spring-forward gap, earlier offset in a
    * fall-back overlap), the same `LocalDateTime.atZone` defaults
    * Flink's TimeWindowUtil applies.
    */
  private def contract(startMs: String, endMs: String,
      zone: Option[String]): String = zone match {
    case None =>
      s"timestamp_millis($startMs) AS window_start, " +
        s"timestamp_millis($endMs) AS window_end, " +
        s"timestamp_millis(($endMs) - 1L) AS window_time"
    case Some(z) =>
      def inst(x: String) = s"to_utc_timestamp(timestamp_millis($x), '$z')"
      s"${inst(startMs)} AS window_start, " +
        s"${inst(endMs)} AS window_end, " +
        s"(${inst(endMs)} - INTERVAL '1' MILLISECOND) AS window_time"
  }

  def rewrite(sql: String): String = rewrite(sql, None)

  /** Batch window-TVF rewrite. `localZone` (set only for DST region
    * session zones — fixed-offset zones compose through
    * [[alignToZone]] instead) switches TUMBLE/HOP/CUMULATE grid
    * arithmetic to the zone's wall-clock timeline; SESSION is
    * gap-based (zone-invariant) and never shifts.
    */
  def rewrite(sql: String, localZone: Option[String]): String = {
    // legacy HOP/SESSION group windows escalate to the TVF form first
    // (legacy TUMBLE keeps its cheaper scalar rewrite below)
    val sql0 = legacyGroupToTvf(sql, tumbleToo = false, joinsOk = true)
    val afterTumble = TumbleRe.replaceAllIn(sql0, m => {
      val (table, tcol) = (m.group(1), m.group(2))
      val dur = millis(m, 3, "SIZE")
      val off = normOffset(offsetMillis(m, 6), dur)
      val t = epochMs(tcol, localZone)
      // offset shifts the window grid: floor in offset-space, shift back
      val ws =
        if (off == 0L) floorTo(t, dur)
        else s"(${floorTo(s"($t - ${off}L)", dur)} + ${off}L)"
      java.util.regex.Matcher.quoteReplacement(
        s"(SELECT $table.*, ${contract(ws, s"$ws + ${dur}L", localZone)} " +
          s"FROM $table WHERE $tcol IS NOT NULL)")
    })
    val afterHop = HopRe.replaceAllIn(afterTumble, m => {
      val (table, tcol) = (m.group(1), m.group(2))
      val slide = millis(m, 3, "SLIDE")
      val size = millis(m, 6, "SIZE")
      require(size % slide == 0,
        s"HOP size (${size} ms) must be a multiple of its slide (${slide} ms)")
      val off = normOffset(offsetMillis(m, 9), slide)
      val t = epochMs(tcol, localZone)
      // covering window starts: from the first start whose window still
      // contains the row, up to the row's own slide bucket — the grid
      // shifted by the offset when one is declared
      val tOff = if (off == 0L) t else s"($t - ${off}L)"
      val back = if (off == 0L) "" else s" + ${off}L"
      val lo = s"${floorTo(s"($tOff - ${size}L)", slide)} + ${slide}L$back"
      val hi = s"${floorTo(tOff, slide)}$back"
      java.util.regex.Matcher.quoteReplacement(
        s"(SELECT $table.*, ${contract("__ws", s"__ws + ${size}L", localZone)} " +
          s"FROM $table " +
          s"LATERAL VIEW explode(sequence($lo, $hi, ${slide}L)) __wt AS __ws " +
          s"WHERE $tcol IS NOT NULL)")
    })
    val afterCumulate = CumulateRe.replaceAllIn(afterHop, m => {
      val (table, tcol) = (m.group(1), m.group(2))
      val step = millis(m, 3, "STEP")
      val size = millis(m, 6, "SIZE")
      require(size % step == 0,
        s"CUMULATE size (${size} ms) must be a multiple of its step (${step} ms)")
      val off = normOffset(offsetMillis(m, 9), size)
      val t = epochMs(tcol, localZone)
      // offset shifts the span grid: floor in offset-space, shift back
      val tOff = if (off == 0L) t else s"($t - ${off}L)"
      val back = if (off == 0L) "" else s" + ${off}L"
      val span = s"${floorTo(tOff, size)}$back"
      // window ends after the row, in step increments to the span end;
      // pmod keeps the offset non-negative for pre-epoch rows too
      val lo = s"((pmod($tOff, ${size}L) div ${step}L) + 1) * ${step}L"
      java.util.regex.Matcher.quoteReplacement(
        s"(SELECT $table.*, ${contract(span, s"($span) + __eo", localZone)} " +
          s"FROM $table " +
          s"LATERAL VIEW explode(sequence($lo, ${size}L, ${step}L)) __et AS __eo " +
          s"WHERE $tcol IS NOT NULL)")
    })
    val out = SessionTvfRe.replaceAllIn(afterCumulate, m => {
      val (table, keys, tcol) = (m.group(1), Option(m.group(2)), m.group(3))
      val gap = {
        val g = m.group(5).toLong * unitMillis(m.group(6))
        require(g > 0, "session gap must be positive"); g
      }
      // gaps-and-islands, Flink merge semantics: per-event windows
      // [t, t+gap) merge when they touch, so events exactly `gap`
      // apart share a session — a break needs a STRICTLY larger gap.
      // The session-id running sum orders ties with the break flag
      // first (__new DESC), so tied boundary rows land in the same
      // session no matter which physical row carried the flag.
      val part = keys.map(k => s"PARTITION BY $k").getOrElse("")
      val sidPart = keys.map(k => s"PARTITION BY $k, __sid")
        .getOrElse("PARTITION BY __sid")
      val t = epochMs(tcol)
      val endMs = s"MAX(__tms) OVER ($sidPart) + ${gap}L"
      java.util.regex.Matcher.quoteReplacement(
        s"(SELECT * EXCEPT (__tms, __new, __sid), " +
          s"timestamp_millis(MIN(__tms) OVER ($sidPart)) AS window_start, " +
          s"timestamp_millis($endMs) AS window_end, " +
          s"timestamp_millis(($endMs) - 1L) AS window_time " +
          s"FROM (SELECT *, SUM(__new) OVER ($part ORDER BY __tms, __new DESC " +
          s"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __sid " +
          s"FROM (SELECT *, $t AS __tms, " +
          s"CASE WHEN $t - LAG($t) OVER ($part ORDER BY $t) > ${gap}L " +
          s"THEN 1 ELSE 0 END AS __new " +
          s"FROM $table WHERE $tcol IS NOT NULL) __s1) __s2)")
    })
    // Flink 1.x legacy group windows. TUMBLE is a clean scalar rewrite
    // (one window per row, so GROUP BY TUMBLE(..) ≡ GROUP BY the
    // window-start expression); every accessor is a function of that
    // same grouping expression, which Spark's analyzer accepts.
    val legacy = rewriteLegacyTumble(out)
    // anything still carrying a window-function marker was a shape no
    // rewrite recognized — fail with the contract, never leak Flink
    // syntax into Spark's parser
    AnyTvfRe.findFirstMatchIn(legacy).foreach(m =>
      throw new IllegalArgumentException(
        s"Unsupported ${m.group(1).toUpperCase} window TVF form " +
          "(CUMULATE/SESSION offsets / fractional intervals / " +
          "qualified descriptors are not recognized)"))
    AnyLegacyRe.findFirstMatchIn(legacy).foreach { m =>
      val fn = m.group(1).toUpperCase + Option(m.group(2)).getOrElse("").toUpperCase
      throw new IllegalArgumentException(
        if (m.group(1).equalsIgnoreCase("TUMBLE"))
          s"Unsupported legacy $fn form (offsets / fractional intervals " +
            "are not recognized)"
        else
          s"Unsupported legacy $fn form — accessors without the " +
            "matching GROUP BY call, offsets, or extra arguments are " +
            "not recognized; use the TVF form (TABLE(...)) or the " +
            "library operators")
    }
    legacy
  }

  /** STREAMING form: rewrites the windowing TVF of an aggregating
    * statement onto Spark's native time-window grouping — `window()`
    * for TUMBLE/HOP, `session_window()` for SESSION — the only
    * streaming shape whose state expires with the watermark. The batch
    * rewrite's derived window columns would be opaque to Spark's
    * watermark tracking (a GROUP BY over them keeps unbounded state),
    * so the GROUP BY itself is rebuilt: `window_start`/`window_end`/
    * `window_time` keys are replaced by the native window expression,
    * and references elsewhere become `window.start`/`window.end` field
    * reads (bare select-list items keep their TVF output names via an
    * alias).
    *
    * Contract limits, each rejected explicitly: one TVF per statement;
    * the statement must be a single windowed aggregation (exactly one
    * GROUP BY, containing a window column); legacy group windows stay
    * batch-only. CUMULATE has no native Spark streaming window —
    * with a SparkSession available it compiles onto
    * [[graft.streaming.CumulateTracker]] (per-(key, span) step
    * accumulators, windows emitted as the watermark passes each step
    * end); without one it is rejected. Session windows keep Flink's
    * exact merge boundary: the native session_window gap widens by
    * 1 ms so events exactly `gap` apart merge (Flink's `diff <= gap`),
    * and window_end/window_time read back the extra millisecond.
    */
  def rewriteStreaming(
      rawSql: String,
      spark: org.apache.spark.sql.SparkSession = null,
      watermarkOf: String => Option[(String, String)] = _ => None,
      localZone: Option[String] = None): String = {
    if (!hasWindowTvf(rawSql)) return rawSql
    // legacy group windows (TUMBLE included: the batch scalar rewrite
    // would hide the time attribute from watermark tracking) escalate
    // to the TVF form and take the native-window path below
    val sql = legacyGroupToTvf(rawSql, tumbleToo = true)
    val tvfCount = AnyTvfRe.findAllMatchIn(sql).size
    if (tvfCount == 2 &&
        raw"(?is)\bGROUP\s+BY\b".r.findFirstIn(sql).isEmpty) {
      if (localZone.isDefined && hasGridTvf(sql)) {
        // CUMULATE joins under a region zone run on the wall-clock
        // span grid (r15); both sides must be CUMULATE like the
        // non-zone form
        if (CumulateRe.findFirstIn(sql).isDefined) {
          if (!AnyTvfRe.findAllMatchIn(sql).map(_.group(1).toUpperCase)
              .forall(_ == "CUMULATE"))
            throw new IllegalArgumentException(
              "streaming CUMULATE window join requires BOTH sides to " +
                "be CUMULATE (Flink windows both inputs with the same " +
                "TVF)")
          return rewriteStreamingCumulateJoin(sql, spark, watermarkOf,
            zone = localZone)
        }
        return rewriteStreamingZoneWindowJoin(
          sql, localZone.get, spark, watermarkOf)
      }
      return rewriteStreamingWindowJoin(sql, spark, watermarkOf)
    }
    if (tvfCount > 1)
      throw new IllegalArgumentException(
        "Streaming mode supports one window TVF per statement " +
          "(or two TVF relations joined on window equality with no " +
          "GROUP BY — the window-join form)")
    if (AnyTvfRe.findFirstIn(sql).isEmpty)
      throw new IllegalArgumentException(
        "Unsupported legacy group-window form for streaming mode; " +
          "use the TVF form (TABLE(TUMBLE/HOP/SESSION(...)))")
    // multi-set grouping expands to one streaming aggregation per set,
    // UNION ALL'd — Flink 1.15+ runs window GROUPING SETS streaming
    if (raw"(?is)\bGROUP\s+BY\b".r.findAllMatchIn(sql).exists(g =>
        raw"(?is)\b(GROUPING\s+SETS|CUBE|ROLLUP)\s*\(".r
          .findFirstIn(scanListClause(sql, g.end)._1).isDefined))
      return expandStreamingGroupingSets(sql, spark, watermarkOf, localZone)
    // grid TVFs under a DST region zone: the wall-clock grid has a
    // variable instant offset, which the native window() slide cannot
    // express — window bounds are assigned per ROW (the batch
    // rewrite's from_utc_timestamp/to_utc_timestamp arithmetic) and
    // aggregated on the pinned-window tracker. SESSION statements
    // fall through: gap windows are zone-invariant.
    if (localZone.isDefined && hasGridTvf(sql))
      return rewriteStreamingZoneGrid(sql, localZone.get, spark, watermarkOf)
    // COUNT(DISTINCT) in a streaming TUMBLE/HOP aggregation: the
    // native window() path compiles to a plain streaming Aggregate,
    // where Spark rejects exact distinct (and the
    // graft.streaming.approx-distinct rule would silently run it as an
    // HLL approximation) — route through the pinned-window tracker
    // instead, whose kind-9 accumulator keeps the exact per-(key,
    // window) value set Flink's window aggregation keeps. CUMULATE
    // falls through to its own tracker (same kind-9 support, per-step
    // state); SESSION routes onto the gap-merge tracker below (r15 —
    // previously the one place the engine silently approximated where
    // Flink is exact).
    val hasDistinctAgg =
      raw"(?is)\b(COUNT|SUM|AVG|MIN|MAX)\s*\(\s*DISTINCT\b".r
        .findFirstIn(MatchRecognize.maskQuoted(sql)).isDefined
    if (hasGridTvf(sql) && CumulateRe.findFirstMatchIn(sql).isEmpty &&
        hasDistinctAgg)
      return rewriteStreamingZoneGrid(sql, "UTC", spark, watermarkOf)
    // exact distinct aggregates in streaming SESSION windows: the
    // gap-merge tracker keeps each open session's exact value set
    // (Flink parity); sessions without a distinct aggregate stay on
    // the native session_window path below
    if (SessionTvfRe.findFirstMatchIn(sql).isDefined && hasDistinctAgg)
      return rewriteStreamingSession(sql, spark, watermarkOf)
    case class Win(start: Int, end: Int, table: String, expr: String,
        struct: String, partitionKeys: Seq[String] = Nil,
        endAdjustMs: Long = 0L)
    val win = TumbleRe.findFirstMatchIn(sql).map { m =>
      val dur = millis(m, 3, "SIZE")
      val off = normOffset(offsetMillis(m, 6), dur)
      // the offset grid maps onto the native window's startTime slot
      val tail = if (off == 0L) "" else s", '$dur milliseconds', '$off milliseconds'"
      Win(m.start, m.end, m.group(1),
        s"window(${m.group(2)}, '$dur milliseconds'$tail)", "window")
    }.orElse(HopRe.findFirstMatchIn(sql).map { m =>
      val slide = millis(m, 3, "SLIDE")
      val size = millis(m, 6, "SIZE")
      require(size % slide == 0,
        s"HOP size (${size} ms) must be a multiple of its slide (${slide} ms)")
      val off = normOffset(offsetMillis(m, 9), slide)
      val tail = if (off == 0L) "" else s", '$off milliseconds'"
      Win(m.start, m.end, m.group(1),
        s"window(${m.group(2)}, '$size milliseconds', '$slide milliseconds'$tail)",
        "window")
    }).orElse(SessionTvfRe.findFirstMatchIn(sql).map { m =>
      val gap = m.group(5).toLong * unitMillis(m.group(6))
      require(gap > 0, "session gap must be positive")
      val pkeys = Option(m.group(2)).toSeq
        .flatMap(_.split(",").map(_.trim)).filter(_.nonEmpty)
      // Flink merges sessions that merely TOUCH (events exactly `gap`
      // apart share a session, ms precision); Spark merges on OVERLAP
      // only. Widening the gap by 1 ms makes Spark's merge predicate
      // `diff < gap+1` ≡ Flink's `diff <= gap`; the emitted end is then
      // lastTs + gap + 1, so window_end reads back 1 ms to Flink's
      // exact bound
      Win(m.start, m.end, m.group(1),
        s"session_window(${m.group(3)}, '${gap + 1L} milliseconds')",
        "session_window", pkeys, endAdjustMs = 1L)
    }).getOrElse {
      CumulateRe.findFirstMatchIn(sql) match {
        case Some(cm) =>
          return rewriteStreamingCumulate(sql, cm, spark, watermarkOf)
        case None => throw new IllegalArgumentException(
          "Unsupported window TVF form for streaming mode")
      }
    }
    def fieldRef(name: String): String = name match {
      case "window_start" => s"${win.struct}.start"
      case "window_end" =>
        if (win.endAdjustMs == 0L) s"${win.struct}.end"
        else s"(${win.struct}.end - INTERVAL '${win.endAdjustMs}' MILLISECOND)"
      case _ =>
        // window_time stays a plain expression here (Spark's tagged
        // window_time() function cannot sit in an aggregate select
        // list); the CLI view registry re-tags the view's output
        // column as a rowtime attribute for two-stage pipelines (r17)
        s"(${win.struct}.end - INTERVAL '${win.endAdjustMs + 1L}' MILLISECOND)"
    }
    def replTokensIn(s: String): String =
      Seq("window_start", "window_end", "window_time").foldLeft(s)(
        (acc, c) => ("(?i)\\b" + c + "\\b").r.replaceAllIn(acc,
          java.util.regex.Matcher.quoteReplacement(fieldRef(c))))

    // splice the TVF call out for the bare table reference
    var out = sql.substring(0, win.start) + win.table + sql.substring(win.end)

    // rebuild the (single) GROUP BY: window-column keys → the native
    // window expression, other keys kept
    val gbs = raw"(?is)\bGROUP\s+BY\b".r.findAllMatchIn(out).toList
    if (gbs.size != 1) throw new IllegalArgumentException(
      "a streaming window TVF statement must be a single windowed " +
        "aggregation (exactly one GROUP BY)")
    val gb = gbs.head
    val (keysText, keysEnd) = scanListClause(out, gb.end)
    val keys = splitTopLevel(keysText)
    val winCols = Set("window_start", "window_end", "window_time")
    val kept = keys.filterNot(k => winCols(k.trim.toLowerCase))
    if (kept.size == keys.size) throw new IllegalArgumentException(
      "a streaming window TVF aggregation must group by " +
        "window_start/window_end")
    // session_window sessions form per GROUP BY key: the TVF's
    // PARTITION BY keys must all be grouping keys, or sessions that
    // Flink forms per key would silently merge globally here
    win.partitionKeys.foreach { pk =>
      if (!kept.exists(_.trim.equalsIgnoreCase(pk)))
        throw new IllegalArgumentException(
          s"streaming SESSION TVF PARTITION BY key '$pk' must also be " +
            "a GROUP BY key (Spark forms sessions per grouping key); " +
            "aggregating per-key sessions across keys needs batch mode")
    }
    // kept keys may themselves reference window columns (expressions)
    val newKeys =
      (win.expr +: kept.map(k => replTokensIn(k.trim))).mkString(", ")

    // select-list region: [after SELECT, the top-level FROM); bare
    // window-column items keep their output name via an alias
    val selIdx = raw"(?is)\bSELECT\b".r.findFirstMatchIn(out).map(_.end)
      .getOrElse(throw new IllegalArgumentException(
        "window TVF statement has no SELECT"))
    val fromIdx = findTopLevel(out, selIdx, "FROM").getOrElse(
      throw new IllegalArgumentException(
        "window TVF statement has no top-level FROM"))
    val newSelect = splitTopLevel(out.substring(selIdx, fromIdx)).map { item =>
      val bare = item.trim.toLowerCase
      if (winCols(bare)) s"${fieldRef(bare)} AS ${bare}"
      else replTokensIn(item.trim)
    }.mkString(", ")

    // window columns only exist AFTER the aggregate: a reference in the
    // FROM..GROUP BY region (WHERE, JOIN conditions) would rewrite to a
    // window-struct read that cannot resolve pre-aggregation — reject
    // with the contract instead of leaking an analysis error
    val preGroup = out.substring(fromIdx, gb.start)
    if (raw"(?i)\b(window_start|window_end|window_time)\b".r
        .findFirstIn(preGroup).isDefined)
      throw new IllegalArgumentException(
        "streaming window TVF: window_start/window_end/window_time " +
          "cannot be referenced before the aggregation (WHERE/JOIN); " +
          "filter the aggregated result, or use batch runtime mode")

    // reassemble: prefix + select list + FROM..GROUP BY + keys + tail
    // (tokens in HAVING/ORDER BY and in kept keys become field reads)
    out.substring(0, selIdx) + " " + newSelect + " " +
      out.substring(fromIdx, gb.end) + " " + newKeys +
      (if (keysEnd < out.length) " " + replTokensIn(out.substring(keysEnd))
       else "")
  }

  /** STREAMING `GROUPING SETS` / `CUBE` / `ROLLUP` over a window TVF
    * (Flink 1.15+ parity): the multi-set aggregation expands into ONE
    * streaming window aggregation per grouping set, UNION ALL'd — each
    * branch is an independent watermark-evicting stateful subtree, so
    * state stays bounded per set exactly as Flink's slice-shared
    * implementation bounds its per-set state. Contract, violations
    * rejected by name: exactly one GROUP BY with at most one
    * GROUPING SETS/CUBE/ROLLUP construct (plain keys may ride
    * alongside); every grouping set must contain window_start AND
    * window_end (Flink's streaming window constraint); CUBE is bounded
    * at 4 keys (2^n branches); select items that are non-grouped keys
    * in a branch emit NULL (union-coerced), and `GROUPING(col) AS a` /
    * `GROUPING_ID(cols...) AS a` items become per-branch literals
    * (1 = aggregated, Spark/Flink semantics); no ORDER BY / LIMIT.
    */
  private def expandStreamingGroupingSets(
      sql: String,
      spark: org.apache.spark.sql.SparkSession,
      watermarkOf: String => Option[(String, String)],
      localZone: Option[String] = None): String = {
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      s"streaming GROUPING SETS over a window TVF: $msg")
    val PrefixRe =
      raw"(?is)^\s*(INSERT\s+(?:INTO|OVERWRITE)\s+[\w.`]+\s*(?:\([^)]*\)\s*)?)".r
    val (prefix, body) = PrefixRe.findFirstMatchIn(sql)
      .map(m => (m.group(1), sql.substring(m.end))).getOrElse(("", sql))
    val gbs = raw"(?is)\bGROUP\s+BY\b".r.findAllMatchIn(body).toList
    if (gbs.size != 1) fail("exactly one GROUP BY is supported")
    val gb = gbs.head
    val (keysText, keysEnd) = scanListClause(body, gb.end)
    val tail = body.substring(keysEnd)
    if (raw"(?is)\b(ORDER\s+BY|LIMIT)\b".r
        .findFirstIn(MatchRecognize.maskQuoted(tail)).isDefined)
      fail("ORDER BY / LIMIT after the aggregation is not supported; " +
        "sort the unioned result downstream")
    val GsRe = raw"(?is)^GROUPING\s+SETS\s*\((.*)\)$$".r
    val CubeRe = raw"(?is)^CUBE\s*\((.*)\)$$".r
    val RollupRe = raw"(?is)^ROLLUP\s*\((.*)\)$$".r
    var construct: Option[Seq[Seq[String]]] = None
    def setConstruct(s: Seq[Seq[String]]): Unit = {
      if (construct.nonEmpty)
        fail("at most one GROUPING SETS/CUBE/ROLLUP construct per GROUP BY")
      construct = Some(s)
    }
    val plain = scala.collection.mutable.Buffer.empty[String]
    splitTopLevel(keysText).map(_.trim).filter(_.nonEmpty).foreach {
      case GsRe(inner) =>
        setConstruct(splitTopLevel(inner).map(_.trim).map { s =>
          if (s.startsWith("(")) {
            if (!s.endsWith(")")) fail(s"malformed grouping set: $s")
            splitTopLevel(s.substring(1, s.length - 1)).map(_.trim)
              .filter(_.nonEmpty)
          } else if (s.isEmpty) Seq.empty[String]
          else Seq(s)
        })
      case CubeRe(inner) =>
        val cols = splitTopLevel(inner).map(_.trim).filter(_.nonEmpty)
        if (cols.size > 4)
          fail(s"CUBE over ${cols.size} keys expands to ${1 << cols.size} " +
            "streaming aggregations; spell out the GROUPING SETS you need")
        setConstruct((0 until (1 << cols.size)).map(mask =>
          cols.zipWithIndex.collect {
            case (c, i) if (mask & (1 << i)) == 0 => c
          }))
      case RollupRe(inner) =>
        val cols = splitTopLevel(inner).map(_.trim).filter(_.nonEmpty)
        setConstruct((cols.size to 0 by -1).map(cols.take))
      case k => plain += k
    }
    val sets = construct.getOrElse(fail(
      "no GROUPING SETS/CUBE/ROLLUP construct found"))
    if (sets.isEmpty) fail("GROUPING SETS needs at least one set")
    val keyish =
      (plain ++ sets.flatten).map(_.toLowerCase).toSet
    val branches = sets.map { s =>
      val seen = scala.collection.mutable.Set.empty[String]
      (plain.toSeq ++ s).filter(k => seen.add(k.toLowerCase))
    }
    branches.foreach { ks =>
      val l = ks.map(_.toLowerCase)
      if (!(l.contains("window_start") && l.contains("window_end")))
        fail("every grouping set must contain window_start and " +
          "window_end (Flink's streaming window aggregation constraint)")
    }
    val selM = raw"(?is)\bSELECT\b".r.findFirstMatchIn(body)
      .getOrElse(fail("no SELECT"))
    val fromIdx = findTopLevel(body, selM.end, "FROM")
      .getOrElse(fail("no top-level FROM"))
    val items = splitTopLevel(body.substring(selM.end, fromIdx))
      .map(_.trim).filter(_.nonEmpty)
    val GroupingRe =
      raw"(?is)^GROUPING\s*\(\s*([A-Za-z_]\w*)\s*\)\s+AS\s+([A-Za-z_]\w*)$$".r
    val GroupingIdRe =
      raw"(?is)^GROUPING_ID\s*\(\s*(.*?)\s*\)\s+AS\s+([A-Za-z_]\w*)$$".r
    val BareGroupingRe = raw"(?is)^GROUPING(_ID)?\s*\(".r
    def branchSql(ks: Seq[String]): String = {
      val grouped = ks.map(_.toLowerCase).toSet
      val sel = items.map {
        case GroupingRe(c, alias) =>
          s"${if (grouped(c.toLowerCase)) 0 else 1} AS $alias"
        case GroupingIdRe(cs, alias) =>
          val cols = splitTopLevel(cs).map(_.trim).filter(_.nonEmpty)
          if (cols.isEmpty)
            fail("GROUPING_ID needs explicit column arguments")
          val id = cols.foldLeft(0L)((acc, c) =>
            (acc << 1) | (if (grouped(c.toLowerCase)) 0L else 1L))
          s"$id AS $alias"
        case it if BareGroupingRe.findFirstIn(it).isDefined =>
          fail("GROUPING/GROUPING_ID select items need the form " +
            s"GROUPING(col) AS alias: $it")
        case it if keyish(it.toLowerCase) && !grouped(it.toLowerCase) =>
          // NULL padding needs a valid alias — only bare-column keys
          // qualify (an expression key would emit `NULL AS upper(k)`)
          if (raw"^[A-Za-z_]\w*$$".r.findFirstIn(it).isEmpty)
            fail("a grouping-set key selected outside its set must be " +
              s"a bare column (cannot NULL-pad the expression): $it")
          s"NULL AS $it"
        case other => other
      }
      body.substring(0, selM.start) + "SELECT " + sel.mkString(", ") + " " +
        // the space matters: scanListClause's keysEnd eats the
        // whitespace before a HAVING tail, so a direct concat would
        // glue the last key to the keyword ("kHAVING")
        body.substring(fromIdx, gb.end) + " " + ks.mkString(", ") +
          (if (tail.isEmpty) "" else " " + tail.trim)
    }
    val parts = branches.map(b =>
      rewriteStreaming(branchSql(b), spark, watermarkOf, localZone))
    val unioned = parts.map(p => s"($p)").mkString(" UNION ALL ")
    // under an INSERT prefix the union nests once more: `INSERT INTO t
    // (SELECT ...` would parse the parenthesized first branch as a
    // column list
    if (prefix.isEmpty) unioned
    else s"$prefix SELECT * FROM ($unioned)"
  }

  private val tvfViewCounter = new java.util.concurrent.atomic.AtomicInteger()

  /** STREAMING `CUMULATE(step, size)`: compiled onto
    * [[graft.streaming.CumulateTracker]] — Spark has no native growing
    * window, so per-(key, span) step accumulators live in
    * flatMapGroupsWithState and each window `[span, span + k*step)`
    * emits once the watermark passes its end (append mode, state drops
    * with the span). Contract, each violation rejected explicitly: the
    * statement is exactly `SELECT <items> FROM TABLE(CUMULATE(...))
    * GROUP BY <keys>` (no WHERE / HAVING / ORDER BY — pre-filter with
    * a view, post-filter downstream); group keys are bare columns plus
    * window_start/window_end; select items are group keys, window
    * accessors, or `COUNT(*|col) / SUM / MIN / MAX / AVG(numeric
    * input) AS alias` (integral results widen to BIGINT) — plus exact
    * `COUNT(DISTINCT col)` over string/integer/boolean inputs (the
    * accumulator keeps the window's value set, Flink's exact distinct
    * state), SUM/AVG(DISTINCT) over INTEGRAL inputs (the same value-set
    * accumulator, folded at emission — r14), and MIN/MAX(DISTINCT) as
    * their distinct-invariant plain forms. The DESCRIPTOR
    * column must be the source's declared event-time column.
    */
  private def rewriteStreamingCumulate(
      sql: String, m: scala.util.matching.Regex.Match,
      spark: org.apache.spark.sql.SparkSession,
      watermarkOf: String => Option[(String, String)]): String = {
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      s"streaming CUMULATE: $msg")
    val stepMs = millis(m, 3, "STEP")
    val sizeMs = millis(m, 6, "SIZE")
    if (sizeMs % stepMs != 0)
      fail(s"size ($sizeMs ms) must be a multiple of its step ($stepMs ms)")
    val offMs = normOffset(offsetMillis(m, 9), sizeMs)
    rewriteStreamingTrackerAgg(sql, m, spark, watermarkOf, "streaming CUMULATE",
      (prepared, wmDelay, kinds) => {
        implicit val evEnc =
          org.apache.spark.sql.Encoders.product[graft.streaming.CumulateEvent]
        graft.streaming.CumulateTracker.track(
          prepared.as[graft.streaming.CumulateEvent], wmDelay, stepMs, sizeMs,
          kinds, offMs).toDF
      })
  }

  /** STREAMING `SESSION(gap)` aggregation with exact DISTINCT
    * aggregates: compiled onto [[graft.streaming.SessionAggTracker]]
    * (per-key gap-merge state holding each open session's accumulators
    * and exact distinct-value sets, emitted once the watermark
    * strictly passes `last event + gap`). The native `session_window`
    * path keeps every statement WITHOUT a distinct aggregate — this
    * route exists because that path compiles to a plain streaming
    * Aggregate where exact distinct is rejected and the HLL rule would
    * silently approximate, while Flink's session aggregation is exact.
    * GROUP BY keys must equal the TVF's PARTITION BY keys (the session
    * scope), plus window_start/window_end.
    */
  private def rewriteStreamingSession(
      sql: String,
      spark: org.apache.spark.sql.SparkSession,
      watermarkOf: String => Option[(String, String)]): String = {
    val m = SessionTvfRe.findFirstMatchIn(sql).getOrElse(
      throw new IllegalArgumentException(
        "streaming SESSION: unsupported TVF spelling"))
    val gapMs = m.group(5).toLong * unitMillis(m.group(6))
    require(gapMs > 0, "session gap must be positive")
    val pkeys = Option(m.group(2)).toSeq
      .flatMap(_.split(",").map(_.trim)).filter(_.nonEmpty)
    rewriteStreamingTrackerAgg(sql, m, spark, watermarkOf,
      "streaming SESSION",
      (prepared, wmDelay, kinds) => {
        implicit val evEnc =
          org.apache.spark.sql.Encoders.product[graft.streaming.CumulateEvent]
        graft.streaming.SessionAggTracker.track(
          prepared.as[graft.streaming.CumulateEvent], wmDelay, gapMs,
          kinds).toDF
      },
      tableTcol = Some((m.group(1), m.group(3))),
      requireKeys = Some(pkeys))
  }

  /** STREAMING TUMBLE/HOP/CUMULATE aggregation under a DST REGION
    * `table.local-time-zone` (Flink runs these; the native `window()`
    * slide cannot — its grid has a fixed instant offset, while a
    * region zone's wall-clock grid shifts across transitions, so the
    * spring-forward daily window is 23 h of instants and the
    * fall-back one 25 h). Window assignment happens per ROW with the
    * exact expressions the batch rewrite uses — wall-clock millis via
    * `from_utc_timestamp`, grid floor, bounds back to instants via
    * `to_utc_timestamp` (java.time gap/overlap resolution, Flink's
    * TimeWindowUtil defaults) — HOP/CUMULATE rows replicated per
    * covering window; the pinned-window
    * [[graft.streaming.GridAggTracker]] then accumulates per (key,
    * window) and emits once the watermark (still the original instant
    * timeline) passes each window's instant end.
    */
  private def rewriteStreamingZoneGrid(
      sql: String, zone: String,
      spark: org.apache.spark.sql.SparkSession,
      watermarkOf: String => Option[(String, String)]): String = {
    import org.apache.spark.sql.functions._
    def floor(e: String, u: Long): String = s"($e - pmod($e, ${u}L))"
    val wall = s"unix_millis(from_utc_timestamp(ts, '$zone'))"
    def toInstant(c: String): String =
      s"unix_millis(to_utc_timestamp(timestamp_millis($c), '$zone'))"
    // (match, kind label, fan-out: prepared -> +(__wsw, __wew) wall bounds)
    val grid: (scala.util.matching.Regex.Match, String,
        org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      TumbleRe.findFirstMatchIn(sql).map { m =>
        val dur = millis(m, 3, "SIZE")
        val off = normOffset(offsetMillis(m, 6), dur)
        val tOff = if (off == 0L) wall else s"($wall - ${off}L)"
        val back = if (off == 0L) "" else s" + ${off}L"
        (m, "TUMBLE", (p: org.apache.spark.sql.DataFrame) =>
          p.withColumn("__wsw", expr(s"${floor(tOff, dur)}$back"))
            .withColumn("__wew", expr(s"__wsw + ${dur}L")))
      }.orElse(HopRe.findFirstMatchIn(sql).map { m =>
        val slide = millis(m, 3, "SLIDE")
        val size = millis(m, 6, "SIZE")
        require(size % slide == 0,
          s"HOP size ($size ms) must be a multiple of its slide ($slide ms)")
        val off = normOffset(offsetMillis(m, 9), slide)
        val tOff = if (off == 0L) wall else s"($wall - ${off}L)"
        val back = if (off == 0L) "" else s" + ${off}L"
        val lo = s"${floor(s"($tOff - ${size}L)", slide)} + ${slide}L$back"
        val hi = s"${floor(tOff, slide)}$back"
        (m, "HOP", (p: org.apache.spark.sql.DataFrame) =>
          p.withColumn("__wsw",
              explode(expr(s"sequence($lo, $hi, ${slide}L)")))
            .withColumn("__wew", expr(s"__wsw + ${size}L")))
      }).orElse(CumulateRe.findFirstMatchIn(sql).map { m =>
        val step = millis(m, 3, "STEP")
        val size = millis(m, 6, "SIZE")
        require(size % step == 0,
          s"CUMULATE size ($size ms) must be a multiple of its step ($step ms)")
        val off = normOffset(offsetMillis(m, 9), size)
        val tOff = if (off == 0L) wall else s"($wall - ${off}L)"
        val back = if (off == 0L) "" else s" + ${off}L"
        val lo = s"((pmod($tOff, ${size}L) div ${step}L) + 1) * ${step}L"
        (m, "CUMULATE", (p: org.apache.spark.sql.DataFrame) =>
          p.withColumn("__wsw", expr(s"${floor(tOff, size)}$back"))
            .withColumn("__eo",
              explode(expr(s"sequence($lo, ${size}L, ${step}L)")))
            .withColumn("__wew", expr("__wsw + __eo")))
      }).getOrElse(throw new IllegalArgumentException(
        "Unsupported window TVF form for streaming mode under a DST " +
          s"region zone ($zone)"))
    val (m, kindName, fanOut) = grid
    rewriteStreamingTrackerAgg(sql, m, spark, watermarkOf,
      s"streaming $kindName under zone $zone",
      (prepared, wmDelay, kinds) => {
        implicit val evEnc =
          org.apache.spark.sql.Encoders.product[graft.streaming.GridEvent]
        // the never-late sentinel (chained sources) must survive this
        // projection, or the tracker would lose its tagged attribute
        val sentinel =
          if (prepared.columns.contains(
              graft.streaming.Watermarks.NeverLateCol))
            Seq(col(graft.streaming.Watermarks.NeverLateCol))
          else Nil
        graft.streaming.GridAggTracker.track(
          fanOut(prepared).select(Seq(col("key"), col("ts"),
            expr(toInstant("__wsw")).as("ws"),
            expr(toInstant("__wew")).as("we"),
            col("nn"), col("lv"), col("dv"),
            col("sv")) ++ sentinel: _*)
            .as[graft.streaming.GridEvent],
          wmDelay, kinds).toDF
      })
  }

  /** The shared compiler of a streaming single-aggregation statement
    * onto a stateful tracker: parses/validates the spliced statement
    * (one GROUP BY carrying window_start AND window_end, bare-column
    * keys, COUNT/SUM/MIN/MAX/AVG plus the variance family and exact
    * distinct aggregates as select items, WHERE pre-filter,
    * HAVING post-filter), packs the GROUP BY tuple and aggregate
    * inputs into the JSON/slot event layout, delegates the actual
    * windowed accumulation to `track` (CUMULATE's span/step tracker,
    * or the pinned-window [[graft.streaming.GridAggTracker]] for
    * zone grids), and decodes the tracker's emission back into the
    * statement's select shape. `track(prepared, wmDelay, kinds)`
    * receives the filtered source as (key, ts, nn, lv, dv) and must
    * return (key, ws, we, vals) — [[graft.streaming.CumulateWindow]]'s
    * layout.
    */
  private def rewriteStreamingTrackerAgg(
      sql: String, m: scala.util.matching.Regex.Match,
      spark: org.apache.spark.sql.SparkSession,
      watermarkOf: String => Option[(String, String)],
      failPrefix: String,
      track: (org.apache.spark.sql.DataFrame, String, Seq[Int]) =>
        org.apache.spark.sql.DataFrame,
      // TVF source/descriptor columns when they are not the match's
      // groups 1/2 (SESSION's group layout differs), and the required
      // GROUP BY key set (SESSION: keys must equal the TVF PARTITION
      // BY — sessions merge per that tuple, so any other grouping is
      // not a window aggregation)
      tableTcol: Option[(String, String)] = None,
      requireKeys: Option[Seq[String]] = None): String = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      s"$failPrefix: $msg")
    if (spark == null)
      fail("no SparkSession available for the stateful rewrite; use HOP " +
        "or batch runtime mode")
    val (table, tcol) = tableTcol.getOrElse((m.group(1), m.group(2)))
    val (wmCol, wmDelay) = watermarkOf(table).getOrElse(fail(
      s"needs a WATERMARK declaration on $table"))
    if (!tcol.equalsIgnoreCase(wmCol))
      fail(s"DESCRIPTOR column $tcol must be the declared event-time " +
        s"column $wmCol")
    val out = sql.substring(0, m.start) + table + sql.substring(m.end)
    val gbs = raw"(?is)\bGROUP\s+BY\b".r.findAllMatchIn(out).toList
    if (gbs.size != 1)
      fail("must be a single windowed aggregation (exactly one GROUP BY)")
    val gb = gbs.head
    val (keysText, keysEnd) = scanListClause(out, gb.end)
    // HAVING becomes a post-tracker filter (Flink runs HAVING on
    // streaming window aggregations); ORDER BY stays a named rejection
    // — Flink's streaming ORDER BY needs a leading time-ascending key,
    // which a growing-window emission has no use for
    val tailText = out.substring(keysEnd).trim
    // keyword checks scan the MASKED text so string literals holding
    // 'limit' / 'order by' words don't spuriously reject
    val tailMasked = MatchRecognize.maskQuoted(tailText)
    val havingPred: Option[String] =
      if (tailText.isEmpty) None
      else if (raw"(?is)\bORDER\s+BY\b".r.findFirstIn(tailMasked).isDefined ||
          raw"(?is)\bLIMIT\b".r.findFirstIn(tailMasked).isDefined)
        fail("ORDER BY/LIMIT after the aggregation is not supported; " +
          "sort or limit the result downstream")
      else raw"(?is)^HAVING\b(.+)$$".r.findFirstMatchIn(tailText) match {
        case Some(hm) => Some(hm.group(1).trim)
        case None => fail(s"unsupported trailing clause: $tailText")
      }
    val winColsSet = Set("window_start", "window_end", "window_time")
    val keys = splitTopLevel(keysText).map(_.trim).filter(_.nonEmpty)
    val kept = keys.filterNot(k => winColsSet(k.toLowerCase))
    // Flink only treats a TVF aggregation as a WINDOW aggregation when
    // GROUP BY lists both window_start and window_end (window_time may
    // ride along); anything less is a plain aggregation over the
    // windowed table — different result cardinality, so reject rather
    // than silently emit one row per growing window
    val winKeys = keys.map(_.toLowerCase).filter(winColsSet).toSet
    if (!(winKeys("window_start") && winKeys("window_end")))
      fail("GROUP BY must list both window_start and window_end " +
        "(window_time optionally alongside); grouping by a subset is a " +
        "plain aggregation over the windowed table, not a window " +
        "aggregation — use batch runtime mode for that shape")
    kept.foreach(k => if (raw"^[A-Za-z_]\w*$$".r.findFirstIn(k).isEmpty)
      fail(s"group key must be a bare column: $k"))
    requireKeys.foreach { pk =>
      if (kept.map(_.toLowerCase).toSet != pk.map(_.toLowerCase).toSet)
        fail("GROUP BY keys must be exactly the SESSION PARTITION BY " +
          s"keys (${if (pk.isEmpty) "none" else pk.mkString(", ")}) — " +
          "sessions merge per that tuple, so any other grouping is not " +
          s"a window aggregation; got: ${kept.mkString(", ")}")
    }
    val selM = raw"(?is)\bSELECT\b".r.findFirstMatchIn(out)
      .getOrElse(fail("no SELECT"))
    val selIdx = selM.end
    val fromIdx = findTopLevel(out, selIdx, "FROM")
      .getOrElse(fail("no top-level FROM"))
    // A WHERE on source columns pre-filters the tracker input (Flink
    // runs WHERE before window assignment); window columns do not
    // exist pre-aggregation, and JOINs stay a named rejection. The
    // predicate is cut from the RAW text (a whitespace-normalized
    // extraction would corrupt string literals holding runs of
    // spaces); only the FROM-head check normalizes for matching.
    val rawBetween = out.substring(fromIdx, gb.start)
    val whereIdx = findTopLevel(rawBetween, 0, "WHERE")
    val wherePred: Option[String] =
      whereIdx.map(i => rawBetween.substring(i + "WHERE".length).trim)
        .filter(_.nonEmpty)
    val head = whereIdx.map(i => rawBetween.substring(0, i))
      .getOrElse(rawBetween).replaceAll(raw"\s+", " ").trim
    if (!head.equalsIgnoreCase(s"FROM $table") ||
        (whereIdx.isDefined && wherePred.isEmpty))
      fail("JOIN/subquery between FROM and GROUP BY is not " +
        "supported; pre-join with a view, or use batch runtime mode")
    wherePred.foreach { p =>
      if (raw"(?i)\b(window_start|window_end|window_time)\b".r
          .findFirstIn(p).isDefined)
        fail("window_start/window_end/window_time cannot be referenced " +
          "in WHERE (they only exist after the aggregation); filter the " +
          "aggregated result with HAVING")
    }

    val src = wherePred.foldLeft(spark.table(table))(_ where _)
    def colIdx(c: String): Int = {
      val i = src.schema.fieldNames.indexWhere(_.equalsIgnoreCase(c))
      if (i < 0) fail(s"column $c not found in $table")
      i
    }
    val AggRe =
      (raw"(?is)^(" + AggSlots.FnAlternation +
        raw")\s*\((.+)\)\s+AS\s+([A-Za-z_]\w*)$$").r
    // literal items — `NULL AS k` pads a grouping-set branch's
    // ungrouped keys, `0/1 AS g` carries resolved GROUPING()/
    // GROUPING_ID() flags (expandStreamingGroupingSets emits both)
    val ConstRe = raw"(?is)^(NULL|-?\d{1,18})\s+AS\s+([A-Za-z_]\w*)$$".r
    sealed trait Item
    final case class WinItem(which: String) extends Item
    final case class KeyItem(name: String) extends Item
    final case class ConstItem(value: String, alias: String) extends Item
    final case class AggItem(fn: String, input: String, alias: String)
        extends Item
    val items: Seq[Item] =
      splitTopLevel(out.substring(selIdx, fromIdx))
        .map(_.trim).filter(_.nonEmpty).map {
      case it if winColsSet(it.toLowerCase) => WinItem(it.toLowerCase)
      case it if kept.exists(_.equalsIgnoreCase(it)) => KeyItem(it)
      case ConstRe(value, alias) => ConstItem(value, alias)
      case AggRe(fn, in, alias) =>
        if (raw"(?i)^DISTINCT\b".r.findFirstIn(in.trim).isDefined) {
          val arg = in.trim.replaceFirst(raw"(?i)^DISTINCT\s+", "")
          fn.toUpperCase match {
            // extrema are distinct-invariant: MIN/MAX(DISTINCT x) ≡
            // MIN/MAX(x), no set state needed (Flink plans the same)
            case "MIN" | "MAX" => AggItem(fn.toUpperCase, arg, alias)
            case f => AggItem(f + "_DISTINCT", arg, alias)
          }
        } else if (raw"(?i)\bDISTINCT\b".r.findFirstIn(in).isDefined)
          fail(s"unsupported DISTINCT placement in ${fn.toUpperCase}($in)")
        else AggItem(fn.toUpperCase, in.trim, alias)
      case other => fail("unsupported select item (want a group key, " +
        s"window_start/window_end/window_time, or AGG(expr) AS alias): $other")
    }
    val aggs = items.collect { case a: AggItem => a }
    if (aggs.isEmpty)
      fail("at least one aggregate is required (a keys-only projection " +
        "has no streaming emission trigger; use batch mode)")
    // (item, tracker kind, result type, input expression) — the kind
    // table lives in AggSlots (shared with the OVER aggregation pass,
    // r15) so kind/type-admission changes land in one place
    def resolveInput(in: String): DataType =
      try src.selectExpr(in).schema.head.dataType
      catch { case e: Exception =>
        fail(s"cannot resolve aggregate input $in: ${e.getMessage}")
      }
    val plans: Seq[(AggItem, AggSlots.Slot)] = aggs.map { a =>
      val distinct = a.fn.endsWith("_DISTINCT")
      val base = a.fn.stripSuffix("_DISTINCT")
      (a, AggSlots.plan(base, distinct, a.input, resolveInput, fail))
    }
    // per-key state groups on a to_json/from_json round-trip of the
    // GROUP BY tuple (same contract as streaming MATCH_RECOGNIZE
    // PARTITION BY) — the shared AggSlots key/slot builders
    AggSlots.requireLosslessKeys(
      k => src.schema(colIdx(k)).dataType, kept, "GROUP BY", fail)
    val keyStruct = StructType(kept.map(k => src.schema(colIdx(k))).toArray)
    val keyExpr =
      if (kept.isEmpty) lit("{}")
      else to_json(struct(kept.map(col): _*))
    val (nnArr, lvArr, dvArr, svArr) =
      AggSlots.slotInputArrays(plans.map(_._2))
    // a CHAINED source (a windowed pre-agg view, r17) rides the
    // never-late sentinel — its rows are upstream watermark-gated
    // emissions (see Watermarks.neverLate); the event encoder binds by
    // name so the extra column never touches the tracker
    val chainedCols =
      if (graft.streaming.Watermarks.isChained(src))
        Seq(graft.streaming.Watermarks.neverLate)
      else Nil
    val prepared = src
      // NULL event times drop from window assignment, exactly the
      // batch rewrite's WHERE (and Flink's behavior) — a null ts would
      // otherwise NPE in the tracker
      .filter(col(wmCol).isNotNull)
      .select(Seq(
        keyExpr.as("key"),
        graft.streaming.Watermarks.eventTimeCol(src, wmCol, "ts"),
        nnArr.as("nn"), lvArr.as("lv"), dvArr.as("dv"),
        svArr.as("sv")) ++ chainedCols: _*)
    val tracked = track(prepared, wmDelay, plans.map(_._2.kind))
    val valsSchema = StructType(plans.zipWithIndex.map { case (p, i) =>
      StructField(s"a$i", p._2.storage, nullable = true)
    }.toArray)
    var ai = -1
    val outCols = items.map {
      case WinItem("window_start") =>
        expr("timestamp_millis(ws)").as("window_start")
      case WinItem("window_end") =>
        expr("timestamp_millis(we)").as("window_end")
      case WinItem(_) =>
        expr("timestamp_millis(we - 1)").as("window_time")
      case KeyItem(name) =>
        from_json(col("key"), keyStruct)
          .getField(src.schema(colIdx(name)).name).as(name)
      case ConstItem(value, alias) => expr(value).as(alias)
      case a: AggItem =>
        ai += 1
        // allowNonNumericNumbers: a double aggregate can legitimately
        // produce NaN/Infinity, which the tracker emits as Jackson's
        // non-numeric tokens — without the option the whole window's
        // aggregates would silently decode to NULL. A set-passthrough
        // slot (decimal distinct, kind 21) finishes its arithmetic in
        // Catalyst via the slot's finish transform.
        val raw = from_json(col("vals"), valsSchema,
            Map("allowNonNumericNumbers" -> "true"))
          .getField(s"a$ai")
        plans(ai)._2.finish.fold(raw)(f => f(raw)).as(a.alias)
    }
    val result = tracked.select(outCols: _*)
    val view = s"graft_tvf_${tvfViewCounter.incrementAndGet()}"
    result.createOrReplaceTempView(view)
    // HAVING over the tracker view: aggregate calls rebind to their
    // select aliases (the view's columns ARE the aggregates), then the
    // predicate runs as a plain WHERE; an aggregate the select list
    // does not carry has no tracked value to filter on — reject by
    // name rather than let Spark treat a bare HAVING as a re-aggregation
    val whereTail = havingPred.map { pred0 =>
      // rebind against the MASKED text, splice on the raw one, so an
      // aggregate-call-shaped string literal is never rewritten
      val pred = aggs.foldLeft(pred0) { (p, a) =>
        val pat = (raw"(?is)\b${a.fn}\s*\(\s*" +
          java.util.regex.Pattern.quote(a.input) + raw"\s*\)").r
        pat.findAllMatchIn(MatchRecognize.maskQuoted(p)).toList.reverse
          .foldLeft(p)((s, m) =>
            s.substring(0, m.start) + a.alias + s.substring(m.end))
      }
      if ((raw"(?is)\b(" + AggSlots.FnAlternation + raw")\s*\(").r
          .findFirstIn(MatchRecognize.maskQuoted(pred)).isDefined)
        fail("HAVING may only reference aggregates that appear in the " +
          s"select list (aliased), group keys, or window columns: $pred0")
      s" WHERE $pred"
    }.getOrElse("")
    // splice ONLY the SELECT..GROUP BY region: a statement prefix
    // (INSERT INTO sink) must survive the rewrite
    out.substring(0, selM.start) + s"SELECT * FROM $view" + whereTail
  }

  /** Splits `s` on commas at paren depth 0, respecting quotes. */
  private def splitTopLevel(s: String): Seq[String] = {
    val parts = scala.collection.mutable.Buffer.empty[String]
    var depth = 0
    var start = 0
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case ',' if depth == 0 => parts += s.substring(start, i); start = i + 1; i += 1
        case q @ ('\'' | '"' | '`') => i = skipQuoted(s, i, q)
        case _ => i += 1
      }
    }
    parts += s.substring(start)
    parts.toSeq
  }

  /** The list clause starting at `from` (GROUP BY keys): runs to the
    * next depth-0 clause keyword, an unmatched `)`, or end.
    */
  private val ClauseStops = Set(
    "HAVING", "ORDER", "LIMIT", "WINDOW", "QUALIFY",
    "UNION", "INTERSECT", "EXCEPT")

  private def scanListClause(sql: String, from: Int): (String, Int) = {
    var i = from
    var depth = 0
    var end = sql.length
    while (i < sql.length) {
      sql.charAt(i) match {
        case '(' => depth += 1; i += 1
        case ')' if depth == 0 => end = i; i = sql.length
        case ')' => depth -= 1; i += 1
        case q @ ('\'' | '"' | '`') => i = skipQuoted(sql, i, q)
        case c if c.isLetter || c == '_' =>
          val s = i
          while (i < sql.length &&
            (sql.charAt(i).isLetterOrDigit || sql.charAt(i) == '_')) i += 1
          val qualified = s > 0 && sql.charAt(s - 1) == '.'
          if (depth == 0 && !qualified &&
            ClauseStops(sql.substring(s, i).toUpperCase)) {
            end = s
            i = sql.length
          }
        case _ => i += 1
      }
    }
    (sql.substring(from, end), end)
  }

  /** Index of the first depth-0 occurrence of keyword `kw` at or after
    * `from`, skipping quoted regions and parenthesized groups.
    */
  /** Streaming window join (Flink 1.14+): `FROM TABLE(TUMBLE(...)) L
    * JOIN TABLE(TUMBLE(...)) R ON L.window_start = R.window_start AND
    * L.window_end = R.window_end AND <keys>` with no GROUP BY. Each
    * TVF becomes a windowed derived table exposing
    * window_start/window_end/window_time as plain columns plus the
    * native window STRUCT as `__graft_w`; the ON's two window
    * equalities (Flink's own window-join requirement) are replaced by
    * ONE equality on the struct — the shape Spark's stream-stream
    * join recognizes for watermark-driven state eviction. TUMBLE
    * and HOP only: SESSION windows are per-key merges with no shared
    * grid to equate, CUMULATE's expanding windows pair every prefix.
    */
  private def rewriteStreamingWindowJoin(
      sql: String,
      spark: org.apache.spark.sql.SparkSession,
      watermarkOf: String => Option[(String, String)]): String = {
    def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)
    def requireWatermark(table: String, tcol: String): Unit =
      requireJoinWatermark(spark, watermarkOf, table, tcol)
    val kinds = AnyTvfRe.findAllMatchIn(sql).map(_.group(1).toUpperCase).toSeq
    if (kinds.contains("SESSION"))
      fail("streaming window join supports TUMBLE, HOP and CUMULATE " +
        "windows only (got SESSION) — aggregate SESSION windows " +
        "separately, then join the results")
    if (kinds.contains("CUMULATE")) {
      if (!kinds.forall(_ == "CUMULATE"))
        fail("streaming CUMULATE window join requires BOTH sides to be " +
          "CUMULATE (Flink windows both inputs with the same TVF)")
      return rewriteStreamingCumulateJoin(sql, spark, watermarkOf)
    }
    val tumbles = TumbleRe.findAllMatchIn(sql).toSeq.map((_, false))
    val hops = HopRe.findAllMatchIn(sql).toSeq.map((_, true))
    val calls = (tumbles ++ hops).sortBy(_._1.start)
    if (calls.size != 2)
      fail("streaming window join needs exactly two TUMBLE/HOP window " +
        "TVF relations in supported form")
    var out = sql
    for ((m, isHop) <- calls.reverseIterator) {
      requireWatermark(m.group(1), m.group(2))
      val (table, tcol, winExpr) =
        if (!isHop) {
          val dur = millis(m, 3, "SIZE")
          val off = normOffset(offsetMillis(m, 6), dur)
          val tail =
            if (off == 0L) ""
            else s", '$dur milliseconds', '$off milliseconds'"
          (m.group(1), m.group(2),
            s"window(${m.group(2)}, '$dur milliseconds'$tail)")
        } else {
          val slide = millis(m, 3, "SLIDE")
          val size = millis(m, 6, "SIZE")
          require(size % slide == 0,
            s"HOP size ($size ms) must be a multiple of its slide ($slide ms)")
          val off = normOffset(offsetMillis(m, 9), slide)
          val tail = if (off == 0L) "" else s", '$off milliseconds'"
          (m.group(1), m.group(2),
            s"window(${m.group(2)}, '$size milliseconds', " +
              s"'$slide milliseconds'$tail)")
        }
      val derived =
        s"(SELECT * EXCEPT (__w), __w.start AS window_start, " +
          "__w.end AS window_end, " +
          "__w.end - INTERVAL '1' MILLISECOND AS window_time, " +
          "__w AS __graft_w " +
          s"FROM (SELECT *, $winExpr AS __w FROM $table " +
          s"WHERE $tcol IS NOT NULL) __gwj)"
      out = out.substring(0, m.start) + derived + out.substring(m.end)
    }
    // the ON clause: Flink requires window_start AND window_end
    // equality; both collapse into one struct equality
    val onIdx = findTopLevel(out, 0, "ON").getOrElse(
      fail("streaming window join needs an ON clause equating " +
        "window_start and window_end of both sides"))
    val condEnd = Seq("WHERE", "ORDER", "LIMIT", "HAVING")
      .flatMap(k => findTopLevel(out, onIdx + 2, k)).sorted.headOption
      .getOrElse(out.length)
    val cond = out.substring(onIdx + 2, condEnd)
    val WinEqRe = raw"(?is)^\s*([A-Za-z_]\w*)\.(window_start|window_end)\s*=\s*([A-Za-z_]\w*)\.(window_start|window_end)\s*$$".r
    var startPair: Option[(String, String)] = None
    var sawEndEq = false
    val rest = splitTopLevelAnd(cond).filter { c =>
      c match {
        case WinEqRe(a, ca, b, cb) if ca.equalsIgnoreCase(cb) =>
          if (ca.equalsIgnoreCase("window_start")) startPair = Some((a, b))
          else sawEndEq = true
          false
        case _ => true
      }
    }
    val (la, ra) = startPair.getOrElse(
      fail("streaming window join requires `L.window_start = " +
        "R.window_start` in the ON clause (Flink's window-join " +
        "contract)"))
    if (!sawEndEq)
      fail("streaming window join requires `L.window_end = " +
        "R.window_end` in the ON clause (Flink's window-join contract)")
    val newCond =
      (s"$la.__graft_w = $ra.__graft_w" +: rest.map(_.trim))
        .mkString(" AND ")
    out.substring(0, onIdx) + "ON " + newCond +
      (if (condEnd < out.length) " " + out.substring(condEnd) else "")
  }

  /** Streaming TUMBLE/HOP window join under a DST REGION
    * `table.local-time-zone` (r14b). The native path equates the
    * `window()` STRUCT, whose fixed slide cannot express a wall-clock
    * grid — here each side derives its covering wall-clock window(s)
    * per row (the batch rewrite's arithmetic: `from_utc_timestamp`
    * floor, bounds back to instants) as plain epoch-millis columns
    * `__gws`/`__gwe`, and the ON's window equalities become equalities
    * on those instants plus an event-time RANGE condition that gives
    * Spark the state-eviction bound the struct equality provided:
    * two rows sharing a wall-clock window of nominal span S are
    * within S + 24 h of each other (24 h = the largest UTC-offset
    * jump any tzdb transition makes — the date-line moves; ordinary
    * DST shifts are 1 h), so `|l.t − r.t| ≤ S + 25 h` is implied by
    * window equality and never drops a legitimate pair, while
    * bounding each side's state at watermark + S + 25 h. CUMULATE
    * joins under region zones (r15) compose their step-end fan-out
    * with these same instant bounds — the dispatcher routes them to
    * [[rewriteStreamingCumulateJoin]] with the zone threaded through.
    */
  private def rewriteStreamingZoneWindowJoin(
      sql: String, zone: String,
      spark: org.apache.spark.sql.SparkSession,
      watermarkOf: String => Option[(String, String)]): String = {
    def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)
    if (AnyTvfRe.findAllMatchIn(sql).map(_.group(1).toUpperCase)
        .contains("SESSION"))
      fail("streaming window join supports TUMBLE and HOP windows " +
        "under a region zone (got SESSION) — aggregate SESSION windows " +
        "separately, then join the results")
    val tumbles = TumbleRe.findAllMatchIn(sql).toSeq.map((_, false))
    val hops = HopRe.findAllMatchIn(sql).toSeq.map((_, true))
    val calls = (tumbles ++ hops).sortBy(_._1.start)
    if (calls.size != 2)
      fail("streaming window join needs exactly two TUMBLE/HOP window " +
        "TVF relations in supported form")
    val wall = (tcol: String) =>
      s"unix_millis(from_utc_timestamp(cast($tcol as timestamp), '$zone'))"
    def toInstTs(c: String): String =
      s"to_utc_timestamp(timestamp_millis($c), '$zone')"
    var maxSize = 0L
    var out = sql
    // (alias resolution happens after splicing) side order: text order
    val sideTcols = calls.map(_._1.group(2))
    for ((m, isHop) <- calls.reverseIterator) {
      requireJoinWatermark(spark, watermarkOf, m.group(1), m.group(2))
      val (table, tcol) = (m.group(1), m.group(2))
      val w = wall(tcol)
      val (fromText, sizeMs) =
        if (!isHop) {
          val dur = millis(m, 3, "SIZE")
          val off = normOffset(offsetMillis(m, 6), dur)
          val tOff = if (off == 0L) w else s"($w - ${off}L)"
          val back = if (off == 0L) "" else s" + ${off}L"
          (s"(SELECT *, ${floorTo(tOff, dur)}$back AS __wsw " +
            s"FROM $table WHERE $tcol IS NOT NULL) __gzj", dur)
        } else {
          val slide = millis(m, 3, "SLIDE")
          val size = millis(m, 6, "SIZE")
          require(size % slide == 0,
            s"HOP size ($size ms) must be a multiple of its slide ($slide ms)")
          val off = normOffset(offsetMillis(m, 9), slide)
          val tOff = if (off == 0L) w else s"($w - ${off}L)"
          val back = if (off == 0L) "" else s" + ${off}L"
          val lo = s"${floorTo(s"($tOff - ${size}L)", slide)} + ${slide}L$back"
          val hi = s"${floorTo(tOff, slide)}$back"
          (s"(SELECT * FROM $table WHERE $tcol IS NOT NULL) __gz0 " +
            s"LATERAL VIEW explode(sequence($lo, $hi, ${slide}L)) " +
            "__gzv AS __wsw", size)
        }
      maxSize = math.max(maxSize, sizeMs)
      val derived =
        s"(SELECT * EXCEPT (__wsw), " +
          s"${toInstTs("__wsw")} AS window_start, " +
          s"${toInstTs(s"(__wsw + ${sizeMs}L)")} AS window_end, " +
          s"${toInstTs(s"(__wsw + ${sizeMs}L)")} - INTERVAL '1' " +
          "MILLISECOND AS window_time, " +
          s"unix_millis(${toInstTs("__wsw")}) AS __gws, " +
          s"unix_millis(${toInstTs(s"(__wsw + ${sizeMs}L)")}) AS __gwe " +
          s"FROM $fromText)"
      out = out.substring(0, m.start) + derived + out.substring(m.end)
    }
    val onIdx = findTopLevel(out, 0, "ON").getOrElse(
      fail("streaming window join needs an ON clause equating " +
        "window_start and window_end of both sides"))
    val condEnd = Seq("WHERE", "ORDER", "LIMIT", "HAVING")
      .flatMap(k => findTopLevel(out, onIdx + 2, k)).sorted.headOption
      .getOrElse(out.length)
    val cond = out.substring(onIdx + 2, condEnd)
    val WinEqRe = raw"(?is)^\s*([A-Za-z_]\w*)\.(window_start|window_end)\s*=\s*([A-Za-z_]\w*)\.(window_start|window_end)\s*$$".r
    var startPair: Option[(String, String)] = None
    var sawEndEq = false
    val rest = splitTopLevelAnd(cond).filter { c =>
      c match {
        case WinEqRe(a, ca, b, cb) if ca.equalsIgnoreCase(cb) =>
          if (ca.equalsIgnoreCase("window_start")) startPair = Some((a, b))
          else sawEndEq = true
          false
        case _ => true
      }
    }
    val (la, ra) = startPair.getOrElse(
      fail("streaming window join requires `L.window_start = " +
        "R.window_start` in the ON clause (Flink's window-join " +
        "contract)"))
    if (!sawEndEq)
      fail("streaming window join requires `L.window_end = " +
        "R.window_end` in the ON clause (Flink's window-join contract)")
    // alias → side mapping, read from the ORIGINAL text at each TVF
    // call's end (an unaliased relation yields no entry instead of
    // capturing the following keyword)
    val tcolOf: Map[String, String] =
      calls.map(_._1).zip(sideTcols).flatMap { case (m, tc) =>
        aliasAfter(sql, m.end).map(_ -> tc)
      }.toMap
    val (lt, rt) = (
      tcolOf.getOrElse(la, fail(
        s"streaming window join: cannot resolve relation alias $la " +
          "(alias each windowed TVF relation directly: TABLE(...) L)")),
      tcolOf.getOrElse(ra, fail(
        s"streaming window join: cannot resolve relation alias $ra " +
          "(alias each windowed TVF relation directly: TABLE(...) R)")))
    val boundMs = maxSize + 25L * 3600000L
    val range = s"$la.$lt >= $ra.$rt - INTERVAL '$boundMs' MILLISECOND " +
      s"AND $la.$lt <= $ra.$rt + INTERVAL '$boundMs' MILLISECOND"
    val newCond =
      (Seq(s"$la.__gws = $ra.__gws", s"$la.__gwe = $ra.__gwe", range) ++
        rest.map(_.trim)).mkString(" AND ")
    out.substring(0, onIdx) + "ON " + newCond +
      (if (condEnd < out.length) " " + out.substring(condEnd) else "")
  }

  /** Words that can follow a join relation and are therefore NOT its
    * alias. */
  private val NonAliasWords = Set(
    "JOIN", "ON", "LEFT", "RIGHT", "FULL", "INNER", "OUTER", "CROSS",
    "WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "UNION", "LATERAL",
    "NATURAL", "USING")

  /** The alias of the relation whose text ends at `end` in the
    * ORIGINAL statement — read at the match position rather than
    * re-scanned from the rewritten text, so an unaliased relation
    * yields None instead of capturing the next keyword (and two sides
    * can never mis-map).
    */
  private def aliasAfter(sql: String, end: Int): Option[String] =
    raw"(?is)^\s*(?:AS\s+)?([A-Za-z_]\w*)".r
      .findFirstMatchIn(sql.substring(end))
      .map(_.group(1)).filterNot(a => NonAliasWords(a.toUpperCase))

  /** Both window-join sides must carry an event-time watermark on the
    * DESCRIPTOR column — a DDL declaration or one already applied to
    * the relation (withWatermark metadata). Without it, inner-join
    * state never evicts and the outer forms die with Spark's raw
    * error. Text-only invocations (no session) cannot check and skip —
    * the CLI path always passes the session.
    */
  private def requireJoinWatermark(
      spark: org.apache.spark.sql.SparkSession,
      watermarkOf: String => Option[(String, String)],
      table: String, tcol: String): Unit = {
    if (spark == null) return
    val declared = watermarkOf(table).exists(_._1.equalsIgnoreCase(tcol))
    lazy val metaOk =
      try spark.table(table).schema.fields.exists(f =>
        f.name.equalsIgnoreCase(tcol) && f.metadata.contains(
          org.apache.spark.sql.catalyst.plans.logical
            .EventTimeWatermark.delayKey))
      catch { case _: Exception => false }
    if (!declared && !metaOk)
      throw new IllegalArgumentException(
        s"streaming window join: $table needs a WATERMARK " +
          s"declaration on its DESCRIPTOR column $tcol — without it " +
          "the join state never evicts (inner) or the query fails at " +
          "start (outer)")
  }

  /** Streaming CUMULATE window join. Spark has no native growing
    * window, but a CUMULATE join decomposes exactly: two rows share a
    * cumulate window instance iff they share the SPAN (the size-wide
    * tumbling grid) and the window's end lies strictly after both —
    * so the join runs as a native TUMBLE(size) window join (the shape
    * whose state evicts with the watermark) and each joined pair then
    * fans out STATELESSLY to the step-multiple ends from
    * `greatest(eb_l, eb_r)` to the span end, where `eb` is a row's
    * first covering end offset. Both sides must be CUMULATE with
    * identical (step, size, offset); the ON clause must equate
    * window_start and window_end (Flink's window-join contract —
    * both collapse into the span-struct equality, end equality being
    * implied per fanned window). `X.window_end`/`X.window_time`
    * references rewrite onto the fan-out column, so they are legal in
    * the select list and WHERE but not in residual ON conjuncts
    * (evaluated before the fan-out).
    */
  private def rewriteStreamingCumulateJoin(
      sql: String,
      spark: org.apache.spark.sql.SparkSession,
      watermarkOf: String => Option[(String, String)],
      // a DST REGION zone (r15): the span grid is the zone's
      // wall-clock size grid — spans are assigned per row with the
      // batch rewrite's from_utc_timestamp floor, the span-struct
      // equality becomes equalities on BOTH span instant bounds (the
      // pair disambiguates fall-back overlap), and an event-time range
      // of size + 25 h restores the state-eviction bound the struct
      // equality provided (rows sharing a wall span are within size
      // wall-clock, and no tzdb transition shifts the offset by more
      // than 24 h). The fan-out and window_end/window_time rewrites
      // then run on the WALL timeline and convert back per reference.
      zone: Option[String] = None): String = {
    def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)
    val calls = CumulateRe.findAllMatchIn(sql).toSeq
    if (calls.size != 2)
      fail("streaming CUMULATE window join needs exactly two CUMULATE " +
        "window TVF relations in supported form")
    val specs = calls.map { m =>
      val step = millis(m, 3, "STEP")
      val size = millis(m, 6, "SIZE")
      require(size % step == 0,
        s"CUMULATE size ($size ms) must be a multiple of its step ($step ms)")
      (step, size, normOffset(offsetMillis(m, 9), size))
    }
    if (specs.distinct.size != 1)
      fail("streaming CUMULATE window join requires identical (step, " +
        "size, offset) on both sides (Flink windows both inputs with " +
        "the same TVF)")
    val (stepMs, sizeMs, offMs) = specs.head
    val sideTcols = calls.map(_.group(2))
    var out = sql
    for (m <- calls.reverseIterator) {
      requireJoinWatermark(spark, watermarkOf, m.group(1), m.group(2))
      val (table, tcol) = (m.group(1), m.group(2))
      val derived = zone match {
        case None =>
          val tail =
            if (offMs == 0L) ""
            else s", '$sizeMs milliseconds', '$offMs milliseconds'"
          val t = epochMs(tcol)
          val tOff = if (offMs == 0L) t else s"($t - ${offMs}L)"
          val eb =
            s"((pmod($tOff, ${sizeMs}L) div ${stepMs}L) + 1) * ${stepMs}L"
          s"(SELECT * EXCEPT (__w), __w.start AS window_start, " +
            s"__w AS __graft_w, $eb AS __graft_eb " +
            s"FROM (SELECT *, window($tcol, '$sizeMs milliseconds'$tail) AS __w " +
            s"FROM $table WHERE $tcol IS NOT NULL) __gwj)"
        case Some(z) =>
          val w =
            s"unix_millis(from_utc_timestamp(cast($tcol as timestamp), '$z'))"
          def toInstTs(c: String): String =
            s"to_utc_timestamp(timestamp_millis($c), '$z')"
          val tOff = if (offMs == 0L) w else s"($w - ${offMs}L)"
          val back = if (offMs == 0L) "" else s" + ${offMs}L"
          val eb =
            s"((pmod($tOff, ${sizeMs}L) div ${stepMs}L) + 1) * ${stepMs}L"
          s"(SELECT * EXCEPT (__wsw), " +
            s"${toInstTs("__wsw")} AS window_start, " +
            s"__wsw AS __gww, " +
            s"unix_millis(${toInstTs("__wsw")}) AS __gws, " +
            s"unix_millis(${toInstTs(s"(__wsw + ${sizeMs}L)")}) AS __gwe, " +
            s"$eb AS __graft_eb " +
            s"FROM (SELECT *, ${floorTo(tOff, sizeMs)}$back AS __wsw " +
            s"FROM $table WHERE $tcol IS NOT NULL) __gcz)"
      }
      out = out.substring(0, m.start) + derived + out.substring(m.end)
    }
    val onIdx = findTopLevel(out, 0, "ON").getOrElse(
      fail("streaming CUMULATE window join needs an ON clause equating " +
        "window_start and window_end of both sides"))
    val condEnd = Seq("WHERE", "ORDER", "LIMIT", "HAVING")
      .flatMap(k => findTopLevel(out, onIdx + 2, k)).sorted.headOption
      .getOrElse(out.length)
    val cond = out.substring(onIdx + 2, condEnd)
    val WinEqRe = raw"(?is)^\s*([A-Za-z_]\w*)\.(window_start|window_end)\s*=\s*([A-Za-z_]\w*)\.(window_start|window_end)\s*$$".r
    var startPair: Option[(String, String)] = None
    var sawEndEq = false
    val rest = splitTopLevelAnd(cond).filter { c =>
      c match {
        case WinEqRe(a, ca, b, cb) if ca.equalsIgnoreCase(cb) =>
          if (ca.equalsIgnoreCase("window_start")) startPair = Some((a, b))
          else sawEndEq = true
          false
        case _ => true
      }
    }
    val (la, ra) = startPair.getOrElse(
      fail("streaming CUMULATE window join requires `L.window_start = " +
        "R.window_start` in the ON clause (Flink's window-join contract)"))
    if (!sawEndEq)
      fail("streaming CUMULATE window join requires `L.window_end = " +
        "R.window_end` in the ON clause (Flink's window-join contract)")
    rest.foreach { c =>
      if (raw"(?i)\bwindow_(end|time)\b".r.findFirstIn(c).isDefined)
        fail("streaming CUMULATE window join: window_end/window_time " +
          "cannot appear in residual ON conjuncts (the growing-window " +
          "fan-out runs after the join) — move the predicate to WHERE")
    }
    val spanCond = zone match {
      case None => Seq(s"$la.__graft_w = $ra.__graft_w")
      case Some(_) =>
        // alias → event-time column, read from the ORIGINAL text at
        // each TVF call's end (the range condition needs both sides'
        // time attributes for state eviction)
        val tcolOf: Map[String, String] =
          calls.zip(sideTcols).flatMap { case (m, tc) =>
            aliasAfter(sql, m.end).map(_ -> tc)
          }.toMap
        val (lt, rt) = (
          tcolOf.getOrElse(la, fail(
            s"streaming CUMULATE window join: cannot resolve relation " +
              s"alias $la (alias each windowed TVF relation directly: " +
              "TABLE(...) L)")),
          tcolOf.getOrElse(ra, fail(
            s"streaming CUMULATE window join: cannot resolve relation " +
              s"alias $ra (alias each windowed TVF relation directly: " +
              "TABLE(...) R)")))
        val boundMs = sizeMs + 25L * 3600000L
        Seq(s"$la.__gws = $ra.__gws", s"$la.__gwe = $ra.__gwe",
          s"$la.$lt >= $ra.$rt - INTERVAL '$boundMs' MILLISECOND " +
            s"AND $la.$lt <= $ra.$rt + INTERVAL '$boundMs' MILLISECOND")
    }
    val newCond = (spanCond ++ rest.map(_.trim)).mkString(" AND ")
    // the stateless fan-out: every step-multiple end covering BOTH rows
    val fan = s" LATERAL VIEW explode(sequence(" +
      s"greatest($la.__graft_eb, $ra.__graft_eb), ${sizeMs}L, ${stepMs}L)) " +
      "__gcf AS __graft_eo"
    var res = out.substring(0, onIdx) + "ON " + newCond + fan +
      (if (condEnd < out.length) " " + out.substring(condEnd) else "")
    // fan-out end references: the growing window's end is the span's
    // WALL start + the end offset, converted back to an instant under
    // a zone (the wall start rides as __gww); plain epoch arithmetic
    // otherwise
    def endRef(a: String) = zone match {
      case None =>
        s"timestamp_millis(unix_millis($a.window_start) + __graft_eo)"
      case Some(z) =>
        s"to_utc_timestamp(timestamp_millis($a.__gww + __graft_eo), '$z')"
    }
    def timeRef(a: String) = zone match {
      case None =>
        s"timestamp_millis(unix_millis($a.window_start) + __graft_eo - 1L)"
      case Some(z) =>
        s"(to_utc_timestamp(timestamp_millis($a.__gww + __graft_eo), " +
          s"'$z') - INTERVAL '1' MILLISECOND)"
    }
    // bare `X.window_end` / `X.window_time` select items keep their TVF
    // output names via an alias; references inside larger expressions
    // rewrite in place below
    val selM = raw"(?is)\bSELECT\b".r.findFirstMatchIn(res)
      .getOrElse(fail("streaming CUMULATE window join has no SELECT"))
    findTopLevel(res, selM.end, "FROM").foreach { fromIdx =>
      val items = splitTopLevel(res.substring(selM.end, fromIdx)).map { it =>
        raw"(?i)^\s*([A-Za-z_]\w*)\.window_(end|time)\s*$$".r
          .findFirstMatchIn(it) match {
          case Some(mm) =>
            val which = mm.group(2).toLowerCase
            val e =
              if (which == "end") endRef(mm.group(1)) else timeRef(mm.group(1))
            s"$e AS window_$which"
          case None => it.trim
        }
      }
      res = res.substring(0, selM.end) + " " + items.mkString(", ") + " " +
        res.substring(fromIdx)
    }
    val WinTimeRef = raw"(?i)\b([A-Za-z_]\w*)\.window_time\b".r
    val WinEndRef = raw"(?i)\b([A-Za-z_]\w*)\.window_end\b".r
    res = WinTimeRef.replaceAllIn(res, m =>
      java.util.regex.Matcher.quoteReplacement(timeRef(m.group(1))))
    res = WinEndRef.replaceAllIn(res, m =>
      java.util.regex.Matcher.quoteReplacement(endRef(m.group(1))))
    if (raw"(?i)(?<!AS )\bwindow_(end|time)\b".r.findFirstIn(res).isDefined)
      fail("streaming CUMULATE window join: qualify window_end/" +
        "window_time with a side alias (the unqualified column does " +
        "not exist after the fan-out rewrite)")
    res
  }

  /** Top-level AND-conjuncts of a boolean expression (quote- and
    * paren-aware); the inverse of `mkString(" AND ")`.
    */
  private def splitTopLevelAnd(s: String): Seq[String] = {
    val parts = scala.collection.mutable.Buffer.empty[String]
    var depth = 0
    var start = 0
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case q @ ('\'' | '"' | '`') => i = skipQuoted(s, i, q)
        case c if c.isLetter || c == '_' =>
          val st = i
          while (i < s.length &&
            (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_')) i += 1
          val qualified = st > 0 && s.charAt(st - 1) == '.'
          if (depth == 0 && !qualified &&
              s.substring(st, i).equalsIgnoreCase("AND")) {
            parts += s.substring(start, st)
            start = i
          }
        case _ => i += 1
      }
    }
    parts += s.substring(start)
    parts.toSeq
  }

  private[harness] def findTopLevel(sql: String, from: Int,
      kw: String): Option[Int] = {
    var i = from
    var depth = 0
    while (i < sql.length) {
      sql.charAt(i) match {
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case q @ ('\'' | '"' | '`') => i = skipQuoted(sql, i, q)
        case c if c.isLetter || c == '_' =>
          val s = i
          while (i < sql.length &&
            (sql.charAt(i).isLetterOrDigit || sql.charAt(i) == '_')) i += 1
          val qualified = s > 0 && sql.charAt(s - 1) == '.'
          if (depth == 0 && !qualified &&
            sql.substring(s, i).equalsIgnoreCase(kw)) return Some(s)
        case _ => i += 1
      }
    }
    None
  }

  /** Past a quoted region; doubled quotes escape within '...' and `...`. */
  private def skipQuoted(sql: String, start: Int, q: Char): Int = {
    var i = start + 1
    while (i < sql.length) {
      if (sql.charAt(i) == q) {
        if (i + 1 < sql.length && sql.charAt(i + 1) == q) i += 2
        else return i + 1
      } else i += 1
    }
    sql.length
  }

  /** Whether the statement's top-level FROM is one plain table name
    * (optionally followed by WHERE/GROUP/HAVING/ORDER/LIMIT) — the
    * shape the TVF source splice handles directly. Missing SELECT/FROM
    * reports true so the escalation's own named errors fire instead.
    */
  private def singleTableFrom(s: String): Boolean =
    (for {
      sel <- raw"(?is)\bSELECT\b".r.findFirstMatchIn(s).map(_.end)
      fi <- findTopLevel(s, sel, "FROM")
    } yield {
      val tail = s.substring(fi)
      (raw"(?is)\AFROM\s+($Dotted)\b").r.findFirstMatchIn(tail).exists { fm =>
        val after = tail.substring(fm.end).dropWhile(_.isWhitespace)
        after.isEmpty || Set("WHERE", "GROUP", "HAVING", "ORDER", "LIMIT")(
          after.takeWhile(c => c.isLetterOrDigit || c == '_').toUpperCase)
      }
    }).getOrElse(true)

  /** Escalates a legacy HOP/SESSION (and, when `tumbleToo`, TUMBLE)
    * group window to the TVF form over the statement's single-table
    * FROM, so the TVF rewrites — batch expansion or streaming native
    * windows — handle it from there. Legacy group windows compute
    * per-group-key windows, so a SESSION's sibling GROUP BY keys
    * become the TVF PARTITION BY.
    *
    * With `joinsOk` (the batch path), a multi-table FROM is supported
    * too: HOP explodes its covering window starts as a `LATERAL VIEW`
    * appended to the join (qualifiers survive untouched); SESSION and
    * TUMBLE wrap the join in a `__lgw_src` CTE and window the TVF over
    * it — `SELECT *` flattens qualifiers there, so outer references
    * must use bare column names (a qualified one fails loudly at
    * analysis with Spark's unresolved-column error). Streaming keeps
    * the single-table contract (`joinsOk = false`): stream-stream
    * joins inside a legacy group window are rejected toward the
    * explicit TVF form rather than half-rewritten.
    */
  /** Escalates a legacy grid group window (GROUP BY TUMBLE/HOP +
    * accessors) to its TVF form for zone alignment: the legacy call
    * has no OFFSET argument to carry a shifted
    * `table.local-time-zone`, but its TVF escalation does — so
    * [[alignToZone]] (fixed-offset zones) and the wall-clock grid
    * paths (DST region zones) treat the statement like any
    * user-written TVF. Single-table statements only: the join
    * escalation paths emit inline epoch arithmetic the offset
    * composition cannot reach (`joinsOk = false` rejects those with
    * the single-table contract). Statements without a legacy grid
    * window pass through unchanged; legacy SESSION stays legacy (gap
    * windows are zone-invariant).
    */
  def escalateLegacyGridsForZone(sql: String): String =
    if (!hasLegacyGridWindow(sql)) sql
    else legacyGroupToTvf(sql, tumbleToo = true)

  private def legacyGroupToTvf(
      sql: String, tumbleToo: Boolean, joinsOk: Boolean = false): String = {
    final case class G(kind: String, re: scala.util.matching.Regex,
        tcol: String, ivs: String, ms: Seq[Long])
    def iv(n: String, u: String) = s"INTERVAL '$n' $u"
    def ms(n: String, u: String) = n.toLong * unitMillis(u)
    val g = LegacyHopGroup.findFirstMatchIn(sql).map(m =>
      G("HOP", LegacyHopGroup, m.group(1),
        s"${iv(m.group(2), m.group(3))}, ${iv(m.group(4), m.group(5))}",
        Seq(ms(m.group(2), m.group(3)), ms(m.group(4), m.group(5)))))
      .orElse(LegacySessionGroup.findFirstMatchIn(sql).map(m =>
        G("SESSION", LegacySessionGroup, m.group(1),
          iv(m.group(2), m.group(3)), Seq(ms(m.group(2), m.group(3))))))
      .orElse(if (!tumbleToo) None
        else LegacyTumbleGroup.findFirstMatchIn(sql).map(m =>
          G("TUMBLE", LegacyTumbleGroup, m.group(1),
            iv(m.group(2), m.group(3)), Seq(ms(m.group(2), m.group(3))))))
      .getOrElse(return sql)

    // path decision on the ORIGINAL text (accessor rewrite below only
    // renames call sites, never changes the FROM shape): a join FROM
    // routes HOP to the inline lateral-view expansion and the others
    // to the CTE-wrapped TVF
    val joinPath = joinsOk && !singleTableFrom(sql)
    val hopInline = joinPath && g.kind == "HOP"
    val (slideMs, sizeMs) = g.kind match {
      case "HOP" => (g.ms.head, g.ms.last)
      case _ => (g.ms.head, g.ms.head)
    }
    if (hopInline) require(sizeMs % slideMs == 0,
      s"HOP size ($sizeMs ms) must be a multiple of its slide ($slideMs ms)")

    // accessors first: their names contain the bare call name, and the
    // replacement shifts no GROUP BY/FROM landmarks we find afterwards.
    // Flink rejects accessors whose arguments differ from the group
    // window's — binding them by name alone would silently return the
    // wrong window's bounds, so validate column and intervals.
    var out = legacyAccessor(g.kind).replaceAllIn(sql, m => {
      val accMs = LegacyIvRe.findAllMatchIn(m.group(3))
        .map(x => ms(x.group(1), x.group(2))).toSeq
      if (!m.group(2).equalsIgnoreCase(g.tcol) || accMs != g.ms)
        throw new IllegalArgumentException(
          s"legacy ${g.kind}_${m.group(1).toUpperCase} arguments do not " +
            s"match the GROUP BY ${g.kind}(${g.tcol}, ${g.ivs}) window")
      m.group(1).toUpperCase match {
        // inline HOP has no window_* columns: accessors become
        // expressions over the exploded window start __ws
        case "START" =>
          if (hopInline) "timestamp_millis(__ws)" else "window_start"
        case "END" =>
          if (hopInline) s"timestamp_millis(__ws + ${sizeMs}L)"
          else "window_end"
        case _ =>
          if (hopInline) s"timestamp_millis(__ws + ${sizeMs - 1}L)"
          else "window_time"
      }
    })

    val gb = raw"(?is)\bGROUP\s+BY\b".r.findAllMatchIn(out).toList match {
      case one :: Nil => one
      case _ => throw new IllegalArgumentException(
        s"legacy ${g.kind} group window requires a single GROUP BY; " +
          "use the TVF form (TABLE(...)) for nested shapes")
    }
    val (keysText, keysEnd) = scanListClause(out, gb.end)
    val keys = splitTopLevel(keysText).map(_.trim)
    def isWinKey(k: String) = g.re.pattern.matcher(k).matches()
    val winKeys = keys.filter(isWinKey)
    val otherKeys = keys.filterNot(isWinKey)
    if (winKeys.isEmpty) throw new IllegalArgumentException(
      s"legacy ${g.kind}(...) must appear as a GROUP BY key")
    // a statement carries ONE group window: a second same-kind key with
    // different arguments would silently collapse onto the first window
    // (Flink rejects the statement outright)
    if (winKeys.size > 1) throw new IllegalArgumentException(
      s"legacy group windows allow one ${g.kind}(...) GROUP BY key; " +
        s"got ${winKeys.size}")
    // and the key must be THE window `g` was built from (g is found by
    // first occurrence in the statement, which need not be this key)
    locally {
      val m = g.re.findFirstMatchIn(winKeys.head).get
      val kMs = g.kind match {
        case "HOP" => Seq(ms(m.group(2), m.group(3)), ms(m.group(4), m.group(5)))
        case _ => Seq(ms(m.group(2), m.group(3)))
      }
      if (!m.group(1).equalsIgnoreCase(g.tcol) || kMs != g.ms)
        throw new IllegalArgumentException(
          s"legacy ${g.kind} GROUP BY key arguments do not match the " +
            s"statement's ${g.kind}(${g.tcol}, ${g.ivs}) window")
    }
    if (g.kind == "SESSION" && !otherKeys.forall(_.matches(s"^$Dotted$$")))
      throw new IllegalArgumentException(
        "legacy SESSION group window needs plain column grouping keys " +
          "(they become the session PARTITION BY); use the TVF form " +
          "for expression keys")
    // window_time rides along: a ROWTIME accessor in the select list
    // becomes a window_time reference, which must be a grouping key
    // (functionally dependent on window_start, so grouping is unchanged)
    val winKeyRepl =
      if (hopInline) "__ws" else "window_start, window_end, window_time"
    val newKeys = keys
      .map(k => if (isWinKey(k)) winKeyRepl else k)
      .mkString(", ")

    val selM = raw"(?is)\bSELECT\b".r.findFirstMatchIn(out)
      .getOrElse(throw new IllegalArgumentException(
        s"legacy ${g.kind} group window statement has no SELECT"))
    val fromIdx = findTopLevel(out, selM.end, "FROM").getOrElse(
      throw new IllegalArgumentException(
        s"legacy ${g.kind} group window statement has no top-level FROM"))
    if (fromIdx >= gb.start) throw new IllegalArgumentException(
      s"legacy ${g.kind} group window statement has no FROM before GROUP BY")

    if (!joinPath) {
      val tail = out.substring(fromIdx)
      val fm = (raw"(?is)\AFROM\s+($Dotted)\b").r.findFirstMatchIn(tail)
        .getOrElse(throw new IllegalArgumentException(
          s"legacy ${g.kind} group window requires a single-table FROM; " +
            "use the TVF form for joins/subqueries"))
      val afterTable = tail.substring(fm.end).dropWhile(_.isWhitespace)
      val nextOk = afterTable.isEmpty || {
        val w = afterTable.takeWhile(c => c.isLetterOrDigit || c == '_')
          .toUpperCase
        Set("WHERE", "GROUP", "HAVING", "ORDER", "LIMIT")(w)
      }
      if (!nextOk) throw new IllegalArgumentException(
        s"legacy ${g.kind} group window requires a single-table FROM " +
          "(no joins, aliases, or subqueries); use the TVF form")

      val part =
        if (g.kind == "SESSION" && otherKeys.nonEmpty)
          s" PARTITION BY ${otherKeys.mkString(", ")}"
        else ""
      val tvf =
        s"TABLE(${g.kind}(TABLE ${fm.group(1)}$part, " +
          s"DESCRIPTOR(${g.tcol}), ${g.ivs}))"
      // splice back to front so earlier offsets stay valid
      out = out.substring(0, gb.end) + " " + newKeys + out.substring(keysEnd)
      out.substring(0, fromIdx) + s"FROM $tvf" +
        out.substring(fromIdx + fm.end)
    } else if (hopInline) {
      // covering window starts per joined row, appended to the FROM
      // clause (lateral views attach after joins) and BEFORE any
      // top-level WHERE; a NULL time column makes the sequence NULL,
      // which the non-OUTER lateral view drops — the TVF's
      // `tcol IS NOT NULL` behavior
      val t = epochMs(g.tcol)
      val lo = s"${floorTo(s"($t - ${sizeMs}L)", slideMs)} + ${slideMs}L"
      val hi = floorTo(t, slideMs)
      val lv = s" LATERAL VIEW explode(sequence($lo, $hi, ${slideMs}L)) " +
        "__wt AS __ws "
      val insertAt = findTopLevel(out, fromIdx, "WHERE")
        .filter(_ < gb.start).getOrElse(gb.start)
      // keys splice happens at/after gb.end, so insertAt stays valid
      out = out.substring(0, gb.end) + " " + newKeys + out.substring(keysEnd)
      out.substring(0, insertAt) + lv + out.substring(insertAt)
    } else {
      // SESSION / TUMBLE over a join: window the TVF over a CTE that
      // materializes the join (and its WHERE). SELECT * flattens
      // qualifiers, so outer references use bare names — qualified
      // ones fail at analysis with Spark's unresolved-column error.
      if (raw"(?is)^\s*WITH\b".r.findFirstIn(out).isDefined)
        throw new IllegalArgumentException(
          s"legacy ${g.kind} group window over a join cannot be " +
            "combined with a WITH clause — use the TVF form over a " +
            "named view")
      def strip(k: String) = k.split('.').last
      val srcText = out.substring(fromIdx + "FROM".length, gb.start).trim
      if (srcText.isEmpty) throw new IllegalArgumentException(
        s"legacy ${g.kind} group window statement has an empty FROM")
      val part =
        if (g.kind == "SESSION" && otherKeys.nonEmpty)
          s" PARTITION BY ${otherKeys.map(strip).mkString(", ")}"
        else ""
      val tvf = s"TABLE(${g.kind}(TABLE __lgw_src$part, " +
        s"DESCRIPTOR(${strip(g.tcol)}), ${g.ivs}))"
      val newKeysFlat = keys.map(k =>
        if (isWinKey(k)) winKeyRepl
        else if (k.matches(s"^$Dotted$$")) strip(k)
        else k).mkString(", ")
      out = out.substring(0, gb.end) + " " + newKeysFlat + out.substring(keysEnd)
      val replaced = out.substring(0, fromIdx) + s"FROM $tvf " +
        out.substring(gb.start)
      // the CTE rides the query (valid after INSERT INTO t as well)
      replaced.substring(0, selM.start) +
        s"WITH __lgw_src AS (SELECT * FROM $srcText) " +
        replaced.substring(selM.start)
    }
  }

  /** Legacy TUMBLE family → the same floor arithmetic as the TVF
    * rewrite; accessors first (their names contain the bare name).
    */
  private def rewriteLegacyTumble(sql: String): String = {
    def repl(re: scala.util.matching.Regex, s: String,
        f: (String, Long) => String): String =
      re.replaceAllIn(s, m => {
        val dur = {
          val d = m.group(2).toLong * unitMillis(m.group(3))
          require(d > 0, "window intervals must be positive"); d
        }
        java.util.regex.Matcher.quoteReplacement(f(m.group(1), dur))
      })
    def ws(col: String, dur: Long): String =
      floorTo(epochMs(col), dur)
    val s1 = repl(LegacyTumbleStart, sql,
      (c, d) => s"timestamp_millis(${ws(c, d)})")
    val s2 = repl(LegacyTumbleEnd, s1,
      (c, d) => s"timestamp_millis(${ws(c, d)} + ${d}L)")
    val s3 = repl(LegacyTumbleTime, s2,
      (c, d) => s"timestamp_millis(${ws(c, d)} + ${d}L - 1L)")
    repl(LegacyTumbleGroup, s3, (c, d) => ws(c, d))
  }
}
