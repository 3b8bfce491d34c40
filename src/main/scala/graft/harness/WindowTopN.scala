package graft.harness

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, StructField, StructType}

/** Streaming SQL window top-N (Flink's Window Top-N): the `ROW_NUMBER()
  * OVER (PARTITION BY window_start, window_end [, keys] ORDER BY m
  * DESC) <= N` pattern over a TUMBLE window TVF, which Structured
  * Streaming cannot express natively (ranking functions are rejected on
  * streams). The statement compiles onto
  * [[graft.streaming.TopNTracker]]: per-(key, window) state bounded to
  * N entries, ranked rows emitted exactly once when the watermark
  * passes the window end (append mode), registered as a temp view the
  * statement's outer SELECT then reads. Batch keeps the native path
  * (Catalyst's WindowGroupLimit — see q93).
  *
  * Subset contract (anything else fails by name, nothing leaks to
  * Spark's parser):
  *  - TUMBLE, HOP and CUMULATE windows (HOP fans each row to its
  *    covering windows with the window start pinned per copy;
  *    CUMULATE fans it to the growing windows of its span with start
  *    AND end pinned — the event time, and therefore the watermark
  *    and late-row drop, is untouched either way); SESSION top-N
  *    stays out (Flink parity — no fixed per-row window set).
  *  - `ORDER BY <numeric or timestamp column> DESC` or `ASC` — ties
  *    break by payload text ascending, deterministic (batch ties are
  *    plan-order); ASC ranks NaN last, matching batch ORDER BY;
  *    timestamps rank (and re-emit) through epoch millis, the same
  *    contract as the unbounded top-N's metric.
  *  - PARTITION BY must list window_start AND window_end; extra keys
  *    are plain columns.
  *  - the inner select is `SELECT *`; non-key payload columns the
  *    outer select references must round-trip the JSON state payload
  *    losslessly — every scalar type rides the shared exact carrier
  *    ([[graft.streaming.StateFormat.carrierOf]]: doubles / floats /
  *    decimals / dates as exact strings, timestamps as epoch micros);
  *    only nested/binary payload columns drop.
  */
object WindowTopN {

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(msg)

  private val viewCounter = new java.util.concurrent.atomic.AtomicInteger()

  /** ROW_NUMBER partitioned by window columns over a window TVF — the
    * window top-N shape, whatever its exact spelling.
    */
  def hasStreamingShape(sql: String): Boolean = {
    val masked = MatchRecognize.maskQuoted(sql)
    if (!WindowTvf.hasWindowTvf(sql)) return false
    // Paren-aware scan of each OVER(...) body: `[^)]*` would stop at
    // the first ')' of a parenthesized PARTITION BY expression and let
    // unsupported variants fall through to Spark's raw
    // ranking-on-streams failure instead of the named contract error.
    raw"(?is)ROW_NUMBER\s*\(\s*\)\s*OVER\s*\(".r.findAllMatchIn(masked)
      .exists { m =>
        val open = m.end - 1
        scala.util.Try(
          masked.substring(open + 1,
            MatchRecognize.closeParen(masked, open) - 1)).toOption
          .exists { body =>
            raw"(?is)\bPARTITION\s+BY\b".r.findFirstMatchIn(body).exists { p =>
              val rest = body.substring(p.end)
              val cut = raw"(?is)\bORDER\s+BY\b".r.findFirstMatchIn(rest)
                .map(_.start).getOrElse(rest.length)
              raw"(?is)\bwindow_start\b".r
                .findFirstIn(rest.substring(0, cut)).isDefined
            }
          }
      }
  }

  private val OuterRe =
    raw"(?is)^\s*SELECT\s+(.*?)\s+FROM\s*\(".r
  private val InnerRe = (
    raw"(?is)^\s*SELECT\s+\*\s*,\s*ROW_NUMBER\s*\(\s*\)\s*OVER\s*\(\s*" +
      raw"PARTITION\s+BY\s+(.+?)\s+ORDER\s+BY\s+([A-Za-z_]\w*)\s+(DESC|ASC)\s*\)\s+" +
      raw"AS\s+([A-Za-z_]\w*)\s+FROM\s+(.*)$$").r
  /** Flink's window-top-N outer filter: `WHERE rn <= N [AND
    * conditions]` — the rank bound leads (the docs' canonical shape),
    * any residual conjuncts run as a plain filter over the tracker's
    * decoded output (they may reference keys, payload, window columns,
    * or the rank itself — `AND rn > M` pages a rank range while state
    * stays bounded by the leading N).
    */
  private val WhereRe =
    raw"(?is)^(?:AS\s+)?([A-Za-z_]\w*\s+)?WHERE\s+([A-Za-z_]\w*)\s*(<=|<|=)\s*(\d{1,9})\s*(?:\bAND\b\s+(.+?))?\s*$$".r

  /** A top-level OR in the residual would change the rank filter's
    * scope under SQL precedence (`rn <= N AND a OR b` is `(rn <= N AND
    * a) OR b`, which the rewrite cannot honor) — reject by name
    * instead of silently re-parenthesizing. Literal-blind.
    */
  private[harness] def hasTopLevelOr(pred: String): Boolean = {
    val masked = MatchRecognize.maskQuoted(pred)
    var i = 0
    var depth = 0
    while (i < masked.length) {
      masked.charAt(i) match {
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case c if c.isLetter || c == '_' =>
          val s = i
          while (i < masked.length &&
            (masked.charAt(i).isLetterOrDigit || masked.charAt(i) == '_'))
            i += 1
          if (depth == 0 && masked.substring(s, i).equalsIgnoreCase("OR"))
            return true
        case _ => i += 1
      }
    }
    false
  }

  /** A `*` (or `t.*`) item in the outer select resolves against the
    * spliced VIEW, which excludes payload columns that cannot
    * round-trip the JSON state encoding — the star would silently
    * narrow the output. Fail by name, listing the dropped columns.
    */
  private[harness] def failOnStarOverDropped(outSel: String,
      dropped: Seq[String], fail: String => Nothing): Unit =
    if (dropped.nonEmpty &&
        MatchRecognize.splitTopLevel(outSel).map(_.trim)
          .exists(it => it == "*" || it.endsWith(".*")))
      fail("the outer SELECT * would silently lose columns that cannot " +
        "round-trip the JSON state encoding (nested and binary types " +
        s"have no exact carrier): ${dropped.mkString(", ")} — list the " +
        "output columns explicitly, or flatten/encode the payload " +
        "columns to a scalar type upstream")

  private[harness] def rejectResidualOr(residual: Option[String],
      fail: String => Nothing): Unit =
    residual.foreach { r =>
      if (hasTopLevelOr(r))
        fail("residual conditions after the rank bound must be " +
          "AND-joined: a top-level OR would change the rank filter's " +
          "scope under SQL precedence — parenthesize the OR branch or " +
          "filter downstream")
    }

  /** Compiles the statement onto the tracker and returns the spliced
    * outer SELECT over the registered `graft_topn_<k>` view.
    * `watermarkOf` resolves the source table's event-time declaration.
    *
    * `localZone` (set only for a DST REGION `table.local-time-zone`)
    * switches window assignment onto that zone's wall-clock timeline:
    * each row's covering windows are computed with the batch rewrite's
    * `from_utc_timestamp` floor, their bounds convert back to instants
    * via `to_utc_timestamp` (23/25-hour daily windows across
    * transitions), and both bounds pin into the tracker event — the
    * tracker ranks pinned windows and emits when the watermark (still
    * the original instant timeline) passes each instant end. Fixed
    *-offset zones never reach here (alignToZone composes their shift
    * into the OFFSET argument upstream).
    */
  def rewriteStreaming(
      spark: SparkSession,
      fullSql: String,
      watermarkOf: String => Option[(String, String)],
      localZone: Option[String] = None): String = {
    // the statement may be the INSERT carrying the top-N query; the
    // prefix rides through untouched
    val (insertPrefix, sql) = ScriptParser.InsertPrefixRe.findFirstMatchIn(fullSql)
      .map(m => (m.group(1), fullSql.substring(m.end)))
      .getOrElse(("", fullSql))
    val om = OuterRe.findFirstMatchIn(sql).getOrElse(fail(
      "streaming window top-N must be `SELECT ... FROM (SELECT *, " +
        "ROW_NUMBER() OVER (...) AS rn FROM TABLE(TUMBLE(...))) WHERE " +
        "rn <= N`"))
    val outSel = om.group(1)
    val open = om.end - 1
    val end = MatchRecognize.closeParen(sql, open)
    val inner = sql.substring(open + 1, end - 1)
    val after = sql.substring(end).trim
    val im = InnerRe.findFirstMatchIn(inner).getOrElse(fail(
      "streaming window top-N inner query must be exactly `SELECT *, " +
        "ROW_NUMBER() OVER (PARTITION BY window_start, window_end [, " +
        "keys] ORDER BY <column> DESC) AS rn FROM TABLE(TUMBLE(...))`"))
    val pkeys = MatchRecognize.splitTopLevel(im.group(1)).map(_.trim)
    val metricCol = im.group(2)
    val asc = im.group(3).equalsIgnoreCase("ASC")
    val rnAlias = im.group(4)
    val from = im.group(5).trim
    val call = WindowTvf.calls(from) match {
      case Seq(c) if c.from == 0 && c.to == from.length => c
      case _ => fail(
        "streaming window top-N source must be a TUMBLE, HOP or CUMULATE " +
          "window TVF over a named table: TABLE(TUMBLE(TABLE t, " +
          "DESCRIPTOR(ts), INTERVAL 'n' UNIT)) / TABLE(HOP(..., slide, " +
          "size)) / TABLE(CUMULATE(..., step, size))")
    }
    if (call.kind == "SESSION")
      fail("streaming window top-N supports TUMBLE, HOP and CUMULATE " +
        "windows only (got SESSION) — aggregate session windows first, " +
        "then rank the aggregate (Flink rejects session top-N too)")
    val win = call match {
      case c: WindowTvf.Call => c
      case u: WindowTvf.Unread => fail(s"streaming window top-N ${u.why}")
    }
    val (table, tcol) = (win.src, win.tcol)
    val (isHop, isCumulate) = (win.kind == "HOP", win.kind == "CUMULATE")

    val winCols = Set("window_start", "window_end")
    if (!winCols.forall(w => pkeys.exists(_.equalsIgnoreCase(w))))
      fail("streaming window top-N must PARTITION BY window_start AND " +
        "window_end (Flink's window top-N contract)")
    val extras = pkeys.filterNot(k =>
      winCols(k.trim.toLowerCase) || k.trim.equalsIgnoreCase("window_time"))
    extras.foreach { k =>
      if (!k.matches(raw"^[A-Za-z_]\w*$$"))
        fail(s"streaming window top-N PARTITION BY keys must be plain " +
          s"columns, got: $k")
    }
    val wm = WhereRe.findFirstMatchIn(after).getOrElse(fail(
      "streaming window top-N must end `WHERE rn <= N [AND conditions]` " +
        "(or rn = 1 / rn < N) — the rank bound leads, residual " +
        "conjuncts follow"))
    val outerAlias = Option(wm.group(1)).map(_.trim)
    val residual = Option(wm.group(5)).map(_.trim).filter(_.nonEmpty)
    rejectResidualOr(residual, fail)
    if (!wm.group(2).equalsIgnoreCase(rnAlias))
      fail(s"the WHERE rank filter must use the ROW_NUMBER alias " +
        s"$rnAlias, got ${wm.group(2)}")
    val n = wm.group(3) match {
      case "<" => wm.group(4).toInt - 1
      case "=" =>
        // rn = k for k > 1 selects ONLY rank k — not a top-N prefix
        if (wm.group(4).toInt != 1)
          fail("WHERE rn = k selects a single rank, not a top-N " +
            "prefix — use rn <= k (rn = 1 is accepted as top-1)")
        1
      case _ => wm.group(4).toInt
    }
    if (n <= 0) fail("streaming window top-N needs N >= 1")

    val (wmCol, wmDelay) = watermarkOf(table).getOrElse(fail(
      s"streaming window top-N needs a WATERMARK declaration on $table"))
    if (!wmCol.equalsIgnoreCase(tcol))
      fail(s"the TUMBLE DESCRIPTOR column ($tcol) must be $table's " +
        s"event-time column ($wmCol)")

    val src = spark.table(table)
    def fieldOf(c: String): StructField = {
      val i = src.schema.fieldNames.indexWhere(_.equalsIgnoreCase(c))
      if (i < 0) fail(s"column $c not found in $table")
      src.schema(i)
    }
    val metricField = fieldOf(metricCol)
    val metricIsTime =
      metricField.dataType.isInstanceOf[org.apache.spark.sql.types.TimestampType] ||
        metricField.dataType.isInstanceOf[org.apache.spark.sql.types.TimestampNTZType]
    if (!metricIsTime &&
        !metricField.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      fail(s"streaming window top-N ORDER BY $metricCol: numeric or " +
        s"timestamp column required (got ${metricField.dataType.simpleString})")
    // timestamps rank through epoch MILLIS in the tracker's double slot
    // (exact under 2^53, like the unbounded top-N's metric path); NTZ
    // has no direct double cast, so the millis hop is required anyway
    val metricIn =
      if (metricIsTime)
        expr(s"cast(unix_millis(cast(`$metricCol` as timestamp)) as double)")
      else col(metricCol).cast("double")
    AggSlots.requireLosslessKeys(k => fieldOf(k).dataType, extras,
      "streaming window top-N PARTITION BY", fail)
    // the payload carries every OTHER source column to the emission
    // through the shared exact carrier (StateFormat.carrierOf: lossless
    // types natively, doubles/floats/decimals/dates as exact strings,
    // timestamps as epoch micros — round 15; previously the lossless
    // set only); nested/binary columns drop (and fail loudly if the
    // outer select references them) rather than silently re-decoded
    // wrong. The event-time column itself rides beside them as epoch
    // micros (`__ts_us`), so the decoded view retains the time
    // attribute — Flink's window top-N output keeps all input columns,
    // and a SELECT * must not silently lose the row's timestamp
    def carrierOf(f: StructField): Option[graft.streaming.StateFormat.Carrier] =
      graft.streaming.StateFormat.carrierOf(f)
    val payloadFields = src.schema.fields.filter { f =>
      !f.name.equalsIgnoreCase(tcol) &&
        !f.name.equalsIgnoreCase(metricCol) &&
        !extras.exists(_.equalsIgnoreCase(f.name)) &&
        carrierOf(f).isDefined
    }
    // a star outer select would silently NARROW to the view's columns
    // when payload fields were dropped — fail by name instead (direct
    // references to a dropped column already fail loudly at analysis)
    failOnStarOverDropped(outSel,
      src.schema.fields.map(_.name).toSeq
        .filterNot(n => n.equalsIgnoreCase(tcol) ||
          n.equalsIgnoreCase(metricCol) ||
          extras.exists(_.equalsIgnoreCase(n)) ||
          payloadFields.exists(_.name.equalsIgnoreCase(n))),
      fail)
    val keyExpr =
      if (extras.isEmpty) lit("{}")
      else to_json(struct(extras.map(col): _*))
    val payloadExpr = to_json(struct(
      payloadFields.map(f => carrierOf(f).get.enc.as(f.name)) :+
        expr(s"unix_micros(cast(`$tcol` as timestamp))").as("__ts_us"): _*))
    import spark.implicits._
    // HOP fans each row out to its covering window starts, CUMULATE to
    // the growing windows of its span (the same covering arithmetic as
    // the batch TVF expansions); the event TIME stays the original
    // timestamp, so the watermark and late-row drop are identical to
    // the tumbling path — the tracker just pins the pre-assigned
    // window instead of deriving it
    // a NULL event time has no window (the batch form filters it);
    // it would NPE in the tracker's time slot
    val base = src.filter(col(tcol).isNotNull)
    // a NULL metric ranks (smallest — batch parity) instead of dying
    // in the tracker's primitive double slot
    // a CHAINED source (a windowed pre-agg view, r17) rides the
    // never-late sentinel — its rows are upstream watermark-gated
    // emissions (see Watermarks.neverLate); the encoder binds by name
    // so the extra column never touches RankEvent
    val chained = graft.streaming.Watermarks.isChained(src)
    val common = Seq(
      keyExpr.as("key"),
      graft.streaming.Watermarks.eventTimeCol(src, tcol, "ts"),
      coalesce(metricIn, lit(0.0d)).as("metric"),
      payloadExpr.as("payload"),
      col(metricCol).isNull.as("nullMetric")) ++
      (if (chained) Seq(graft.streaming.Watermarks.neverLate) else Nil)
    val chainedTail =
      if (chained) Seq(col(graft.streaming.Watermarks.NeverLateCol))
      else Nil
    val events = localZone match {
      case Some(z) =>
        // DST region zone: wall-clock window assignment, BOTH bounds
        // pinned as instants (the grid's instant offset varies across
        // transitions, so neither bound derives from the other by a
        // fixed size) — the same expressions as the batch rewrite and
        // the zone-grid aggregation tracker
        val wall = WindowTvf.epochMs(tcol, localZone)
        def toInst(c: String): String =
          s"unix_millis(to_utc_timestamp(timestamp_millis($c), '$z'))"
        val pinned =
          if (isCumulate)
            base.select(common ++ Seq(expr(win.start(wall)).as("__wsw"),
                explode(expr(win.ends(wall))).as("__eo")): _*)
              .withColumn("__wew", col("__wsw") + col("__eo"))
          else
            base.select(common :+ (if (isHop) explode(expr(win.starts(wall)))
                else expr(win.start(wall))).as("__wsw"): _*)
              .withColumn("__wew", col("__wsw") + lit(win.size))
        pinned.select(Seq(col("key"), col("ts"), col("metric"),
            col("payload"),
            expr(toInst("__wsw")).as("ws"),
            expr(toInst("__wew")).as("we"),
            col("nullMetric")) ++ chainedTail: _*)
          .as[graft.streaming.RankEvent]
      case None if isCumulate =>
        // ws is the span start; each copy pins one growing window's
        // end: the step-multiple offsets strictly after the row
        val t = WindowTvf.epochMs(tcol)
        base.select(common ++ Seq(expr(win.start(t)).as("ws"),
            explode(expr(win.ends(t))).as("__eo")): _*)
          .select(Seq(col("key"), col("ts"), col("metric"),
            col("payload"),
            col("ws"), (col("ws") + col("__eo")).as("we"),
            col("nullMetric")) ++ chainedTail: _*)
          .as[graft.streaming.RankEvent]
      case None =>
        val t = WindowTvf.epochMs(tcol)
        val wsCol =
          if (!isHop && win.offset == 0L) lit(Long.MinValue)
          else if (!isHop) expr(win.start(t))
          else explode(expr(win.starts(t)))
        base.select(common ++ Seq(wsCol.as("ws"),
            lit(Long.MinValue).as("we")): _*)
          .as[graft.streaming.RankEvent]
    }
    val ranked =
      graft.streaming.TopNTracker.track(events, wmDelay, win.size, n, asc)

    val keySchema = StructType(extras.map(k => fieldOf(k)))
    // integral/decimal metrics rank exactly for |v| < 2^53 through the
    // tracker's double slot; cast back to the source column's type —
    // timestamps through their epoch-millis hop (NULL metrics re-emit
    // as NULL via the tracker's null flag)
    val metricBack = when(col("nullMetric"),
      lit(null).cast(metricField.dataType))
      .otherwise(
        if (metricIsTime)
          timestamp_millis(col("metric").cast("long"))
            .cast(metricField.dataType)
        else col("metric").cast(metricField.dataType))
    var out = ranked.toDF()
    if (extras.nonEmpty)
      out = out.withColumn("__k", from_json(col("key"), keySchema))
    out = out.withColumn("__p",
      from_json(col("payload"),
        StructType(payloadFields.toSeq.map(f =>
          StructField(f.name, carrierOf(f).get.storage, nullable = true)) :+
          StructField("__ts_us", org.apache.spark.sql.types.LongType)),
        Map("allowNonNumericNumbers" -> "true")))
    val tcolField = fieldOf(tcol)
    val decoded = out.select(
      extras.map(k => col(s"__k.$k").as(k)) ++
        payloadFields.map(f =>
          carrierOf(f).get.dec(col(s"__p.`${f.name}`")).as(f.name)) ++
        Seq(timestamp_micros(col("__p.__ts_us"))
            .cast(tcolField.dataType).as(tcol),
          metricBack.as(metricCol),
          timestamp_millis(col("ws")).as("window_start"),
          timestamp_millis(col("we")).as("window_end"),
          timestamp_millis(col("we") - 1L).as("window_time"),
          col("rank").cast("long").as(rnAlias)): _*)
    val view = s"graft_topn_${viewCounter.incrementAndGet()}"
    decoded.createOrReplaceTempView(view)
    s"${insertPrefix}SELECT $outSel FROM $view" +
      outerAlias.fold("")(a => s" $a") +
      residual.fold("")(r => s" WHERE $r")
  }
}
