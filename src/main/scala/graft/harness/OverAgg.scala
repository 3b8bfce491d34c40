package graft.harness

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming event-time OVER aggregation — Flink's over-window SQL
  * (reference surface: any `AGG(x) OVER (PARTITION BY k ORDER BY
  * rowtime <frame>)` statement the Flink planner accepts), which Spark
  * rejects on streaming DataFrames ("non-time-based windows"). The
  * rewrite compiles the supported subset onto
  * [[graft.streaming.OverAggTracker]]:
  *
  *   - aggregates: COUNT(*)/COUNT/SUM/MIN/MAX/AVG (decimal inputs
  *     included — exact via the BigDecimal string seat, r16) and the
  *     variance family STDDEV[_SAMP|_POP]/VAR[IANCE|_SAMP|_POP] over
  *     numeric inputs (expression inputs allowed), all sharing ONE
  *     window
  *     specification (Flink's own requirement); DISTINCT aggregates
  *     run exactly through the value-set kinds, decimal inputs
  *     included (r16 — the set-passthrough slot finishes in Catalyst
  *     decimal arithmetic); a surface Spark lacks even in BATCH
  *     ("distinct window functions are not supported"), so the spec
  *     pins hand-computed frames, not a batch twin;
  *   - window: optional `PARTITION BY <simple columns>`, `ORDER BY
  *     <event-time column> [ASC]`, frame one of `RANGE|ROWS BETWEEN
  *     UNBOUNDED PRECEDING AND CURRENT ROW`, `RANGE BETWEEN INTERVAL
  *     'n' UNIT PRECEDING AND CURRENT ROW`, `ROWS BETWEEN n PRECEDING
  *     AND CURRENT ROW`, or absent (the SQL default: RANGE UNBOUNDED);
  *   - statement: `[INSERT ...] SELECT items FROM table [WHERE pred]`
  *     — the WHERE filters INPUT rows (SQL evaluates WHERE before
  *     window functions) and is pushed into the tracker's source. The
  *     FROM may name a registered VIEW over a watermarked relation
  *     (r16): the CLI's view registry answers `watermarkOf`, so the
  *     time attribute propagates exactly as Flink propagates it
  *     through single-table projection/filter views.
  *
  * Everything else — DESC time order, FOLLOWING bounds, ranking
  * functions left over after the top-N passes,
  * differing window specs, joins/GROUP BY around the OVER — rejects
  * with a named contract error instead of Spark's raw failure. Batch
  * mode never reaches here: Spark runs these natively.
  *
  * Output shape is Flink's: every input column (carrier-encoded
  * through the tracker payload, the exact [[graft.streaming.StateFormat
  * .carrierOf]] contract) plus the aggregate columns, each row emitted
  * once the watermark passes its timestamp.
  */
object OverAgg {

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(msg)

  private val viewCounter = new java.util.concurrent.atomic.AtomicInteger()

  private val AggFns = Set("COUNT", "SUM", "MIN", "MAX", "AVG", "LAG",
    "FIRST_VALUE", "LAST_VALUE") ++ AggSlots.VarianceFns.keySet

  /** One `fn(arg) OVER (spec)` occurrence: text region [start, end)
    * within the statement, plus the parsed pieces. */
  private final case class OverCall(start: Int, end: Int, fn: String,
      arg: String, spec: String)

  /** Every `<word>(args) OVER (spec)` call in the masked text. */
  private def overCalls(sql: String): Seq[OverCall] = {
    val masked = MatchRecognize.maskQuoted(sql)
    raw"(?is)\b([A-Za-z_]\w*)\s*\(".r.findAllMatchIn(masked).flatMap { m =>
      val open = m.end - 1
      scala.util.Try(MatchRecognize.closeParen(sql, open)).toOption
        .flatMap { close =>
          raw"(?is)^\s*OVER\s*\(".r
            .findFirstMatchIn(masked.substring(close)).map { om =>
              val specOpen = close + om.end - 1
              val specClose = MatchRecognize.closeParen(sql, specOpen)
              OverCall(m.start, specClose, m.group(1).toUpperCase,
                sql.substring(open + 1, close - 1).trim,
                sql.substring(specOpen + 1, specClose - 1).trim)
            }
        }
    }.toSeq
  }

  /** True when the statement carries an aggregate-function OVER call —
    * the shape Spark cannot stream. Ranking shapes (ROW_NUMBER) are
    * consumed by the window/unbounded top-N passes that run BEFORE
    * this one; a leftover ranking OVER does not trigger here (rn = 1
    * dedup rides Spark's native streaming rules). LEAD triggers so a
    * LEAD-only statement reaches ITS named rejection instead of
    * Spark's raw non-time-window analysis error.
    */
  def hasStreamingShape(sql: String): Boolean =
    overCalls(sql).exists(c => AggFns(c.fn) || c.fn == "LEAD")

  private val SpecRe = (
    raw"(?is)^\s*(?:PARTITION\s+BY\s+(.*?)\s+)?" +
      raw"ORDER\s+BY\s+([A-Za-z_]\w*)(\s+ASC|\s+DESC)?\s*(.*)$$").r
  private val FrameRe = (
    raw"(?is)^(ROWS|RANGE)\s+BETWEEN\s+(UNBOUNDED|INTERVAL\s+'(\d+)'\s+" +
      raw"(SECOND|MINUTE|HOUR|DAY)S?|(\d+))\s+PRECEDING\s+AND\s+" +
      raw"CURRENT\s+ROW\s*$$").r

  private def unitMs(u: String): Long = u.toUpperCase match {
    case "SECOND" => 1000L
    case "MINUTE" => 60000L
    case "HOUR" => 3600000L
    case _ => 86400000L
  }

  /** Exact string carrier for a value-typed slot (LAG, FIRST_VALUE,
    * LAST_VALUE): the encode SQL producing the state string, and the
    * decode back to the source type — cast-to-string is Java's exact
    * round-trip text for the scalar types, timestamps hop through
    * epoch micros. */
  private def stringCarrier(fn: String, in: String, dt: DataType):
      (String, org.apache.spark.sql.Column => org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.Column
    dt match {
      case _ if graft.streaming.StateFormat.jsonLossless(dt) ||
          dt.isInstanceOf[DecimalType] || dt == DateType ||
          dt == DoubleType || dt == FloatType =>
        (s"CAST(($in) AS STRING)", (c: Column) => c.cast(dt))
      case _: TimestampType | _: TimestampNTZType =>
        (s"CAST(unix_micros(CAST(($in) AS TIMESTAMP)) AS STRING)",
          (c: Column) => timestamp_micros(c.cast("long")).cast(dt))
      case other => fail(s"$fn($in) over ${other.simpleString} — " +
        "the value must ride the string state carrier; nested and " +
        "binary types have none")
    }
  }

  /** Compiles the statement onto the tracker and returns the spliced
    * outer SELECT over the registered `graft_over_<k>` view.
    */
  def rewriteStreaming(
      spark: SparkSession,
      fullSql: String,
      watermarkOf: String => Option[(String, String)]): String = {
    import graft.streaming.OverAggTracker._
    val InsertPrefixRe =
      raw"(?is)^\s*(INSERT\s+(?:INTO|OVERWRITE)\s+[\w.`]+\s*(?:\([^)]*\)\s*)?)".r
    val (insertPrefix, sql) = InsertPrefixRe.findFirstMatchIn(fullSql)
      .map(m => (m.group(1), fullSql.substring(m.end)))
      .getOrElse(("", fullSql))
    val masked = MatchRecognize.maskQuoted(sql)

    val selM = raw"(?is)^\s*SELECT\s+".r.findFirstMatchIn(sql)
      .getOrElse(fail("expected SELECT ... FROM for the OVER rewrite"))
    // depth-0 FROM
    val fromIdx = {
      var depth = 0
      var i = selM.end
      var found = -1
      while (found < 0 && i < masked.length) {
        masked.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case 'f' | 'F' if depth == 0 &&
              masked.regionMatches(true, i, "FROM", 0, 4) &&
              (i == 0 || !masked.charAt(i - 1).isLetterOrDigit) &&
              (i + 4 >= masked.length ||
                !(masked.charAt(i + 4).isLetterOrDigit ||
                  masked.charAt(i + 4) == '_')) =>
            found = i
          case _ =>
        }
        i += 1
      }
      if (found < 0) fail("expected SELECT ... FROM for the OVER rewrite")
      found
    }
    val selectList = sql.substring(selM.end, fromIdx)
    val TailRe = (raw"(?is)^FROM\s+([A-Za-z_][\w.]*)" +
      raw"(?:\s+(?:AS\s+)?(?!WHERE\b)([A-Za-z_]\w*))?\s*" +
      raw"(?:WHERE\s+(.*?))?\s*;?\s*$$").r
    val tail = sql.substring(fromIdx)
    val maskedTail = masked.substring(fromIdx)
    def rejectOrderLimit(region: String): Unit =
      // a trailing ORDER BY/LIMIT would otherwise be swallowed into the
      // WHERE capture and die as a raw expression parse error
      if (raw"(?is)\b(ORDER\s+BY|LIMIT)\b".r.findFirstIn(region).isDefined)
        fail("streaming OVER aggregation takes no ORDER BY/LIMIT on its " +
          "output (rows emit in watermark-maturity order) — sort or limit " +
          "downstream")
    def rejectGroupBy(region: String): Unit =
      if (raw"(?is)\bGROUP\s+BY\b".r.findFirstIn(region).isDefined)
        fail("streaming OVER aggregation does not compose with GROUP BY " +
          "in one statement — aggregate in a separate step")
    // the FROM may name a table/view, or carry an inline SUBQUERY
    // (r17) resolved by event-time lineage — the shared
    // [[SubquerySource]] law; ORDER BY/GROUP BY checks then apply to
    // the OUTER statement only (the subquery's own clauses are its
    // business, evaluated by Spark)
    val isSubquery =
      raw"(?is)^FROM\s*\(".r.findFirstIn(maskedTail).isDefined
    // absolute [start, end) of the subquery region — the outer OVER
    // scan and splice must not see the subquery's interior
    var subqSpan: Option[(Int, Int)] = None
    val (srcRel, aliasOpt, whereOpt, wmFromLineage, table) =
      if (isSubquery) {
        val open = tail.indexOf('(')
        val close = MatchRecognize.closeParen(tail, open)
        subqSpan = Some((fromIdx + open, fromIdx + close))
        val inner = tail.substring(open + 1, close - 1)
        val rest = tail.substring(close)
        rejectOrderLimit(MatchRecognize.maskQuoted(rest))
        rejectGroupBy(MatchRecognize.maskQuoted(
          selectList + " " + rest))
        val rm = (raw"(?is)^\s*(?:(?:AS\s+)?(?!WHERE\b)([A-Za-z_]\w*))?" +
          raw"\s*(?:WHERE\s+(.*?))?\s*;?\s*$$").r
          .findFirstMatchIn(rest).getOrElse(fail(
            "unsupported clause after the OVER subquery source: " +
              rest.trim.linesIterator.next()))
        val (df, wm) = SubquerySource.resolve(spark, inner, watermarkOf,
          "OVER aggregation", fail)
        (Right(df): Either[String, org.apache.spark.sql.DataFrame],
          Option(rm.group(1)), Option(rm.group(2)).map(_.trim),
          Some(wm), "(subquery)")
      } else {
        rejectOrderLimit(maskedTail)
        rejectGroupBy(masked)
        val tm = TailRe.findFirstMatchIn(tail).getOrElse(
          fail("streaming OVER aggregation takes a single-table FROM " +
            "or a parenthesized subquery source (joins: aggregate in a " +
            "separate step): " + tail.linesIterator.next()))
        (Left(tm.group(1)): Either[String, org.apache.spark.sql.DataFrame],
          Option(tm.group(2)), Option(tm.group(3)).map(_.trim),
          None, tm.group(1))
      }

    // OVER calls of the OUTER statement only: a call inside the
    // subquery source is the subquery's own business (Spark evaluates
    // it — on a stream it dies with Spark's own rejection; stream it
    // through a CREATE VIEW + separate statement instead)
    val outerSql = subqSpan match {
      case Some((s, e)) =>
        sql.substring(0, s) + (" " * (e - s)) + sql.substring(e)
      case None => sql
    }
    val calls = overCalls(outerSql)
    if (calls.exists(_.fn == "LEAD"))
      fail("LEAD cannot stream — it references rows the watermark has " +
        "not matured (Flink's streaming over-windows reject it too); " +
        "use LAG over the reversed comparison, or batch runtime mode")
    calls.filterNot(c => AggFns(c.fn)) match {
      case Seq() =>
      case bad => fail("streaming OVER supports the aggregate functions " +
        "COUNT/SUM/MIN/MAX/AVG, STDDEV[_SAMP|_POP]/VAR[IANCE|_SAMP|_POP], " +
        s"LAG, and FIRST_VALUE/LAST_VALUE; got ${bad.map(_.fn).mkString(", ")} " +
        "(ranking shapes ride the top-N rewrites; others are batch-only)")
    }
    val aggCalls = calls
    if (aggCalls.isEmpty) fail("no OVER aggregate found")
    val norm = aggCalls.map(_.spec.replaceAll("\\s+", " ").trim.toLowerCase)
    if (norm.distinct.size > 1)
      fail("streaming OVER aggregates must share one window " +
        "specification (Flink's requirement too); got: " +
        norm.distinct.mkString(" | "))

    val sm = SpecRe.findFirstMatchIn(aggCalls.head.spec).getOrElse(
      fail("unsupported OVER specification (want [PARTITION BY cols] " +
        s"ORDER BY <event-time column> [frame]): ${aggCalls.head.spec}"))
    if (Option(sm.group(3)).exists(_.trim.equalsIgnoreCase("DESC")))
      fail("streaming OVER aggregation must ORDER BY the event-time " +
        "column ASCENDING (watermarks mature rows in time order)")
    val partCols = Option(sm.group(1)).toSeq.flatMap(
      MatchRecognize.splitTopLevel(_)).map(_.trim).filter(_.nonEmpty)
    partCols.foreach { c =>
      if (raw"^[A-Za-z_]\w*$$".r.findFirstIn(c).isEmpty)
        fail(s"streaming OVER PARTITION BY takes simple columns; got $c")
    }
    val tcol = sm.group(2)
    val frame = sm.group(4).trim match {
      case "" => UnboundedRange
      case f => FrameRe.findFirstMatchIn(f) match {
        case None => fail("unsupported OVER frame (streaming supports " +
          "RANGE|ROWS BETWEEN UNBOUNDED|<bound> PRECEDING AND CURRENT " +
          s"ROW): $f")
        case Some(fm) =>
          val mode = fm.group(1).toUpperCase
          val bound = fm.group(2).toUpperCase
          if (bound == "UNBOUNDED")
            if (mode == "ROWS") UnboundedRows else UnboundedRange
          else if (bound.startsWith("INTERVAL")) {
            if (mode == "ROWS")
              fail("ROWS frames take a row count, not an interval " +
                s"(use RANGE for time bounds): $f")
            RangePreceding(fm.group(3).toLong * unitMs(fm.group(4)))
          } else {
            if (mode == "RANGE")
              fail("RANGE frames over event time take an INTERVAL " +
                s"bound, not a row count (use ROWS for counts): $f")
            RowsPreceding(fm.group(5).toInt)
          }
      }
    }

    val (wmCol, wmDelay) = wmFromLineage
      .orElse(watermarkOf(table)).getOrElse(fail(
        s"streaming OVER aggregation needs a WATERMARK declaration on $table"))
    if (!wmCol.equalsIgnoreCase(tcol))
      fail(s"streaming OVER must ORDER BY $table's event-time column " +
        s"($wmCol); got $tcol")

    val outAlias = aliasOpt.getOrElse(
      if (isSubquery) "subq" else table.split('.').last)
    // the relation rides under its statement alias (or the bare table
    // name) so alias-qualified references in the WHERE and in aggregate
    // inputs resolve; SQL evaluates WHERE before window functions, so
    // the filter belongs on the tracker's INPUT rows
    val src0 = srcRel.fold(t => spark.table(t), identity).alias(outAlias)
    val src = whereOpt.fold(src0)(w => src0.filter(expr(w)))
    def fieldOf(c: String): StructField = {
      val i = src.schema.fieldNames.indexWhere(_.equalsIgnoreCase(c))
      if (i < 0) fail(s"column $c not found in $table")
      src.schema(i)
    }
    AggSlots.requireLosslessKeys(k => fieldOf(k).dataType, partCols,
      "streaming OVER PARTITION BY", fail)

    // one aggregate slot: tracker kind, the type the value has inside
    // the vals JSON (what from_json decodes), the slot input
    // expression, LAG's offset, and LAG's storage-to-source decode
    final case class Plan(call: OverCall, kind: Int, storage: DataType,
        input: String, lag: Int = 0,
        dec: Option[org.apache.spark.sql.Column =>
          org.apache.spark.sql.Column] = None,
        dflt: Option[(String, DataType)] = None)
    // the window-TVF pass's slot plan, DISTINCT included (kinds 9-13:
    // the exact value-set slots; MIN/MAX(DISTINCT) are
    // distinct-invariant) plus LAG (kind 14: positional string-carried
    // value — Flink streams LAG as an over-aggregate)
    def resolveType(in: String): DataType =
      try src.selectExpr(in).schema.head.dataType
      catch { case e: Exception =>
        fail(s"cannot resolve aggregate input $in: ${e.getMessage}")
      }
    val plans: Seq[Plan] = aggCalls.map { a0 =>
      val distinct =
        raw"(?i)^DISTINCT\b".r.findFirstIn(a0.arg.trim).isDefined
      if (!distinct &&
          raw"(?i)\bDISTINCT\b".r.findFirstIn(a0.arg).isDefined)
        fail(s"unsupported DISTINCT placement in ${a0.fn}(${a0.arg})")
      val arg =
        if (distinct) a0.arg.trim.replaceFirst(raw"(?i)^DISTINCT\s+", "")
        else a0.arg
      val a = a0
      if (a.fn == "LAG") {
        if (distinct) fail(s"LAG takes no DISTINCT: ${a.arg}")
        val parts = MatchRecognize.splitTopLevel(arg).map(_.trim)
        // three-arg DEFAULT must be a LITERAL: SQL applies it only
        // when the offset leaves the partition, and the tracker emits
        // a presence flag to discriminate that from an in-bounds NULL
        // — a column-referencing default would need the CURRENT row's
        // value inside the decode, which the literal splice avoids
        val LitRe =
          raw"(?is)^('([^']|'')*'|-?\d+(\.\d+)?|TRUE|FALSE|NULL)$$".r
        val (in, k, dflt) = parts match {
          case Seq(x) => (x, 1, None)
          case Seq(x, kk) if raw"^\d+$$".r.findFirstIn(kk).isDefined =>
            (x, kk.toInt, None)
          case Seq(x, kk, dv)
              if raw"^\d+$$".r.findFirstIn(kk).isDefined &&
                LitRe.findFirstIn(dv).isDefined =>
            (x, kk.toInt, Some(dv))
          case Seq(_, kk, _)
              if raw"^\d+$$".r.findFirstIn(kk).isEmpty =>
            fail(s"LAG offset must be a literal integer: $kk")
          case Seq(_, _, dv) => fail("LAG DEFAULT must be a literal " +
            s"(number / string / boolean / NULL) in streaming: $dv")
          case _ => fail(s"cannot parse LAG arguments: ${a.arg}")
        }
        if (k < 1) fail(s"LAG offset must be >= 1: ${a.arg}")
        val dt = resolveType(in)
        val (enc, dec) = stringCarrier(a.fn, in, dt)
        Plan(a, 14, StringType, enc, lag = k, dec = Some(dec),
          dflt = dflt.map(d => (d, dt)))
      } else if (a.fn == "FIRST_VALUE" || a.fn == "LAST_VALUE") {
        if (distinct) fail(s"${a.fn} takes no DISTINCT: ${a.arg}")
        if (MatchRecognize.splitTopLevel(arg).size != 1)
          fail(s"${a.fn} takes one argument in streaming (Flink " +
            s"null-skipping semantics are built in): ${a.arg}")
        val (enc, dec) = stringCarrier(a.fn, arg, resolveType(arg))
        Plan(a, if (a.fn == "FIRST_VALUE") 15 else 16, StringType, enc,
          dec = Some(dec))
      } else {
        // COUNT/SUM/MIN/MAX/AVG/variance with optional DISTINCT: the
        // kind table is AggSlots.plan, shared with the window-TVF
        // pass; a set-passthrough slot's finish transform (decimal
        // distinct, kind 21) rides the Plan's decode seat
        val slot = AggSlots.plan(a.fn, distinct, arg, resolveType, fail)
        Plan(a, slot.kind, slot.storage, slot.input, dec = slot.finish)
      }
    }

    // the payload carries every non-key, non-time source column through
    // the shared exact carrier; nested/binary columns drop (and a star
    // select over dropped columns fails by name)
    def carrierOf(f: StructField) = graft.streaming.StateFormat.carrierOf(f)
    val payloadFields = src.schema.fields.filter { f =>
      !f.name.equalsIgnoreCase(tcol) &&
        !partCols.exists(_.equalsIgnoreCase(f.name)) &&
        carrierOf(f).isDefined
    }
    WindowTopN.failOnStarOverDropped(selectList,
      src.schema.fields.map(_.name).toSeq
        .filterNot(n => n.equalsIgnoreCase(tcol) ||
          partCols.exists(_.equalsIgnoreCase(n)) ||
          payloadFields.exists(_.name.equalsIgnoreCase(n))),
      fail)

    val keyExpr =
      if (partCols.isEmpty) lit("{}")
      else to_json(struct(partCols.map(col): _*))
    val payloadExpr = to_json(struct(
      payloadFields.map(f => carrierOf(f).get.enc.as(f.name)) :+
        expr(s"unix_micros(cast(`$tcol` as timestamp))").as("__ts_us"): _*))
    val nnArr = array(plans.map(p => expr(p.input).isNotNull): _*)
    val lvArr = array(plans.map(p =>
      if (AggSlots.readsLong(p.kind))
        coalesce(expr(p.input).cast("long"), lit(0L))
      else lit(0L)): _*)
    val dvArr = array(plans.map(p =>
      if (AggSlots.readsDouble(p.kind))
        coalesce(expr(p.input).cast("double"), lit(0d))
      else lit(0d)): _*)
    // string-carried slots: the distinct value sets, the exact
    // decimal seats, plus the LAG/FIRST_VALUE/LAST_VALUE carriers
    // (kinds 14-16 — NOT the variance kinds, which ride the double
    // slot)
    val svArr = array(plans.map(p =>
      if (graft.streaming.CumAcc.isDistinctKind(p.kind) ||
          graft.streaming.CumAcc.isDecimalKind(p.kind) ||
          (p.kind >= 14 && p.kind <= 16))
        expr(p.input).cast("string")
      else lit(null).cast("string")): _*)
    import spark.implicits._
    // a CHAINED source (a windowed pre-agg view, r17) rides the
    // never-late sentinel: its rows are upstream watermark-gated
    // emissions, so the tracker's late filter must pass them all and
    // no second watermark node may be defined (Watermarks.ensure's
    // chained branch) — the encoder binds by name, so the extra
    // column rides the plan without touching OverEvent
    val baseCols = Seq(keyExpr.as("key"),
      graft.streaming.Watermarks.eventTimeCol(src, tcol, "ts"),
      nnArr.as("nn"), lvArr.as("lv"), dvArr.as("dv"), svArr.as("sv"),
      payloadExpr.as("payload"))
    val eventCols =
      if (graft.streaming.Watermarks.isChained(src))
        baseCols :+ graft.streaming.Watermarks.neverLate
      else baseCols
    val events = src
      .filter(col(tcol).isNotNull) // a NULL event time has no position
      .select(eventCols: _*)
      .as[graft.streaming.OverEvent]
    val tracked = graft.streaming.OverAggTracker.track(
      events, wmDelay, plans.map(_.kind), frame, plans.map(_.lag))

    val keySchema = StructType(partCols.map(fieldOf).toArray)
    val valsSchema = StructType(plans.zipWithIndex.flatMap { case (p, i) =>
      StructField(s"a$i", p.storage, nullable = true) +:
        (if (p.kind == 14)
          Seq(StructField(s"a${i}_p", BooleanType, nullable = true))
        else Nil)
    }.toArray)
    val tcolField = fieldOf(tcol)
    var out = tracked.toDF()
    if (partCols.nonEmpty)
      out = out.withColumn("__k", from_json(col("key"), keySchema))
    out = out.withColumn("__p",
      from_json(col("payload"),
        StructType(payloadFields.toSeq.map(f =>
          StructField(f.name, carrierOf(f).get.storage, nullable = true)) :+
          StructField("__ts_us", LongType)),
        Map("allowNonNumericNumbers" -> "true")))
      .withColumn("__v", from_json(col("vals"), valsSchema,
        Map("allowNonNumericNumbers" -> "true")))
    val decoded = out.select(
      partCols.map(k => col(s"__k.`$k`").as(k)) ++
        payloadFields.map(f =>
          carrierOf(f).get.dec(col(s"__p.`${f.name}`")).as(f.name)) ++
        Seq(timestamp_micros(col("__p.__ts_us"))
          .cast(tcolField.dataType).as(tcol)) ++
        plans.zipWithIndex.map { case (p, i) =>
          val v = p.dec.fold(col(s"__v.a$i"))(d => d(col(s"__v.a$i")))
          p.dflt.fold(v) { case (d, dt) =>
            // default ONLY when the offset left the partition — an
            // in-bounds NULL value stays NULL (the presence flag is
            // the discriminator, SQL LAG semantics)
            when(col(s"__v.a${i}_p"), v).otherwise(expr(d).cast(dt))
          }.as(s"__oa$i")
        }: _*)
    val view = s"graft_over_${viewCounter.incrementAndGet()}"
    decoded.createOrReplaceTempView(view)

    // splice: each AGG(...) OVER (...) region in the select list
    // becomes its tracker column; the FROM swaps to the view, aliased
    // as the original table (or its alias) so qualified references
    // keep resolving; the WHERE was consumed into the input
    val rel = selM.end // select-list offset within sql
    val replaced = aggCalls.zipWithIndex.sortBy(-_._1.start)
      .foldLeft(selectList) { case (s, (c, i)) =>
        val st = c.start - rel
        val en = c.end - rel
        if (st < 0 || en > s.length)
          fail(s"OVER call outside the select list is unsupported: " +
            s"${c.fn}(${c.arg})")
        s.substring(0, st) + s"__oa$i" + s.substring(en)
      }
    s"${insertPrefix}SELECT $replaced FROM $view $outAlias"
  }
}
