package graft.harness

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias,
  UnresolvedAttribute, UnresolvedFunction, UnresolvedHaving,
  UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{CurrentRow, Descending,
  Expression, Literal, RangeFrame, RowFrame, SortOrder, SpecifiedWindowFrame,
  UnaryMinus, UnboundedPreceding, UnspecifiedFrame, WindowExpression}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Distinct,
  Filter, GlobalLimit, LocalLimit, Offset, Project, Sort, SubqueryAlias}
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
  * The statement is read from Spark's unresolved plan
  * ([[ScriptParser.parseQuery]]): the select list's `WindowExpression`s
  * give each call's function, DISTINCT flag, arguments, window spec and
  * frame, and each call is spliced out by its source span. A text
  * Spark cannot parse never takes this route.
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

  private def fnName(f: UnresolvedFunction): String =
    f.nameParts.mkString(".").toUpperCase

  /** True when the statement's parsed plan carries an aggregate-function
    * OVER call — the shape Spark cannot stream. Ranking shapes
    * (ROW_NUMBER) are consumed by the window/unbounded top-N passes
    * that run BEFORE this one; a leftover ranking OVER does not trigger
    * here (rn = 1 dedup rides Spark's native streaming rules). LEAD
    * triggers so a LEAD-only statement reaches ITS named rejection
    * instead of Spark's raw non-time-window analysis error. A text
    * Spark cannot parse never triggers.
    */
  def hasStreamingShape(sql: String): Boolean =
    ScriptParser.parseQuery(sql).exists(_._2.exists(_.expressions.exists(_.exists {
      case WindowExpression(f: UnresolvedFunction, _) =>
        AggFns(fnName(f)) || fnName(f) == "LEAD"
      case _ => false
    })))

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
      sql: String,
      watermarkOf: String => Option[(String, String)]): String = {
    import graft.streaming.OverAggTracker._
    val (insertPrefix, query) = ScriptParser.parseQuery(sql).getOrElse(fail(
      "streaming OVER aggregation reads the statement with Spark's " +
        "parser (check the DISTINCT placement: AGG(DISTINCT x)); a " +
        "PARTITION or BY NAME insert is unsupported: " +
        scala.util.Try(CatalystSqlParser.parsePlan(sql)).failed.toOption
          .fold(sql)(_.getMessage).trim.linesIterator.next()))
    def text(e: Expression): String = ScriptParser.textOf(sql, e)

    val (distinctOut, proj) = query match {
      case p: Project => ("", p)
      case Distinct(p: Project) => ("DISTINCT ", p)
      // the statement's own ORDER BY/LIMIT/GROUP BY; a subquery
      // source's clauses are its business, evaluated by Spark
      case _: Sort | _: GlobalLimit | _: LocalLimit | _: Offset =>
        fail("streaming OVER aggregation takes no ORDER BY/LIMIT on its " +
          "output (rows emit in watermark-maturity order) — sort or limit " +
          "downstream")
      case _: Aggregate | _: UnresolvedHaving =>
        fail("streaming OVER aggregation does not compose with GROUP BY " +
          "in one statement — aggregate in a separate step")
      case _ => fail("expected SELECT ... FROM for the OVER rewrite")
    }
    // the WHERE filters INPUT rows: SQL evaluates it before window
    // functions
    val (rel, whereOpt) = proj.child match {
      case Filter(cond, child) =>
        cond.collectFirst { case w: WindowExpression => w }.foreach(w =>
          fail(s"OVER call outside the select list is unsupported: ${text(w)}"))
        (child, Some(text(cond)))
      case child => (child, None)
    }
    // the FROM names a table/view, or carries an inline SUBQUERY (r17)
    // resolved by event-time lineage — the shared [[SubquerySource]] law
    def named(r: UnresolvedRelation, alias: Option[String]) =
      (Left(ScriptParser.textOf(sql, r)): Either[String, DataFrame], alias,
        None, r.multipartIdentifier.mkString("."))
    val (srcRel, aliasOpt, wmFromLineage, table) = rel match {
      case r: UnresolvedRelation => named(r, None)
      case SubqueryAlias(a, r: UnresolvedRelation) => named(r, Some(a.name))
      case s @ SubqueryAlias(a, _) if sql.charAt(s.origin.startIndex.get) == '(' =>
        val open = s.origin.startIndex.get
        val inner = sql.substring(open + 1, MatchRecognize.closeParen(sql, open) - 1)
        val (df, wm) = SubquerySource.resolve(spark, inner, watermarkOf,
          "OVER aggregation", fail)
        (Right(df): Either[String, DataFrame],
          Some(a.name).filter(_ != SubqueryAlias.generateSubqueryName()),
          Some(wm), "(subquery)")
      case other =>
        fail("streaming OVER aggregation takes a single-table FROM " +
          "or a parenthesized subquery source (joins: aggregate in a " +
          "separate step): FROM " + ScriptParser.textOf(sql, other)
            .linesIterator.next())
    }

    // OVER calls of the OUTER select list only: a call inside the
    // subquery source is the subquery's own business (Spark evaluates
    // it — on a stream it dies with Spark's own rejection; stream it
    // through a CREATE VIEW + separate statement instead)
    val calls = proj.projectList.flatMap(_.collect {
      case w @ WindowExpression(f: UnresolvedFunction, _) => (w, f, fnName(f))
    })
    if (calls.exists(_._3 == "LEAD"))
      fail("LEAD cannot stream — it references rows the watermark has " +
        "not matured (Flink's streaming over-windows reject it too); " +
        "use LAG over the reversed comparison, or batch runtime mode")
    calls.filterNot(c => AggFns(c._3)) match {
      case Seq() =>
      case bad => fail("streaming OVER supports the aggregate functions " +
        "COUNT/SUM/MIN/MAX/AVG, STDDEV[_SAMP|_POP]/VAR[IANCE|_SAMP|_POP], " +
        s"LAG, and FIRST_VALUE/LAST_VALUE; got ${bad.map(_._3).mkString(", ")} " +
        "(ranking shapes ride the top-N rewrites; others are batch-only)")
    }
    if (calls.isEmpty) fail("no OVER aggregate found")
    val specs = calls.map(_._1.windowSpec)
    if (specs.map(_.transform { case a: UnresolvedAttribute =>
          UnresolvedAttribute(a.nameParts.map(_.toLowerCase)) }).distinct.size > 1)
      fail("streaming OVER aggregates must share one window " +
        "specification (Flink's requirement too); got: " +
        specs.map(text).distinct.mkString(" | "))

    val spec = specs.head
    val tcol = spec.orderSpec match {
      case Seq(SortOrder(UnresolvedAttribute(Seq(c)), dir, _, _)) =>
        if (dir == Descending)
          fail("streaming OVER aggregation must ORDER BY the event-time " +
            "column ASCENDING (watermarks mature rows in time order)")
        c
      case _ => fail("unsupported OVER specification (want [PARTITION BY " +
        s"cols] ORDER BY <event-time column> [frame]): ${text(spec)}")
    }
    val partCols = spec.partitionSpec.map {
      case UnresolvedAttribute(Seq(c)) => c
      case e => fail("streaming OVER PARTITION BY takes simple columns; " +
        s"got ${text(e)}")
    }
    def badFrame = fail("unsupported OVER frame (streaming supports " +
      "RANGE|ROWS BETWEEN UNBOUNDED|<bound> PRECEDING AND CURRENT " +
      s"ROW): ${text(spec)}")
    val frame = spec.frameSpecification match {
      case UnspecifiedFrame => UnboundedRange
      case SpecifiedWindowFrame(mode, lower, CurrentRow) => (mode, lower) match {
        case (RowFrame, UnboundedPreceding) => UnboundedRows
        case (RangeFrame, UnboundedPreceding) => UnboundedRange
        case (RowFrame, UnaryMinus(Literal(n: Int, IntegerType), _)) if n >= 0 =>
          RowsPreceding(n)
        case (RangeFrame, UnaryMinus(Literal(us: Long, _: DayTimeIntervalType), _))
            if us >= 0 && us % 1000 == 0 =>
          RangePreceding(us / 1000)
        case (RowFrame, UnaryMinus(Literal(_, _: DayTimeIntervalType), _)) =>
          fail("ROWS frames take a row count, not an interval " +
            s"(use RANGE for time bounds): ${text(spec)}")
        case (RangeFrame, UnaryMinus(Literal(_, IntegerType), _)) =>
          fail("RANGE frames over event time take an INTERVAL bound, " +
            s"not a row count (use ROWS for counts): ${text(spec)}")
        case _ => badFrame
      }
      case _ => badFrame
    }

    val (wmCol, wmDelay) = wmFromLineage
      .orElse(watermarkOf(table)).getOrElse(fail(
        s"streaming OVER aggregation needs a WATERMARK declaration on $table"))
    if (!wmCol.equalsIgnoreCase(tcol))
      fail(s"streaming OVER must ORDER BY $table's event-time column " +
        s"($wmCol); got $tcol")

    val outAlias = aliasOpt.getOrElse(
      if (srcRel.isRight) "subq" else table.split('.').last)
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
    final case class Plan(kind: Int, storage: DataType,
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
    val plans: Seq[Plan] = calls.map { case (w, f, fn) =>
      val distinct = f.isDistinct
      if (f.filter.nonEmpty || f.ignoreNulls || f.orderingWithinGroup.nonEmpty)
        fail("streaming OVER aggregates take no FILTER, IGNORE NULLS or " +
          s"WITHIN GROUP clause: ${text(w)}")
      val arg = f.arguments match {
        // COUNT(*) parses to a literal 1 spanning the whole call
        case Seq(l: Literal) if l.origin.startIndex == f.origin.startIndex => "*"
        case Seq() => ""
        case args => ScriptParser.textOf(sql, args: _*)
      }
      if (fn == "LAG") {
        if (distinct) fail(s"LAG takes no DISTINCT: $arg")
        // three-arg DEFAULT must be a LITERAL: SQL applies it only
        // when the offset leaves the partition, and the tracker emits
        // a presence flag to discriminate that from an in-bounds NULL
        // — a column-referencing default would need the CURRENT row's
        // value inside the decode, which the literal splice avoids
        val (x, k, dflt) = f.arguments match {
          case Seq(x) => (x, 1, None)
          case Seq(x, Literal(k: Int, IntegerType), rest @ _*) if rest.size <= 1 =>
            rest.foreach { case _: Literal => case dv =>
              fail("LAG DEFAULT must be a literal (number / string / " +
                s"boolean / NULL) in streaming: ${text(dv)}")
            }
            (x, k, rest.headOption.map(text))
          case Seq(_, kk, rest @ _*) if rest.size <= 1 =>
            fail(s"LAG offset must be a literal integer: ${text(kk)}")
          case _ => fail(s"cannot parse LAG arguments: $arg")
        }
        if (k < 1) fail(s"LAG offset must be >= 1: $arg")
        val in = text(x)
        val dt = resolveType(in)
        val (enc, dec) = stringCarrier(fn, in, dt)
        Plan(14, StringType, enc, lag = k, dec = Some(dec),
          dflt = dflt.map(d => (d, dt)))
      } else if (fn == "FIRST_VALUE" || fn == "LAST_VALUE") {
        if (distinct) fail(s"$fn takes no DISTINCT: $arg")
        if (f.arguments.size != 1)
          fail(s"$fn takes one argument in streaming (Flink " +
            s"null-skipping semantics are built in): $arg")
        val (enc, dec) = stringCarrier(fn, arg, resolveType(arg))
        Plan(if (fn == "FIRST_VALUE") 15 else 16, StringType, enc,
          dec = Some(dec))
      } else {
        // COUNT/SUM/MIN/MAX/AVG/variance with optional DISTINCT: the
        // kind table is AggSlots.plan, shared with the window-TVF
        // pass; a set-passthrough slot's finish transform (decimal
        // distinct, kind 21) rides the Plan's decode seat
        val slot = AggSlots.plan(fn, distinct, arg, resolveType, fail)
        Plan(slot.kind, slot.storage, slot.input, dec = slot.finish)
      }
    }

    val (listFrom, listTo) = ScriptParser.spanOf(sql,
      proj.projectList.map { case u: UnresolvedAlias => u.child; case e => e }: _*)
    val selectList = sql.substring(listFrom, listTo)
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

    // splice: each AGG(...) OVER (...) call in the select list
    // becomes its tracker column; the FROM swaps to the view, aliased
    // as the original table (or its alias) so qualified references
    // keep resolving; the WHERE was consumed into the input
    val replaced = calls.map(_._1).zipWithIndex
      .sortBy(-_._1.origin.startIndex.get)
      .foldLeft(selectList) { case (s, (w, i)) =>
        s.substring(0, w.origin.startIndex.get - listFrom) + s"__oa$i" +
          s.substring(w.origin.stopIndex.get + 1 - listFrom)
      }
    s"${insertPrefix}SELECT $distinctOut$replaced FROM $view $outAlias"
  }
}
