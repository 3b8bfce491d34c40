package graft.harness

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField}

/** Flink's UNBOUNDED updating Top-N for N ≥ 2 — `SELECT ... FROM
  * (SELECT *, ROW_NUMBER() OVER (PARTITION BY keys ORDER BY m
  * [DESC|ASC]) [AS] rn FROM t) [alias] WHERE rn <= N [AND conditions]`
  * on a stream, matched on Spark's unresolved plan
  * ([[ScriptParser.parseQuery]]). Spark rejects ranking functions on
  * streams; Flink runs this as an updating operator holding the N best
  * rows per key. The rewrite compiles the same semantics natively: an
  * update-mode aggregation through the bounded
  * [[graft.functions.TopRows]] collector (per-key state = exactly N
  * rows, Flink's own bound), a `posexplode` fanning the held rows back
  * out with their ranks, and a view the statement's outer SELECT reads
  * — each micro-batch that changes a key re-emits its current top N,
  * which an updating sink (print changelog, keyed jdbc upsert on
  * (keys, rn)) renders as Flink's retraction stream.
  *
  * Contract (violations fail by name): partition keys are plain
  * columns; one ORDER BY column, numeric or timestamp (ranked through
  * the double slot — exact for integral values under 2^53 and
  * microsecond epochs); ties break by payload text ascending; NULL
  * metrics rank as the smallest value and NaN as the greatest
  * (first under DESC), matching batch ROW_NUMBER under Spark's
  * null-first/NaN-greatest total order; non-key payload columns the
  * outer select references must round-trip the JSON state encoding
  * losslessly — natively JSON-lossless types pass through, and
  * doubles / floats / decimals / dates ride an exact string carrier
  * (Java's round-trip `Double.toString` guarantee) while timestamps
  * ride epoch micros, so every scalar type a real stream carries is
  * admitted; only nested/binary payload columns drop. `rn = 1`
  * shapes stay on the analysis-rule paths (Deduplicate / argmax),
  * which avoid the JSON carrier entirely — EXCEPT under
  * `table.exec.state.ttl` (r17), where every rank-bounded shape
  * (N ≥ 1, keep-first/keep-last dedup included) compiles onto
  * [[graft.streaming.TtlTopNTracker]] instead: the same TopRows rank
  * order on `flatMapGroupsWithState`, with a processing-time idle-key
  * TTL Spark's native aggregation state cannot express.
  */
object UnboundedTopN {
  import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute,
    UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
  import org.apache.spark.sql.catalyst.expressions.{Alias, And, Ascending,
    EqualTo, Expression, LessThan, LessThanOrEqual, Literal, Or, SortOrder,
    UnspecifiedFrame, WindowExpression, WindowSpecDefinition}
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project,
    SubqueryAlias}

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(msg)

  private val viewCounter = new java.util.concurrent.atomic.AtomicInteger()

  /** The canonical shape, its texts as written (outer select list,
    * residual conjuncts, relation) and the rank bound N. */
  private final case class Shape(prefix: String, outSel: String,
      outerAlias: Option[String], rnAlias: String, n: Int,
      residual: Option[String], keys: Seq[Expression], metricCol: String,
      asc: Boolean, relText: String, table: String)

  private def shape(sql: String): Option[Shape] = {
    @scala.annotation.tailrec // the rank filter is the first conjunct
    def first(e: Expression): Expression = e match {
      case And(l, _) => first(l)
      case Or(l, _) => first(l)
      case other => other
    }
    ScriptParser.parseQuery(sql).flatMap {
      case (prefix, Project(outItems, Filter(cond, SubqueryAlias(outer,
          Project(Seq(UnresolvedStar(None), Alias(WindowExpression(
            f: UnresolvedFunction, WindowSpecDefinition(keys, Seq(SortOrder(
              UnresolvedAttribute(Seq(metricCol)), dir, nulls, _)),
              UnspecifiedFrame)), rnAlias)), rel: UnresolvedRelation)))))
          if f.nameParts.map(_.toLowerCase) == Seq("row_number") &&
            f.arguments.isEmpty && keys.nonEmpty &&
            nulls == dir.defaultNullOrdering =>
        def isRn(e: Expression) = PartialFunction.cond(e) {
          case UnresolvedAttribute(Seq(c)) => c.equalsIgnoreCase(rnAlias) }
        // `<=` keeps k, `<` keeps k-1, and `=` is a top-N only for
        // rn = 1 (Flink's deduplication shape — rn = 2 pins a single
        // rank, not a prefix)
        val rank = first(cond)
        val bound = rank match {
          case LessThanOrEqual(c, Literal(k: Int, IntegerType)) if isRn(c) => Some(k)
          case LessThan(c, Literal(k: Int, IntegerType)) if isRn(c) => Some(k - 1)
          case EqualTo(c, Literal(1, IntegerType)) if isRn(c) => Some(1)
          case _ => None
        }
        val rest = sql.substring(rank.origin.stopIndex.get + 1,
          cond.origin.stopIndex.get + 1).trim
        for {
          n <- bound
          if rank.origin.startIndex == cond.origin.startIndex &&
            (rest.isEmpty || rest.regionMatches(true, 0, "AND", 0, 3) &&
              rest.lift(3).exists(!Character.isJavaIdentifierPart(_)))
        } yield Shape(prefix, ScriptParser.textOf(sql, outItems: _*),
          Some(outer.name).filter(_ != "__auto_generated_subquery_name"),
          rnAlias, n, Some(rest.drop(3).trim).filter(_.nonEmpty), keys,
          metricCol, dir == Ascending, ScriptParser.textOf(sql, rel),
          rel.tableName)
      case _ => None
    }
  }

  /** The source text of the shape's relation, when `sql` is the
    * updating-top-N shape with N ≥ `minN`: 2 leaves rn = 1 to the
    * Deduplicate/argmax analysis rules (Spark's native state, no TTL);
    * under `table.exec.state.ttl` the caller passes 1. */
  private[harness] def sourceOf(sql: String, minN: Int = 2): Option[String] =
    shape(sql).filter(_.n >= minN).map(_.relText)

  def hasShape(sql: String, minN: Int = 2): Boolean =
    sourceOf(sql, minN).isDefined

  def rewrite(spark: SparkSession, fullSql: String,
      stateTtlSec: Long = 0L): String = {
    val Shape(insertPrefix, outSel, outerAlias, rnAlias, n, residual,
        keyExprs, metricCol, asc, _, table) =
      shape(fullSql).getOrElse(fail(
        "streaming top-N must be `SELECT ... FROM (SELECT *, " +
          "ROW_NUMBER() OVER (PARTITION BY keys ORDER BY <column> " +
          "[DESC|ASC]) AS rn FROM <table>) WHERE rn <= N [AND conditions]`"))
    val keys = keyExprs.map {
      case UnresolvedAttribute(Seq(k)) => k
      case e => fail("streaming top-N PARTITION BY keys must be plain " +
        s"columns, got: ${ScriptParser.textOf(fullSql, e)}")
    }
    if (n < 2 && stateTtlSec <= 0L)
      fail("unbounded streaming top-N compiles N >= 2; rn = 1 " +
        "runs through the dedup/argmax analysis rules")
    WindowTopN.rejectResidualOr(residual, fail)

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
      fail(s"streaming top-N ORDER BY $metricCol: numeric or timestamp " +
        s"column required (got ${metricField.dataType.simpleString})")
    // timestamps rank through epoch MILLIS (NTZ has no direct double
    // cast, and millis stay exact in the double slot under 2^53);
    // numerics cast directly
    val metricIn =
      if (metricIsTime)
        expr(s"cast(unix_millis(cast($metricCol as timestamp)) as double)")
      else col(metricCol).cast("double")
    def metricBack(m: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      if (metricIsTime)
        expr(s"cast(timestamp_millis(cast(__m as long)) " +
          s"as ${metricField.dataType.sql})")
      else m.cast(metricField.dataType)
    keys.foreach(fieldOf) // existence; keys pass through natively
    // payload: every non-key, non-metric column that can round-trip
    // the JSON state encoding — through the shared exact carrier
    // ([[graft.streaming.StateFormat.carrierOf]]: lossless types pass
    // natively, doubles/floats/decimals/dates ride an exact string,
    // timestamps ride epoch micros); nested/binary columns drop (and
    // fail loudly upstream if the outer select references them)
    import org.apache.spark.sql.types._
    def carrierOf(f: StructField): Option[graft.streaming.StateFormat.Carrier] =
      graft.streaming.StateFormat.carrierOf(f)
    val payloadFields = src.schema.fields.filter { f =>
      !f.name.equalsIgnoreCase(metricCol) &&
        !keys.exists(_.equalsIgnoreCase(f.name)) &&
        carrierOf(f).isDefined
    }
    WindowTopN.failOnStarOverDropped(outSel,
      src.schema.fields.map(_.name).toSeq
        .filterNot(n => n.equalsIgnoreCase(metricCol) ||
          keys.exists(_.equalsIgnoreCase(n)) ||
          payloadFields.exists(_.name.equalsIgnoreCase(n))),
      fail)
    val payloadExpr =
      if (payloadFields.isEmpty) lit("{}")
      else to_json(struct(payloadFields.map(f =>
        carrierOf(f).get.enc.as(f.name)): _*))

    // a NULL metric ranks (smallest — batch parity) instead of dying
    // in the collector's primitive double slot: the null flag rides
    // beside a 0.0 placeholder. Two state engines share the exact
    // TopRows rank order: without a TTL, Spark's native streaming
    // aggregation through the bounded TopRows UDAF (partial
    // aggregation pre-trims per partition); under
    // `table.exec.state.ttl`, the flatMapGroupsWithState form
    // ([[graft.streaming.TtlTopNTracker]]) whose idle keys EXPIRE —
    // Spark's native aggregation state has no TTL, and this shape
    // (plus the rn = 1 deduplication family the TTL path admits) is
    // the dominant state-growth risk at high key cardinality.
    val uniform =
      if (stateTtlSec > 0L) {
        // per-key state groups on a to_json/from_json round-trip of
        // the PARTITION BY tuple (same contract as the window-TVF
        // trackers) — only losslessly JSON-codable key types admit
        AggSlots.requireLosslessKeys(k => fieldOf(k).dataType, keys,
          "streaming top-N under table.exec.state.ttl: PARTITION BY",
          fail, hint = "; unset the TTL for the native path")
        val prepared = src.select(
          to_json(struct(keys.map(col): _*)).as("key"),
          coalesce(metricIn, lit(0.0d)).as("metric"),
          metricIn.isNull.as("nullMetric"),
          payloadExpr.as("payload"))
        implicit val evEnc =
          org.apache.spark.sql.Encoders.product[graft.streaming.RankedEvent]
        val tracked = graft.streaming.TtlTopNTracker.track(
          prepared.as[graft.streaming.RankedEvent], n, asc, stateTtlSec)
          .toDF()
        val keyStruct = StructType(keys.map(fieldOf).toArray)
        tracked.select(
          keys.map(k => from_json(col("key"), keyStruct)
            .getField(fieldOf(k).name).as(fieldOf(k).name)) ++
            Seq(col("metric").as("__m"), col("nullMetric").as("__mnull"),
              col("payload").as("__pay"), col("pos").as("__pos")): _*)
      } else {
        val topAgg = udaf(new graft.functions.TopRows(n, asc),
          org.apache.spark.sql.Encoders.product[graft.functions.RankedRow])
        src
          .groupBy(keys.map(col): _*)
          .agg(topAgg(coalesce(metricIn, lit(0.0d)), payloadExpr,
            metricIn.isNull).as("__top"))
          .select(keys.map(col) :+
            posexplode(col("__top.rows")).as(Seq("__pos", "__r")): _*)
          .select(keys.map(col) ++
            Seq(col("__r.metric").as("__m"),
              col("__r.nullMetric").as("__mnull"),
              col("__r.payload").as("__pay"), col("__pos")): _*)
      }
    val decoded = {
      val payloadCols =
        if (payloadFields.isEmpty) Seq.empty
        else {
          val schema = StructType(payloadFields.map(f =>
            StructField(f.name, carrierOf(f).get.storage, nullable = true)))
          Seq(from_json(col("__pay"), schema,
            Map("allowNonNumericNumbers" -> "true")).as("__p"))
        }
      val base = uniform.select((keys.map(col) ++
        Seq(col("__m"), col("__mnull"), col("__pos")) ++
        payloadCols): _*)
      base.select((keys.map(col) ++
        payloadFields.map(f =>
          carrierOf(f).get.dec(col(s"__p.`${f.name}`")).as(f.name)) ++
        Seq(when(col("__mnull"), lit(null).cast(metricField.dataType))
            .otherwise(metricBack(col("__m"))).as(metricCol),
          (col("__pos") + 1).cast("long").as(rnAlias))): _*)
    }
    val view = s"graft_utopn_${viewCounter.incrementAndGet()}"
    decoded.createOrReplaceTempView(view)
    s"${insertPrefix}SELECT $outSel FROM $view" +
      outerAlias.fold("")(a => s" $a") +
      residual.fold("")(r => s" WHERE $r")
  }
}
