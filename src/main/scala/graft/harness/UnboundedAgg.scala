package graft.harness

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Flink's plain unbounded GROUP BY aggregation under
  * `table.exec.state.ttl` — the canonical
  *
  * {{{ [INSERT INTO sink] SELECT k1, ..., AGG(expr) [AS] a, ...
  *     FROM stream [[AS] alias] [WHERE pred] GROUP BY k1, ... }}}
  *
  * shape on a STREAM relation. Spark's native update-mode aggregation
  * runs this fine but keeps one state row per key FOREVER (no TTL
  * hook); Flink expires the per-key accumulator after the configured
  * idle TTL — the dominant state-growth difference at 100 TB key
  * cardinalities. When the TTL key is set, this pass compiles the
  * shape onto [[graft.streaming.UnboundedAggTracker]]: the shared
  * slot planner ([[AggSlots]] — the same kind table the window-TVF
  * and OVER passes use), a JSON-packed group key, update-mode
  * emission of each touched key's current aggregate row, and a
  * processing-time idle-key timeout. COUNT(DISTINCT) and decimal
  * aggregates come out EXACT on this path (value-set / BigDecimal
  * state), where the native streaming route would HLL-approximate.
  *
  * The shape is matched on Spark's unresolved plan
  * ([[ScriptParser.parseQuery]]); everything else (joins, expression
  * keys, unaliased aggregates, HAVING, set ops, subqueries, window
  * TVFs) stays on the native, TTL-less path. Statements the shape
  * admits but whose details violate the contract (non-JSON-lossless
  * keys, nested-type aggregate inputs) fail by name inside [[rewrite]].
  */
object UnboundedAgg {
  import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute,
    UnresolvedFunction, UnresolvedRelation}
  import org.apache.spark.sql.catalyst.expressions.{Alias, Expression,
    Literal, SubqueryExpression}
  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter,
    SubqueryAlias}

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(msg)

  private val viewCounter = new java.util.concurrent.atomic.AtomicInteger()

  private val AggFns: Set[String] = AggSlots.FnAlternation.split('|').toSet

  private sealed trait Item
  private final case class KeyItem(name: String) extends Item
  private final case class AggItem(fn: String, distinct: Boolean,
      input: String, alias: String) extends Item

  /** The canonical shape, its texts as written (relation, WHERE). */
  private final case class Shape(prefix: String, relText: String,
      table: String, alias: Option[String], where: Option[String],
      keys: Seq[String], items: Seq[Item])

  private def shape(sql: String): Option[Shape] = {
    def hasSubquery(e: Expression) =
      e.exists(_.isInstanceOf[SubqueryExpression])
    ScriptParser.parseQuery(sql).flatMap {
      case (prefix, agg: Aggregate) if agg.groupingExpressions.nonEmpty =>
        val keys = agg.groupingExpressions.collect { case UnresolvedAttribute(Seq(k)) => k }
        val (child, where) = agg.child match {
          case Filter(cond, child) if !hasSubquery(cond) =>
            (child, Some(ScriptParser.textOf(sql, cond)))
          case child => (child, None)
        }
        val rel = child match {
          case r: UnresolvedRelation => Some((r, None))
          case SubqueryAlias(a, r: UnresolvedRelation) => Some((r, Some(a.name)))
          case _ => None
        }
        val items = agg.aggregateExpressions.map {
          case UnresolvedAttribute(Seq(k)) if keys.exists(_.equalsIgnoreCase(k)) =>
            Some(KeyItem(k))
          case Alias(f: UnresolvedFunction, alias)
              if f.nameParts.size == 1 && AggFns(f.nameParts.head.toUpperCase) &&
                f.arguments.nonEmpty && f.filter.isEmpty && !f.ignoreNulls &&
                f.orderingWithinGroup.isEmpty && !hasSubquery(f) =>
            val fn = f.nameParts.head.toUpperCase
            val input = f.arguments match {
              // COUNT(*) parses to a literal 1 spanning the whole call
              case Seq(l: Literal) if l.origin.startIndex == f.origin.startIndex => "1"
              case args => ScriptParser.textOf(sql, args: _*)
            }
            // MIN/MAX are distinct-invariant (Flink plans the same)
            Some(AggItem(fn, f.isDistinct && fn != "MIN" && fn != "MAX",
              input, alias))
          case _ => None
        }
        for {
          (r, alias) <- rel
          if keys.size == agg.groupingExpressions.size && items.forall(_.isDefined)
        } yield Shape(prefix, ScriptParser.textOf(sql, r),
          r.multipartIdentifier.last, alias, where, keys, items.flatten)
      case _ => None
    }
  }

  /** The source text of the shape's relation, when `sql` is the
    * TTL-routable shape: a plain-column GROUP BY whose items are keys
    * or aliased aggregate calls, over one STREAM relation (a bounded
    * relation aggregates natively with no state to bound). */
  private[harness] def sourceOf(spark: SparkSession, sql: String): Option[String] =
    shape(sql).filter(s =>
      scala.util.Try(spark.table(s.table).isStreaming).getOrElse(false))
      .map(_.relText)

  def hasShape(spark: SparkSession, sql: String): Boolean =
    sourceOf(spark, sql).isDefined

  /** Compiles the shape onto the TTL'd tracker; call only when
    * [[hasShape]] holds. Mirrors the window-TVF pass' slot plumbing:
    * AggSlots plans each aggregate, inputs ride the (nn, lv, dv, sv)
    * slots, results decode from the vals JSON with per-slot finish
    * transforms.
    */
  def rewrite(spark: SparkSession, sql: String, stateTtlSec: Long): String = {
    require(stateTtlSec > 0L, "UnboundedAgg is the TTL'd route")
    val Shape(prefix, _, table, aliasOpt, wherePred, keys, items) =
      shape(sql).getOrElse(fail("not an unbounded GROUP BY shape"))

    // the relation rides under its statement alias so alias-qualified
    // references in WHERE and aggregate inputs resolve
    val src0 = aliasOpt.fold(spark.table(table))(a =>
      spark.table(table).alias(a))
    val src = wherePred.foldLeft(src0)((d, p) =>
      d.where(DialectFunctions.rewriteScalars(p)))
    def fieldOf(c: String): StructField =
      src.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        fail(s"column $c not found in $table"))

    val aggs = items.collect { case a: AggItem => a }
    if (aggs.isEmpty) fail("at least one aggregate is required")

    def resolveInput(in: String): DataType =
      try src.selectExpr(in).schema.head.dataType
      catch { case e: Exception =>
        fail(s"cannot resolve aggregate input $in: ${e.getMessage}")
      }
    val plans: Seq[(AggItem, AggSlots.Slot)] = aggs.map(a =>
      (a, AggSlots.plan(a.fn, a.distinct, a.input, resolveInput, fail)))

    // per-key state groups on a to_json/from_json round-trip of the
    // GROUP BY tuple — the shared AggSlots key/slot builders
    AggSlots.requireLosslessKeys(
      k => fieldOf(k).dataType, keys, "GROUP BY", fail,
      hint = "; unset table.exec.state.ttl for the native path")
    val keyStruct = StructType(keys.map(fieldOf).toArray)
    val keyExpr = to_json(struct(keys.map(col): _*))
    val (nnArr, lvArr, dvArr, svArr) =
      AggSlots.slotInputArrays(plans.map(_._2))
    val prepared = src.select(keyExpr.as("key"),
      nnArr.as("nn"), lvArr.as("lv"), dvArr.as("dv"), svArr.as("sv"))
    implicit val evEnc =
      org.apache.spark.sql.Encoders.product[graft.streaming.UnboundedAggEvent]
    val tracked = graft.streaming.UnboundedAggTracker.track(
      prepared.as[graft.streaming.UnboundedAggEvent],
      plans.map(_._2.kind), stateTtlSec).toDF()

    val valsSchema = StructType(plans.zipWithIndex.map { case (p, i) =>
      StructField(s"a$i", p._2.storage, nullable = true)
    }.toArray)
    var ai = -1
    val outCols = items.map {
      case KeyItem(name) =>
        from_json(col("key"), keyStruct)
          .getField(fieldOf(name).name).as(name)
      case a: AggItem =>
        ai += 1
        val raw = from_json(col("vals"), valsSchema,
            Map("allowNonNumericNumbers" -> "true"))
          .getField(s"a$ai")
        plans(ai)._2.finish.fold(raw)(f => f(raw)).as(a.alias)
    }
    val result: DataFrame = tracked.select(outCols: _*)
    val view = s"graft_uagg_${viewCounter.incrementAndGet()}"
    result.createOrReplaceTempView(view)
    s"${prefix}SELECT * FROM $view"
  }
}
