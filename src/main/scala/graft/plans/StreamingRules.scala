package graft.plans

import org.apache.spark.sql.catalyst.expressions.{
  Alias, Ascending, Attribute, AttributeReference, Descending, EqualTo,
  Expression, LessThan, LessThanOrEqual, Literal, RowNumber, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Count, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, Deduplicate, Filter, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule

/** Analysis-time rewrite of Flink's streaming Deduplication pattern —
  * `SELECT ... FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY keys
  * ORDER BY x [ASC|DESC]) AS rn FROM s) WHERE rn = 1`. Spark rejects
  * ranking window functions on streams; this rule maps each Flink
  * variant onto its native Spark equivalent:
  *  - time-ASC (Flink's append-safe keep-FIRST dedup) →
  *    [[Deduplicate]] (`dropDuplicates`), first ARRIVAL per key. With
  *    an EVENT-time order column that equals Flink's min-rowtime
  *    answer only for in-order input (no retraction of a late earlier
  *    timestamp) — a notice says so when the order key is watermarked;
  *  - time-DESC (keep-LAST dedup) and value-ordered top-1 in either
  *    direction (Flink's UPDATING forms) → an update-mode argmax
  *    aggregation ([[argmaxRewrite]]) — exact under late data, emitted
  *    as an update stream.
  *
  * The `rn` column stays available above the rewrite (a literal 1 —
  * true by construction after dedup), so projections that select it
  * still resolve. Gated by `graft.streaming.dedup-rewrite` (default
  * true); batch plans are untouched (Catalyst's WindowGroupLimit
  * already optimizes the batch form).
  */
case class StreamingTopOneDedup() extends Rule[LogicalPlan] {
  /** The rn attribute when `cond` pins the row number to 1. */
  private def rnOf(cond: Expression): Option[AttributeReference] = cond match {
    case EqualTo(a: AttributeReference, Literal(1, _)) => Some(a)
    case EqualTo(Literal(1, _), a: AttributeReference) => Some(a)
    case LessThanOrEqual(a: AttributeReference, Literal(1, _)) => Some(a)
    case LessThan(a: AttributeReference, Literal(2, _)) => Some(a)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!plan.isStreaming ||
        conf.getConfString("graft.streaming.dedup-rewrite", "true") != "true")
      return plan
    plan.resolveOperatorsUp {
      case f @ Filter(cond, _) if f.isStreaming =>
        rnOf(cond).map { rn =>
          var rewritten = false
          val out = f.transformUp {
            case w @ Window(Seq(a @ Alias(
                  WindowExpression(RowNumber(), spec), _)),
                partitionSpec, orderSpec, child, _)
                if a.exprId == rn.exprId && child.isStreaming &&
                  orderSpec.nonEmpty =>
              // keep-LAST dedup (ORDER BY time DESC) and value-ordered
              // Top-1 (ORDER BY metric, either direction) are Flink's
              // UPDATING forms: they rewrite to an update-mode argmax
              // aggregation (max_by/min_by over the full row struct)
              // rather than a Deduplicate — see argmaxRewrite below.
              // Only the append-safe keep-FIRST time-ordered form stays
              // on Deduplicate.
              val timeOrdered = orderSpec.forall { so =>
                val t = so.child.dataType
                t.isInstanceOf[org.apache.spark.sql.types.TimestampType] ||
                  t.isInstanceOf[org.apache.spark.sql.types.TimestampNTZType]
              }
              val keepFirstTime =
                timeOrdered && orderSpec.forall(_.direction == Ascending)
              if (!keepFirstTime) {
                if (orderSpec.size != 1)
                  throw new IllegalArgumentException(
                    "streaming updating top-1 supports a single ORDER " +
                      "BY key (argmax rewrite); multi-key ordering " +
                      "needs batch mode")
                if (conf.getConfString(
                    "graft.streaming.argmax-rewrite", "true") != "true")
                  throw new IllegalArgumentException(
                    "streaming keep-last / value-ordered top-1 is " +
                      "disabled (graft.streaming.argmax-rewrite = false) " +
                      "— order ascending by a time attribute for the " +
                      "append-mode keep-first dedup")
                rewritten = true
                argmaxRewrite(a, keysOf(partitionSpec), orderSpec.head, child)
              } else {
                orderSpec.foreach { so =>
                  // keep-first-ARRIVAL equals Flink's min-EVENT-time
                  // row only for in-order input; say so when the order
                  // key is a watermarked (event-time) column, where
                  // out-of-order arrival is the expected case
                  so.child match {
                    case a: Attribute if a.metadata.contains(
                        org.apache.spark.sql.catalyst.plans.logical
                          .EventTimeWatermark.delayKey) =>
                      System.err.println(
                        "streaming deduplication ORDER BY event-time " +
                          s"column '${a.name}': keeping the FIRST-ARRIVING " +
                          "row per key — a later-arriving row with an " +
                          "earlier timestamp is not retracted (Flink's " +
                          "min-rowtime dedup differs on out-of-order " +
                          "input); SET graft.streaming.dedup-rewrite = " +
                          "false to reject instead")
                    case _ =>
                  }
                }
                rewritten = true
                // rn reconstructs as literal 1 under the original
                // exprId, so the pinning Filter and any projection
                // still resolve
                Project(child.output :+
                  Alias(Literal(1), a.name)(exprId = a.exprId),
                  Deduplicate(keysOf(partitionSpec), child))
              }
          }
          if (rewritten) out else f
        }.getOrElse(f)
    }
  }

  private def keysOf(partitionSpec: Seq[Expression]): Seq[Attribute] =
    partitionSpec.map {
      case attr: Attribute => attr
      case other => throw new IllegalArgumentException(
        "streaming deduplication PARTITION BY must be plain " +
          s"columns, got: ${other.sql}")
    }

  /** Flink's UPDATING keep-last / top-1: `rn = 1` ordered DESC (by a
    * time attribute — keep-last dedup) or by a value column (either
    * direction — updating top-1) becomes an update-mode argmax: the
    * full row rides a struct through `max_by`/`min_by`, so each
    * micro-batch emits the key's current best row and an updating sink
    * (print changelog, keyed jdbc upsert) renders Flink's retraction
    * stream. Late rows land correctly — an earlier-timestamped arrival
    * simply loses the argmax, which keep-first Deduplicate gets wrong.
    * Ties keep whichever row the aggregation saw first (Spark
    * `max_by` semantics; Flink's tie is arrival-order-dependent too).
    * Every original attribute re-aliases to its own exprId from the
    * struct, and `rn` reconstructs as literal 1, so the pinning
    * Filter and outer projections resolve unchanged.
    */
  private def argmaxRewrite(
      rnAlias: Alias,
      keys: Seq[Attribute],
      order: org.apache.spark.sql.catalyst.expressions.SortOrder,
      child: LogicalPlan): LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.{
      CreateStruct, GetStructField, IsNotNull}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{MaxBy, MinBy}
    val rowStruct = CreateStruct(child.output)
    // max_by/min_by IGNORE rows whose ordering value is NULL — a key
    // whose rows are all NULL-ordered would emit a NULL-padded struct
    // where ROW_NUMBER still ranks a real row. Ordering by the struct
    // (IS NOT NULL, value) keeps every row rankable and reproduces the
    // batch ROW_NUMBER null placement: DESC → max → NULLs last,
    // ASC → min → NULLs first (Spark's default ASC NULLS FIRST).
    val orderKey = CreateStruct(Seq(IsNotNull(order.child), order.child))
    val fn =
      if (order.direction == Descending) MaxBy(rowStruct, orderKey)
      else MinBy(rowStruct, orderKey)
    val best = Alias(fn.toAggregateExpression(), "__graft_best")()
    val agg = Aggregate(keys, keys :+ best, child)
    val bestRef = best.toAttribute
    val keyIds = keys.map(_.exprId).toSet
    val restored = child.output.zipWithIndex.map { case (att, i) =>
      if (keyIds.contains(att.exprId)) att
      else Alias(GetStructField(bestRef, i, Some(att.name)),
        att.name)(exprId = att.exprId)
    }
    Project(restored :+
      Alias(Literal(1), rnAlias.name)(exprId = rnAlias.exprId), agg)
  }
}

/** Analysis-time rewrite of `COUNT(DISTINCT x)` to the mergeable HLL
  * sketch (`approx_count_distinct`) inside *streaming* aggregates.
  *
  * Spark's streaming aggregation rejects exact distinct aggregates
  * (state would be unbounded per group), but the reference fixture uses
  * `COUNT(DISTINCT)` in its streaming GROUP BY (test.sql:51). The
  * principled engine answer is this resolution rule: a streaming
  * `Count(distinct)` becomes `HyperLogLogPlusPlus` during analysis —
  * before the UnsupportedOperationChecker sees the plan at query start —
  * while batch plans are untouched. `sql-submit` keeps exact semantics
  * on two routes that never reach this rule: a GROUP BY under
  * `table.exec.state.ttl` ([[graft.harness.UnboundedAgg]]) and a
  * TUMBLE/HOP window-TVF aggregation on the pinned-window tracker
  * ([[graft.streaming.GridAggTracker]]).
  *
  * Gated by `graft.streaming.approx-distinct` (default true); `SET
  * graft.streaming.approx-distinct = false` to surface the native error
  * instead. Output attribute names and expr ids are preserved (the
  * rewrite happens under the existing Alias), so downstream resolution
  * is unaffected.
  */
case class StreamingApproxDistinct() extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!plan.isStreaming ||
        conf.getConfString("graft.streaming.approx-distinct", "true") != "true")
      return plan
    plan.resolveOperatorsUp {
      case agg: Aggregate if agg.child.isStreaming =>
        agg.transformExpressions {
          case AggregateExpression(c: Count, mode, true, filter, id)
              if c.children.size == 1 =>
            AggregateExpression(
              HyperLogLogPlusPlus(c.children.head), mode, isDistinct = false,
              filter, id)
        }
    }
  }
}
