package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark

/** Watermark application that tolerates an upstream definition. A CLI
  * source view registers its DDL `WATERMARK FOR col` as a
  * `withWatermark` on the relation (SqlSubmitAction's source
  * decorations), and every stateful rewrite downstream needs one too —
  * but Spark disallows stacking a second `EventTimeWatermark` over the
  * first ("Redefining watermark is disallowed" once
  * `spark.sql.streaming.statefulOperator.allowMultiple` is on, the
  * default). The harness guarantees both definitions agree (the
  * rewrites resolve their event-time column and delay from the same
  * DDL via `watermarkOf`), so reusing the existing node is exact, not
  * an approximation; direct tracker invocations over raw views (the
  * spec pattern) still get the watermark applied here.
  */
object Watermarks {

  /** A stateful tracker's watermark probe: `(watermark ms, isFinal)`.
    * A bounded run executes the operator in batch, where
    * `getCurrentWatermarkMs` throws: the single invocation then holds
    * the key's whole input, so every window is final — Flink's
    * MAX_WATERMARK at the end of a bounded stream. */
  def current(state: org.apache.spark.sql.streaming.GroupState[_])
      : (Long, Boolean) =
    try (state.getCurrentWatermarkMs(), false)
    catch { case _: UnsupportedOperationException => (Long.MaxValue, true) }

  /** `ds.withWatermark(column, delay)` unless an existing event-time
    * watermark node already DEFINES this column — same attribute name,
    * or the column carries the event-time delay tag (how a rename or
    * cast of the watermarked attribute identifies itself: the harness
    * rewrites project the source's watermarked column to `ts` via
    * [[eventTimeCol]], which propagates the tag). A node on an
    * UNRELATED column is not a substitute — a direct caller asking
    * for a fresh, untagged column still gets its own watermark (an
    * upstream node on another attribute is legal input state, e.g. a
    * join side watermarked elsewhere). When the reused definition's
    * delay differs from the request, a warning logs the divergence —
    * stacking a second definition over one attribute is what Spark
    * rejects ("Redefining watermark is disallowed"), so the upstream
    * delay wins.
    */
  def ensure[T](ds: Dataset[T], column: String, delay: String): Dataset[T] = {
    val existing = ds.queryExecution.analyzed.collect {
      case e: EventTimeWatermark => e
    }
    val tagged = ds.schema.find(_.name.equalsIgnoreCase(column))
      .exists(_.metadata.contains(EventTimeWatermark.delayKey))
    // an existing node substitutes only when its attribute is STILL in
    // the output — a consumed upstream column that merely shares the
    // requested name (a windowed pre-agg whose source was also named
    // `ts`, r17 two-stage pipelines) must not suppress the fresh
    // definition the downstream stateful operator needs
    val outIds = ds.queryExecution.analyzed.output.map(_.exprId).toSet
    if (existing.isEmpty) ds.withWatermark(column, delay)
    else if (tagged ||
        existing.exists(e => e.eventTime.name.equalsIgnoreCase(column) &&
          outIds.contains(e.eventTime.exprId))) {
      val want = org.apache.spark.sql.catalyst.util.IntervalUtils
        .fromIntervalString(delay)
      if (!existing.exists(_.delay == want) && log.isWarnEnabled)
        log.warn(s"reusing existing watermark for $column (delays " +
          s"${existing.map(_.delay).mkString(", ")}) instead of " +
          s"requested $delay")
      ds
    } else if (isChained(ds)) {
      // CHAINED stage (r17): the relation already contains a streaming
      // stateful subtree (a windowed pre-agg view) whose emissions this
      // stage consumes. Defining a NEW watermark node here would start
      // at 0 and deadlock the min-policy global watermark (stage 1
      // then never emits, which never advances this node); the
      // upstream node keeps driving the query instead, and the caller
      // marks its tracker input never-late ([[neverLate]]) — sound
      // because every tracker emission is watermark-gated, Flink's
      // in-band propagation law.
      ds
    } else ds.withWatermark(column, delay)
  }

  /** The relation contains a streaming stateful subtree — its rows are
    * another stateful operator's EMISSIONS (a two-stage pipeline).
    * Drives the chained-stage handling in [[ensure]]/[[neverLate]] and
    * the CLI's single-watermark-propagation scope. */
  def isChained(ds: Dataset[_]): Boolean =
    ds.isStreaming && ds.queryExecution.analyzed.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.FlatMapGroupsWithState => true
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        a.child.isStreaming
      case d: org.apache.spark.sql.catalyst.plans.logical.Deduplicate =>
        d.child.isStreaming
      case _ => false
    }

  /** A far-future event-time-TAGGED sentinel column for a CHAINED
    * tracker's input. Spark's flatMapGroupsWithState (a) requires a
    * delay-tagged attribute in its child output for event-time
    * timeouts and (b) DROPS input rows whose tagged column is behind
    * the late-events watermark — but a chained tracker's input rows
    * are an upstream stateful operator's watermark-gated emissions,
    * which arrive exactly when they cross the watermark and must NOT
    * be dropped (Flink's in-band watermark propagation never drops an
    * operator's own output). The sentinel satisfies (a) while making
    * (b) pass every row; maturity still reads the real event time
    * against `GroupState.getCurrentWatermarkMs`, driven by the
    * SOURCE's watermark node under single-watermark propagation.
    */
  val NeverLateCol = "__graft_never_late"

  def neverLate: org.apache.spark.sql.Column = {
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(EventTimeWatermark.delayKey, 0L).build()
    org.apache.spark.sql.functions
      .lit(java.sql.Timestamp.valueOf("9999-01-01 00:00:00"))
      .as(NeverLateCol, md)
  }

  private lazy val log =
    org.slf4j.LoggerFactory.getLogger(Watermarks.getClass)

  /** `col(column).cast("timestamp").as(alias)`, carrying the column's
    * event-time watermark tag (if any) through the cast. A plain cast
    * alias drops attribute metadata, and `flatMapGroupsWithState` with
    * an event-time timeout requires a delay-tagged attribute in its
    * child output even when the watermark node itself sits upstream of
    * the projection — without the tag, a tracker over a
    * source-watermarked relation fails analysis.
    */
  def eventTimeCol(df: org.apache.spark.sql.DataFrame, column: String,
      alias: String): org.apache.spark.sql.Column = {
    val c = org.apache.spark.sql.functions.col(column).cast("timestamp")
    df.schema.find(_.name.equalsIgnoreCase(column))
      .filter(_.metadata.contains(EventTimeWatermark.delayKey))
      .map(f => c.as(alias, f.metadata))
      .getOrElse(c.as(alias))
  }
}
