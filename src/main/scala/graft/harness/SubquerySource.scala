package graft.harness

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation

/** Event-time LINEAGE resolution for a parenthesized streaming source
  * subquery — the r16 MATCH_RECOGNIZE technique, shared since r17 with
  * the OVER-aggregation and window-TVF passes so the law lives in one
  * place: a subquery source streams when it references exactly ONE
  * WATERMARK-declared table in relation position and projects that
  * table's event-time column. The subquery evaluates through
  * `spark.sql` (streaming lineage — the `EventTimeWatermark` plan node
  * rides the result), and the declared (column, delay) answers the
  * downstream pass's watermark lookup, exactly as the view registry
  * does for named views.
  */
private[harness] object SubquerySource {

  /** Resolves `inner` (the text between the parens) by lineage.
    * `what` names the calling surface in contract errors;
    * `watermarkOf` is the shared source/view watermark resolver.
    * Returns the evaluated DataFrame and the (event-time column,
    * delay) its lineage carries. */
  def resolve(
      spark: SparkSession,
      inner: String,
      watermarkOf: String => Option[(String, String)],
      what: String,
      fail: String => Nothing): (DataFrame, (String, String)) = {
    // watermarked tables among the parsed plan's relations, subqueries
    // and CTEs included (a column merely NAMED like a watermarked table
    // must not count). Dedup by TABLE NAME, not resolved (column,
    // delay): two tables with identical watermark spellings are still
    // two lineages.
    val wmTables = ScriptParser.parseQuery(inner).toSeq
      .flatMap(q => ScriptParser.nodesOf(q._2)).collect {
        case r: UnresolvedRelation => r.multipartIdentifier.mkString(".")
          .toLowerCase
      }.distinct.filter(t => watermarkOf(t).isDefined)
    if (wmTables.isEmpty)
      fail(s"streaming $what subquery source references no " +
        "WATERMARK-declared table — the event time must come from a " +
        "watermarked source")
    if (wmTables.size > 1)
      fail(s"streaming $what subquery source references multiple " +
        s"watermarked tables (${wmTables.mkString(", ")}) — one " +
        "event-time lineage is required")
    val wm = watermarkOf(wmTables.head).get
    val df =
      try spark.sql(inner)
      catch { case e: Exception =>
        fail(s"cannot evaluate $what subquery source: ${e.getMessage}")
      }
    if (!df.schema.fieldNames.exists(_.equalsIgnoreCase(wm._1)))
      fail(s"streaming $what subquery source must project the " +
        s"event-time column ${wm._1} (the watermark rides it)")
    (df, wm)
  }
}
