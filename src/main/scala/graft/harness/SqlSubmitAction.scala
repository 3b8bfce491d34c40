package graft.harness

import graft.harness.connectors.{Datagen, PrintSink}
import graft.harness.ddl.{DdlParser, TableDef}
import org.apache.spark.SparkConf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.collection.mutable

/** The `sql-submit` action on Spark: load a SQL script (local or HDFS),
  * strip comments, split statements, substitute `${var}`s, classify, and
  * dispatch each statement — mirroring `SQLSubmitAction.java:50-83`
  * including the exact skip semantics (UNSET/EXPLAIN/UNKNOWN are logged
  * and skipped, `:69-73`) and per-statement error wrapping (`:78-81`).
  *
  * Engine-specific DDL (`CREATE TABLE ... WITH ('connector'= ...)`) is
  * intercepted by the DDL shim; everything else goes to `spark.sql`.
  */
final class SqlSubmitAction(
    sqlFile: String,
    variables: Map[String, String],
    existingSession: Option[SparkSession] = None,
    /** Print at most this many rows for batch SELECT (mirror of Flink's
      * client-side print, which streams; we bound it).
      */
    printLimit: Int = 1000,
    /** If >0, stop any still-running streaming queries after this many
      * seconds instead of blocking forever.
      */
    durationSec: Long = 0L)
    extends Action {

  /** Engine catalog of connector tables registered by the shim. */
  val sources: mutable.Map[String, TableDef] = mutable.LinkedHashMap.empty
  val sinks: mutable.Map[String, TableDef] = mutable.LinkedHashMap.empty
  val started: mutable.Buffer[StreamingQuery] = mutable.Buffer.empty

  /** Event-time propagation through views (r16): Flink keeps a time
    * attribute across a view whose projection carries it, so the
    * streaming rewrites (OVER aggregation, window TVFs,
    * MATCH_RECOGNIZE, top-N — everything resolving through
    * [[watermarkOf]]) must accept a registered view wherever they
    * accept a declared table. `CREATE [TEMPORARY] VIEW v AS SELECT ...
    * FROM <watermarked relation> [WHERE ...]` records v → (the OUTPUT
    * name the attribute rides out under, the relation's delay) when
    * the single-table body keeps the attribute as a SIMPLE projection
    * item — by name, under `SELECT *`, or under a plain alias
    * (`row_time AS rt` keeps the attribute a time attribute named rt,
    * exactly Flink's propagation rule: aliases preserve, expressions
    * drop). A join/aggregation around it, or wrapping it in any
    * expression, drops the record — those views stay plain relations
    * and the downstream pass raises its named needs-a-WATERMARK
    * error; DROP VIEW / CREATE OR REPLACE evict. Registered views
    * resolve through [[watermarkOf]] themselves, so views CHAIN. The
    * underlying `EventTimeWatermark` plan node rides the view
    * regardless on streaming sources —
    * [[graft.streaming.Watermarks.ensure]] reuses it — so the record
    * here only answers the REWRITES' column/delay lookup (bounded
    * sources run as batch with MAX_WATERMARK-at-end semantics and
    * carry no plan node, which is why the record keys on the
    * PROJECTION, not on Spark's streaming-only delay tag).
    */
  private val viewWatermarks: mutable.Map[String, (String, String)] =
    mutable.LinkedHashMap.empty

  /** Test seam: the registered (rowtime column, delay) of a view, if
    * any — registration is otherwise observable only through a
    * downstream streaming statement's behavior, and some guarded
    * shapes (a batch-created temporal view with an extra regular
    * join) have no streaming consumer to observe them through.
    */
  private[harness] def registeredRowtimeOf(
      view: String): Option[(String, String)] =
    viewWatermarks.keys.find(_.equalsIgnoreCase(view)).map(viewWatermarks)

  /** Test seam: whether the derived history relation `hist` currently
    * holds a VersionMeta entry — eviction on DROP/REPLACE VIEW is
    * otherwise unobservable (r20 advice: stale entries must not
    * outlive their view). */
  private[harness] def versionedHistoryRegistered(hist: String): Boolean =
    versionedHistoryMeta.keys.exists(_.equalsIgnoreCase(hist))

  /** Test seam: the names of the streaming queries this run started —
    * the shared-intermediate contract (one materialization per view
    * per run) is observable as exactly one `graft_mat_*`-named query
    * among them. */
  private[harness] def startedQueryNames: Seq[String] =
    started.map(_.name).toSeq

  /** Versioned VIEWS (r19): a `ROW_NUMBER ... rn = 1` deduplication
    * view over a watermarked, primary-key-inferable source is a valid
    * `FOR SYSTEM_TIME AS OF` version side in Flink (pass-through
    * surface). Recorded at CREATE VIEW when the body matches
    * [[TemporalJoin.versionedViewOf]] AND the ORDER BY column IS the
    * source's watermark column (Flink requires a time attribute) AND
    * the projection keeps the key + time columns the join needs.
    * Temporal joins then rewrite against the view's HISTORY (a
    * projection of the source — the rn = 1 output holds only the
    * latest version), registered under a `graft_vv_` name whose
    * VersionMeta rides [[versionedHistoryMeta]].
    */
  private val versionedViews:
      mutable.Map[String, TemporalJoin.VersionedView] =
    mutable.LinkedHashMap.empty
  private val versionedHistoryMeta:
      mutable.Map[String, TemporalJoin.VersionMeta] =
    mutable.LinkedHashMap.empty

  /** CREATE VIEW bodies by lowercased view name — the durable
    * auto-split intermediate's stable identity hashes the DEFINITION,
    * so a restarted script resumes the same directory only while the
    * view still means the same thing (r20). */
  private val viewDefs: mutable.Map[String, String] =
    mutable.LinkedHashMap.empty

  /** One managed auto-split intermediate per (stateful view, run),
    * keyed by lowercased view name: a second updating statement over
    * the same view (a statement set fan-out) reuses the running
    * materialization instead of paying its state and compute twice —
    * Flink shares the stage (r20). Evicted with the view: statements
    * after a CREATE OR REPLACE must not read the old definition's
    * intermediate. */
  private val autoSplitMats: mutable.Map[String, String] =
    mutable.LinkedHashMap.empty

  // the column-alias list tolerates COMMENT clauses (shared fragment,
  // DdlParser.ColListInner — quoted strings may hold parens)
  private val CreateViewRe = (raw"(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?" +
    raw"(?:TEMPORARY\s+)?VIEW\s+(IF\s+NOT\s+EXISTS\s+)?([\w.`]+)" +
    raw"\s*(?:\((${DdlParser.ColListInner})\))?\s*AS\b(.*)$$").r

  /** Leading identifier of a column-alias-list item — the alias name
    * ahead of any COMMENT clause. */
  private val ColListItemRe = raw"(?s)^\s*(`[^`]+`|[A-Za-z_]\w*)".r
  private val DropViewRe = (raw"(?is)^\s*DROP\s+(?:TEMPORARY\s+)?VIEW\s+" +
    raw"(?:IF\s+EXISTS\s+)?([\w.`]+)\s*;?\s*$$").r
  private val ViewBodyRe = (raw"(?is)^\s*SELECT\s+(.+?)\s+" +
    raw"FROM\s+([A-Za-z_][\w.]*)(?:\s+(?:AS\s+)?(?!WHERE\b)[A-Za-z_]\w*)?" +
    raw"(?:\s+WHERE\b.*)?;?\s*$$").r

  /** A select-list item that is a SIMPLE projection of one column:
    * `[tbl.]col`, `[tbl.]col AS alias`, or `[tbl.]col alias` — the
    * shapes under which a time attribute survives a view (any real
    * expression around it drops the attribute, per Flink). Group 1 is
    * the optional qualifier, group 2 the source column, group 3 the
    * output alias (absent = same name).
    */
  private val SimpleItemRe = (raw"(?is)^(?:([A-Za-z_]\w*)\.)?([A-Za-z_]\w*)" +
    raw"(?:\s+(?:AS\s+)?([A-Za-z_]\w*))?$$").r

  private val QualStarRe = raw"(?s)^([A-Za-z_]\w*)\.\*$$".r

  /** Paren depth just before index `idx` of (masked) text — used to
    * tell a TOP-LEVEL `FROM`/`JOIN` relation position from one inside
    * a subquery. */
  private def depthAt(s: String, idx: Int): Int = {
    var d = 0
    var i = 0
    while (i < idx) {
      s.charAt(i) match {
        case '(' => d += 1
        case ')' => d -= 1
        case _ =>
      }
      i += 1
    }
    d
  }

  /** The output name the event-time column `col` rides out of this
    * view under, if any: the select-list item that is the column
    * itself (by name or `*`/`tbl.*`) or a plain alias of it — a
    * keep-by-name item wins over aliased duplicates. `qualifierOk`
    * gates QUALIFIED references (`s.row_time`, `s.*`) to the
    * relation(s) that actually carry the attribute — on a join body,
    * `d.row_time` naming a DIM column of the same name must not pose
    * as the stream's attribute. Unqualified references are safe on
    * joins too: had both sides carried the name, the CREATE VIEW
    * itself would have failed as ambiguous. An optional `CREATE VIEW
    * v (a, b, ...)` column-alias list renames POSITIONALLY, so the
    * attribute's output name is the list entry at the item's index —
    * unknowable when a star item shifts positions, in which case the
    * view stays unrecorded (conservative). */
  private def propagatedName(selectList: String, col: String,
      qualifierOk: String => Boolean = _ => true,
      colList: Option[Seq[String]] = None): Option[String] = {
    val items = MatchRecognize.splitTopLevel(selectList)
    val hits = items.zipWithIndex.flatMap {
      case ("*", i) => Some((i, col))
      case (QualStarRe(q), i) if qualifierOk(q) => Some((i, col))
      case (SimpleItemRe(qual, src, alias), i)
          if src.equalsIgnoreCase(col) &&
            Option(qual).forall(qualifierOk) =>
        Some((i, Option(alias).getOrElse(src)))
      case _ => None
    }
    val hit = hits.find(_._2.equalsIgnoreCase(col)).orElse(hits.headOption)
    hit.flatMap { case (i, nm) =>
      colList match {
        case None => Some(nm)
        case Some(cl) =>
          val hasStar = items.exists(it =>
            it == "*" || QualStarRe.findFirstIn(it).isDefined)
          if (hasStar) None else cl.lift(i)
      }
    }
  }

  /** True when this CREATE VIEW statement is a Spark NO-OP: an
    * `IF NOT EXISTS` form whose view already exists keeps the OLD
    * definition, so the registry must not be updated from the NEW
    * statement's text. Checked BEFORE execution. */
  private def isViewCreateNoOp(spark: SparkSession, sql: String): Boolean =
    CreateViewRe.findFirstMatchIn(sql).exists(m =>
      m.group(1) != null && scala.util.Try(
        spark.catalog.tableExists(DdlParser.unquoteName(m.group(2))))
        .getOrElse(false))

  /** Tracks CREATE/DROP VIEW statements' effect on the event-time
    * registry; called after the statement executed (so the view
    * exists and its resolved schema is inspectable). A view records
    * only when the attribute rides a SIMPLE projection item
    * ([[propagatedName]]) — so `row_time AS rt` records rt (r16:
    * Flink's alias propagation) while a DIFFERENT column renamed onto
    * the source's event-time name is an expression item and stays
    * unrecorded: the projection lineage, not the output name,
    * decides. When the view keeps the source name, that field wins
    * over aliased duplicates (`SELECT row_time, row_time AS rt2`
    * records row_time). */
  private def recordViewWatermark(spark: SparkSession, sql: String): Unit = {
    def evict(name: String): Unit = {
      viewWatermarks.keys.find(_.equalsIgnoreCase(name))
        .foreach(viewWatermarks.remove(_): Unit)
      versionedViews.keys.find(_.equalsIgnoreCase(name))
        .foreach(versionedViews.remove(_): Unit)
      // the derived history entry must not outlive its view: a stale
      // graft_vv_* VersionMeta could otherwise shadow a later relation
      // of the same name through versionMetaOf's orElse (r20 advice)
      versionedHistoryMeta.remove(TemporalJoin.historyNameOf(name)): Unit
      viewDefs.remove(name.toLowerCase): Unit
      autoSplitMats.remove(name.toLowerCase): Unit
    }
    DropViewRe.findFirstMatchIn(sql).foreach(m =>
      evict(DdlParser.unquoteName(m.group(1))))
    CreateViewRe.findFirstMatchIn(sql).foreach { m =>
      val name = DdlParser.unquoteName(m.group(2))
      evict(name)
      val colList = Option(m.group(3)).map(cl =>
        MatchRecognize.splitTopLevel(cl).map(it =>
          ColListItemRe.findFirstMatchIn(it)
            .map(mm => DdlParser.unquoteName(mm.group(1)))
            .getOrElse(it)))
      val raw = m.group(4)
      viewDefs(name.toLowerCase) = raw.trim
      // KEYWORD guards run on the raw body MASKED (a backtick-quoted
      // column named `union` or `join` is blanked and cannot trip a
      // keyword test); STRUCTURE scans run on the body with simple
      // backtick quotes stripped first and THEN masked, so a
      // backticked relation (`FROM \`psrc\``) or projection item
      // (`\`row_time\``) still reads as its identifier while string
      // literals stay blanked. Offsets of the scan body align 1:1
      // with the unticked raw text for select-list slicing.
      val guardBody = MatchRecognize.maskQuoted(raw)
      val unticked = untick(raw)
      val body = MatchRecognize.maskQuoted(unticked)
      // versioned-view detection (r19): the dedup shape over a
      // watermarked relation — a DDL table OR a registered view whose
      // propagated rowtime is the ORDER BY column (Flink accepts
      // dedup views over views) — with the key + time columns
      // projected (the temporal rewrite needs both on the history
      // relation; checked by SOURCE name since r20, when in-body `AS`
      // renames became legal — the derived history view and its
      // VersionMeta carry the renamed outputs). A `CREATE VIEW v (a,
      // b, ...)` column-alias list renames POSITIONALLY, composing
      // onto the items the same way (r20; a length mismatch would
      // have failed the CREATE itself — guarded anyway).
      for {
        vv0 <- TemporalJoin.versionedViewOf(unticked)
        if colList.forall(_.length == vv0.items.length)
        // the list's names feed engine-GENERATED history-view SQL, so
        // they must pass the same identifier charset the in-body
        // alias parse enforces (r20 review: a backticked multi-word
        // alias would otherwise parse-fail text the user never wrote)
        if colList.forall(_.forall(_.matches(GeneratedSqlIdent)))
        vv = colList match {
          case Some(cl) => vv0.copy(items = vv0.items.map(_._1).zip(cl))
          case None => vv0
        }
        (wmCol, _) <- watermarkOf(vv.srcTable)
        if wmCol.equalsIgnoreCase(vv.timeCol)
        if vv.primaryKey.forall(k =>
          vv.items.exists(_._1.equalsIgnoreCase(k)))
        if vv.items.exists(_._1.equalsIgnoreCase(vv.timeCol))
      } versionedViews(name) = vv
      // a set op has no single propagated time attribute to speak for;
      // a plain GROUP BY drops rowtime too (Flink) — EXCEPT the
      // window-TVF aggregation, whose window_time output IS a rowtime
      // attribute (Flink emits it as one, enabling two-stage streaming
      // pipelines: windowed pre-agg → OVER/top-N/another window)
      val hasSetOp = raw"(?is)\b(UNION|INTERSECT|EXCEPT)\b".r
        .findFirstIn(guardBody).isDefined
      val hasGroupBy = raw"(?is)\bGROUP\s+BY\b".r
        .findFirstIn(guardBody).isDefined
      // Flink drops time attributes through REGULAR joins — the plain
      // branch routes such bodies through recordJoinViewWatermark's
      // stream-static validation, and the pattern/temporal branches
      // must not register past one either (r19, advice): a pattern
      // view counts any JOIN as regular (MATCH_RECOGNIZE carries
      // none of its own); a temporal-join view registers only when
      // every join of its parsed body is temporal; an IMPLICIT comma
      // join in the FROM region counts for every branch (r19 review —
      // `FROM t, dim` is the same regular join). Such views stay
      // unregistered — fail closed,
      // the downstream pass raises its named needs-a-WATERMARK
      // error, matching Flink's rejection of a window over a dropped
      // attribute. Deliberate asymmetry vs the plain branch: a
      // stream-static JOIN view registers there via the harness's
      // r16 lookup-join mapping (a documented superset of Flink's
      // law); the pattern/temporal branches stay on the letter of
      // the law instead — their output already rides tracker
      // mechanics, and widening a superset around those is not worth
      // the drift risk.
      val joinKeywords = raw"(?is)\bJOIN\b".r.findAllIn(guardBody).size
      val hasCommaJoin = hasTopLevelFromComma(guardBody)
      if (MatchRecognize.hasMatchRecognize(guardBody)) {
        // pattern-output view (r18): Flink's MATCH_ROWTIME() measure
        // is a rowtime attribute of the MATCH_RECOGNIZE output, so a
        // view projecting it feeds a downstream window/OVER/top-N/
        // temporal probe — the chained-stage mechanics
        // (Watermarks.isChained over the tracker's
        // flatMapGroupsWithState, never-late input, single-watermark
        // propagation) handle the streaming execution; this record
        // answers the downstream rewrite's column/delay lookup. The
        // projection rule is the same SIMPLE-item law as plain views.
        // The delay is the pattern SOURCE's — conservative, since
        // tracker emissions are watermark-gated and non-decreasing.
        // A GROUP BY around the pattern drops the attribute (Flink's
        // aggregation law — only window-TVF aggs keep one, and those
        // bodies carry no MATCH_RECOGNIZE text of their own).
        if (!hasSetOp && !hasGroupBy && joinKeywords == 0 &&
            !hasCommaJoin)
          for {
            (srcName, mrtAlias) <- MatchRecognize.rowtimeMeasureOf(unticked)
            (_, delay) <- watermarkOf(srcName)
          } registerSimpleAttr(spark, name, body, unticked, colList,
            mrtAlias, delay)
      } else if (TemporalJoin.hasTemporalJoin(guardBody)) {
        // temporal-join view (r18): Flink preserves the PROBE side's
        // rowtime through FOR SYSTEM_TIME AS OF, so a view over the
        // join feeds a downstream window/OVER/top-N when its
        // projection keeps the probe's event-time column as a SIMPLE
        // item qualified by the probe alias (or bare / starred). The
        // chained-stage mechanics run the streaming execution (the
        // view's stored plan holds the tracker); this record answers
        // the downstream rewrite's column/delay lookup, in batch too
        // (the interval-ized rewrite keeps the probe columns).
        if (!hasSetOp && !hasGroupBy)
          for {
            (pTable, pAlias) <- TemporalJoin.probeOf(unticked)
            (col, delay) <- watermarkOf(pTable)
          } registerSimpleAttr(spark, name, body, unticked, colList,
            col, delay,
            qualifierOk = q => q.equalsIgnoreCase(pAlias) ||
              q.equalsIgnoreCase(pTable))
      } else if (!hasSetOp && !hasGroupBy) {
        if (joinKeywords == 0 && !hasCommaJoin) {
          for {
            bm <- ViewBodyRe.findFirstMatchIn(body)
            (col, delay) <- watermarkOf(bm.group(2))
            out <- propagatedName(
              unticked.substring(bm.start(1), bm.end(1)), col,
              colList = colList)
            // sanity: the resolved view really exposes that field
            if scala.util.Try(spark.table(name).schema).toOption
              .exists(_.exists(_.name.equalsIgnoreCase(out)))
          } viewWatermarks(name) = (out, delay)
        } else recordJoinViewWatermark(spark, name, unticked, body, colList)
      } else if (!hasSetOp && hasGroupBy &&
          WindowTvf.hasWindowTvf(guardBody) &&
          joinKeywords == 0 && !hasCommaJoin) {
        // window-TVF aggregation view: record (view -> window_time's
        // output name, the TVF SOURCE's delay). The source delay is
        // conservative — windows emit watermark-gated, so window_time
        // is globally non-decreasing across batches and any
        // non-negative delay is drop-safe downstream. The projection
        // rule is the same SIMPLE-item law as plain views: an
        // expression around window_time drops the attribute. The
        // downstream pass handles the chained-stateful mechanics
        // (never-late input, single-watermark propagation) — see
        // [[graft.streaming.Watermarks.neverLate]].
        for {
          src <- WindowTvf.tvfSourceName(unticked)
          (_, delay) <- watermarkOf(src)
        } registerSimpleAttr(spark, name, body, unticked, colList,
          "window_time", delay)
      }
    }
  }

  /** True when ANY FROM region in the body carries a comma at that
    * region's own paren depth — an IMPLICIT (comma) regular join,
    * which drops time attributes in Flink exactly like the JOIN
    * keyword (r19 review; generalized past the top level in the same
    * round's second pass: the JOIN-keyword guard counts at any depth,
    * and a comma join one subquery down drops the attribute just the
    * same). Each region's scan stops at the region's closing paren or
    * at a clause keyword AT ITS DEPTH (GROUP BY / ORDER BY lists
    * carry legal commas); select-list commas sit before the FROM, and
    * MATCH_RECOGNIZE / TVF / function-argument commas sit deeper.
    * EXTRACT/TRIM/SUBSTRING(... FROM ...) regions are comma-free
    * forms. Runs on masked text.
    */
  private def hasTopLevelFromComma(body: String): Boolean =
    fromRegionCommas(body).nonEmpty

  /** Indices of every comma sitting at a FROM region's own paren depth
    * — the IMPLICIT-join relation commas. Each region's scan stops at
    * the region's closing paren or at a clause keyword AT ITS DEPTH
    * (GROUP BY / ORDER BY lists carry legal commas that are NOT
    * relation positions — r20 advice: the relation-scan regex's bare
    * `,\s*` alternative matched those too, so an ORDER BY item that
    * coincided with a watermarked relation name inflated the lookup-
    * shape count and silently skipped registering a legitimate view).
    * Select-list commas sit before the FROM, and MATCH_RECOGNIZE /
    * TVF / function-argument commas sit deeper. Runs on masked text.
    */
  private def fromRegionCommas(body: String): Set[Int] = {
    val clauses = Set("WHERE", "GROUP", "HAVING", "ORDER", "LIMIT",
      "UNION", "INTERSECT", "EXCEPT", "WINDOW")
    val found = Set.newBuilder[Int]
    raw"(?is)(?<![\w.])FROM\b".r.findAllMatchIn(body).foreach { m =>
      val d0 = depthAt(body, m.start)
      var depth = d0
      var i = m.end
      var stop = false
      while (i < body.length && !stop) {
        body.charAt(i) match {
          case '(' => depth += 1; i += 1
          case ')' =>
            depth -= 1
            if (depth < d0) stop = true else i += 1
          case ',' if depth == d0 => found += i; i += 1
          case c if (c.isLetter || c == '_') && depth == d0 =>
            val s = i
            while (i < body.length &&
              (body.charAt(i).isLetterOrDigit || body.charAt(i) == '_'))
              i += 1
            if (s > 0 && body.charAt(s - 1) != '.' &&
              clauses(body.substring(s, i).toUpperCase)) stop = true
          case _ => i += 1
        }
      }
    }
    found.result()
  }

  /** Shared tail of the rowtime-carrying view-registration branches
    * (window-TVF `window_time`, MATCH_ROWTIME pattern views,
    * temporal-join probe views): resolves the attribute `col` through
    * the body's SELECT levels, sanity-checks the created view really
    * exposes the resolved output name, and records (out, delay).
    *
    * Levels resolve STRUCTURALLY, the way Flink applies its
    * projection law per SELECT level: when a level's FROM target is a
    * parenthesized subquery — `SELECT * FROM (SELECT ... FROM t
    * MATCH_RECOGNIZE(...)) w` — the walk peels it, requires the tail
    * after the subquery to be only an optional alias plus an optional
    * clean WHERE (a top-level JOIN / GROUP BY / ORDER BY / LIMIT /
    * set op at a wrapper level drops the attribute; a filter keeps
    * it), and folds the attribute name inside-out through every
    * level's SIMPLE-item law. A level that wraps the attribute in an
    * EXPRESSION (`mrt + INTERVAL '1' HOUR AS mrt`) fails its
    * propagatedName and the view stays unregistered — the downstream
    * pass then raises its named needs-a-WATERMARK error, never the
    * silent wrong-window risk of registering a shifted column.
    * Slicing runs on body (masked unticked) with raw item text
    * re-read from unticked at the same offsets; the walk is
    * structural, so no keyword counting can be tripped by quoted
    * text. */
  private def registerSimpleAttr(spark: SparkSession, name: String,
      body: String, unticked: String,
      colList: Option[Seq[String]], col: String, delay: String,
      qualifierOk: String => Boolean = _ => true): Unit = {
    // tail after a wrapper's closing paren: an optional alias, then
    // the remainder (must be empty or a clean WHERE — checked below)
    val WrapTailRe =
      raw"(?is)^(?:\s+(?:AS\s+)?(?!WHERE\b)([A-Za-z_]\w*))?\s*(.*)$$".r
    // one (selectList, qualifier law) per level, OUTERMOST first. A
    // wrapper level's items may qualify with its own subquery alias
    // (`SELECT w.mrt FROM (...) w`); the innermost level's items with
    // the branch's relations (the caller's qualifierOk).
    def collect(b: String, u: String, depth: Int)
        : Option[List[(String, String => Boolean)]] = {
      if (depth > 5) return None
      // the FROM target begins past whitespace AND block comments —
      // `FROM /* hint */ (SELECT ...)` is still a wrapper, and must
      // never be misread as an innermost level (that would skip the
      // inner list's simple-item check entirely). Known bound: b is
      // quote-MASKED by the comment-UNAWARE maskQuoted, so a comment
      // containing a quote char blanks past its own `*/` — the scan
      // then finds no close and the guard below fails CLOSED
      // (unregistered + the named error downstream, never a silent
      // mis-register); the same limitation governs every masked-text
      // scan in this file
      def targetStart(from: Int): Int = {
        var i = from
        var go = true
        while (go) {
          while (i < b.length && b.charAt(i).isWhitespace) i += 1
          if (i + 1 < b.length && b.charAt(i) == '/' &&
              b.charAt(i + 1) == '*') {
            val e = b.indexOf("*/", i + 2)
            i = if (e < 0) b.length else e + 2
          } else go = false
        }
        i
      }
      for {
        selM <- raw"(?is)^\s*SELECT\s+".r.findFirstMatchIn(b)
        fromIdx <- WindowTvf.findTopLevel(b, selM.end, "FROM")
        list = u.substring(selM.end, fromIdx).trim
        targetIdx = targetStart(fromIdx + 4)
        // fail CLOSED on anything that is neither a subquery paren nor
        // a relation token — an unrecognized target must leave the
        // view unregistered, never default to the innermost-level law
        if targetIdx < b.length && (b.charAt(targetIdx) == '(' ||
          b.charAt(targetIdx).isLetter || b.charAt(targetIdx) == '_' ||
          b.charAt(targetIdx) == '`')
        lvls <-
          if (b.charAt(targetIdx) != '(')
            Some(List((list, qualifierOk))) // innermost level
          else
            for {
              close <- scala.util.Try(
                MatchRecognize.closeParen(b, targetIdx)).toOption
              tm <- WrapTailRe.findFirstMatchIn(b.substring(close))
              tail = tm.group(2).trim
              // a top-level JOIN / GROUP BY / ORDER BY / LIMIT / set
              // op around the wrapper drops the attribute; a plain
              // WHERE keeps it (filters preserve rowtime)
              if tail.isEmpty || (raw"(?is)^WHERE\b".r
                .findFirstIn(tail).isDefined &&
                Seq("GROUP", "ORDER", "UNION", "INTERSECT", "EXCEPT",
                  "JOIN", "LIMIT")
                  .forall(k => WindowTvf.findTopLevel(tail, 0, k).isEmpty))
              inner <- collect(b.substring(targetIdx + 1, close - 1),
                u.substring(targetIdx + 1, close - 1), depth + 1)
              alias = Option(tm.group(1))
            } yield (list,
              (q: String) => alias.exists(_.equalsIgnoreCase(q))) :: inner
      } yield lvls
    }
    for {
      lvls <- collect(body, unticked, 0)
      // the attribute flows inner -> outer: fold innermost-first; the
      // view's declared column-alias list renames the OUTERMOST level
      ordered = lvls.reverse
      out <- ordered.zipWithIndex.foldLeft(Option(col)) {
        case (acc, ((list, q), i)) => acc.flatMap(n =>
          propagatedName(list, n, q,
            if (i == ordered.length - 1) colList else None))
      }
      if scala.util.Try(spark.table(name).schema).toOption
        .exists(_.exists(_.name.equalsIgnoreCase(out)))
    } viewWatermarks(name) = (out, delay)
  }

  /** Strips backtick quotes around SIMPLE identifiers. Applied to raw
    * select-list slices only — never to text a keyword test runs on. */
  private def untick(s: String): String =
    raw"`([A-Za-z_]\w*)`".r.replaceAllIn(s, mm => mm.group(1))

  /** The identifier charset every name feeding engine-GENERATED SQL
    * must pass (auto-split DDL columns, enrichment dim columns,
    * versioned-view column-alias lists) — one constant, so the guards
    * can never desynchronize (second review pass). */
  private val GeneratedSqlIdent = raw"^[A-Za-z_]\w*$$"

  /** Relations named in FROM/JOIN positions with their optional alias.
    * The negative lookahead keeps join keywords and ON/WHERE from
    * being read as an alias. */
  // a relation position opens after FROM/JOIN — or after a COMMA (the
  // implicit-join list, r19 review: `FROM s1 a, s2 b` must count BOTH
  // relations, or a stream-stream comma join would undercount to the
  // one-watermarked-relation lookup shape and register)
  private val RelWithAliasRe = (raw"(?is)(?:(?<!\.)\b(?:FROM|JOIN)\s+|,\s*)" +
    raw"([A-Za-z_][\w.]*)(?:\s+(?:AS\s+)?" +
    raw"(?!ON\b|WHERE\b|JOIN\b|LEFT\b|RIGHT\b|FULL\b|INNER\b|CROSS\b|" +
    raw"USING\b|GROUP\b|ORDER\b|LIMIT\b)([A-Za-z_]\w*))?").r

  /** JOIN view bodies: Spark's stream-static join is the analogue of
    * Flink's LOOKUP join (the static side is re-read per micro-batch —
    * processing-time enrichment), and a lookup join PRESERVES the
    * stream side's rowtime attribute, so a view like
    * `SELECT s.id, s.row_time, d.tag FROM stream s JOIN dim d ON ...`
    * records the stream's (column, delay) — renamed or starred items
    * ride [[propagatedName]] with qualifier gating (once the stream
    * relation is aliased, ONLY the alias qualifies: a dim aliased
    * with the stream's table name must not pose). A regular
    * stream-STREAM join keeps the named rejection (Flink drops
    * rowtime through regular joins, and so does this registry):
    * exactly one FROM/JOIN relation may resolve through
    * [[watermarkOf]] ANYWHERE in the FROM tail — subqueries included,
    * so a second watermarked relation hidden behind `JOIN (SELECT
    * ...)` still rejects — and on an unbounded run the analyzed plan
    * must additionally carry exactly one streaming leaf (a bounded
    * run executes as batch with MAX_WATERMARK-at-end semantics, where
    * the single watermarked relation IS the structural evidence).
    * Relation and select-list scanning is quote- and
    * paren-depth-aware — the `FROM` inside `EXTRACT(DAY FROM ts)`, a
    * string literal, or a qualified `s.from` column never truncates
    * the list or anchors a relation scan. */
  private def recordJoinViewWatermark(spark: SparkSession, name: String,
      raw: String, body: String, colList: Option[Seq[String]]): Unit = {
    val fromIdxOpt = WindowTvf.findTopLevel(body, 0, "FROM")
    if (fromIdxOpt.isEmpty) return
    val fromIdx = fromIdxOpt.get
    val selectList = raw"(?is)^\s*SELECT\s+".r.findFirstMatchIn(body)
      .filter(_.end <= fromIdx)
      .map(sm => untick(raw.substring(sm.end, fromIdx)).trim)
    val tail = body.substring(fromIdx)
    // a COMMA-anchored match is a relation position only when its
    // comma is a FROM-region relation comma (the implicit-join list);
    // the regex's bare `,\s*` alternative would otherwise read an
    // ORDER BY / select-list item that happens to carry a watermarked
    // relation's name as another relation, inflating the lookup-shape
    // count and skipping a legitimate registration (r20 advice)
    val relCommas = fromRegionCommas(tail)
    val relMatches = RelWithAliasRe.findAllMatchIn(tail).toSeq
      .filter(mm => tail.charAt(mm.start) != ',' || relCommas(mm.start))
    // the lookup-shape gate counts watermarked relations at ANY depth
    // — but a parenthesized position is a RELATION position only
    // inside a SUBQUERY (a SELECT between the innermost unclosed
    // paren and the match); the FROM of EXTRACT/TRIM/SUBSTRING whose
    // operand collides with a watermarked name must not count
    def inSubquery(idx: Int): Boolean = {
      var depth = 0
      var i = idx - 1
      var open = -1
      while (i >= 0 && open < 0) {
        tail.charAt(i) match {
          case ')' => depth += 1
          case '(' => if (depth == 0) open = i else depth -= 1
          case _ =>
        }
        i -= 1
      }
      open >= 0 && raw"(?is)\bSELECT\b".r
        .findFirstIn(tail.substring(open + 1, idx)).isDefined
    }
    val wmAny = relMatches.count(mm =>
      watermarkOf(mm.group(1)).isDefined &&
        (depthAt(tail, mm.start) == 0 || inSubquery(mm.start)))
    val wmRels = relMatches
      .filter(mm => depthAt(tail, mm.start) == 0)
      .map(mm => (mm.group(1), Option(mm.group(2))))
      .flatMap { case (rel, alias) =>
        watermarkOf(rel).map(wd => (rel, alias, wd)) }
    (wmRels, selectList) match {
      case (Seq((rel, alias, (col, delay))), Some(items)) if wmAny == 1 =>
        val streamName = alias.getOrElse(rel).toLowerCase
        for {
          out <- propagatedName(items, col,
            q => q.toLowerCase == streamName, colList)
          df <- scala.util.Try(spark.table(name)).toOption
          if !df.isStreaming || df.queryExecution.analyzed
            .collectLeaves().count(_.isStreaming) == 1
          if df.schema.exists(_.name.equalsIgnoreCase(out))
        } viewWatermarks(name) = (out, delay)
      case _ => // zero or 2+ watermarked relations: not a lookup shape
    }
  }

  private val ShowCreateRe =
    raw"(?is)^\s*SHOW\s+CREATE\s+TABLE\s+([\w.`]+)\s*;?\s*$$".r

  private val CatalogDdlRe =
    raw"(?is)^\s*(CREATE|DROP|ALTER|USE)\s+CATALOG\b".r

  private val UseCatalogRe =
    raw"(?is)^\s*USE\s+CATALOG\s+([\w`]+)\s*;?\s*$$".r

  private val DescTableRe =
    raw"(?is)^\s*DESC(?:RIBE)?\s+(?:EXTENDED\s+)?([\w.`]+)\s*;?\s*$$".r

  private val ShowCatalogsRe =
    raw"(?is)^\s*SHOW\s+CATALOGS\s*;?\s*$$".r

  /** Flink's default namespace (`default_catalog`.`default_database`.x)
    * has no Spark counterpart — engine tables live as session temp views.
    * Strip the default qualification so references resolve.
    */
  private def translateNames(sql: String): String =
    sql.replaceAll("(?i)`?default_catalog`?\\.`?default_database`?\\.", "")

  override def run(): Unit = {
    val statements = ScriptParser.loadStatements(sqlFile, variables)
    val spark = existingSession.getOrElse {
      val b = SparkSession.builder()
        .appName("graft-sql-submit")
        .withExtensions(new graft.functions.GraftSparkExtensions)
        .config("spark.sql.session.timeZone", "UTC")
      // spark-submit injects spark.master; default to local[*] when run
      // directly (dev/tests) so the CLI works standalone.
      if (!sys.props.contains("spark.master"))
        b.master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
      val s = b.getOrCreate()
      // the cores are only known once the context is up
      val sc = s.sparkContext
      val n = SqlSubmitAction.shufflePartitions(sc.getConf, sc.defaultParallelism)
      s.conf.set("spark.sql.shuffle.partitions", n.toString)
      s.conf.set(SqlSubmitAction.CheckpointManagerKey,
        SqlSubmitAction.checkpointManager(sc.getConf))
      s
    }
    // the extension operators' SQL functions (graft_simhash, graft_dot,
    // ...) are part of the submitted-script surface; a caller-provided
    // session (embedding, tests) skipped the extensions hook, so
    // register idempotently here
    graft.functions.GraftFunctions.register(spark)
    // Flink-SQL-compatible leniency for submitted scripts: Flink's
    // unix_timestamp/cast parse prefixes where ANSI Spark raises
    // (e.g. 'yyyy-MM-dd HH:mm:ss' against a µs-precision string,
    // test.sql:55). Snapshotted and restored so a caller-provided
    // session keeps its own semantics after run().
    val savedAnsi = spark.conf.getOption("spark.sql.ansi.enabled")
    val savedParser = spark.conf.getOption("spark.sql.legacy.timeParserPolicy")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.legacy.timeParserPolicy", "LEGACY")
    try runStatements(spark, statements)
    finally {
      stopRetentionSweeper(spark)
      savedAnsi.fold(spark.conf.unset("spark.sql.ansi.enabled"))(
        spark.conf.set("spark.sql.ansi.enabled", _))
      savedParser.fold(spark.conf.unset("spark.sql.legacy.timeParserPolicy"))(
        spark.conf.set("spark.sql.legacy.timeParserPolicy", _))
    }
  }

  private def runStatements(
      spark: SparkSession, statements: Vector[Statement]): Unit = {
    val config = new EngineConfig(spark)

    statements.map(s => s.copy(sql = translateNames(s.sql))).foreach { st =>
      try {
        // Flink routes catalog DDL through the same executeSql path
        // (SQLSubmitAction.java:76); Spark has no CREATE/USE CATALOG,
        // and letting `USE CATALOG x` fall into the USE route dies
        // with a raw parser error — reject by name instead, with the
        // one-catalog reality spelled out. SHOW CATALOGS lists the
        // single session catalog (handled below), so it stays allowed.
        // Exception: `USE CATALOG <current|default_catalog>` is the
        // no-op boilerplate Flink scripts commonly carry (Flink's own
        // default catalog name) — log-and-skip it like the other
        // semantics-free routes instead of failing the script.
        val isCatalogNoOp = UseCatalogRe.findFirstMatchIn(st.sql)
          .map(_.group(1).replace("`", ""))
          .exists(t => t.equalsIgnoreCase(spark.catalog.currentCatalog()) ||
            t.equalsIgnoreCase("default_catalog"))
        if (!isCatalogNoOp)
          CatalogDdlRe.findFirstMatchIn(st.sql).foreach { m =>
            throw new IllegalArgumentException(
              s"${m.group(1).toUpperCase.replaceAll(raw"\s+", " ")} CATALOG " +
                "is not supported: the engine runs against the single " +
                "Spark session catalog " +
                s"('${spark.catalog.currentCatalog()}') — drop the " +
                "catalog statement, or qualify names with a database " +
                "(USE db) instead")
          }
        if (isCatalogNoOp) {
          println(s"USE CATALOG targets the session catalog — no-op: " +
            st.sql.trim)
        } else st.tpe match {
          case StatementType.SET =>
            config.setOperation(st.sql)
          case StatementType.RESET =>
            // Flink reverts the key (all keys, bare form) to defaults:
            // clear the engine snapshot; Spark's native RESET runs for
            // spark.* keys and the bare form only (its parser rejects
            // Flink's hyphenated key names)
            val resetKey = raw"(?is)^\s*RESET\s+(\S+?)\s*;?\s*$$".r
              .findFirstMatchIn(st.sql).map(_.group(1))
            config.reset(resetKey)
            if (resetKey.forall(_.startsWith("spark.")))
              spark.sql(st.sql): Unit
          case StatementType.SELECT =>
            executeSelect(spark, config, applyDynamicOptions(spark, config, st.sql))
          case StatementType.UNSET | StatementType.EXPLAIN | StatementType.UNKNOWN =>
            System.err.println(s"Skipped unsupported SQL statement:\n ${st.sql}")
          case StatementType.CREATE if DdlParser.isConnectorCreate(st.sql) ||
              DdlParser.likeTarget(st.sql).exists(n =>
                sources.contains(n) || sinks.contains(n)) =>
            // CREATE TABLE ... LIKE src clones a connector table's
            // definition with Flink's merge semantics; a LIKE over a
            // non-connector table stays native
            val parsed = DdlParser.parse(st.sql)
            val resolved = parsed.like match {
              case Some(lc) =>
                val parent = sources.get(lc.table).orElse(sinks.get(lc.table))
                  .getOrElse(throw new IllegalArgumentException(
                    s"CREATE TABLE ${parsed.name} LIKE ${lc.table}: " +
                      s"${lc.table} is not a declared connector table"))
                DdlParser.resolveLike(parsed, parent)
              case None => parsed
            }
            registerConnectorTable(spark, config, resolved)
          case StatementType.INSERT =>
            executeInsert(spark, config, applyDynamicOptions(spark, config, st.sql))
          case StatementType.EXECUTE =>
            executeStatementSet(spark, config, st.sql)
          case StatementType.ADD | StatementType.ADD_JAR =>
            // custom verb: ADD CUSTOMJAR x -> ADD JAR x (SURVEY §2.B);
            // plain ADD JAR routes to Spark unchanged
            spark.sql(st.sql.replaceFirst("(?i)^ADD\\s+CUSTOMJAR", "ADD JAR"))
            // track the path for SHOW JARS (Flink lists session jars)
            raw"(?is)^\s*ADD\s+(?:CUSTOM)?JAR\s+'?([^';]+?)'?\s*;?\s*$$".r
              .findFirstMatchIn(st.sql)
              .foreach(m => addedJars += m.group(1).trim)
          case StatementType.PRINT =>
            // no SQL analog in either engine: echo the payload
            println(st.sql.trim.stripPrefix("PRINT").stripPrefix("print").trim)
          case StatementType.LOAD | StatementType.UNLOAD =>
            executeModuleStatement(st.sql)
          case StatementType.SHOW if ShowCreateRe.findFirstMatchIn(st.sql)
              .map(m => DdlParser.unquoteName(m.group(1)))
              .exists(n => sources.contains(n) || sinks.contains(n)) =>
            // SHOW CREATE TABLE on a connector table: Spark's native
            // form can't render a temp view, and the registry holds the
            // parsed definition — print the reconstructed Flink DDL
            val n = DdlParser.unquoteName(
              ShowCreateRe.findFirstMatchIn(st.sql).get.group(1))
            println(DdlParser.showCreate(
              sources.get(n).orElse(sinks.get(n)).get))
          case StatementType.DESC | StatementType.DESCRIBE
              if DescTableRe.findFirstMatchIn(st.sql)
                .map(m => DdlParser.unquoteName(m.group(1)))
                .exists(n => sources.contains(n) || sinks.contains(n)) =>
            // DESCRIBE on a connector table: Spark's native form shows
            // the temp view's resolved columns but loses the Flink
            // surface (computed exprs, METADATA bindings, watermark,
            // PRIMARY KEY) — render Flink's table from the registry
            val n = DdlParser.unquoteName(
              DescTableRe.findFirstMatchIn(st.sql).get.group(1))
            println(DdlParser.describe(
              sources.get(n).orElse(sinks.get(n)).get))
          case StatementType.SHOW
              if raw"(?is)^\s*SHOW\s+JARS\s*;?\s*$$".r
                .findFirstIn(st.sql).isDefined =>
            // Flink's SHOW JARS: the session's ADDed jar paths,
            // one-column, in submission order (empty table when none)
            val w = (addedJars.map(_.length) :+ "jars".length).max
            val bar = s"+-${"-" * w}-+"
            println(bar)
            println(s"| ${"jars".padTo(w, ' ')} |")
            println(bar)
            addedJars.foreach(j => println(s"| ${j.padTo(w, ' ')} |"))
            println(bar)
          case StatementType.SHOW
              if ShowCatalogsRe.findFirstIn(st.sql).isDefined =>
            // Flink's SHOW CATALOGS, one-column; the engine has exactly
            // the session catalog, so the listing is a single row
            val name = spark.catalog.currentCatalog()
            val w = math.max(name.length, "catalog name".length)
            val bar = s"+-${"-" * w}-+"
            println(bar)
            println(s"| ${"catalog name".padTo(w, ' ')} |")
            println(bar)
            println(s"| ${name.padTo(w, ' ')} |")
            println(bar)
          case StatementType.SHOW
              if raw"(?is)^\s*SHOW\s+(?:FULL\s+)?MODULES\s*;?\s*$$".r
                .findFirstIn(st.sql).isDefined =>
            // Flink's SHOW MODULES lists the used modules one-column;
            // SHOW FULL MODULES adds the `used` flag. Spark has no
            // modules, so report the harness's tracked registry —
            // every loaded module is used (USE MODULES is not in the
            // subset), so FULL's second column is uniformly true.
            // Column width sizes to the longest name, not a fixed 12.
            val full = raw"(?is)^\s*SHOW\s+FULL\b".r
              .findFirstIn(st.sql).isDefined
            val w = (loadedModules.map(_.length) + "module name".length).max
            val names = "module name".padTo(w, ' ')
            val bar =
              if (full) s"+-${"-" * w}-+------+"
              else s"+-${"-" * w}-+"
            println(bar)
            println(if (full) s"| $names | used |" else s"| $names |")
            println(bar)
            loadedModules.foreach { m =>
              val n = m.padTo(w, ' ')
              println(if (full) s"| $n | true |" else s"| $n |")
            }
            println(bar)
          case _ =>
            // CTAS / CREATE VIEW AS and friends can embed temporal
            // joins or window TVFs in their query bodies — the dialect
            // rewrite is a no-op unless those markers are present.
            // Rewrite views drop right after: CTAS materializes
            // eagerly, a temp view stores the ANALYZED plan (Spark
            // >= 3.2), and a permanent view referencing a temp view
            // fails at creation regardless
            // an IF NOT EXISTS create over an EXISTING view is a
            // Spark no-op keeping the old definition — decided before
            // execution, so the registry never updates from the
            // ignored statement's text
            val viewNoOp = isViewCreateNoOp(spark, st.sql)
            val rewritten = rewriteFlinkDialect(spark, config, st.sql)
            // a CREATE VIEW keeps its rewrite views ALIVE: the created
            // view re-resolves its body on every later reference, so
            // dropping a tracker view it references (a TVF aggregation
            // body) would break every downstream statement — CTAS
            // materializes eagerly and SELECT/INSERT resolve at
            // execution, so only the view-create path must keep them
            val keepsRewriteViews =
              CreateViewRe.findFirstMatchIn(st.sql).isDefined
            try spark.sql(rewritten)
            finally if (!keepsRewriteViews)
              MatchRecognize.dropViews(spark, rewritten)
            // CREATE/DROP VIEW maintain the event-time registry so
            // later streaming statements can window/aggregate OVER the
            // view (classified from the ORIGINAL text — the rewrite
            // never rewrites the CREATE VIEW header)
            if (!viewNoOp) recordViewWatermark(spark, st.sql)
        }
      } catch {
        case e: Exception =>
          throw new Exception(
            s"Error found when trying to execute sql: ${st.sql}", e)
      }
    }

    if (started.nonEmpty) {
      if (durationSec > 0) {
        // wait on THIS action's queries, not awaitAnyTermination: the
        // session-global terminated flag survives earlier actions on a
        // reused session and would return immediately, stopping these
        // queries before their first micro-batch
        val deadline = System.nanoTime() + durationSec * 1000000000L
        started.foreach { q =>
          val remainMs = (deadline - System.nanoTime()) / 1000000L
          if (remainMs > 0) q.awaitTermination(remainMs): Unit
        }
        started.foreach(q => if (q.isActive) q.stop())
      } else {
        started.foreach(_.awaitTermination())
      }
    }
  }

  /** Flink dynamic table options: `FROM t /*+ OPTIONS('k'='v') */`
    * overrides the table's connector properties for this query only
    * (test.sql:10 enables the feature). Spark's parser rejects the
    * table-level hint, so the harness honors it natively: for a
    * registered connector table it registers a one-off variant view
    * with the merged options and rewrites the reference; hints on
    * non-connector relations are warned about and stripped. Matching
    * Flink, hints error unless `table.dynamic-table-options.enabled`
    * is set to true.
    */
  // table ref: optionally-qualified, each part backticked or bare; hint
  // body: quoted strings may contain parens, so match quote-aware
  private val OptionsHintRe =
    raw"""(?is)\b(FROM|JOIN)\s+((?:`[^`]+`|[A-Za-z_]\w*)(?:\.(?:`[^`]+`|[A-Za-z_]\w*))*)\s*/\*\+\s*OPTIONS\s*\(((?:[^()']|'(?:[^']|'')*')*)\)\s*\*/""".r

  private var optionsVariantCounter = 0

  private def applyDynamicOptions(
      spark: SparkSession, config: EngineConfig, sql: String): String = {
    if (OptionsHintRe.findFirstIn(sql).isEmpty) return sql
    if (!config.raw.get("table.dynamic-table-options.enabled").exists(_.toBoolean))
      throw new IllegalArgumentException(
        "OPTIONS hint support is disabled; SET " +
          "table.dynamic-table-options.enabled = true to enable it")
    OptionsHintRe.replaceAllIn(sql, m => {
      val kw = m.group(1)
      val tbl = DdlParser.unquoteName(m.group(2))
      // same quote/escape rules as the DDL WITH clause
      val overrides = DdlParser.parseOptions(m.group(3))
      // Spark resolves temp views case-insensitively; match that
      val resolved = sources.keys.find(_.equalsIgnoreCase(tbl))
      java.util.regex.Matcher.quoteReplacement(resolved.map(sources) match {
        case Some(t) =>
          optionsVariantCounter += 1
          val variant = s"${t.name}__opts_$optionsVariantCounter"
          registerConnectorTable(spark, config,
            t.copy(name = variant, options = t.options ++ overrides))
          s"$kw $variant"
        case None =>
          System.err.println(
            s"Ignoring OPTIONS hint on non-connector relation '$tbl'")
          s"$kw $tbl"
      })
    })
  }

  private def registerConnectorTable(
      spark: SparkSession, config: EngineConfig, t: TableDef): Unit = {
    if (t.ifNotExists && (sources.contains(t.name) || sinks.contains(t.name))) return
    t.connector match {
      case Some("datagen") =>
        sources(t.name) = t
        val df =
          if (config.isStreaming && !t.options.contains("number-of-rows"))
            Datagen.stream(spark, t)
          else Datagen.batch(spark, t)
        withSourceDecorations(df, t).createOrReplaceTempView(t.name)
      case Some("print") | Some("blackhole") =>
        sinks(t.name) = t
      case Some("filesystem") =>
        val path = t.options.getOrElse("path",
          throw new IllegalArgumentException(
            s"filesystem table '${t.name}' requires a 'path' option"))
        // a filesystem table is both readable and writable: its role is
        // decided by USE (INSERT target vs relation reference), not by
        // whether the path happens to exist yet — re-running a script
        // whose first run created the path must still resolve the sink
        sinks(t.name) = t
        if (pathExists(spark, path))
          registerFilesystemView(spark, config, t)
      case Some("jdbc") =>
        // both roles, like filesystem: a JDBC table is a scan/lookup
        // source AND an append sink. Pin the database table name now so
        // OPTIONS-hint variant copies (renamed defs) keep pointing at
        // the same table, and validate the connection options at DDL
        // time — only the backing table may legitimately be missing
        // until the first INSERT (sink-first scripts), so just the view
        // registration is deferred and retried after each write.
        val pinned = t.copy(options = t.options +
          ("table-name" -> t.options.getOrElse("table-name", t.name)))
        jdbcOptions(pinned): Unit
        sinks(t.name) = pinned
        // only a missing backing table is legitimately deferred; a bad
        // URL, driver, or credential must fail at DDL time, not
        // resurface later as a confusing 'table not found' on first read
        try registerJdbcView(spark, pinned)
        catch { case e: Exception if isMissingTable(e) => () }
      case Some(other) =>
        throw new IllegalArgumentException(s"Unsupported connector '$other'")
      case None =>
        // reachable via CREATE TABLE ... LIKE src (EXCLUDING OPTIONS/
        // ALL) with no child connector option — name the problem
        // instead of leaking the bare table name to the parser
        throw new IllegalArgumentException(
          s"table '${t.name}' resolved without a 'connector' option — " +
            "a LIKE clone that EXCLUDES the parent's options must " +
            "declare its own connector in WITH (...)")
    }
  }

  /** Does this failure mean "the backing table does not exist (yet)"?
    * Only the specific missing-object SQLStates qualify — Derby 42X05,
    * Postgres 42P01, MySQL/SQLServer 42S02, DB2 42704 — NOT the whole
    * class 42, which also carries permission-denied (42501) and syntax
    * errors (42601) that must fail at DDL time like connection, driver,
    * and auth failures.
    */
  private val MissingTableStates = Set("42X05", "42P01", "42S02", "42704")

  /** Module registry backing LOAD/UNLOAD/SHOW MODULES. Flink sessions
    * start with the core module loaded; the reference executes these
    * statements through `tableEnv.executeSql`
    * (`SQLSubmitAction.java:76`), so duplicate loads and unknown
    * unloads must ERROR like Flink's, not skip. Spark has no module
    * concept, so the registry tracks state faithfully but cannot
    * change function resolution — UNLOAD warns about that one
    * deviation instead of pretending.
    */
  /** Session jar paths ADDed so far, in submission order (SHOW JARS). */
  private val addedJars = mutable.Buffer.empty[String]

  private val loadedModules =
    scala.collection.mutable.LinkedHashSet("core")
  private val ModuleStmtRe =
    raw"(?is)^\s*(LOAD|UNLOAD)\s+MODULE\s+`?([A-Za-z_][\w.-]*)`?\s*(?:WITH\s*\(.*\))?\s*;?\s*$$".r

  private def executeModuleStatement(sql: String): Unit = sql match {
    case ModuleStmtRe(op, name) =>
      val m = name.toLowerCase
      if (op.equalsIgnoreCase("LOAD")) {
        if (loadedModules.contains(m))
          throw new IllegalArgumentException(
            s"A module with name '$m' already exists")
        if (m != "core")
          throw new IllegalArgumentException(
            s"Could not find a factory for module '$m' — only the core " +
              "module is available in this engine")
        loadedModules += m
      } else {
        if (!loadedModules.contains(m))
          throw new IllegalArgumentException(
            s"No module with name '$m' exists")
        loadedModules -= m
        System.err.println(s"Module '$m' unloaded from the registry; " +
          "function resolution in this engine is unaffected (no module " +
          "concept)")
      }
    case _ =>
      // LOAD/UNLOAD of something other than MODULE (no such Flink form)
      System.err.println(s"Unsupported LOAD/UNLOAD statement, skipped:\n $sql")
  }

  private def isMissingTable(e: Throwable): Boolean = {
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case sql: java.sql.SQLException =>
        Option(sql.getSQLState).exists(MissingTableStates)
      case _ => false
    }
  }

  /** Flink JDBC connector options → Spark JDBC reader/writer options. */
  private def jdbcOptions(t: TableDef): Map[String, String] = {
    val url = t.options.getOrElse("url",
      throw new IllegalArgumentException(
        s"jdbc table '${t.name}' requires a 'url' option"))
    Map("url" -> url,
      "dbtable" -> t.options.getOrElse("table-name", t.name)) ++
      t.options.get("username").map("user" -> _) ++
      t.options.get("password").map("password" -> _) ++
      t.options.get("driver").map("driver" -> _)
  }

  /** Upsert write for a jdbc sink with a declared PRIMARY KEY —
    * Flink's JDBC sink contract: with a key, INSERT means upsert. Runs
    * as a portable per-row UPDATE-else-INSERT on each partition's own
    * connection (no dialect-specific MERGE), with the batch pre-reduced
    * to one row per key so partitions never race on the same row.
    * Flink's sink applies the changelog in arrival order — the last
    * write per key wins — so the reduction keeps the LAST row per key
    * in the batch's own row order (`monotonically_increasing_id` is
    * monotone in (partition, offset)), never an arbitrary survivor.
    * Identifiers go unquoted (the database's case fold), so the target
    * is expected to be a pre-created table — the natural shape when a
    * key constraint exists.
    */
  private def jdbcUpsert(df: DataFrame, sinkDef: TableDef): Unit = {
    import org.apache.spark.sql.functions.{col, max_by, monotonically_increasing_id, struct}
    val opts = jdbcOptions(sinkDef)
    val (url, table) = (opts("url"), opts("dbtable"))
    val props = new java.util.Properties()
    opts.get("user").foreach(props.setProperty("user", _))
    opts.get("password").foreach(props.setProperty("password", _))
    val cols = df.columns.toSeq
    val pk = sinkDef.primaryKey
    require(pk.forall(cols.contains),
      s"upsert key ${pk.mkString(",")} missing from insert columns $cols")
    val nonPk = cols.filterNot(pk.contains)
    require(nonPk.nonEmpty,
      s"upsert into '${sinkDef.name}' needs at least one non-key column")
    val updateSql = s"UPDATE $table SET " +
      nonPk.map(c => s"$c = ?").mkString(", ") +
      " WHERE " + pk.map(c => s"$c = ?").mkString(" AND ")
    val insertSql = s"INSERT INTO $table (${cols.mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    val lastPerKey = df
      .withColumn("__seq", monotonically_increasing_id())
      .groupBy(pk.map(col): _*)
      .agg(max_by(struct(cols.map(col): _*), col("__seq")).as("__row"))
      .select(col("__row.*"))
    lastPerKey.foreachPartition {
      (rows: Iterator[org.apache.spark.sql.Row]) =>
        val conn = java.sql.DriverManager.getConnection(url, props)
        try {
          val upd = conn.prepareStatement(updateSql)
          val ins = conn.prepareStatement(insertSql)
          rows.foreach { r =>
            nonPk.zipWithIndex.foreach { case (c, i) =>
              upd.setObject(i + 1, r.get(r.fieldIndex(c))) }
            pk.zipWithIndex.foreach { case (c, i) =>
              upd.setObject(nonPk.size + i + 1, r.get(r.fieldIndex(c))) }
            if (upd.executeUpdate() == 0) {
              cols.zipWithIndex.foreach { case (c, i) =>
                ins.setObject(i + 1, r.get(r.fieldIndex(c))) }
              ins.executeUpdate(): Unit
            }
          }
        } finally conn.close()
    }
  }

  /** (Re)register the temp view over a JDBC table's current contents —
    * always a batch relation: in a streaming script it serves as the
    * static side of a stream-static join, exactly Flink's
    * JDBC-dim-table role.
    */
  private def registerJdbcView(spark: SparkSession, t: TableDef): Unit = {
    val df = spark.read.format("jdbc").options(jdbcOptions(t)).load()
    df.schema // force resolution so a missing table fails HERE, not lazily
    sources(t.name) = t
    withSourceDecorations(df, t).createOrReplaceTempView(t.name)
  }

  /** (Re)register the temp view over a filesystem table's current data. */
  private def registerFilesystemView(
      spark: SparkSession, config: EngineConfig, t: TableDef): Unit = {
    val path = t.options("path")
    val format = t.options.getOrElse("format", "parquet")
    val df =
      if (config.isStreaming) spark.readStream.format(format)
        .schema(sparkSchema(spark, t)).load(path)
      else spark.read.format(format).load(path)
    sources(t.name) = t
    withSourceDecorations(df, t).createOrReplaceTempView(t.name)
  }

  private def stripScheme(p: String): String =
    p.replaceFirst(raw"^[a-zA-Z]+://", "")

  /** Existence probe through the path's OWN filesystem (r20): a
    * `java.io.File` check answers correctly for file:// and bare local
    * paths, but a remote path (hdfs://, s3a://) only coincidentally —
    * ask the Hadoop filesystem the sink/source will actually resolve.
    * Falls back to the local check when the scheme's filesystem is
    * unconstructible (the probe must never fail a statement the local
    * answer can still serve).
    */
  private def pathExists(spark: SparkSession, path: String): Boolean =
    scala.util.Try {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }.getOrElse(new java.io.File(stripScheme(path)).exists())

  private def sparkSchema(spark: SparkSession, t: TableDef) = {
    import org.apache.spark.sql.types._
    StructType(t.columns.map(c => StructField(c.name,
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseDataType(
        c.dataType.replaceAll(raw"(?i)timestamp\s*\(\s*\d\s*\)", "timestamp")))))
  }

  /** The Spark `_metadata` field backing a Flink filesystem metadata
    * key. Spark's file sources expose hidden per-file metadata exactly
    * where Flink's filesystem connector does — the mapping is a field
    * read, no extra IO.
    */
  private val FilesystemMetadataKeys = Map(
    "file.path" -> "_metadata.file_path",
    "file.name" -> "_metadata.file_name",
    "file.size" -> "_metadata.file_size",
    "file.modification-time" -> "_metadata.file_modification_time")

  /** Metadata columns + computed columns + watermark from the DDL
    * (test.sql:18-19), uniformly for every connector and mode.
    * Metadata resolves first (a computed column or watermark may read
    * it); only the filesystem connector exposes metadata here — other
    * connectors reject the declaration with the contract.
    */
  private def withSourceDecorations(df: DataFrame, t: TableDef): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val withMetadata = t.metadataColumns.foldLeft(df) { (d, mc) =>
      if (!t.connector.contains("filesystem"))
        throw new IllegalArgumentException(
          s"table '${t.name}': METADATA columns are supported on the " +
            s"filesystem connector only (got ${t.connector.getOrElse("none")})")
      val field = FilesystemMetadataKeys.getOrElse(mc.key,
        throw new IllegalArgumentException(
          s"table '${t.name}': unknown filesystem metadata key " +
            s"'${mc.key}' — supported: ${FilesystemMetadataKeys.keys.toSeq.sorted.mkString(", ")}"))
      d.withColumn(mc.name, col(field).cast(
        mc.dataType.replaceAll(raw"(?i)timestamp\s*\(\s*\d\s*\)", "timestamp")))
    }
    val withComputed =
      t.computedColumns.foldLeft(withMetadata)((d, cc) =>
        // the scalar dialect pass first: Flink computed columns lean on
        // TO_TIMESTAMP_LTZ (epoch event time) and PROCTIME()
        d.withColumn(cc.name, expr(DialectFunctions.rewriteScalars(
          cc.expr.replaceAll(
            raw"(?i)timestamp\s*\(\s*\d\s*\)", "timestamp")))))
    t.watermark match {
      case Some(wm) if withComputed.isStreaming =>
        withComputed.withWatermark(wm.column, wm.delay)
      case _ => withComputed
    }
  }

  /** Flink temporal joins (`FOR SYSTEM_TIME AS OF`) rewrite onto an
    * interval-ized version-table join; the versioned side's time
    * attribute and primary key come from its DDL (Flink requires the
    * same declarations of a versioned table). Batch mode only: the
    * rewrite windows over the version table, which Spark cannot do on
    * a streaming relation — fail with the contract, not an analyzer
    * message.
    */
  private def versionMetaOf(t: String): Option[TemporalJoin.VersionMeta] =
    sources.keys.find(_.equalsIgnoreCase(t)).map(sources)
      .flatMap(d => d.watermark.map(wm =>
        TemporalJoin.VersionMeta(wm.column, d.primaryKey)))
      .orElse(versionedHistoryMeta.keys.find(_.equalsIgnoreCase(t))
        .map(versionedHistoryMeta))

  private def rewriteTemporalJoins(spark: SparkSession,
      config: EngineConfig, sql0: String): String =
    if (!TemporalJoin.hasTemporalJoin(sql0)) sql0
    else {
      val sql = TemporalJoin.substituteVersionedViews(spark, sql0,
        n => versionedViews.keys.find(_.equalsIgnoreCase(n))
          .map(versionedViews),
        versionedHistoryMeta.update)
      if (config.isStreaming)
        // r16: the streaming form compiles onto TemporalJoinTracker —
        // Flink's event-time temporal join as a stream-stream operator;
        // SET table.exec.state.ttl bounds idle version state
        TemporalJoin.rewriteStreaming(spark, sql, watermarkOf, versionMetaOf,
          config.stateTtlSec.getOrElse(0L))
      else TemporalJoin.rewrite(sql, versionMetaOf)
    }

  /** Flink windowing TVFs (`TABLE(TUMBLE(...))`): in batch mode the
    * derived window-column projection (exact Flink arithmetic); in
    * streaming mode the native `window()`/`session_window()` grouping
    * rewrite, whose state expires with the watermark — a streaming
    * aggregate over batch-derived window columns would keep unbounded
    * state, where Flink's TVF windows expire.
    */
  /** Case-insensitive source lookup → (event-time column, delay) from
    * the connector DDL's WATERMARK declaration, or from the view
    * propagation registry ([[recordViewWatermark]]) when the name is a
    * registered view over a watermarked relation. */
  private def watermarkOf(table: String): Option[(String, String)] =
    sources.keys.find(_.equalsIgnoreCase(table)).map(sources)
      .flatMap(_.watermark).map(w => (w.column, w.delay))
      .orElse(viewWatermarks.keys.find(_.equalsIgnoreCase(table))
        .map(viewWatermarks))

  private def rewriteWindowTvfs(
      spark: SparkSession, config: EngineConfig, sql: String): String =
    if (!WindowTvf.hasWindowTvf(sql)) sql
    else {
      // inline subquery sources (r17): `TABLE(TUMBLE(TABLE (SELECT
      // ...), ...))` evaluates into a temp view first — streaming mode
      // resolves the view's event time by the shared lineage law
      val (sql2, wmOf2) = WindowTvf.inlineSubquerySources(
        spark, sql, watermarkOf, config.isStreaming)
      if (config.isStreaming)
        // the session + watermark resolver feed the stateful rewrites
        // (CUMULATE, and every grid kind under a DST region zone — those
        // stream on the pinned-window tracker with wall-clock assignment)
        WindowTvf.rewriteStreaming(sql2, spark, wmOf2,
          config.dstGridZone)
      else
        // a DST region session zone switches batch grid windows onto
        // that zone's wall-clock timeline (None for UTC/fixed zones)
        WindowTvf.rewrite(sql2, config.dstGridZone)
    }

  /** All Flink-dialect SQL rewrites, in one place. MATCH_RECOGNIZE
    * (Flink's CEP SQL) runs through [[MatchRecognize]]: batch mode
    * executes the subset directly; streaming mode compiles onto the
    * [[graft.streaming.PatternTracker]] per-key NFA (watermark-matured
    * decisions, append output, event-time ORDER BY required). Either
    * path throws the contract on any form it can't honor — no Flink
    * syntax leaks to Spark's parser.
    */
  private def rewriteFlinkDialect(
      spark: SparkSession, config: EngineConfig, sql: String): String = {
    // a shifted table.local-time-zone applies to TIMESTAMP_LTZ
    // rendering, casts, and time functions (EngineConfig maps it onto
    // spark.sql.session.timeZone). Time-ATTRIBUTE statements (r13b):
    //  - grid-free forms (SESSION windows, MATCH_RECOGNIZE, temporal
    //    joins) run as-is under ANY zone — their arithmetic is instant
    //    differences and orderings, which no zone can move;
    //  - grid windows (TUMBLE/HOP/CUMULATE, TVF form) under a FIXED
    //    shifted offset get Flink's local-timeline alignment by
    //    composing `-shift` into each call's window-offset argument
    //    (WindowTvf.alignToZone) before any downstream pass parses it;
    //  - grid windows under a DST region zone run on the zone's
    //    wall-clock timeline in BOTH modes: batch via WindowTvf.rewrite
    //    localZone (r13b), streaming via the pinned-window
    //    GridAggTracker (r14 — per-row wall-clock assignment, fanned
    //    windows, watermark-gated emission), window TOP-N with both
    //    bounds pinned into the rank tracker, and the TUMBLE/HOP
    //    window JOIN on wall-clock instant equality with a range
    //    eviction bound (r14b; CUMULATE joins compose the step-end
    //    fan-out with the same instant bounds, r15); legacy grid group
    //    windows ESCALATE to their TVF form first (r14 — the legacy
    //    call has no OFFSET argument, its escalation does), then
    //    inherit whichever alignment path applies; legacy SESSION
    //    stays legacy (gap windows are zone-invariant).
    val sqlZ =
      if (config.isShiftedTimeline) WindowTvf.escalateLegacyGridsForZone(sql)
      else sql
    // streaming window TOP-N under a DST region zone rides the same
    // wall-clock assignment as the aggregations: the top-N fan-out
    // pins each row's (ws, we) with the zone arithmetic and the
    // tracker ranks the pinned windows (r14b — rewriteWindowTopN
    // threads config.dstGridZone)
    val sql0 = config.zoneGridShiftMillis match {
      case Some(shift) => WindowTvf.alignToZone(sqlZ, shift)
      case None => sqlZ
    }
    // scalar/collection dialect functions (UNNEST, JSON_VALUE family)
    // rewrite first: pure text→text, and the later passes then see
    // only Spark-native calls inside the regions they extract
    val fns =
      if (!DialectFunctions.hasDialectFunctions(sql0)) sql0
      else DialectFunctions.rewrite(sql0, config.isStreaming)
    val mr =
      if (!MatchRecognize.hasMatchRecognize(fns)) fns
      else if (config.isStreaming)
        // streaming subset: per-key NFA with watermark-matured decisions
        MatchRecognize.rewriteStreaming(spark, fns, watermarkOf)
      else MatchRecognize.rewrite(spark, fns)
    // window top-N over a TVF: batch ranks natively (WindowGroupLimit);
    // streaming compiles onto the N-bounded TopNTracker BEFORE the TVF
    // pass would reject the rank-over-stream shape
    val topn =
      if (config.isStreaming && WindowTopN.hasStreamingShape(mr))
        WindowTopN.rewriteStreaming(spark, mr, watermarkOf,
          config.dstGridZone)
      else if (config.isStreaming && UnboundedTopN.hasShape(mr,
          if (config.stateTtlSec.isDefined) 1 else 2))
        // Flink's unbounded updating top-N (no window TVF): bounded
        // per-key state through the TopRows collector, update emission.
        // Without a TTL, rn = 1 shapes stay on the analysis rules
        // (Deduplicate/argmax on Spark's native state); under
        // table.exec.state.ttl they route here too, onto the TTL'd
        // tracker whose idle keys expire — Flink applies the key to
        // every unbounded-state operator
        UnboundedTopN.rewrite(spark, mr, config.stateTtlSec.getOrElse(0L))
      else mr
    // event-time OVER aggregation (r15): an aggregate-function OVER
    // call on a stream compiles onto OverAggTracker AFTER the top-N
    // passes have consumed every ranking shape — Spark itself rejects
    // non-time windows on streams, so without the rewrite this surface
    // dies with a raw analysis error
    val over =
      if (config.isStreaming && OverAgg.hasStreamingShape(topn))
        OverAgg.rewriteStreaming(spark, topn, watermarkOf)
      else topn
    // plain unbounded GROUP BY under table.exec.state.ttl (r17):
    // Spark's native update-mode aggregation has no TTL hook, so the
    // canonical single-table shape routes onto the TTL'd tracker —
    // per-key accumulators expire after the idle TTL, Flink's
    // state-retention semantics for unbounded aggregation
    val unb = config.stateTtlSec match {
      case Some(ttl) if config.isStreaming &&
          UnboundedAgg.hasShape(spark, over) =>
        UnboundedAgg.rewrite(spark, over, ttl)
      case _ => over
    }
    rewriteWindowTvfs(spark, config,
      rewriteTemporalJoins(spark, config, unb))
  }

  private def executeSelect(
      spark: SparkSession, config: EngineConfig, sql: String): Unit = {
    val rewritten = rewriteFlinkDialect(spark, config, sql)
    // MATCH_RECOGNIZE temp views resolve into the plan at analysis, so
    // they drop as soon as the statement executes — a long-lived
    // session must not accumulate one catalog entry per statement
    try {
      val df = spark.sql(rewritten)
      if (df.isStreaming) {
        val w0 = df.writeStream.format("console")
          .option("truncate", "false")
        // trigger resolution mirrors the sink path: a configured
        // mini-batch latency wins; otherwise TTL'd trackers (which run
        // continuous no-data timer batches) get the 1 s idle bound
        val w = config.miniBatchLatency match {
          case Some(latency) => w0.trigger(Trigger.ProcessingTime(latency))
          case None if hasProcessingTimeTimers(df) =>
            w0.trigger(Trigger.ProcessingTime("1 second"))
          case None => w0
        }
        val writer = withChainedScope(spark, df) {
          // a CHAINED plan must run append end-to-end (update mode
          // would emit the intermediate stage's partials as facts) —
          // no update fallback there
          if (chainsStatefulStages(df))
            try w.outputMode("append").start()
            catch {
              case e: org.apache.spark.sql.AnalysisException =>
                rethrowChainedAppend(df, e)
            }
          else
            try { val s = w.outputMode("append").start(); s }
            catch { case _: Exception => w.outputMode("update").start() }
        }
        started += writer
      } else {
        df.show(printLimit, truncate = false)
      }
    } finally MatchRecognize.dropViews(spark, rewritten)
  }

  /** `EXECUTE STATEMENT SET BEGIN <insert;>* END`: Flink groups several
    * INSERTs into one job (SURVEY §2.B EXECUTE row). Spark analog: run
    * the batch inserts sequentially and the streaming ones as concurrent
    * queries of one session (they already share the cluster).
    */
  private def executeStatementSet(
      spark: SparkSession, config: EngineConfig, sql: String): Unit = {
    val bodyRe = raw"(?is)^\s*EXECUTE\s+STATEMENT\s+SET\s+BEGIN\s+(.*?)\s*END\s*$$".r
    sql match {
      case bodyRe(body) =>
        // split at the semicolons outside quotes: a literal may hold one
        val masked = MatchRecognize.maskQuoted(body)
        val cuts = -1 +: body.indices.filter(masked(_) == ';') :+ body.length
        val stmts = cuts.zip(cuts.tail).map { case (a, b) =>
          body.substring(a + 1, b).trim }
        stmts.filter(_.nonEmpty).foreach { stmt =>
          if (StatementType.fromStatement(stmt) == StatementType.INSERT)
            executeInsert(spark, config, applyDynamicOptions(spark, config, stmt))
          else
            System.err.println(
              s"Only INSERT is allowed in a STATEMENT SET, skipped:\n $stmt")
        }
      case _ => spark.sql(sql)
    }
  }

  private def executeInsert(
      spark: SparkSession, config: EngineConfig, sql: String): Unit =
    autoSplitUpdating(spark, config, sql) match {
      case Some(plan) =>
        System.err.println(
          "graft.streaming.auto-split-updating: materializing the " +
            "stateful stage through a managed intermediate table and " +
            "running the TTL'd updating operator as a second streaming " +
            "query over it (Flink's single-statement pipeline as two " +
            "jobs; " + (
            if (plan.reuse)
              "REUSING the run's existing materialization of this view " +
                "— one intermediate per (view, run)"
            else if (plan.durable)
              "the intermediate path and both stages' checkpoints key " +
                "on the view's definition hash, so restarting this " +
                "script under the same checkpoint base RESUMES the " +
                "directory, commit log, and state exactly-once"
            else
              "checkpoints are RUN-SCOPED - without a durable " +
                "checkpoint base (state.checkpoints.dir) the fresh " +
                "intermediate makes cross-run recovery meaningless") +
            "):\n " + plan.stage1 + "\n " + plan.stage2)
        if (!plan.reuse) {
          val parsed = DdlParser.parse(plan.ddl)
          registerConnectorTable(spark, config, parsed)
          // the mkdirs above guarantees the path exists on its OWN
          // filesystem, and pathExists asks that same filesystem (r20:
          // the probe previously used java.io.File, honest only for
          // local paths) — so registerConnectorTable always registered
          // the source view already; keep a belt-and-braces retry only
          // for the fallback case where the probe's filesystem was
          // unconstructible
          if (!pathExists(spark, parsed.options("path")))
            registerFilesystemView(spark, config, parsed)
        }
        // bound both stages' micro-batch cadence unless the script
        // configured its own: with the default as-fast-as-possible
        // trigger the materialization runs hundreds of no-data batches
        // per minute against a live source — churn the state-store
        // maintenance cycle is not sized for (and pure waste at scale)
        val hadLatency = config.miniBatchLatency.isDefined
        if (!hadLatency)
          config.set("table.exec.mini-batch.allow-latency", "1 s")
        // checkpoint policy (r20, was run-scoped-always in r19): with
        // a DURABLE base configured, the deterministic intermediate
        // name keys stage 1's checkpoint (<base>/<pipeline>-<mat>)
        // and its sink commit log onto the same directory a restarted
        // script recomputes, so both stages resume exactly-once —
        // Flink's single-statement recovery contract. WITHOUT a base,
        // checkpointing-enabled would hand each start() a fresh temp
        // dir anyway, so the r19 rationale still applies: strip the
        // flag so nobody mistakes the run for recoverable.
        val hadCp =
          if (plan.durable) None
          else config.raw.get("execution.checkpointing.enabled")
        if (hadCp.isDefined)
          config.reset(Some("execution.checkpointing.enabled"))
        val retention = config.raw
          .get("graft.streaming.intermediate-retention")
          .flatMap(EngineConfig.parseDurationMs)
        // the intermediate's EFFECTIVE retention: the statement's own
        // knob, or the sweeper entry an earlier statement registered —
        // a consumer attaching after a RESET must still be guarded and
        // registered, or the live sweeper would delete files it has
        // not read (second review pass)
        val effectiveRetention = retentionLock.synchronized {
          retention.orElse(intermediateConsumers.get(plan.path).map(_._1))
        }
        // a BRAND-NEW consumer must not attach to an intermediate the
        // sweeper has already deleted from (r20 review): its fresh
        // file source would read the sink manifest, which still lists
        // the deleted files. Exempt only a consumer that is genuinely
        // RESUMING — its durable checkpoint already has commits, so
        // the restored seen-files log skips deleted files (second
        // review pass: `durable` alone also exempted a NEW statement
        // whose checkpoint does not exist yet).
        def resumingConsumer: Boolean = plan.durable &&
          config.checkpointDir.exists { base =>
            ScriptParser.parseInsert(plan.stage2).map(_.target).exists { sink =>
              val name = config.pipelineName.getOrElse("graft") +
                "-" + sink + "-" + plan.mat
              val d = new org.apache.hadoop.fs.Path(
                base.stripSuffix("/") + "/" + name, "commits")
              scala.util.Try(
                d.getFileSystem(spark.sparkContext.hadoopConfiguration)
                  .listStatus(d).nonEmpty).getOrElse(false)
            }
          }
        // the sweep's marker file records a deletion, also one by an
        // EARLIER run: a durable intermediate's path is a hash of the
        // view, so a later run recomputes the same directory
        def refuseIfSwept(): Unit =
          if (IntermediateRetention.wasSwept(
                spark.sparkContext.hadoopConfiguration, plan.path) &&
              !resumingConsumer)
            throw new IllegalArgumentException(
              s"cannot attach another consumer to intermediate " +
                s"'${plan.mat}': " +
                "graft.streaming.intermediate-retention has " +
                "already deleted files its manifest still lists, " +
                "so a NEW consumer cannot replay the view's " +
                "history — group the consumers in one EXECUTE " +
                "STATEMENT SET ahead of any deletion, or unset " +
                "the retention (and, if an earlier run swept, " +
                "start from a fresh checkpoint base)")
        // check-then-register runs ATOMICALLY against the sweeper tick
        // (both under retentionLock): a sweep can no longer land
        // between the swept-path check and the sentinel registration.
        // The sentinel (a checkpoint path that never commits) holds
        // all deletion while this statement's stage 2 starts.
        val sentinel = effectiveRetention.filter(_ => plan.reuse)
          .map { retMs =>
            val s = s"${plan.path}-pending-" +
              java.util.UUID.randomUUID.toString.take(8)
            retentionLock.synchronized {
              refuseIfSwept()
              val (_, consumers) = intermediateConsumers
                .getOrElseUpdate(plan.path,
                  (retMs, mutable.LinkedHashSet.empty[String]))
              intermediateConsumers(plan.path) = (retMs, consumers += s)
            }
            s
          }
        if (sentinel.isEmpty) retentionLock.synchronized(refuseIfSwept())
        // set when stage 2 ran AND its checkpoint root was resolved and
        // registered with the sweeper — the only case where the
        // sentinel's hold on deletion may be released on success
        var consumerRegistered = false
        var stage2Ok = false
        try {
          if (!plan.reuse) {
            executeInsert(spark, config, plan.stage1)
            autoSplitMats(plan.viewLower) = plan.mat
          }
          // the stream-static enrichment view (r20): a stateless join
          // of the intermediate with the statement's dim tables —
          // created per statement (two statements sharing the mat may
          // join different dims)
          plan.enrich.foreach(spark.sql(_): Unit)
          // stage 2's durable checkpoint keys on the intermediate's
          // identity too (r20 review): a changed view DEFINITION
          // changes the mat hash, so the restarted operator starts
          // fresh state against the fresh intermediate instead of
          // folding new-definition rows into old-definition state
          // while replaying offsets against a directory that no
          // longer exists
          if (plan.durable)
            config.set("graft.internal.checkpoint-suffix", plan.mat)
          val beforeStage2 = started.size
          try executeInsert(spark, config, plan.stage2)
          finally if (plan.durable)
            config.reset(Some("graft.internal.checkpoint-suffix"))
          // retention (r20): register stage 2 as a consumer of the
          // intermediate and start the sweeper — data files every
          // consumer has committed and that age past the horizon get
          // deleted, bounding the directory under sustained input.
          // The EFFECTIVE retention keys the registration: a consumer
          // attaching while an earlier statement's sweeper is live
          // must register even if its own statement RESET the knob.
          effectiveRetention.foreach { retMs =>
            started.drop(beforeStage2).headOption
              .flatMap(checkpointRootOf).foreach { root =>
                retentionLock.synchronized {
                  val (_, consumers) = intermediateConsumers
                    .getOrElseUpdate(plan.path,
                      (retMs, mutable.LinkedHashSet.empty[String]))
                  intermediateConsumers(plan.path) =
                    (retMs, consumers += root)
                }
                consumerRegistered = true
                ensureRetentionSweeper(spark)
              }
          }
          stage2Ok = true
        } finally {
          // the sentinel must not outlive the statement: replaced by
          // the real consumer above, or dropped on failure (else it
          // would block retention for the rest of the run). EXCEPT
          // when stage 2 is RUNNING but its checkpoint root could not
          // be resolved (checkpointRootOf pattern-matches Spark
          // internals): removing the sentinel then would let a live
          // sweeper resume deleting under an active consumer the
          // registry cannot see — keep holding deletion for this
          // intermediate instead (fail-safe: retention degrades to
      // no-op for the path, data is never lost)
          sentinel.foreach { s =>
            if (stage2Ok && !consumerRegistered &&
                effectiveRetention.isDefined)
              System.err.println(
                s"[graft] retention: could not resolve the checkpoint " +
                  s"root of the new consumer of '${plan.mat}'; holding " +
                  "deletion for this intermediate for the rest of the run")
            else retentionLock.synchronized {
              intermediateConsumers.get(plan.path).foreach {
                case (r, cs) =>
                  intermediateConsumers(plan.path) = (r, cs -= s)
              }
            }
          }
          if (!hadLatency)
            config.reset(Some("table.exec.mini-batch.allow-latency"))
          hadCp.foreach(v =>
            config.set("execution.checkpointing.enabled", v))
        }
      case None =>
        val rewritten = rewriteFlinkDialect(spark, config, sql)
        try executeInsertRewritten(spark, config, rewritten)
        finally MatchRecognize.dropViews(spark, rewritten)
    }

  /** One compiled auto-split: the intermediate's DDL, the two INSERT
    * stages, the materialization identity (`mat`, `viewLower`), and
    * the policies the caller applies — `reuse` (this view is already
    * materializing in this run: skip DDL + stage 1), `durable` (a
    * checkpoint base is configured and the intermediate is
    * definition-hash-keyed: keep checkpointing ON through both
    * stages). */
  private final case class AutoSplitPlan(ddl: String, stage1: String,
      stage2: String, mat: String, path: String, viewLower: String,
      reuse: Boolean, durable: Boolean,
      enrich: Option[String] = None)

  /** Registered (intermediate path → retentionMs, stage-2 consumer
    * checkpoint roots) for the retention sweeper; consumers accrue as
    * statements share an intermediate (a file is deletable only once
    * EVERY consumer committed it). Every access synchronizes on
    * [[retentionLock]]: the sweeper thread snapshots while the main
    * thread registers (r20 review — an unsynchronized race could
    * throw from the tick, and scheduleWithFixedDelay kills the task
    * on any throw, silently stopping retention for good). */
  private val intermediateConsumers: mutable.Map[String,
      (Long, mutable.LinkedHashSet[String])] =
    mutable.LinkedHashMap.empty
  private val retentionLock = new Object
  /** Run-scoped parse cache for the sweeper (second review pass: a
    * JVM-singleton cache outlived its run on shared sessions). */
  private val retentionCache = IntermediateRetention.newCache()
  private var retentionExec:
      Option[java.util.concurrent.ScheduledExecutorService] = None

  /** The durable checkpoint root a started query resolved — the
    * handle the retention sweeper reads commits/sources logs from. */
  private def checkpointRootOf(q: StreamingQuery): Option[String] =
    q match {
      case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
        scala.util.Try(w.streamingQuery.resolvedCheckpointRoot).toOption
      case se: org.apache.spark.sql.execution.streaming.runtime.StreamExecution =>
        scala.util.Try(se.resolvedCheckpointRoot).toOption
      case _ => None
    }

  private def sweepIntermediates(spark: SparkSession): Unit =
    try {
      // the WHOLE tick runs under the lock: the new-consumer guard's
      // check-then-register must never interleave with a sweep whose
      // consumer snapshot predates the sentinel (second review pass —
      // the TOCTOU let a deletion land between the swept-path check
      // and the sentinel registration). A statement thread blocks at
      // most one tick; the 2 s cadence bounds the convoy.
      retentionLock.synchronized {
        intermediateConsumers.toSeq.foreach {
          case (path, (retMs, consumers)) =>
            try {
              IntermediateRetention.sweep(
                spark.sparkContext.hadoopConfiguration, path,
                consumers.toSeq, retMs, retentionCache): Unit
            }
            catch { case scala.util.control.NonFatal(_) => () }
        }
      }
    } catch {
      // scheduleWithFixedDelay suppresses all future runs on a throw —
      // the sweeper must never die of one bad tick
      case scala.util.control.NonFatal(_) => ()
    }

  /** Lazily starts the retention sweeper (a single daemon thread, one
    * per action run, 2 s cadence over every registered intermediate);
    * [[stopRetentionSweeper]] runs a final synchronous sweep so a
    * bounded run leaves the directory in its steady state. */
  private def ensureRetentionSweeper(spark: SparkSession): Unit =
    if (retentionExec.isEmpty) {
      val ex = java.util.concurrent.Executors
        .newSingleThreadScheduledExecutor(r => {
          val t = new Thread(r, "graft-intermediate-retention")
          t.setDaemon(true)
          t
        })
      ex.scheduleWithFixedDelay(() => sweepIntermediates(spark),
        2, 2, java.util.concurrent.TimeUnit.SECONDS): Unit
      retentionExec = Some(ex)
    }

  private def stopRetentionSweeper(spark: SparkSession): Unit = {
    retentionExec.foreach { ex =>
      ex.shutdownNow(): Unit
      sweepIntermediates(spark)
    }
    retentionExec = None
  }

  /** Spark type → Flink DDL type for the managed intermediate table's
    * schema; None (fail closed → the named one-statement rejection)
    * for types the round-trip has not been proven on.
    */
  private def flinkTypeOf(
      dt: org.apache.spark.sql.types.DataType): Option[String] = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => Some("BIGINT")
      case IntegerType => Some("INT")
      case ShortType => Some("SMALLINT")
      case ByteType => Some("TINYINT")
      case DoubleType => Some("DOUBLE")
      case FloatType => Some("FLOAT")
      case StringType => Some("STRING")
      case BooleanType => Some("BOOLEAN")
      case TimestampType => Some("TIMESTAMP(3)")
      case DateType => Some("DATE")
      case d: DecimalType => Some(s"DECIMAL(${d.precision}, ${d.scale})")
      case _ => None
    }
  }

  /** Compiles the two-statement recipe the updating-above-stateful
    * rejection names (r19, opt-in via
    * `SET graft.streaming.auto-split-updating = true`): a TTL'd
    * updating operator (unbounded GROUP BY / top-N / rn = 1 dedup)
    * whose single FROM table is a STATEFUL streaming view cannot run
    * in one statement (the intermediate stage would emit partials as
    * facts — Flink runs the shape over a retraction stream), but it
    * CAN run as Flink's same two jobs: stage 1 materializes the view
    * through a managed filesystem intermediate (Spark's file sink
    * writes a commit log the file SOURCE consumes exactly-once), and
    * stage 2 runs the TTL'd operator as its own streaming query over
    * that intermediate. Returns the compiled [[AutoSplitPlan]]; None
    * leaves the statement on the single-plan path, where unsupported
    * shapes keep the named rejection. The intermediate lives under
    * `graft.streaming.intermediate-dir`; unset, it defaults to
    * `<checkpoint base>/graft-intermediates` when a durable base is
    * configured (durable state belongs on the same shared storage as
    * the checkpoints it must outlive a restart with — r20) and to the
    * JVM temp dir otherwise.
    */
  private def autoSplitUpdating(spark: SparkSession, config: EngineConfig,
      sql: String): Option[AutoSplitPlan] = {
    if (!config.raw.get("graft.streaming.auto-split-updating")
        .exists(_.equalsIgnoreCase("true"))) return None
    if (!config.isStreaming || config.stateTtlSec.isEmpty) return None
    val durable =
      config.checkpointingEnabled && config.checkpointDir.isDefined
    val masked = MatchRecognize.maskQuoted(sql)
    val single =
      for {
        // the shape's one relation, spelled as a plain name: stage 2
        // swaps that spelling in the text
        view <- UnboundedAgg.sourceOf(spark, sql)
          .orElse(UnboundedTopN.sourceOf(sql, 1))
          .filter(_.matches(GeneratedSqlIdent))
        m <- compileMaterialization(spark, config, view, durable)
      } yield {
        // stage 2: swap the view for the intermediate in BOTH its
        // FROM position and as a column QUALIFIER (`sum(view.v)`,
        // `WHERE view.v > 0` — r19 review); matches run on masked
        // text so a string literal spelling the view name is never
        // touched
        val vQ = java.util.regex.Pattern.quote(view)
        val SwapRe = (raw"(?is)(\bFROM\s+)$vQ\b|\b$vQ(?=\s*\.)").r
        val out = new StringBuilder
        var last = 0
        SwapRe.findAllMatchIn(masked).foreach { mm =>
          out.append(sql.substring(last, mm.start))
          if (mm.group(1) != null)
            out.append(sql.substring(mm.start(1), mm.end(1)))
          out.append(m.mat)
          last = mm.end
        }
        out.append(sql.substring(last))
        AutoSplitPlan(m.ddl, m.stage1, out.toString, m.mat, m.path,
          view.toLowerCase, m.reuse, durable, enrich = None)
      }
    single.orElse(joinAutoSplit(spark, config, sql, masked, durable))
  }

  /** The shared view-eligibility checks + materialization compile of
    * the auto-split (r20 refactor: the stream-static join form shares
    * stage 1 with the single-FROM form). */
  private final case class Materialization(ddl: String, stage1: String,
      mat: String, path: String, reuse: Boolean,
      colTypes: Seq[(String, String)])

  private def compileMaterialization(spark: SparkSession,
      config: EngineConfig, view: String, durable: Boolean)
      : Option[Materialization] = {
    for {
      // a DDL source is stateless — the single-plan path handles it
      _ <- Option(view)
      if !sources.keys.exists(_.equalsIgnoreCase(view))
      df <- scala.util.Try(spark.table(view)).toOption
      if df.isStreaming
      // only a STATEFUL intermediate stage needs the split
      if df.queryExecution.analyzed.exists {
        case _: org.apache.spark.sql.catalyst.plans.logical.FlatMapGroupsWithState => true
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
          a.child.isStreaming
        case d: org.apache.spark.sql.catalyst.plans.logical.Deduplicate =>
          d.child.isStreaming
        case _ => false
      }
      // stage 1 writes into an APPEND-ONLY parquet intermediate, so the
      // view must produce append output (watermarked aggregation,
      // dedup, append-mode pattern/temporal trackers) — Spark's own
      // streaming checker is the authority. An update-mode view (e.g.
      // an unbounded GROUP BY) keeps the named two-statement rejection
      // instead of a raw append-mode AnalysisException referencing
      // generated SQL the user never wrote (r20 advice).
      if scala.util.Try(
        org.apache.spark.sql.catalyst.analysis.UnsupportedOperationChecker
          .checkForStreaming(df.queryExecution.analyzed,
            org.apache.spark.sql.streaming.OutputMode.Append())).isSuccess
      colTypes <- df.schema.fields.toSeq.foldLeft(
        Option(Seq.empty[(String, String)])) { (acc, f) =>
        acc.flatMap(cs => flinkTypeOf(f.dataType).map(t =>
          cs :+ (f.name, t)))
      }
      // engine-GENERATED SQL must never be what fails to parse (r20
      // advice): a view column outside the identifier charset (an
      // unaliased `sum(v)`) or a configured dir carrying a quote would
      // surface as a DdlParser/Spark error on text the user never
      // wrote — fail closed to the named rejection instead
      if colTypes.forall { case (n, _) => n.matches(GeneratedSqlIdent) }
      dir = config.raw.get("graft.streaming.intermediate-dir")
        .orElse(config.checkpointDir.filter(_ => durable)
          .map(_.stripSuffix("/") + "/graft-intermediates"))
        .getOrElse(System.getProperty("java.io.tmpdir"))
      if dir.matches(raw"^[A-Za-z0-9_\-./:]+$$")
    } yield {
      // The materialization's IDENTITY (r20, was fresh-per-run-always
      // in r19). Spark's file sink consults the target's existing
      // _spark_metadata and SKIPS batch ids it already holds, so name
      // + directory + checkpoints must either all be fresh or all
      // resume together:
      //  - RUN-SCOPED (no durable checkpoint base): a fresh UUID name
      //    per (view, run) — against a stale directory from an
      //    earlier run the new query would silently no-op its first N
      //    batches and then crash loading state at the first batch
      //    past the stale log.
      //  - DURABLE (checkpoint base configured): a hash of the view's
      //    name + definition + schema — a restarted script recomputes
      //    the same directory, the file sink's commit log skips the
      //    batches it already wrote, and both stages' checkpoints
      //    (<base>/<pipeline>-<mat|sink>) resume the same state:
      //    Flink's single-statement recovery contract. A changed view
      //    DEFINITION changes the hash, so stale data never mixes.
      //  - within one run, the (view -> mat) cache wins over both: a
      //    second updating statement reuses the running
      //    materialization (one intermediate per view per run).
      // Created through the Hadoop filesystem of the configured base,
      // so `graft.streaming.intermediate-dir` may point at shared
      // storage (hdfs://, s3a://) on a real cluster — the file sink
      // and source resolve the same way. Creating the directory here
      // also lets the source view register immediately (stage 2
      // compiles against it before stage 1 has committed its first
      // file).
      val reuse = autoSplitMats.get(view.toLowerCase)
      val mat = reuse.getOrElse {
        val suffix =
          if (durable) {
            val ident = view.toLowerCase + "|" +
              viewDefs.getOrElse(view.toLowerCase, "") + "|" +
              colTypes.map { case (n, t) => s"$n:$t" }.mkString(",")
            java.security.MessageDigest.getInstance("SHA-256")
              .digest(ident.getBytes(
                java.nio.charset.StandardCharsets.UTF_8))
              .take(6).map("%02x".format(_)).mkString
          } else
            java.util.UUID.randomUUID.toString.replace("-", "").take(12)
        s"graft_mat_${view.toLowerCase}_$suffix"
      }
      val path = s"${dir.stripSuffix("/")}/$mat"
      if (reuse.isEmpty) {
        val hPath = new org.apache.hadoop.fs.Path(path)
        hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .mkdirs(hPath): Unit
      }
      val ddl = s"create table $mat (" +
        colTypes.map { case (n, t) => s"`$n` $t" }.mkString(", ") +
        s") with ('connector' = 'filesystem', 'path' = '$path', " +
        "'format' = 'parquet')"
      val stage1 = s"insert into $mat select " +
        colTypes.map { case (n, _) => s"`$n`" }.mkString(", ") +
        s" from $view"
      Materialization(ddl, stage1, mat, path, reuse.isDefined, colTypes)
    }
  }

  /** The stream-static ENRICHMENT form of the auto-split (r20,
    * verdict item 4): a TTL'd GROUP BY above `<stateful view> [a]
    * JOIN <static dim> [d] ON ...` — a shape Flink runs in one
    * statement. Stage 1 materializes the view exactly as the
    * single-FROM form does; the enrichment then rides a generated
    * temp view `SELECT <mat cols>, <non-colliding dim cols> FROM
    * <region with view→mat>` — a plain stream-static join, stateless
    * — and stage 2 is the updating operator over that view, which
    * the single-plan TTL route compiles natively. Gated to INNER
    * equi-join text (LEFT/RIGHT/FULL/CROSS and comma joins keep the
    * named rejection: the collision-dropping projection below could
    * silently alias a dim-side NULL onto the stream side under an
    * outer join), exactly one streaming relation (stream-stream
    * keeps the named rejection), and the GROUP-BY-aggregation shape
    * (probed with the region collapsed to the view — top-N shapes
    * stay single-FROM). Stage 2's qualifiers are stripped: the
    * enrichment view's projection is collision-free, so bare names
    * resolve uniquely.
    */
  private def joinAutoSplit(spark: SparkSession, config: EngineConfig,
      sql: String, masked: String, durable: Boolean)
      : Option[AutoSplitPlan] = {
    if (TemporalJoin.hasTemporalJoin(masked)) return None
    if (hasTopLevelFromComma(masked)) return None
    if (raw"(?is)\b(LEFT|RIGHT|FULL|CROSS)\s+(?:OUTER\s+)?JOIN\b".r
        .findFirstIn(masked).isDefined) return None
    for {
      fromIdx <- WindowTvf.findTopLevel(masked, 0, "FROM")
      regionEnd = Seq("WHERE", "GROUP")
        .flatMap(k => WindowTvf.findTopLevel(masked, fromIdx, k))
        .minOption.getOrElse(masked.length)
      regionMasked = masked.substring(fromIdx + "FROM".length, regionEnd)
      // plain named tables only: a subquery in the region would need
      // its own projection analysis — keep the named rejection there
      if !regionMasked.contains("(")
      rels = RelWithAliasRe.findAllMatchIn("FROM" + regionMasked).toSeq
        .map(mm => (mm.group(1), Option(mm.group(2))))
      if rels.size >= 2
      // exactly one STREAMING relation — the stateful view; every
      // other relation must resolve as a STATIC (batch) side
      streaming = rels.filter { case (r, _) =>
        scala.util.Try(spark.table(r).isStreaming).getOrElse(false) }
      (view, viewAlias) <- Some(streaming).collect { case Seq(one) => one }
      if rels.forall { case (r, _) =>
        r.equalsIgnoreCase(view) ||
          scala.util.Try(!spark.table(r).isStreaming).getOrElse(false) }
      // the updating-GROUP-BY shape, probed with the join region
      // collapsed to the view itself (textual: hasShape resolves only
      // the relation); qualifiers stripped the same way stage 2 will be
      quals = rels.flatMap { case (r, a) => Seq(r) ++ a }
      pre = stripQualifiers(sql.substring(0, fromIdx), quals)
      post = stripQualifiers(sql.substring(regionEnd), quals)
      if UnboundedAgg.hasShape(spark, s"$pre FROM $view $post")
      m <- compileMaterialization(spark, config, view, durable)
      // dims must expose identifier-charset names for the generated
      // projection (collision-dropped against the mat side, so the
      // enrichment view's output is bare and unambiguous); each dim
      // carries BOTH its table name and alias as reference qualifiers
      dims = rels.filterNot(_._1.equalsIgnoreCase(view)).map {
        case (r, a) => (Seq(r) ++ a,
          spark.table(r).schema.fieldNames.toSeq) }
      if dims.flatMap(_._2).forall(_.matches(GeneratedSqlIdent))
      // split each dim's columns into projection survivors and
      // collision-DROPPED names (the mat side's name wins)
      dimSplit = {
        val taken = scala.collection.mutable.Set(
          m.colTypes.map(_._1.toLowerCase): _*)
        dims.map { case (qs, cols) =>
          val (kept, dropped) =
            cols.partition(c => taken.add(c.toLowerCase))
          (qs, kept, dropped)
        }
      }
      // the statement must not reference a DROPPED dim column outside
      // the join region (r20 review: qualifier-stripping would
      // silently rebind `sum(d.s)` onto the STREAM's s) — such
      // statements keep the named rejection. The guard text is
      // UNTICKED first (second review pass: maskQuoted blanks
      // backtick interiors, so ``sum(d.`s`)`` would have slipped past
      // the regex while stripQualifiers still stripped the bare
      // qualifier — the exact silent rebind this guard rejects)
      maskedOutside = MatchRecognize.maskQuoted(
        untick(sql.substring(0, fromIdx)) + " " +
          untick(sql.substring(regionEnd)))
      if dimSplit.forall { case (qs, _, dropped) =>
        dropped.forall(c => qs.forall(q =>
          (raw"(?is)\b" + java.util.regex.Pattern.quote(q) +
            raw"\s*\.\s*" + java.util.regex.Pattern.quote(c) +
            raw"\b").r.findFirstIn(maskedOutside).isEmpty))
      }
    } yield {
      // the region with the view swapped for the intermediate; the
      // statement's alias (if any) survives the swap, so the ON
      // predicate's qualifiers keep resolving
      val vQ = java.util.regex.Pattern.quote(view)
      val RegionSwapRe = raw"(?is)(?<![\w.`])$vQ\b".r
      val regionRaw = sql.substring(fromIdx + "FROM".length, regionEnd)
      val swapped = {
        val out = new StringBuilder
        var last = 0
        RegionSwapRe.findAllMatchIn(regionMasked).foreach { mm =>
          out.append(regionRaw.substring(last, mm.start))
          out.append(m.mat)
          last = mm.end
        }
        out.append(regionRaw.substring(last))
        out.toString
      }
      val matQual = viewAlias.getOrElse(m.mat)
      val items =
        m.colTypes.map { case (n, _) => s"$matQual.`$n`" } ++
          dimSplit.flatMap { case (qs, kept, _) =>
            kept.map(c => s"${qs.last}.`$c`")
          }
      val enr = "graft_enr_" + m.mat.stripPrefix("graft_mat_") + "_" +
        ((m.mat + swapped).hashCode & 0x7fffffff)
      val enrich = s"CREATE OR REPLACE TEMPORARY VIEW $enr AS SELECT " +
        items.mkString(", ") + s" FROM$swapped"
      val stage2 = s"$pre FROM $enr $post"
      AutoSplitPlan(m.ddl, m.stage1, stage2, m.mat, m.path,
        view.toLowerCase, m.reuse, durable, enrich = Some(enrich))
    }
  }

  /** Strips `qual.` prefixes for the given relation/alias names —
    * stage 2 of the enrichment form reads the generated join view,
    * whose projection is collision-free, so bare names resolve
    * uniquely. Matches run on masked text (a literal spelling a
    * qualifier is never touched); a STRUCT column sharing a
    * qualifier's name would be mangled — accepted, the enrichment
    * gate's relations are top-level tables. */
  private def stripQualifiers(rawText: String, quals: Seq[String]): String = {
    if (quals.isEmpty) return rawText
    val re = ("(?is)\\b(?:" + quals.distinct
      .map(java.util.regex.Pattern.quote).mkString("|") +
      ")\\s*\\.\\s*").r
    val m = MatchRecognize.maskQuoted(rawText)
    val out = new StringBuilder
    var last = 0
    re.findAllMatchIn(m).foreach { mm =>
      out.append(rawText.substring(last, mm.start))
      last = mm.end
    }
    out.append(rawText.substring(last))
    out.toString
  }

  private def executeInsertRewritten(
      spark: SparkSession, config: EngineConfig, rewritten: String): Unit =
    ScriptParser.parseInsert(rewritten) match {
      case Some(ScriptParser.Insert(i, target, query))
          if !i.byName && sinks.contains(target) =>
        // static PARTITION clauses are an engine-sink limitation
        // only — a native catalog INSERT keeps Spark's own support
        // via the fallthrough below
        if (i.partitionSpec.nonEmpty)
          throw new IllegalArgumentException(
            "INSERT with a static PARTITION clause is not supported " +
              "on connector sinks — write the partition column in " +
              "the query and declare PARTITIONED BY on the sink table")
        val df = spark.sql(query)
        // INSERT INTO t(c1, c2): name the query's columns c1, c2;
        // without a list they map onto the sink's declared physical
        // columns by position, as Flink maps them
        val named =
          if (i.userSpecifiedCols.nonEmpty) df.toDF(i.userSpecifiedCols: _*)
          else if (df.columns.length == sinks(target).columns.length)
            df.toDF(sinks(target).columns.map(_.name): _*)
          else df
        writeToSink(spark, config, named, sinks(target), i.overwrite)
      case _ =>
        // not an engine sink — let Spark SQL handle the whole INSERT
        // (still the rewritten text: temporal joins must not leak
        // Flink syntax into the parser on this path either)
        spark.sql(rewritten)
    }

  /** The analyzed plan carries a flatMapGroupsWithState armed with
    * PROCESSING-time timeouts (the TTL'd trackers) — those queries run
    * timer batches even without data, so the idle trigger cadence
    * matters. */
  private def hasProcessingTimeTimers(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.FlatMapGroupsWithState
          if f.timeout ==
            org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout => f
    }.isDefined

  /** A stateful operator sits ABOVE another stateful subtree AND a
    * harness tracker (flatMapGroupsWithState) is part of the chain (a
    * two-stage pipeline, r17). Those queries must start under
    * SINGLE-watermark propagation: Spark's per-operator simulator
    * propagates NO watermark through flatMapGroupsWithState
    * (`produceOutputWatermark` = None), so a chained tracker would
    * never mature anything — while the single global watermark is
    * exactly the in-band signal the trackers' watermark-gated
    * emissions are correct under. A chain of purely NATIVE stateful
    * operators (window agg over window agg) carries no tracker and is
    * deliberately NOT matched: Spark's own per-operator propagation
    * and correctness checks handle those plans better. */
  private def chainsStatefulStages(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def stateful(p: LogicalPlan): Boolean = p match {
      case _: FlatMapGroupsWithState => true
      case a: Aggregate => a.child.isStreaming
      case d: Deduplicate => d.child.isStreaming
      case _ => false
    }
    df.isStreaming &&
      df.queryExecution.analyzed.exists(
        _.isInstanceOf[FlatMapGroupsWithState]) &&
      df.queryExecution.analyzed.exists(n =>
        stateful(n) && n.children.exists(_.exists(stateful)))
  }

  /** Runs `start` with the chained-pipeline conf scope applied when
    * the plan needs it (see [[chainsStatefulStages]]): SINGLE-watermark
    * propagation, and Spark's global-watermark correctness heuristic
    * downgraded to a warning — every tracker this harness compiles is
    * append-mode and emits a row only once the watermark has passed
    * its event time, so its emissions are never late downstream and
    * the heuristic's premise does not apply (scoped HERE, not
    * globally: a plan chaining only NATIVE stateful operators keeps
    * Spark's own protection). The session values are restored after
    * the query has captured them at start. Update-mode trackers (the
    * TTL'd top-N/dedup/GROUP BY) reject by name above another
    * stateful stage: the whole query would run in update mode, where
    * the INTERMEDIATE stage emits partial results the updating stage
    * folds as facts.
    */
  private def withChainedScope[T](spark: SparkSession, df: DataFrame)(
      start: => T): T = {
    if (!chainsStatefulStages(df)) return start
    df.queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.FlatMapGroupsWithState
          if f.outputMode == org.apache.spark.sql.streaming.OutputMode.Update() => f
    }.foreach(_ => throw new IllegalArgumentException(
      "a TTL'd updating operator (unbounded top-N/dedup/GROUP BY under " +
        "table.exec.state.ttl) cannot run above another stateful stage " +
        "in one statement — the intermediate stage would emit partial " +
        "results as facts (Flink runs this shape over a retraction " +
        "stream, which append-mode chaining cannot express); the " +
        "equivalent two-statement recipe: INSERT INTO a table from " +
        "the first (windowed) stage, then run the TTL'd operator " +
        "over that table in its own statement — or SET " +
        "graft.streaming.auto-split-updating = true to have the " +
        "engine compile that recipe itself (two jobs, Flink's " +
        "single-statement UX)"))
    val keys = Seq(
      "spark.sql.streaming.statefulOperator.allowMultiple",
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "false"))
    try start
    finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** Converts an append-mode start failure of a CHAINED plan into the
    * two-stage contract message — applied AFTER the sink-specific
    * catches (the keyless-jdbc PRIMARY KEY diagnostic keeps priority).
    */
  private def rethrowChainedAppend(df: DataFrame,
      e: org.apache.spark.sql.AnalysisException): Nothing =
    if (chainsStatefulStages(df) &&
        Option(e.getMessage).map(_.toLowerCase)
          .exists(_.contains("output mode")))
      throw new IllegalArgumentException(
        "two-stage streaming pipelines run APPEND end-to-end (the " +
          "intermediate stage must emit finals); this statement's " +
          "top stage cannot produce append output — materialize the " +
          "pre-aggregation to a sink and continue in a second " +
          "statement", e)
    else throw e

  private def writeToSink(
      spark: SparkSession, config: EngineConfig,
      df: DataFrame, sinkDef: TableDef, overwrite: Boolean = false): Unit = {
    val connector = sinkDef.connector.getOrElse("print")
    // Flink parity: INSERT OVERWRITE is a batch filesystem(/hive)
    // operation; streaming jobs and non-replaceable sinks reject it
    if (overwrite && df.isStreaming)
      throw new IllegalArgumentException(
        "INSERT OVERWRITE is not supported in streaming mode")
    if (overwrite && connector != "filesystem")
      throw new IllegalArgumentException(
        s"INSERT OVERWRITE into a '$connector' sink is not supported — " +
          "only filesystem tables are replaceable")
    if (df.isStreaming) {
      val base0 = connector match {
        case "print" => PrintSink.writer(df, sinkDef)
        case "blackhole" =>
          df.writeStream.format("noop").outputMode("update")
        case "filesystem" =>
          val w = df.writeStream
            .format(sinkDef.options.getOrElse("format", "parquet"))
            .outputMode("append")
            .option("path", sinkDef.options("path"))
          if (sinkDef.partitionedBy.nonEmpty)
            w.partitionBy(sinkDef.partitionedBy: _*)
          else w
        case "jdbc" =>
          // Spark has no streaming JDBC sink; per-micro-batch write is
          // the standard bridge. A KEYLESS jdbc sink is append-only
          // (Flink semantics), so it runs in append output mode: plans
          // that only ever emit finalized rows — pure appends, and
          // watermarked window aggregations — work; an updating plan is
          // rejected by Spark's own append-mode check at start(), which
          // the start wrapper below turns into the PRIMARY KEY contract
          // error. A keyed sink runs in update mode and upserts.
          val mode =
            if (sinkDef.primaryKey.nonEmpty) "update" else "append"
          df.writeStream.outputMode(mode).foreachBatch {
            (batch: DataFrame, _: Long) =>
              if (sinkDef.primaryKey.nonEmpty) jdbcUpsert(batch, sinkDef)
              else batch.write.format("jdbc")
                .options(jdbcOptions(sinkDef)).mode("append").save()
              // sink-first scripts read the table back once it exists
              registerJdbcView(spark, sinkDef)
          }
      }
      // a CHAINED plan (stateful stage above a stateful stage, r17)
      // must run in APPEND end-to-end: in update mode the intermediate
      // window aggregation emits PARTIAL windows, which the downstream
      // tracker would consume as extra fact rows (double counting) —
      // Flink's window operators emit finals only, and so must these
      val base =
        if (chainsStatefulStages(df)) base0.outputMode("append")
        else base0
      val withTrigger = config.miniBatchLatency match {
        case Some(latency) => base.trigger(Trigger.ProcessingTime(latency))
        case None if hasProcessingTimeTimers(df) =>
          // a TTL'd tracker (processing-time timeouts) makes Spark run
          // no-data batches continuously to fire timers
          // (FlatMapGroupsWithStateExec.shouldRunAnotherBatch is
          // unconditionally true) — with the default 0 ms trigger that
          // is a BUSY LOOP at idle. Bound the idle duty cycle to one
          // micro-batch per second unless the script configured its
          // own mini-batch latency.
          base.trigger(Trigger.ProcessingTime("1 second"))
        case None          => base
      }
      val withCp =
        if (config.checkpointingEnabled) {
          val dir = config.checkpointDir match {
            case Some(base) =>
              // durable, recoverable checkpoints under the configured
              // base (Flink's state.checkpoints.dir semantics), stable
              // per (pipeline, sink) — stamped with the tracker state
              // format versions so an incompatible restore fails with
              // the named contract error, not an encoder stack trace
              val name =
                config.pipelineName.getOrElse("graft") + "-" +
                  sinkDef.name +
                  // auto-split stage 2 rides an extra identity tag
                  // (the intermediate's definition-hash name) so a
                  // changed view definition starts fresh state
                  // instead of resuming against a different
                  // directory's history (r20 review)
                  config.raw.get("graft.internal.checkpoint-suffix")
                    .map("-" + _).getOrElse("")
              val d = base.stripSuffix("/") + "/" + name
              graft.streaming.StateFormat.check(spark, d)
              d
            case None =>
              java.nio.file.Files.createTempDirectory("graft-cp-").toString
          }
          withTrigger.option("checkpointLocation", dir)
        } else if (connector == "filesystem")
          // Spark's file sink REQUIRES a checkpoint (its commit log
          // rides it) even when the script left checkpointing off —
          // give the query a fresh run-scoped temp dir, matching
          // Flink's non-checkpointed streaming jobs (which still run,
          // just without recovery)
          withTrigger.option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("graft-cp-").toString)
        else withTrigger
      val named = config.pipelineName match {
        case Some(n) => withCp.queryName(s"$n-${sinkDef.name}")
        case None    => withCp.queryName(sinkDef.name)
      }
      try started += withChainedScope(spark, df)(named.start())
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if connector == "jdbc" && sinkDef.primaryKey.isEmpty &&
              Option(e.getMessage).map(_.toLowerCase).exists(m =>
                m.contains("output mode") && m.contains("append")) =>
          throw new IllegalArgumentException(
            s"jdbc sink '${sinkDef.name}' has no PRIMARY KEY but the " +
              "streaming query produces updates: an append-only JDBC " +
              "sink cannot consume update changes. Declare a PRIMARY " +
              "KEY on the sink table for upsert semantics.", e)
        case e: org.apache.spark.sql.AnalysisException =>
          rethrowChainedAppend(df, e)
      }
    } else {
      connector match {
        case "print"     => PrintSink.printBatch(df, sinkDef)
        case "blackhole" => df.write.format("noop").mode("overwrite").save()
        case "filesystem" =>
          // OVERWRITE replaces the whole target for an unpartitioned
          // sink; a partitioned sink replaces only the WRITTEN
          // partitions (Flink's filesystem overwrite semantics — the
          // per-write dynamic mode scopes the truncation, instead of
          // Spark's static default wiping sibling partitions)
          val w0 = df.write.format(sinkDef.options.getOrElse("format", "parquet"))
            .mode(if (overwrite) "overwrite" else "append")
          val w =
            if (overwrite && sinkDef.partitionedBy.nonEmpty)
              w0.option("partitionOverwriteMode", "dynamic")
            else w0
          (if (sinkDef.partitionedBy.nonEmpty)
             w.partitionBy(sinkDef.partitionedBy: _*)
           else w).save(sinkDef.options("path"))
          // later statements in the same script may read what was written
          registerFilesystemView(spark, config, sinkDef)
        case "jdbc" =>
          if (sinkDef.primaryKey.nonEmpty) jdbcUpsert(df, sinkDef)
          else
            // keyless: plain append; creates the table on first write
            df.write.format("jdbc").options(jdbcOptions(sinkDef))
              .mode("append").save()
          registerJdbcView(spark, sinkDef)
      }
    }
  }
}

object SqlSubmitAction {

  /** Shuffle and state partitions for a session `run()` builds: an
    * explicit `spark.sql.shuffle.partitions` (`--conf`, `-D`) wins,
    * else the cores Spark schedules on. A fixed count larger than the
    * cores makes every micro-batch commit that many near-empty state
    * stores. A restored stream keeps the count its checkpoint was
    * written with; `SET parallelism.default` overrides mid-script.
    */
  def shufflePartitions(conf: SparkConf, defaultParallelism: Int): Int =
    conf.getInt("spark.sql.shuffle.partitions", defaultParallelism)

  /** Spark's key naming the class every streaming checkpoint log and
    * state store writes its files through. */
  val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** [[graft.streaming.LocalCheckpointFileManager]]: `FileSystem` on a
    * local path (no `readlink` fork per rename), Spark's default
    * `FileContext` elsewhere. */
  val CheckpointManager: String =
    classOf[graft.streaming.LocalCheckpointFileManager].getName

  /** Checkpoint file manager for a session `run()` builds: an explicit
    * [[CheckpointManagerKey]] (`--conf`, `-D`) wins, else
    * [[CheckpointManager]].
    */
  def checkpointManager(conf: SparkConf): String =
    conf.get(CheckpointManagerKey, CheckpointManager)
}

final class SqlSubmitActionFactory extends ActionFactory {
  override def name: String = "sql-submit"

  override def showHelp(): Unit = {
    println("Action \"sql-submit\" submit sql statements from specified file to Spark." +
      "This is support run a pipeline in local or cluster mode, and variables replacement.")
    println()
    println("Syntax:")
    println()
    println("  sql-submit --sql-file <SQL-FILE> [--var <KEY=VALUE> [--var <KEY=VALUE> ...]]")
    println()
    println("--sql-file <SQL-FILE>  Required. SQL statements in this file will be executed.")
    println("--var <KEY=VALUE> Optional. In SQL statements which specified by '--sql-file <SQL-FILE>' can use '${KEY}' to define variable replacement.")
  }

  override def create(params: Args): Option[Action] = {
    val file = params.required("sql-file")
    Some(new SqlSubmitAction(
      file,
      params.configMap("var"),
      durationSec = params.get("duration-sec").map(_.toLong).getOrElse(0L)))
  }
}
