package graft.harness

import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Descending, EqualTo, Expression, Literal, SortOrder, SubqueryExpression, UnspecifiedFrame, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, CreateView, Distinct, Filter, InsertIntoStatement, Join, LogicalPlan, Project, SubqueryAlias, UnaryNode}
import org.apache.spark.sql.catalyst.trees.TreeNode
import org.apache.spark.sql.catalyst.util.QuotingUtils.quoteIfNeeded
import org.apache.spark.sql.execution.SparkSqlParser
import org.apache.spark.sql.execution.command.CreateViewCommand
import ScriptParser.splice
import org.apache.spark.sql.types.IntegerType

/** Flink `FOR SYSTEM_TIME AS OF` temporal-join rewrite.
  *
  * The reference router passes a Flink temporal join through to the
  * engine verbatim (`SQLSubmitAction.java:76`); Spark's parser rejects
  * the syntax, so the harness rewrites
  *
  * {{{ [LEFT] JOIN versioned FOR SYSTEM_TIME AS OF l.t AS v ON <cond> }}}
  *
  * into a join against the INTERVAL-IZED version table: one window pass
  * (`LEAD(time) OVER (PARTITION BY pk ORDER BY time)`) turns each
  * version row into a validity interval `[__vstart, __vend)`, and the
  * temporal join becomes the original equi condition plus a range
  * predicate — for each left row exactly the latest version at or
  * before its time, which is Flink's event-time temporal-join
  * semantics (INNER drops unmatched left rows, LEFT keeps them).
  *
  * Scale shape: the window shuffles only the version table on its
  * primary key, and the join stays a key-partitioned equi join with a
  * residual range filter. The tempting alternative — a correlated
  * LATERAL `ORDER BY time DESC LIMIT 1` subquery — decorrelates into a
  * domain join (distinct left times × the whole version table, a
  * BroadcastNestedLoopJoin): quadratic, measured as a timeout at
  * sf0.1 where the interval form runs in under a second.
  *
  * Every entry point reads the statement through Spark's parser
  * ([[read]]): Spark's time travel takes no column operand, so each
  * `FOR SYSTEM_TIME AS OF <column>` clause is blanked to spaces, the
  * statement parses once, and each clause pairs with the `Join` whose
  * version relation ends just before it. Joins, conditions, relations,
  * aliases and column references come from the plan; rewrites splice
  * by origin span into the original text.
  *
  * The versioned table's event-time attribute and primary key come
  * from its DDL (WATERMARK + PRIMARY KEY — the same declarations Flink
  * requires of a versioned table), resolved through the `versionOf`
  * callback so the rewrite stays independent of the harness catalog.
  * The interval columns ride along as `__vstart`/`__vend` on the
  * version alias; explicit projections never see them, and a
  * `SELECT alias.*` is rewritten with a star EXCEPT so they stay
  * hidden there too. A bare `SELECT *` over the join does expose them
  * (a star may belong to any query block, so it cannot be rewritten
  * safely) — project explicitly or qualify the star.
  */
object TemporalJoin {

  /** A versioned table's temporal metadata: event-time column and the
    * key that versions are ordered within.
    */
  final case class VersionMeta(timeCol: String, primaryKey: Seq[String])

  private val Ident = raw"(?:`[^`]+`|[A-Za-z_]\w*)"
  private val Dotted = s"$Ident(?:\\.$Ident)*"

  private val MarkerRe = raw"(?is)FOR\s+SYSTEM_TIME\s+AS\s+OF".r

  /** The clause [[read]] blanks: a (possibly qualified) column operand,
    * the only form Flink's time-attribute rules admit. A call such as
    * `PROCTIME()` is not a column and stays unblanked (unsupported). */
  private val ClauseRe =
    (raw"(?is)\bFOR\s+SYSTEM_TIME\s+AS\s+OF\s+($Dotted)(?![\w.`]|\s*\()").r

  def hasTemporalJoin(sql: String): Boolean =
    MarkerRe.findFirstIn(sql).isDefined

  /** One temporal join: the parsed `Join`, its version relation and
    * optional alias, the AS OF operand's text and where the blanked
    * clause ends. */
  private final case class Stage(join: Join, table: UnresolvedRelation,
      alias: Option[SubqueryAlias], asOf: String, clauseEnd: Int) {
    def aliasName: String = alias.fold(table.multipartIdentifier.last)(_.alias)
  }

  /** A named relation and its alias node, if aliased. */
  private def named(p: LogicalPlan)
      : Option[(UnresolvedRelation, Option[SubqueryAlias])] = p match {
    case a @ SubqueryAlias(_, t: UnresolvedRelation) => Some((t, Some(a)))
    case t: UnresolvedRelation => Some((t, None))
    case _ => None
  }

  /** A statement read through Spark's parser: the text before its
    * query (`INSERT INTO t `, `CREATE VIEW v AS `, or empty), the
    * query's plan, and the temporal joins in text order. */
  private final case class Read(sql: String, head: String,
      query: LogicalPlan, stages: Seq[Stage]) {
    def text(n: TreeNode[_]): String = sql.substring(start(n), end(n))

    /** The ON condition's text, past the version side and `ON`. */
    def onText(st: Stage): String =
      sql.substring(st.clauseEnd max end(st.alias.getOrElse(st.table)),
        end(st.join)).trim.drop(2).trim

    /** The version alias as written (the table text when alias-free). */
    def aliasText(st: Stage): String = st.alias.fold(text(st.table)) { a =>
      val t = sql.substring(st.clauseEnd, end(a)).trim
      if (t.length > 3 && t.take(2).equalsIgnoreCase("AS") &&
          t.charAt(2).isWhitespace) t.drop(2).trim
      else t
    }
  }

  private def start(n: TreeNode[_]): Int = n.origin.startIndex.get
  private def end(n: TreeNode[_]): Int = n.origin.stopIndex.get + 1

  /** `sql` with every `FOR SYSTEM_TIME AS OF <column>` clause blanked
    * to as many spaces: Spark's parser reads the rest, and the plan's
    * origins still index `sql`. */
  private[harness] def blankClauses(sql: String): String =
    ClauseRe.findAllMatchIn(MatchRecognize.maskQuoted(sql)).foldLeft(sql)(
      (s, m) => s.patch(m.start, " " * (m.end - m.start), m.end - m.start))

  /** Blanks every `FOR SYSTEM_TIME AS OF <column>` clause, parses the
    * statement once and pairs each clause with its join ([[readOf]]). */
  private def read(sql: String): Option[Read] =
    queryOf(blankClauses(sql)).flatMap(readOf(sql, _))

  /** Pairs each clause of `sql` with its INNER/LEFT/RIGHT/FULL `Join
    * ... ON` in `query`, the plan of `sql` with the clauses blanked.
    * None when a clause pairs with no such join or a marker stays
    * unblanked. */
  private def readOf(sql: String, query: LogicalPlan): Option[Read] = {
    val masked = MatchRecognize.maskQuoted(sql)
    val clauses = ClauseRe.findAllMatchIn(masked).toSeq
    def stageOf(joins: Seq[Join], m: scala.util.matching.Regex.Match) = {
      val before = masked.lastIndexWhere(!_.isWhitespace, m.start - 1)
      joins.iterator.flatMap(j => named(j.right).collect {
        case (t, alias) if end(t) == before + 1 && j.condition.isDefined &&
            Seq(Inner, LeftOuter, RightOuter, FullOuter).contains(j.joinType) =>
          Stage(j, t, alias, sql.substring(m.start(1), m.end(1)), m.end)
      }).nextOption()
    }
    val joins = ScriptParser.nodesOf(query).collect { case j: Join => j }
    for {
      stages <- clauses.foldLeft(Option(Vector.empty[Stage]))((acc, m) =>
        acc.flatMap(ss => stageOf(joins, m).map(ss :+ _)))
      if MarkerRe.findAllMatchIn(masked).size == clauses.size
      // a LIMIT or ORDER BY node's origin starts at its own clause
      head = sql.substring(0, query.flatMap(_.origin.startIndex).min)
    } yield Read(sql, head, query, stages)
  }

  /** The statement's query plan: a SELECT or INSERT through
    * [[ScriptParser.parseQuery]]; a CREATE VIEW (or PARTITION / BY
    * NAME INSERT) through Spark's session parser, which
    * `CatalystSqlParser` lacks the commands of. */
  private def queryOf(sql: String): Option[LogicalPlan] =
    ScriptParser.parseQuery(sql).map(_._2)
      .orElse(scala.util.Try(new SparkSqlParser().parsePlan(sql)).toOption)
      .map {
        case c: CreateViewCommand => c.plan
        case c: CreateView => c.query
        case i: InsertIntoStatement => i.query
        case q => q
      }

  /** A Flink VERSIONED VIEW: a deduplication view over a changelog —
    * the `FOR SYSTEM_TIME AS OF` version side Flink accepts without a
    * DDL-declared versioned table (reference pass-through surface,
    * `SQLSubmitAction.java:76`). The shape infers the temporal
    * metadata: PARTITION BY columns are the primary key, the
    * descending ORDER BY column is the version time (Flink requires
    * it to be the source's event-time attribute — the CALLER checks
    * that, plus that the projection keeps the key and time columns).
    * The view's rn = 1 output is only the LATEST version; a temporal
    * join needs the full history, so the join rewrites against
    * `SELECT <cols> FROM <srcTable>` instead of the view itself.
    */
  final case class VersionedView(srcTable: String, timeCol: String,
      primaryKey: Seq[String], items: Seq[(String, String)]) {
    /** View-output column names, in projection order. */
    def cols: Seq[String] = items.map(_._2)
    /** The OUTPUT name the source column `src` rides out under —
      * itself when the projection keeps the name (r20: in-body `AS`
      * renames are legal in Flink dedup views, so the join's ON/meta
      * references resolve against the RENAMED columns). */
    def outNameOf(src: String): String =
      items.find(_._1.equalsIgnoreCase(src)).map(_._2).getOrElse(src)
  }

  /** Reads the versioned-view shape from a CREATE VIEW body's plan:
    * `SELECT <cols> FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY
    * <keys> ORDER BY <tcol> DESC) AS <rn> FROM <src>) [alias] WHERE
    * <rn> = 1`. Each outer item is a simple (optionally qualified)
    * column, optionally renamed under a plain alias (r20: `ts AS
    * version_ts` is a Flink-legal rename — the (source, output) pairs
    * ride [[VersionedView.items]]). ASC ordering is keep-FIRST
    * deduplication, not a version history — no match. Projecting the
    * rank column (under any name), a star, or expression items: no
    * match (the caller then raises the named non-versioned rejection
    * on a temporal join over the view). Every name feeds generated
    * SQL, so each must be a plain identifier.
    */
  def versionedViewOf(body: String): Option[VersionedView] =
    ScriptParser.parseQuery(body).collect { case ("", q) => q }
      .flatMap(versionedViewIn)

  /** [[versionedViewOf]] over a parsed view body. */
  private[harness] def versionedViewIn(
      query: LogicalPlan): Option[VersionedView] = {
    def plain(s: String) = s.matches(raw"[A-Za-z_]\w*")
    def column(e: Expression, maxParts: Int): Option[String] = e match {
      case a: UnresolvedAttribute if a.nameParts.size <= maxParts &&
          plain(a.nameParts.last) => Some(a.nameParts.last)
      case _ => None
    }
    def sequence[A](xs: Seq[Option[A]]): Option[Seq[A]] =
      if (xs.forall(_.isDefined)) Some(xs.flatten) else None
    query match {
      case Project(outer, Filter(EqualTo(rank, Literal(1, IntegerType)),
          SubqueryAlias(_, Project(Seq(UnresolvedStar(None), Alias(
            WindowExpression(f: UnresolvedFunction, WindowSpecDefinition(
              keys, Seq(SortOrder(tcol, Descending, _, _)), UnspecifiedFrame)),
            rn)), src: UnresolvedRelation))))
          if f.nameParts.map(_.toLowerCase) == Seq("row_number") &&
            f.arguments.isEmpty && column(rank, 2).exists(_.equalsIgnoreCase(rn)) &&
            src.multipartIdentifier.forall(plain) =>
        for {
          t <- column(tcol, 1)
          ks <- sequence(keys.map(column(_, 1)))
          if ks.nonEmpty
          items <- sequence(outer.map {
            case Alias(c, out) if plain(out) => column(c, 2).map(_ -> out)
            case c => column(c, 2).map(n => n -> n)
          })
          if items.nonEmpty
          // the rank column stays internal: projecting it under ANY name
          // would expose rank values as data on the version side
          if !items.exists(_._1.equalsIgnoreCase(rn))
        } yield VersionedView(src.multipartIdentifier.mkString("."), t, ks, items)
      case _ => None
    }
  }

  /** The deterministic history-relation name a versioned view `name`
    * substitutes to. The sanitized name alone can collide (`my.latest`
    * vs `my_latest`) — a hash of the lowercased original is suffixed
    * so two distinct views never share one history view (r19 review).
    * Shared with the registry's eviction so a dropped/replaced view's
    * VersionMeta entry never outlives it (r20 advice).
    */
  def historyNameOf(name: String): String =
    "graft_vv_" + name.toLowerCase.replaceAll(raw"\W", "_") + "_" +
      (name.toLowerCase.hashCode & 0x7fffffff)

  /** `JOIN <versioned view> FOR SYSTEM_TIME AS OF` → the same join
    * over the view's HISTORY relation: the rn = 1 view output holds
    * only the latest version per key, so the rewrite reads
    * `SELECT <view cols> FROM <source>` — registered as a `graft_vv_`
    * temp view whose derived VersionMeta (ORDER BY time column,
    * PARTITION BY primary key) is handed to `metaOut` — the way
    * Flink's planner resolves a versioned view to the underlying
    * changelog. An alias-free form gets the view's own name as the
    * alias so the statement's qualified references keep resolving.
    * Names `viewOf` does not know, and statements [[read]] cannot
    * parse, pass through untouched and hit the named rejection
    * downstream.
    */
  def substituteVersionedViews(spark: org.apache.spark.sql.SparkSession,
      sql: String, viewOf: String => Option[VersionedView],
      metaOut: (String, VersionMeta) => Unit): String =
    read(sql).fold(sql) { r =>
      splice(sql, 0, sql.length, r.stages.flatMap { st =>
        val name = st.table.multipartIdentifier.last
        viewOf(name).toSeq.flatMap { vv =>
          val hist = historyNameOf(name)
          // re-created per statement: the source temp view may have been
          // re-registered (mode flip, re-run) since the last use. The
          // projection carries the view's renames, and the meta names
          // the OUTPUT columns — the statement's ON clause references
          // the view's surface, not the source's (r20)
          spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $hist AS " +
            s"SELECT ${vv.items.map { case (s, o) =>
              if (s == o) s else s"$s AS $o" }.mkString(", ")} " +
            s"FROM ${vv.srcTable}")
          metaOut(hist, VersionMeta(vv.outNameOf(vv.timeCol),
            vv.primaryKey.map(vv.outNameOf)))
          (start(st.table), end(st.table), hist) +: (if (st.alias.isEmpty)
            Seq((st.clauseEnd, st.clauseEnd, s" AS $name")) else Nil)
        }
      })
    }

  /** The PROBE (left) table and its alias of the first `FOR
    * SYSTEM_TIME AS OF` join in `sql` ([[probeIn]]). */
  def probeOf(sql: String): Option[(String, String)] =
    queryOf(blankClauses(sql)).flatMap(probeIn(sql, _)).flatMap(named)
      .map { case (t, a) =>
        (t.multipartIdentifier.last, a.fold(t.multipartIdentifier.last)(_.alias))
      }

  /** For the CLI's event-time view registry
    * (SqlSubmitAction.recordView): the probe relation of the first
    * temporal join in `query`, the plan of `sql` with its clauses
    * blanked ([[blankClauses]]). Flink's law: a temporal join
    * preserves the probe side's rowtime, so a view over one can feed
    * a downstream window/OVER/top-N. None when the probe is not a
    * single named table (the streaming rewrite would reject such a
    * shape anyway), or when any other join rides along, subqueries
    * included: a REGULAR join drops the rowtime attribute in Flink. */
  private[harness] def probeIn(sql: String,
      query: LogicalPlan): Option[LogicalPlan] =
    readOf(sql, query).filter(r => r.stages.nonEmpty &&
      ScriptParser.nodesOf(r.query).forall {
        case j: Join => r.stages.exists(_.join eq j)
        case _ => true
      }).map(_.stages.head.join.left).filter(named(_).isDefined)

  private def unsupported(): Nothing = throw new IllegalArgumentException(
    "Unsupported FOR SYSTEM_TIME AS OF form: only " +
      "[INNER|LEFT [OUTER]] JOIN <versioned table> FOR SYSTEM_TIME " +
      "AS OF <time column> [AS alias] ON ... is recognized")

  /** Rewrites every temporal join in `sql`; `versionOf` maps an
    * (unquoted) table name to its temporal metadata. Throws if a
    * temporal join references a table without a time attribute or
    * primary key — same contract as Flink, which rejects temporal
    * joins on non-versioned tables. A `FOR SYSTEM_TIME AS OF` form
    * [[read]] cannot pair (AS OF PROCTIME(), a subquery join input,
    * ...) fails with the contract rather than leaking Flink syntax
    * into Spark's parser.
    */
  def rewrite(sql: String, versionOf: String => Option[VersionMeta]): String =
    if (!hasTemporalJoin(sql)) sql
    else {
      val r = read(sql).getOrElse(unsupported())
      val joinEdits = r.stages.map { st =>
        checkHead(r, st)
        val alias = r.aliasText(st)
        val meta = metaOf(st.table.multipartIdentifier.last, versionOf)
        val ts = meta.timeCol
        val pk = meta.primaryKey.mkString(", ")
        val outerKw =
          if (st.join.joinType == LeftOuter) "LEFT OUTER JOIN" else "JOIN"
        // trailing space: the rest resumes at the next clause's first
        // character
        val rest = Some(sql.indexWhere(!_.isWhitespace, end(st.join)))
          .filter(_ >= 0).getOrElse(sql.length)
        (start(st.join), rest,
          s"$outerKw (SELECT *, $ts AS __vstart, " +
            s"LEAD($ts) OVER (PARTITION BY $pk ORDER BY $ts) AS __vend " +
            s"FROM ${r.text(st.table)}) AS $alias " +
            s"ON (${r.onText(st)}) AND ${st.asOf} >= $alias.__vstart " +
            s"AND ($alias.__vend IS NULL OR ${st.asOf} < $alias.__vend) ")
      }
      // `SELECT v.*` over a temporal alias must not expose the interval
      // helpers — strip them with a qualified star EXCEPT. Applied only
      // to single-SELECT statements: in a multi-block statement (UNION,
      // subqueries) the same alias may bind a non-temporal table in
      // another block, where the EXCEPT would fail analysis. (A bare
      // `SELECT *` is never rewritten for the same reason: star EXCEPT
      // fails on scopes that don't carry the helpers.)
      val nodes = ScriptParser.nodesOf(r.query)
      val singleBlock = nodes.count {
        case _: Project | _: Aggregate => true
        case _ => false
      } == 1
      val starEdits = if (!singleBlock) Nil else for {
        s <- nodes.flatMap(_.expressions).flatMap(_.collect {
          case s @ UnresolvedStar(Some(Seq(_))) => s })
        st <- r.stages.find(_.aliasName.equalsIgnoreCase(s.target.get.head))
      } yield (start(s), end(s),
        s"${r.aliasText(st)}.* EXCEPT (__vstart, __vend)")
      splice(sql, 0, sql.length, joinEdits ++ starEdits)
    }

  private val viewCounter = new java.util.concurrent.atomic.AtomicLong

  /** Shared validation of a temporal join's kind and version-side
    * naming, used by the batch AND streaming rewrites so the contracts
    * cannot diverge: Flink rejects RIGHT/FULL temporal joins; an alias
    * is optional for a single-part table name (the name itself
    * addresses the versioned side) and required for a qualified one. */
  private def checkHead(r: Read, st: Stage): Unit = {
    if (st.join.joinType == RightOuter || st.join.joinType == FullOuter)
      throw new IllegalArgumentException(
        s"${if (st.join.joinType == RightOuter) "RIGHT" else "FULL"} JOIN " +
          "is not supported with FOR SYSTEM_TIME AS OF (only INNER and " +
          "LEFT temporal joins)")
    if (st.alias.isEmpty && st.table.multipartIdentifier.size > 1)
      throw new IllegalArgumentException(s"Temporal join over qualified " +
        s"table '${r.text(st.table)}' requires an alias")
  }

  /** The version table's metadata, or the named versioned-table
    * rejection. */
  private def metaOf(table: String,
      versionOf: String => Option[VersionMeta]): VersionMeta = {
    val meta = versionOf(table).getOrElse(throw new IllegalArgumentException(
      s"Temporal join over '$table' requires an event-time attribute " +
        "(declare WATERMARK FOR <col> in its DDL), or a versioned " +
        "VIEW: SELECT <cols> FROM (SELECT *, ROW_NUMBER() OVER " +
        "(PARTITION BY <key> ORDER BY <watermarked time col> DESC) " +
        "AS rn FROM <watermarked table>) WHERE rn = 1"))
    if (meta.primaryKey.isEmpty) throw new IllegalArgumentException(
      s"Temporal join over '$table' requires a PRIMARY KEY " +
        "(versions are ordered within it)")
    meta
  }

  /** Streaming `FOR SYSTEM_TIME AS OF` — Flink's event-time temporal
    * join as a stream-stream operator, compiled onto
    * [[graft.streaming.TemporalJoinTracker.joinRows]]. The accepted
    * shape is Flink's canonical one:
    *
    * {{{ SELECT ... FROM probe [AS] p
    *     [INNER|LEFT [OUTER]] JOIN versioned FOR SYSTEM_TIME AS OF
    *       p.row_time [AS] v
    *     ON p.k = v.k [AND ...] [WHERE ...] }}}
    *
    * Both sides must be stream relations (or both bounded — then the
    * tracker runs in batch with MAX_WATERMARK-at-end finality); the
    * probe needs a WATERMARK whose column IS the AS OF column, the
    * versioned side needs WATERMARK (version order) + PRIMARY KEY,
    * and the ON conjunction must equate exactly that primary key with
    * probe columns — Flink's own versioned-table requirements. Each
    * side's rows ride the shared exact state carrier as a JSON
    * payload keyed by the JSON equi-key tuple (version keys cast to
    * the probe key types so the textual keys agree); probes mature
    * when the watermark STRICTLY passes their event time, versions
    * retain latest-at-watermark plus newer — per-key state bounded by
    * the watermark delay plus one version. The outer select and a
    * residual WHERE splice over the decoded view: `p.c`/`v.c`
    * references and `p.*`/`v.*`/`*` stars rewrite to the decoded
    * columns by their origin spans. INNER filters unmatched probes;
    * LEFT null-extends the version side. The statement may carry an
    * INSERT or CREATE VIEW head (r18 — a temporal-join view keeps the
    * probe's rowtime, Flink's law; the CLI registry records the
    * propagated attribute, see [[probeIn]]).
    */
  def rewriteStreaming(
      spark: org.apache.spark.sql.SparkSession,
      sql: String,
      watermarkOf: String => Option[(String, String)],
      versionOf: String => Option[VersionMeta],
      // Flink `table.exec.state.ttl` → idle version-state retention:
      // a key's versions drop once it has gone this long past the
      // watermark with no pending probes (0 = retain the latest
      // version indefinitely, Flink's default)
      stateTtlSec: Long = 0L): String = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{StructField, StructType}
    def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)

    val r = read(sql).filter(_.stages.nonEmpty).getOrElse(fail(
      "unsupported streaming FOR SYSTEM_TIME AS OF form: expected " +
        "[INNER|LEFT [OUTER]] JOIN <versioned table> FOR SYSTEM_TIME " +
        "AS OF <probe time column> [AS alias] ON ..."))
    r.stages.foreach(checkHead(r, _))
    if (r.stages.exists(a => r.stages.exists(b => (a ne b) &&
        start(b.join) <= start(a.join) && end(a.join) <= end(b.join))))
      fail("nested FOR SYSTEM_TIME AS OF forms are unsupported")

    // the query block over the chain, outermost first: SELECT
    // [DISTINCT] <items> FROM <chain> [WHERE ...]; the clauses after a
    // residual WHERE ride along with it
    def block(p: LogicalPlan): List[LogicalPlan] = p match {
      case j: Join if r.stages.exists(_.join eq j) => List(j)
      case u: UnaryNode if !u.isInstanceOf[SubqueryAlias] =>
        block(u.child) match {
          case Nil => Nil
          case rest => u :: rest
        }
      case _ => Nil
    }
    val nodes = block(r.query)
    val where = nodes.dropRight(1).lastOption.collect { case Filter(w, _) => w }
    val items = nodes.collectFirst {
      case p: Project => p.projectList
      case a: Aggregate => a.aggregateExpressions
    }.filter(_ => where.isDefined || nodes.init.forall(n =>
      n.isInstanceOf[Project] || n.isInstanceOf[Distinct])).getOrElse {
      val tail =
        sql.substring(end(r.stages.last.join)).trim.stripSuffix(";").trim
      if (tail.nonEmpty) fail("streaming temporal join supports a " +
        "residual WHERE only after the ON condition — aggregate, window, " +
        s"or order in a separate statement; got '${tail.take(40)}'")
      fail("expected SELECT ... FROM for the streaming temporal-join rewrite")
    }
    val (itemsFrom, itemsTo) = ScriptParser.extentOf(sql, items: _*)
    // the chain: the top join's left spine, probe first (r17: Flink
    // chains temporal joins — a fact enriched by several dimension
    // histories in one SELECT; each stage's enriched output feeds the
    // next stage's probe side)
    def spine(p: LogicalPlan): List[LogicalPlan] = p match {
      case j: Join => spine(j.left) :+ j
      case leaf => List(leaf)
    }
    val chain = spine(nodes.last)
    val stageAt = chain.tail.map(j => r.stages.find(_.join eq j))
    val (pRel, pAliasNode) = named(chain.head)
      .filter(_ => stageAt.head.isDefined).getOrElse(fail(
        "streaming temporal join takes a single named probe table in " +
          "FROM; got '" + sql.substring(itemsTo,
            start(stageAt.flatten.head.join)).trim + "'"))
    // a qualified probe name cannot qualify column references — the
    // same alias rule the versioned side gets
    if (pAliasNode.isEmpty && pRel.multipartIdentifier.size > 1)
      fail(s"Temporal join probe over qualified table '${r.text(pRel)}' " +
        "requires an alias")
    stageAt.sliding(2).foreach {
      case Seq(Some(a), None) =>
        val next = stageAt.dropWhile(_ != Some(a)).flatten.drop(1).head
        fail("only FOR SYSTEM_TIME AS OF joins may chain in one " +
          "statement; found '" + sql.substring(end(a.join),
            start(next.join)).trim.take(40) + "' between them")
      case _ =>
    }
    val stages = stageAt.flatten
    if (stages.size != r.stages.size)
      fail("unsupported FOR SYSTEM_TIME AS OF placement: only a chain " +
        "of [INNER|LEFT] temporal joins after FROM <probe> is " +
        "recognized in streaming mode")
    val pTable = pRel.multipartIdentifier.last
    val pAlias = pAliasNode.fold(pTable)(_.alias)

    val (pWmCol, pDelay) = watermarkOf(pTable).getOrElse(fail(
      s"streaming temporal join needs a WATERMARK declaration on $pTable"))

    val pSrc = spark.table(pTable)
    def fieldOf(df: org.apache.spark.sql.DataFrame, table: String,
        c: String): StructField =
      df.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        fail(s"column $c not found in $table"))
    def carrier(f: StructField) = graft.streaming.StateFormat.carrierOf(f)
    val pFields = pSrc.schema.fields.toSeq.filter(f => carrier(f).isDefined)

    // alias -> (output column name -> decoded field in the CURRENT
    // enriched relation), in declaration order — drives ON/select/
    // WHERE reference resolution and star expansion across stages
    val aliasCols = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.LinkedHashMap[String, String]]()
    aliasCols(pAlias.toLowerCase) =
      scala.collection.mutable.LinkedHashMap.from(
        pFields.map(f => f.name -> f.name))
    def resolveQual(q: String, c: String): Option[String] =
      aliasCols.get(q.toLowerCase).map(m =>
        m.collectFirst { case (out, fld) if out.equalsIgnoreCase(c) => fld }
          .getOrElse(fail(s"column $c not found (or not exactly " +
            s"carrier-able) on relation '$q'")))

    var cur: org.apache.spark.sql.DataFrame = pSrc
    var curWmField: String = fieldOf(pSrc, pTable, pWmCol).name
    val droppedAll = scala.collection.mutable.ArrayBuffer.empty[String]
    droppedAll ++=
      (pSrc.schema.fields.toSeq.map(_.name) diff pFields.map(_.name))

    stages.zipWithIndex.foreach { case (st, stageIdx) =>
      val vTable = st.table.multipartIdentifier.last
      val vAlias = st.aliasName
      if (aliasCols.contains(vAlias.toLowerCase))
        fail(s"duplicate relation alias '$vAlias' in the temporal-join " +
          "chain — give each versioned side a distinct alias")
      // AS OF must reference the PROBE's event-time column (every
      // stage of a Flink chain enriches as of the fact row's time)
      scala.util.Try(CatalystSqlParser.parseExpression(st.asOf)).toOption
          .collect { case a: UnresolvedAttribute => a.nameParts } match {
        case Some(Seq(c)) =>
          if (!c.equalsIgnoreCase(pWmCol))
            fail(s"FOR SYSTEM_TIME AS OF must be $pTable's event-time " +
              s"column ($pWmCol); got $c")
        case Some(Seq(q, c)) =>
          val resolved = resolveQual(q, c).getOrElse(
            fail("FOR SYSTEM_TIME AS OF must reference the probe " +
              s"table's event-time column; got ${st.asOf}"))
          if (!resolved.equalsIgnoreCase(curWmField))
            fail(s"FOR SYSTEM_TIME AS OF must be $pTable's event-time " +
              s"column ($pWmCol); got ${st.asOf}")
        case _ => fail("FOR SYSTEM_TIME AS OF must reference the probe " +
          s"table's event-time column; got ${st.asOf}")
      }
      val meta = metaOf(vTable, versionOf)

      // ON: a conjunction of probe-column = version-column equalities
      // covering exactly the version table's primary key; the probe
      // side may qualify with ANY earlier alias of the chain
      def conjuncts(e: Expression): Seq[Expression] = e match {
        case And(a, b) => conjuncts(a) ++ conjuncts(b)
        case c => Seq(c)
      }
      val pairs = conjuncts(st.join.condition.get).map { c =>
        val (a, b) = c match {
          case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute) =>
            (a.nameParts, b.nameParts)
          case _ => fail("streaming temporal join ON takes a conjunction " +
            s"of column equalities; got '${ScriptParser.textOf(sql, c)}'")
        }
        def side(ref: Seq[String]): (String, String) = ref match {
          case Seq(c0) => ("", c0)
          case Seq(q, c0) => (q.toLowerCase, c0)
          case _ => fail(s"cannot resolve ON reference ${ref.mkString(".")}")
        }
        val (q1, c1) = side(a)
        val (q2, c2) = side(b)
        val va = vAlias.toLowerCase
        if (aliasCols.contains(q1) && q2 == va)
          (resolveQual(q1, c1).get, c2)
        else if (q1 == va && aliasCols.contains(q2))
          (resolveQual(q2, c2).get, c1)
        else fail("streaming temporal join ON equalities must pair a " +
          "probe-side column with a version column (qualify both " +
          s"sides): got '${ScriptParser.textOf(sql, c)}'")
      }
      val vKeyCols = pairs.map(_._2)
      if (vKeyCols.size != meta.primaryKey.size ||
          !meta.primaryKey.map(_.toLowerCase).toSet
            .subsetOf(vKeyCols.map(_.toLowerCase).toSet))
        fail(s"streaming temporal join ON must equate exactly $vTable's " +
          s"PRIMARY KEY (${meta.primaryKey.mkString(", ")}); got " +
          s"(${vKeyCols.mkString(", ")})")

      val vSrc = spark.table(vTable)
      if (pSrc.isStreaming != vSrc.isStreaming)
        fail("streaming temporal join takes two stream (or two bounded) " +
          "sides; enrich against a STATIC table with a plain join " +
          "view instead (the lookup-join form)")
      val curFields = cur.schema.fields.toSeq.filter(f => carrier(f).isDefined)
      val vFields = vSrc.schema.fields.toSeq.filter(f => carrier(f).isDefined)
      droppedAll ++=
        (vSrc.schema.fields.toSeq.map(_.name) diff vFields.map(_.name))

      def curField(c: String): StructField =
        cur.schema.fields.find(_.name.equalsIgnoreCase(c)).get
      // version key columns cast to the probe key types so the textual
      // JSON keys agree
      val keyP = to_json(struct(pairs.zipWithIndex.map { case ((pf, _), i) =>
        col(s"`${curField(pf).name}`").as(s"k$i") }: _*))
      val keyV = to_json(struct(pairs.zipWithIndex.map { case ((pf, vc), i) =>
        col(s"`${fieldOf(vSrc, vTable, vc).name}`")
          .cast(curField(pf).dataType).as(s"k$i") }: _*))
      def payload(fields: Seq[StructField]) =
        to_json(struct(fields.map(f => carrier(f).get.enc.as(f.name)): _*))
      val vTime = fieldOf(vSrc, vTable, meta.timeCol).name
      // a CHAINED stage consumes the previous tracker's watermark-gated
      // emissions: mark the input never-late and define no second
      // watermark node (see Watermarks.neverLate / ensure). Stage 0
      // chains too when the PROBE itself is a windowed pre-agg view
      // (r17 two-stage pipelines). STREAMING only — on a bounded run
      // the tagged sentinel would make batch GroupState report a
      // watermark as present, suppressing the MAX_WATERMARK-at-end
      // finality path
      val chained = (stageIdx > 0 ||
        graft.streaming.Watermarks.isChained(cur)) && pSrc.isStreaming
      def sentinel(cols: Seq[org.apache.spark.sql.Column]) =
        if (chained) cols :+ graft.streaming.Watermarks.neverLate else cols
      val pRows = cur
        .filter(col(s"`${curField(curWmField).name}`").isNotNull)
        .select(sentinel(Seq(keyP.as("key"),
          graft.streaming.Watermarks.eventTimeCol(cur, curWmField, "ts"),
          lit(false).as("isVersion"), payload(curFields).as("payload"))): _*)
      // a NULL version key or time can never match (SQL equality) —
      // drop those rows so the JSON key of a null-keyed probe (which
      // omits the field) cannot collide with a null-keyed version. The
      // null test runs on the POST-CAST value: a version key whose cast
      // to the probe type nulls out would otherwise slip through and
      // key as the empty tuple
      val vRows = vSrc
        .filter(pairs.map { case (pf, vc) =>
          col(s"`${fieldOf(vSrc, vTable, vc).name}`")
            .cast(curField(pf).dataType).isNotNull }
          .reduce(_ && _) && col(s"`$vTime`").isNotNull)
        .select(sentinel(Seq(keyV.as("key"),
          graft.streaming.Watermarks.eventTimeCol(vSrc, meta.timeCol, "ts"),
          lit(true).as("isVersion"), payload(vFields).as("payload"))): _*)
      implicit val rowEnc =
        org.apache.spark.sql.Encoders.product[graft.streaming.TemporalRow]
      val input = pRows.unionAll(vRows).as[graft.streaming.TemporalRow]
      val tracked0 =
        graft.streaming.TemporalJoinTracker
          .joinRows(input, pDelay, stateTtlSec).toDF()
      val tracked =
        if (st.join.joinType == LeftOuter) tracked0
        else tracked0.filter(col("versionPayload").isNotNull)

      val opts = Map("allowNonNumericNumbers" -> "true")
      def storage(fields: Seq[StructField]) = StructType(fields.map(f =>
        StructField(f.name, carrier(f).get.storage, nullable = true)).toArray)
      val decoded = tracked
        .withColumn("__p", from_json(col("probePayload"),
          storage(curFields), opts))
        .withColumn("__vp", from_json(col("versionPayload"),
          storage(vFields), opts))
        .select(
          curFields.map(f => carrier(f).get.dec(col(s"__p.`${f.name}`"))
            .as(s"__l_${f.name}")) ++
            vFields.map(f => carrier(f).get.dec(col(s"__vp.`${f.name}`"))
              .as(s"__r_${f.name}")): _*)
      // every earlier alias's columns now ride under the __l_ prefix;
      // the new version alias's under __r_
      aliasCols.foreach { case (_, m) =>
        m.mapValuesInPlace((_, fld) => s"__l_$fld"): Unit
      }
      aliasCols(vAlias.toLowerCase) =
        scala.collection.mutable.LinkedHashMap.from(
          vFields.map(f => f.name -> s"__r_${f.name}"))
      curWmField = s"__l_$curWmField"
      cur = decoded
    }
    WindowTopN.failOnStarOverDropped(sql.substring(itemsFrom, itemsTo),
      droppedAll.toSeq, fail)

    val view = s"graft_tj_${viewCounter.incrementAndGet()}"
    cur.createOrReplaceTempView(view)

    val allOutNames = aliasCols.values.flatMap(_.keys).toSeq
    def starExpand(aliasLower: String): String =
      aliasCols(aliasLower).map { case (out, fld) => s"$fld AS $out" }
        .mkString(", ")
    // a chain-alias-qualified reference → its decoded column; a bare
    // side column REJECTS rather than rewrites: it could equally be a
    // column of a subquery's own table, and a silent mis-rewrite there
    // produces wrong rows — the contract demands the alias
    def resolved(a: UnresolvedAttribute): Option[String] = a.nameParts match {
      case q +: c +: rest if aliasCols.contains(q.toLowerCase) =>
        Some((resolveQual(q, c).get +: rest.map(quoteIfNeeded)).mkString("."))
      case Seq(c) if allOutNames.exists(_.equalsIgnoreCase(c)) =>
        fail(s"unqualified column $c in the streaming temporal " +
          "join — qualify with one of the chain aliases (" +
          aliasCols.keys.mkString(", ") + "); a subquery's own " +
          "column qualifies with ITS alias; an output alias of " +
          "that name needs the AS keyword")
      case _ => None
    }
    // references of an item or the residual WHERE, subqueries included.
    // A subquery relation aliased like a chain alias would turn its own
    // `r.rate` into a correlated outer reference — rejected by name
    def refEdits(e: Expression): Seq[(Int, Int, String)] = {
      val inner = e.collect { case s: SubqueryExpression => s.plan }
        .flatMap(ScriptParser.nodesOf)
      val aliased = inner.collect { case SubqueryAlias(_, t: UnresolvedRelation) => t }
      inner.collect {
        case a: SubqueryAlias => a.alias
        case t: UnresolvedRelation if !aliased.exists(_ eq t) =>
          t.multipartIdentifier.last
      }.find(n => aliasCols.contains(n.toLowerCase)).foreach(n =>
        fail(s"subquery alias '$n' collides with a " +
          "temporal-join chain alias (" +
          aliasCols.keys.mkString(", ") + ") — rename the " +
          "subquery's relation alias so qualified references stay " +
          "unambiguous"))
      (e +: inner.flatMap(_.expressions))
        .flatMap(_.collect { case a: UnresolvedAttribute => a })
        .flatMap(a => resolved(a).map((start(a), end(a), _)))
    }
    val itemEdits = items.flatMap {
      case s @ UnresolvedStar(None) =>
        Seq((start(s), end(s), aliasCols.keys.map(starExpand).mkString(", ")))
      case s @ UnresolvedStar(Some(Seq(q))) if aliasCols.contains(q.toLowerCase) =>
        Seq((start(s), end(s), starExpand(q.toLowerCase)))
      // a plain column item keeps its column name in SQL output
      // (`SELECT o.k` exposes `k`) — the decoded-view splice must alias
      // the prefixed column back, or sinks would see `__l_k`
      case a: UnresolvedAttribute => resolved(a).map(x =>
        (start(a), end(a), s"$x AS ${quoteIfNeeded(a.nameParts.last)}")).toSeq
      case e => refEdits(e)
    }
    val where2 = where.fold("") { _ =>
      val from = sql.indexWhere(!_.isWhitespace, end(nodes.last)) + "WHERE".length
      val to = sql.lastIndexWhere(c => !c.isWhitespace && c != ';') + 1
      val tailExprs =
        nodes.init.flatMap(_.expressions).filterNot(e => items.exists(_ eq e))
      " WHERE " + splice(sql, from, to, tailExprs.flatMap(refEdits)).trim
    }
    val distinct = if (nodes.head.isInstanceOf[Distinct]) "DISTINCT " else ""
    s"${r.head}SELECT $distinct" +
      s"${splice(sql, itemsFrom, itemsTo, itemEdits)} FROM $view$where2"
  }
}
