package graft.harness

import graft.harness.ddl.DdlParser
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import scala.collection.mutable.ArrayBuffer

/** Batch `MATCH_RECOGNIZE` (SQL:2016 row-pattern recognition, the
  * syntax Flink's pass-through router admits for CEP —
  * `SQLSubmitAction.java:76`) over a supported subset:
  *
  * {{{
  * FROM t MATCH_RECOGNIZE (
  *   [PARTITION BY k1, k2]
  *   ORDER BY o1 [ASC|DESC] [, ...]  -- DESC is batch-only and
  *                                   -- incompatible with WITHIN (the
  *                                   -- duration bound needs an
  *                                   -- ascending time head)
  *   MEASURES <m> AS a1 [, ...]      -- m: V.col | FIRST(V.col) | LAST(V.col)
  *                                   --    | SUM/AVG/MIN/MAX(V.col)
  *                                   --    | COUNT(V.*) | COUNT(*)
  *                                   --    | MATCH_NUMBER() | CLASSIFIER()
  *                                   --    | any scalar EXPRESSION over
  *                                   --      those atoms (LAST(P.v) -
  *                                   --      FIRST(C.v), CASE WHEN
  *                                   --      COUNT(C.*) > 2 THEN ... END)
  *                                   --      — atoms compute in-matcher,
  *                                   --      the expression projects after
  *   [ONE ROW PER MATCH | ALL ROWS PER MATCH]
  *                                   -- ALL ROWS: every matched row,
  *                                   -- all input columns + RUNNING
  *                                   -- measures (batch only)
  *   [AFTER MATCH SKIP PAST LAST ROW | SKIP TO NEXT ROW
  *     | SKIP TO FIRST <V> | SKIP TO LAST <V>]  -- SKIP TO var resumes
  *                                   -- AT that row (batch only;
  *                                   -- no-row / match-start cases
  *                                   -- throw at runtime, like Flink)
  *   PATTERN (V1[q] V2[q] ... [| ...])  -- q: * + ? {n} {n,} {n,m};
  *                                   -- alternation at top level AND
  *                                   -- inside grouped sub-patterns
  *                                   -- (leftmost branch preferred),
  *                                   -- PERMUTE(A, B, ...) (expands
  *                                   -- to alternation at parse time,
  *                                   -- so it runs in batch AND
  *                                   -- streaming)
  *     [WITHIN INTERVAL 'n' UNIT]    -- Flink CEP duration bound: all
  *                                   -- match rows within n of the
  *                                   -- first (strict; batch needs a
  *                                   -- TIMESTAMP ORDER BY head, and
  *                                   -- streaming prunes on the same
  *                                   -- horizon with tightened
  *                                   -- finality)
  *   [SUBSET U = (V1, V2)[, ...]]    -- SQL:2016 union variables: U's
  *                                   -- rows are any member's rows;
  *                                   -- readable in MEASURES, DEFINE
  *                                   -- aggregates/navigation, and
  *                                   -- AFTER MATCH SKIP TO (resolved
  *                                   -- as OR-bitmasks over the
  *                                   -- primary assignment)
  *   DEFINE V1 AS <pred> [, ...]     -- current-row predicate, may use
  * )                                 -- PREV(expr[, k]) (physical row
  *                                   -- navigation; streaming gates the
  *                                   -- referenced columns to
  *                                   -- JSON-lossless types),
  *                                   -- FIRST/LAST(V.col[, k]) of another
  *                                   -- variable's running assignment,
  *                                   -- and running SUM/AVG/MIN/MAX
  *                                   -- (V.col) aggregates (batch: the
  *                                   -- rows the attempt has assigned
  *                                   -- to V so far — including the
  *                                   -- current element's run and the
  *                                   -- row being classified when V is
  *                                   -- the DEFINEd variable itself,
  *                                   -- SQL:2016 running semantics);
  *                                   -- undefined variables match any row
  * }}}
  *
  * Spark has no MATCH_RECOGNIZE, and no composition of relational
  * operators expresses general greedy-with-backtracking row patterns,
  * so this is the (c)/(d) case of the extension ladder: the pattern
  * spec compiles to per-variable boolean columns (Catalyst expressions,
  * codegen'd — the NFA never evaluates SQL), rows repartition on the
  * PARTITION BY key and sort within partitions, and a per-key greedy
  * backtracking matcher emits one row per match. The matcher streams
  * each key's rows through a sliding window dropped below the current
  * match start, so executor memory is bounded by the MATCH EXTENT —
  * the WITHIN horizon, or the pattern's quantifier-sum for bounded
  * patterns — not by the key's row count; a hot key with millions of
  * rows cannot OOM an executor. Only a pattern with an unbounded
  * quantifier and no WITHIN degrades to buffering the active match's
  * run (the same unbounded-state contract as Flink's CEP operator for
  * such patterns).
  *
  * Grouped sub-patterns `(A B)+` are supported: the group repeats as
  * a unit, greedy with full backtracking across the group boundary
  * (the matcher walks a compiled pattern tree with a continuation —
  * see `tryNodes`), and a group body may alternate — `(A | B C)+`
  * tries the branches leftmost-first per iteration, the SQL:2016 /
  * regex preference order. NEXT(expr[, k]) forward navigation is
  * supported in batch (precomputed as `lead`, symmetric to PREV), and
  * batch navigation composes — `PREV(price + PREV(price))`,
  * `NEXT(PREV(v))` — via staged lag/lead columns (inner calls
  * precompute first; see `translateNav`); streaming flattens
  * SAME-direction nesting to summed offsets (r13, non-strict
  * constructs gated at the outer offset since r16) and
  * contract-rejects only the mixed-direction forms. Unsupported forms (e.g. aggregate forms in
  * DEFINE other than SUM/AVG/MIN/MAX(V.col)) throw
  * `IllegalArgumentException` with the contract, mirroring the
  * WindowTvf/TemporalJoin residual checks. Streaming restricts DEFINE
  * SUM/AVG aggregates to integral columns; grouped sub-patterns,
  * FIRST/LAST measure offsets, and PREV/NEXT navigation all stream
  * through the tracker (NEXT defers decisions within its lead offset
  * of the maturity boundary — see [[rewriteStreaming]]).
  */
object MatchRecognize {

  private val MarkerRe = raw"(?is)\bMATCH_RECOGNIZE\s*\(".r

  def hasMatchRecognize(sql: String): Boolean =
    MarkerRe.findFirstIn(sql).isDefined

  // ---------------------------------------------------------------- spec

  /** Pattern AST node: a quantified variable ([[PatternElem]]) or a
    * quantified grouped sub-pattern ([[PatternGroup]], e.g. `(A B)+` —
    * the sequence repeats as a unit, greedy with backtracking across
    * the group boundary). A group holds its alternation BRANCHES in
    * declaration order (one branch when the body has no `|`): each
    * repetition tries the branches leftmost-first with full
    * backtracking, the SQL:2016 / regex preference order — `(A | B)+`
    * is Flink CEP's "repeat either step" shape. */
  private[harness] sealed trait PatNode { def lo: Int; def hi: Int }
  private[harness] final case class PatternElem(
      variable: String, lo: Int, hi: Int) extends PatNode
  private[harness] final case class PatternGroup(
      branches: Seq[Seq[PatNode]], lo: Int, hi: Int) extends PatNode

  /** Pattern variables in first-appearance order, recursing into
    * grouped sub-patterns and their alternation branches. */
  private[harness] def varsIn(nodes: Seq[PatNode]): Seq[String] =
    nodes.flatMap {
      case PatternElem(v, _, _) => Seq(v)
      case PatternGroup(bs, _, _) => bs.flatMap(varsIn)
    }

  private[harness] sealed trait Measure { def alias: String }
  /** `V.col` / `FIRST(V.col[, k])` / `LAST(V.col[, k])` — the SQL:2016
    * logical-offset forms: offset k (default 0) counts occurrences of
    * V's assigned rows from the first/last one; fewer than k+1
    * occurrences → NULL (Flink's behavior). */
  private[harness] final case class ColMeasure(
      variable: String, column: String, first: Boolean, alias: String,
      offset: Int = 0) extends Measure
  private[harness] final case class CountMeasure(
      variable: Option[String], alias: String) extends Measure
  private[harness] final case class MatchNumberMeasure(alias: String) extends Measure
  /** `CLASSIFIER()` — the pattern-variable name of the current row (ALL
    * ROWS PER MATCH) or of the match's last row (ONE ROW PER MATCH),
    * SQL:2016 running semantics. Most informative under alternation,
    * where it names the branch variable that actually matched.
    */
  private[harness] final case class ClassifierMeasure(alias: String) extends Measure
  /** `MATCH_ROWTIME()` — Flink's event-time measure: the rowtime of
    * the match's last row (under ALL ROWS PER MATCH, of the last row
    * matched so far — RUNNING semantics, like Flink). The output
    * column IS a rowtime attribute in Flink, which is what lets a
    * pattern stage feed a downstream window/OVER/top-N; the CLI's
    * view registry records a view projecting it
    * ([[rowtimeRegionOf]]).
    * Requires an ascending TIMESTAMP ORDER BY head (the same head
    * WITHIN requires; in streaming the head is the watermark column
    * already). */
  private[harness] final case class MatchRowtimeMeasure(alias: String) extends Measure
  /** `SUM/AVG/MIN/MAX(V.col)` — aggregate over the rows the match
    * assigns to variable V (SQL:2016 running semantics under ALL ROWS
    * PER MATCH: only rows matched so far). SQL aggregate null
    * discipline: NULL column values are skipped, and a variable that
    * matched no row (or only NULLs) aggregates to NULL — the Flink CEP
    * behavior for aggregates over an unmatched variable.
    */
  private[harness] final case class AggMeasure(
      fn: String, variable: String, column: String, alias: String) extends Measure
  /** A measure whose body is an EXPRESSION over navigation atoms —
    * `LAST(P.v) - FIRST(C.v) AS delta`, `CASE WHEN COUNT(C.*) > 2
    * THEN ... END AS label` (SQL:2016 admits any scalar expression in
    * MEASURES; Flink passes it through). Compositional design: each
    * navigation/aggregate atom in the body becomes its own internal
    * bare measure (`atoms`, aliased `__mx<i>_<j>`), the matcher
    * computes them exactly like user-level bare measures, and `sql` —
    * the body with every atom replaced by its slot name — projects the
    * final value AFTER the matcher (batch: one extra `select`;
    * streaming: over the tracker's decoded measure columns). A bare
    * `V.col` inside the body means LAST(V.col), per the standard.
    * Unqualified identifiers resolve against the matcher's output
    * (partition columns; under ALL ROWS every input column). */
  private[harness] final case class ExprMeasure(
      sql: String, atoms: Seq[Measure], alias: String) extends Measure
  /** Parse-time placeholder for a measure body that is not a bare
    * form: decomposed into [[ExprMeasure]] once the PATTERN and SUBSET
    * clauses have established the readable-variable set. Never escapes
    * [[parseSpec]]. */
  private final case class PendingMeasure(body: String, alias: String)
    extends Measure

  private[harness] final case class Spec(
      partitionBy: Seq[String],
      orderBy: Seq[String],
      measures: Seq[Measure],
      skipToNextRow: Boolean,
      // AFTER MATCH SKIP TO FIRST/LAST <var>: (isFirst, variable);
      // batch only, mutually exclusive with skipToNextRow
      skipToVar: Option[(Boolean, String)] = None,
      pattern: Seq[Seq[PatNode]], // alternation branches, in preference order
      defines: Map[String, String],
      allRows: Boolean = false,
      withinMs: Option[Long] = None, // PATTERN (...) WITHIN duration bound
      // per-measure FINAL flag (SQL:2016 RUNNING|FINAL keywords): under
      // ALL ROWS PER MATCH a FINAL measure evaluates over the COMPLETE
      // match for every emitted row; RUNNING (the default) sees only
      // rows matched so far. Under ONE ROW PER MATCH the two coincide.
      measureFinal: Seq[Boolean] = Nil,
      // SQL:2016 SUBSET clause: union pattern variables, each naming
      // the rows assigned to ANY member — usable wherever a pattern
      // variable is read (MEASURES, DEFINE aggregates/navigation,
      // AFTER MATCH SKIP TO)
      subsets: Map[String, Seq[String]] = Map.empty,
      // per-key descending flag, parallel to `orderBy` (empty = all
      // ascending). Batch only; WITHIN needs an ascending time head
      // and streaming needs the ascending event-time column, so both
      // contract-reject any DESC key.
      orderDesc: Seq[Boolean] = Nil)

  // --------------------------------------------------------------- parse

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"MATCH_RECOGNIZE: $msg")

  /** Non-negative integer literal with saturation: leading zeros strip
    * first (`0000000001` is offset 1, not a 10-digit overflow), and a
    * value past Int range clamps to Int.MaxValue — an offset beyond any
    * real assignment list resolves to NULL, so saturation, never
    * NumberFormatException, is the contract.
    */
  private[harness] def parseIntSat(s: String): Int = {
    val t = s.dropWhile(_ == '0')
    if (t.isEmpty) 0
    else if (t.length > 10) Int.MaxValue
    else {
      val l = t.toLong
      if (l > Int.MaxValue) Int.MaxValue else l.toInt
    }
  }

  /** Index just past a quoted run starting at `start` (quote char `q`);
    * doubled quotes escape, as in SQL literals.
    */
  private def skipQuoted(s: String, start: Int, q: Char): Int = {
    var i = start + 1
    while (i < s.length) {
      if (s.charAt(i) == q) {
        if (i + 1 < s.length && s.charAt(i + 1) == q) i += 2
        else return i + 1
      } else i += 1
    }
    s.length
  }

  /** Copy of `s` with the CONTENTS of quoted runs (`'`, `"`, `` ` ``)
    * blanked to spaces — same length, delimiters kept — so regex
    * detection and rewriting of navigation calls (PREV, FIRST/LAST,
    * `V.col`) cannot fire inside a string literal like `t = 'V.x'`.
    * Offsets align 1:1 with the original, so a match found on the mask
    * splices cleanly against the original text.
    */
  private[harness] def maskQuoted(s: String): String = {
    val b = s.toCharArray
    var i = 0
    while (i < b.length) {
      b(i) match {
        case q @ ('\'' | '"' | '`') =>
          val e = skipQuoted(s, i, q)
          var j = i + 1
          // blank up to (not including) the closing delimiter; an
          // unterminated literal blanks to end of string
          val stop = if (e > i + 1 && s.charAt(e - 1) == q) e - 1 else e
          while (j < stop) { b(j) = ' '; j += 1 }
          i = e
        case _ => i += 1
      }
    }
    new String(b)
  }

  /** `re.replaceAllIn` with literal-blindness: matches are FOUND on the
    * masked text (so quoted regions never match) but groups and splices
    * come through unchanged — outside literals the mask equals the
    * original, so group text is identical. `f` returns the literal
    * replacement (no `Matcher.quoteReplacement` needed).
    */
  private def replaceOutside(text: String, re: scala.util.matching.Regex)(
      f: scala.util.matching.Regex.Match => String): String = {
    val sb = new StringBuilder
    var last = 0
    re.findAllMatchIn(maskQuoted(text)).foreach { m =>
      sb.append(text.substring(last, m.start))
      sb.append(f(m))
      last = m.end
    }
    sb.append(text.substring(last))
    sb.toString
  }

  /** Splits on top-level commas — blind to commas inside parentheses
    * AND inside string/identifier literals (a DEFINE predicate may
    * legitimately contain `t = 'a,b'`).
    */
  private[harness] def splitTopLevel(s: String): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    var depth = 0
    var start = 0
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case ',' if depth == 0 => out += s.substring(start, i); start = i + 1; i += 1
        case q @ ('\'' | '"' | '`') => i = skipQuoted(s, i, q)
        case _ => i += 1
      }
    }
    out += s.substring(start)
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  private val ColMeasureRe =
    raw"(?is)^(?:(FIRST|LAST)\s*\(\s*)?([A-Za-z_][A-Za-z0-9_]*)\s*\.\s*([A-Za-z_][A-Za-z0-9_]*)\s*(?:,\s*(\d+)\s*)?(\))?$$".r
  private val RunningFinalRe = raw"(?is)^(RUNNING|FINAL)\s+(.*)$$".r
  private val CountVarRe =
    raw"(?is)^COUNT\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\.\s*\*\s*\)$$".r
  private val CountStarRe = raw"(?is)^COUNT\s*\(\s*\*\s*\)$$".r
  private val MatchNumberRe = raw"(?is)^MATCH_NUMBER\s*\(\s*\)$$".r
  private val ClassifierRe = raw"(?is)^CLASSIFIER\s*\(\s*\)$$".r
  private val MatchRowtimeRe = raw"(?is)^MATCH_ROWTIME\s*\(\s*\)$$".r
  private val AggRe =
    raw"(?is)^(SUM|AVG|MIN|MAX)\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\.\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)$$".r
  private val AsRe = raw"(?is)^(.*?)\s+AS\s+([A-Za-z_][A-Za-z0-9_]*)$$".r

  /** One measure plus its FINAL flag: a leading `RUNNING` (the
    * SQL:2016 default) or `FINAL` keyword is admitted on every measure
    * form — the flag only changes behavior under ALL ROWS PER MATCH,
    * where FINAL evaluates over the complete match for every row. */
  private def parseMeasure(m: String): (Measure, Boolean) = m match {
    case AsRe(rawBody, alias) =>
      val (body, isFinal) = rawBody.trim match {
        case RunningFinalRe(kw, rest) => (rest.trim, kw.equalsIgnoreCase("FINAL"))
        case other => (other, false)
      }
      val measure = body match {
        case MatchNumberRe() => MatchNumberMeasure(alias)
        case ClassifierRe() => ClassifierMeasure(alias)
        case MatchRowtimeRe() => MatchRowtimeMeasure(alias)
        case CountStarRe() => CountMeasure(None, alias)
        case CountVarRe(v) => CountMeasure(Some(v.toUpperCase), alias)
        case AggRe(fn, v, c) => AggMeasure(fn.toUpperCase, v.toUpperCase, c, alias)
        case ColMeasureRe(fl, v, c, off, close) =>
          if ((fl == null) != (close == null)) fail(s"unbalanced FIRST/LAST in measure: $m")
          if (off != null && fl == null)
            fail(s"logical offset needs FIRST/LAST(V.col, k): $m")
          ColMeasure(v.toUpperCase, c, first = fl != null && fl.equalsIgnoreCase("FIRST"),
            alias = alias,
            offset = if (off == null) 0 else parseIntSat(off))
        // not a bare form: treat as an expression over navigation
        // atoms, decomposed in parseSpec once the readable-variable
        // set is known (PATTERN and SUBSET parse after MEASURES)
        case other => PendingMeasure(other, alias)
      }
      (measure, isFinal)
    case _ => fail(s"measure needs an AS alias: $m")
  }

  // inline (non-anchored) atom forms for expression-measure
  // decomposition; the anchored variants above keep serving the
  // bare-measure fast path
  private val CountVarInlineRe =
    raw"(?i)\bCOUNT\s*\(\s*([A-Za-z_]\w*)\s*\.\s*\*\s*\)".r
  private val CountStarInlineRe = raw"(?i)\bCOUNT\s*\(\s*\*\s*\)".r
  private val MatchNumberInlineRe = raw"(?i)\bMATCH_NUMBER\s*\(\s*\)".r
  private val ClassifierInlineRe = raw"(?i)\bCLASSIFIER\s*\(\s*\)".r
  private val MatchRowtimeInlineRe = raw"(?i)\bMATCH_ROWTIME\s*\(\s*\)".r

  /** Decomposes a non-bare measure body into an [[ExprMeasure]]:
    * every navigation/aggregate atom (FIRST/LAST(V.col[, k]),
    * SUM/AVG/MIN/MAX(V.col), COUNT(V.*), COUNT(*), MATCH_NUMBER(),
    * CLASSIFIER(), bare V.col = LAST) over a READABLE variable is
    * replaced by an internal slot measure; the residue must contain no
    * further navigation keywords and no qualified reference to a
    * non-readable name. All passes are literal-masked.
    */
  private def decomposeMeasure(body: String, alias: String, idx: Int,
      readable: Set[String]): ExprMeasure = {
    val atoms = scala.collection.mutable.LinkedHashMap.empty[String, Measure]
    def slotFor(norm: String)(mk: String => Measure): String =
      atoms.getOrElseUpdate(norm, mk(s"__mx${idx}_${atoms.size}")).alias
    var t = replaceOutside(body, CountVarInlineRe) { m =>
      val v = m.group(1).toUpperCase
      if (!readable.contains(v)) m.matched
      else slotFor(s"countvar|$v")(n => CountMeasure(Some(v), n))
    }
    t = replaceOutside(t, CountStarInlineRe) { _ =>
      slotFor("countstar")(n => CountMeasure(None, n))
    }
    t = replaceOutside(t, MatchNumberInlineRe) { _ =>
      slotFor("matchno")(n => MatchNumberMeasure(n))
    }
    t = replaceOutside(t, ClassifierInlineRe) { _ =>
      slotFor("classifier")(n => ClassifierMeasure(n))
    }
    t = replaceOutside(t, MatchRowtimeInlineRe) { _ =>
      slotFor("matchrowtime")(n => MatchRowtimeMeasure(n))
    }
    t = replaceOutside(t, AggCallRe) { m =>
      val v = m.group(2).toUpperCase
      if (!readable.contains(v)) m.matched
      else {
        val fn = m.group(1).toUpperCase
        val c = m.group(3)
        slotFor(s"agg|$fn|$v|${c.toLowerCase}")(n => AggMeasure(fn, v, c, n))
      }
    }
    t = replaceOutside(t, CrossFlRe) { m =>
      val v = m.group(2).toUpperCase
      if (!readable.contains(v)) m.matched
      else {
        val first = m.group(1).equalsIgnoreCase("FIRST")
        val c = m.group(3)
        val off = if (m.group(4) == null) 0 else parseIntSat(m.group(4))
        slotFor(s"fl|$first|$v|${c.toLowerCase}|$off")(n =>
          ColMeasure(v, c, first, n, off))
      }
    }
    // bare V.col = LAST(V.col), per the standard
    t = replaceOutside(t, CrossBareRe) { m =>
      val v = m.group(1).toUpperCase
      if (!readable.contains(v)) m.matched
      else slotFor(s"fl|false|$v|${m.group(2).toLowerCase}|0")(n =>
        ColMeasure(v, m.group(2), first = false, n, 0))
    }
    val residue = maskQuoted(t)
    raw"(?i)\b(FIRST|LAST|SUM|AVG|MIN|MAX|COUNT|MATCH_NUMBER|CLASSIFIER|MATCH_ROWTIME|PREV|NEXT)\s*\(".r
      .findFirstMatchIn(residue).foreach { m =>
        fail(s"unsupported ${m.group(1).toUpperCase}() form in measure " +
          s"(navigation/aggregate atoms take a bare V.col argument): $body")
      }
    CrossBareRe.findFirstMatchIn(residue).foreach { m =>
      fail(s"measure references ${m.group(1)}.${m.group(2)} — " +
        s"${m.group(1)} is not a pattern variable or SUBSET name")
    }
    ExprMeasure(t, atoms.values.toSeq, alias)
  }

  /** Recursive-descent parser for one alternation branch: a sequence of
    * quantified variables and quantified grouped sub-patterns, e.g.
    * `S (A B+){2,} C?`. A group body may itself alternate —
    * `(A | B C)+` parses to a [[PatternGroup]] with two branches (top-
    * level `|` splits outer branches before this parser runs).
    */
  private final class PatParser(s: String) {
    private var i = 0
    private def ws(): Unit =
      while (i < s.length && Character.isWhitespace(s.charAt(i))) i += 1
    private val QuantBraceRe = raw"^\{\s*(\d+)\s*(,\s*(\d+)?\s*)?\}".r

    private def parseQuant(): (Int, Int) = {
      ws()
      if (i >= s.length) return (1, 1)
      s.charAt(i) match {
        case '*' => i += 1; (0, Int.MaxValue)
        case '+' => i += 1; (1, Int.MaxValue)
        case '?' => i += 1; (0, 1)
        case '{' =>
          val m = QuantBraceRe.findFirstMatchIn(s.substring(i))
            .getOrElse(fail(s"unsupported quantifier at ...${s.substring(i)}"))
          val lo = m.group(1).toInt
          val hi = if (m.group(2) == null) lo
            else if (m.group(3) == null) Int.MaxValue else m.group(3).toInt
          if (hi < lo) fail(s"empty quantifier range in: ${m.matched}")
          i += m.end
          (lo, hi)
        case _ => (1, 1)
      }
    }

    private val VarRe = raw"^[A-Za-z_][A-Za-z0-9_]*".r

    private def parseItem(): PatNode = {
      ws()
      if (i < s.length && s.charAt(i) == '(') {
        i += 1
        val branches = parseAlt()
        ws()
        if (i >= s.length || s.charAt(i) != ')')
          fail(s"unbalanced parentheses in pattern: $s")
        i += 1
        val (lo, hi) = parseQuant()
        PatternGroup(branches, lo, hi)
      } else {
        val m = VarRe.findFirstMatchIn(s.substring(i))
          .getOrElse(fail(s"unsupported pattern syntax at ...${s.substring(i)}"))
        i += m.end
        val (lo, hi) = parseQuant()
        PatternElem(m.matched.toUpperCase, lo, hi)
      }
    }

    /** A group body's alternation branches, in declaration order. */
    private def parseAlt(): Seq[Seq[PatNode]] = {
      val branches = ArrayBuffer(parseSeq(inGroup = true))
      ws()
      while (i < s.length && s.charAt(i) == '|') {
        i += 1
        branches += parseSeq(inGroup = true)
        ws()
      }
      branches.toSeq
    }

    def parseSeq(inGroup: Boolean): Seq[PatNode] = {
      val out = ArrayBuffer.empty[PatNode]
      ws()
      while (i < s.length && s.charAt(i) != '|' &&
          !(inGroup && s.charAt(i) == ')')) {
        out += parseItem()
        ws()
      }
      if (out.isEmpty) fail(s"empty pattern sequence in: $s")
      out.toSeq
    }

    /** Guards against silent truncation: a top-level parse must consume
      * the whole branch text (a stray `|` or `)` would otherwise stop
      * the sequence loop early and drop the tail). */
    def ensureDone(): Unit = {
      ws()
      if (i < s.length)
        fail(s"unsupported pattern syntax at ...${s.substring(i)}")
    }
  }

  private def parseSequence(p: String): Seq[PatNode] = {
    val parser = new PatParser(p)
    val r = parser.parseSeq(inGroup = false)
    parser.ensureDone()
    r
  }

  /** Splits on top-level `|` — blind to bars inside parentheses (a
    * grouped sub-pattern must not split the branch). */
  private def splitTopLevelBar(s: String): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    var depth = 0
    var start = 0
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case '|' if depth == 0 => out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.toSeq.map(_.trim)
  }

  private val PermuteRe = raw"(?is)^PERMUTE\s*\((.*)\)$$".r

  /** Pattern → ordered alternation branches, each a quantified variable
    * sequence. Top-level `|` splits branches (leftmost branch preferred,
    * per SQL:2016 alternation order); `PERMUTE(A, B, ...)` expands to
    * all orderings in lexicographic position order (the standard's
    * expansion), bare variables only.
    */
  private def parsePattern(p: String): Seq[Seq[PatNode]] = p match {
    case PermuteRe(inner) =>
      val vars = splitTopLevel(inner)
      if (vars.isEmpty || vars.exists(v =>
          raw"^[A-Za-z_][A-Za-z0-9_]*$$".r.findFirstIn(v.trim).isEmpty))
        fail(s"PERMUTE takes a list of bare variables: $p")
      if (vars.size > 5) fail("PERMUTE of more than 5 variables (n! branches)")
      vars.map(_.trim.toUpperCase).permutations
        .map(_.map(PatternElem(_, 1, 1)).toSeq).toSeq
    case _ =>
      if (raw"(?i)\bPERMUTE\b".r.findFirstIn(p).isDefined)
        fail(s"PERMUTE must be the whole pattern: $p")
      val branches = splitTopLevelBar(p)
      if (branches.exists(_.isEmpty)) fail(s"empty alternation branch in: $p")
      branches.map(parseSequence)
  }

  /** `PREV(expr[, k])` / `NEXT(expr[, k])` in a DEFINE — physical row
    * navigation (SQL:2016 and Flink both define PREV/NEXT as "the
    * expression over the row k positions before/after the current row
    * in the partition's order", NOT the previous/next row of the
    * variable), so they precompute as `lag(expr, k)` / `lead(expr, k)`
    * over the match order before the NFA runs. Past the partition's
    * edge the navigation is NULL, the predicate is unknown, and the
    * variable does not match — exactly the matcher's null-def
    * handling. Offset 0 is the current row's value, per the standard.
    * NEXT defaults one-ahead, as Flink does.
    */
  private val PrevOpenRe = raw"(?i)\bPREV\s*\(".r
  private val NextOpenRe = raw"(?i)\bNEXT\s*\(".r

  private[harness] def hasPrev(pred: String): Boolean =
    PrevOpenRe.findFirstIn(maskQuoted(pred)).isDefined

  private[harness] def hasNextNav(pred: String): Boolean =
    NextOpenRe.findFirstIn(maskQuoted(pred)).isDefined

  private val BareColRe = raw"(?s)^[A-Za-z_][A-Za-z0-9_]*$$".r

  /** Rewrites every `KW(expr[, k])` navigation call through
    * `repl(expr, k)` — paren- and quote-aware (the navigated expression
    * may contain nested calls, commas inside them, and string
    * literals). Nested navigation inside the navigated expression is
    * out of the subset, as is a non-integer-literal offset.
    */
  private def mapNavCalls(pred: String,
      openRe: scala.util.matching.Regex, kw: String)(
      repl: (String, String) => String): String = {
    val masked = maskQuoted(pred)
    val sb = new StringBuilder
    var last = 0
    openRe.findAllMatchIn(masked).foreach { m =>
      if (m.start >= last) {
        val open = m.end - 1
        val end = closeParen(pred, open)
        val inner = pred.substring(open + 1, end - 1).trim
        if (hasPrev(inner) || hasNextNav(inner))
          fail(s"nested PREV/NEXT navigation is not supported: $pred")
        val (e, k) = splitTopLevel(inner) match {
          case Seq(x) => (x, "1")
          case Seq(x, kk) if raw"^\d+$$".r.findFirstIn(kk).isDefined => (x, kk)
          case _ => fail(s"unsupported $kw form (want $kw(expr[, k]) " +
            s"with an integer-literal offset): $pred")
        }
        if (e.isEmpty)
          fail(s"unsupported $kw form (want $kw(expr[, k])): $pred")
        sb.append(pred.substring(last, m.start))
        sb.append(repl(e, k))
        last = end
      }
    }
    sb.append(pred.substring(last))
    sb.toString
  }

  private def mapPrevCalls(pred: String)(repl: (String, String) => String): String =
    mapNavCalls(pred, PrevOpenRe, "PREV")(repl)

  private def mapNextCalls(pred: String)(repl: (String, String) => String): String =
    mapNavCalls(pred, NextOpenRe, "NEXT")(repl)

  /** Streaming-only flattening of nested physical navigation.
    *
    * SAME direction: `PREV(price + PREV(price))` ≡ `(PREV(price, 1) +
    * PREV(price, 2))` because physical offsets compose — and for a
    * single direction the composition is exact: row `i-(j+k)` existing
    * implies every intermediate `i-k` exists (physical predecessors
    * are contiguous), so null-propagation through the STRICT operators
    * admitted here (arithmetic, comparison) matches the staged-lag
    * batch semantics on every row including partition edges.
    *
    * MIXED direction (`NEXT(PREV(v))`, r14): offsets still compose to
    * a net position, but batch evaluates the inner navigation ON the
    * intermediate row, so that row's EXISTENCE gates the result —
    * `NEXT(PREV(v))` at the last row is NULL even though `v` exists.
    * The flattening reproduces the gate explicitly: the distributed
    * expression wraps in `CASE WHEN kw((true), k) IS NOT NULL THEN ...
    * END`, where `kw((true), k)` is a synthetic always-true payload
    * slot at the outer offset — non-null exactly when the intermediate
    * row exists within the partition. Net offset 0 renders the atom
    * bare (the current row).
    *
    * DEEPER nesting (r15): a navigation over an expression whose own
    * flattening produced a gated CASE composes too — the synthetic
    * gate is itself a navigation atom, so the outer shift moves the
    * gate to its net offset (a net-0 gate is the current row, always
    * present, and drops) and distributes the gated body like any other
    * strict subexpression. The gate decision is exact at any depth:
    * batch's staged lead-of-lag is non-NULL iff every partial-sum
    * offset along the navigation chain lands inside the partition,
    * and partition rows are contiguous, so existence at the extreme
    * offsets implies every intermediate. Each emitted navigation atom
    * already enforces existence at its own net offset (NULL when the
    * row is missing, propagated by the strict operators), so a level
    * emits its `kw((true), k)` gate only when no atom or composed gate
    * in the distributed body covers the level's own offset (same sign,
    * magnitude ≥).
    *
    * NON-STRICT constructs (r16): a user CASE, three-valued AND/OR/
    * NOT/IS NULL, IN/BETWEEN/LIKE, and a whitelist of row-local
    * scalar functions (COALESCE/NULLIF/IF/ABS/...) inside a navigated
    * expression distribute token-wise too — exact because batch
    * evaluates the STAGED expression at the navigation's target row,
    * where every inner offset is a lag/lead column both sides see
    * identically; the one divergence (a missing target row, whose
    * NULLs a non-strict construct could absorb into a value) is
    * closed by gating the whole distributed body at the outer offset
    * unconditionally — the coverage shortcut applies to strict bodies
    * only, and branch-internal offsets never count as covered for
    * outer levels. Anything outside the subset (unknown function
    * names, aggregates, qualified refs) returns the predicate
    * unchanged, so [[rejectNestedNav]]'s named batch-only error still
    * fires.
    */
  private[harness] def flattenSameDirNav(pred: String): String = {
    def navCalls(s: String): Seq[(Int, Int, String)] = {
      val masked = maskQuoted(s)
      (PrevOpenRe.findAllMatchIn(masked).map(m => (m.start, m.end - 1, "PREV")) ++
        NextOpenRe.findAllMatchIn(masked).map(m => (m.start, m.end - 1, "NEXT")))
        .toSeq.sortBy(_._1)
    }
    var cur = pred
    var guard = 0
    while (guard < 16) {
      guard += 1
      val calls = navCalls(cur)
      val nestedOpt = calls.find { case (_, o, _) =>
        val e = closeParen(cur, o)
        calls.exists(c => c._2 > o && c._2 < e)
      }
      nestedOpt match {
        case None => return cur
        case Some((st, o, kw)) =>
          val e = closeParen(cur, o)
          val inner = cur.substring(o + 1, e - 1)
          val (arg, k) = splitTopLevel(inner) match {
            case Seq(x) => (x.trim, 1)
            case Seq(x, kk) if raw"^\d+$$".r.findFirstIn(kk.trim).isDefined =>
              (x.trim, kk.trim.toInt)
            case _ => return pred
          }
          val argFlat = flattenSameDirNav(arg)
          distributeNav(argFlat, kw, k) match {
            case Some((d, coverage, strict)) =>
              val dOuter = if (kw == "NEXT") k.toLong else -k.toLong
              // a NON-strict body (user CASE/COALESCE/boolean logic —
              // r16) can produce non-NULL from NULL inputs, so the
              // atom-coverage shortcut never applies: it gates at the
              // outer offset unconditionally, which is exact — batch
              // evaluates the staged expression AT that row, and every
              // inner offset is a lag/lead FROM it whose missing-ness
              // both sides see as the same NULL columns
              val covered = dOuter == 0L || (strict && coverage.exists(c =>
                c != 0L && (c > 0L) == (dOuter > 0L) &&
                  math.abs(c) >= math.abs(dOuter)))
              val body =
                if (covered) s"($d)"
                else s"(CASE WHEN $kw((true), $k) IS NOT NULL " +
                  s"THEN ($d) END)"
              cur = cur.substring(0, st) + body + cur.substring(e)
            case None => return pred
          }
      }
    }
    pred
  }

  /** Distributes one navigation level of direction `kw` with offset
    * `k` over a flat expression: inner navigation atoms compose to
    * their net signed offset (same-direction adds, opposite-direction
    * subtracts — net 0 renders bare), bare column identifiers wrap
    * into `kw(col, k)`, numeric/string literals and strict operators
    * pass through, and a synthetic existence-gate CASE previously
    * emitted by [[flattenSameDirNav]] composes (its gate atom shifts
    * to the net offset — dropping at net 0 — and its body distributes
    * recursively). Returns the distributed text, the COVERAGE set —
    * every net offset at which the text already enforces row existence
    * (navigation atoms at non-zero nets, composed gate offsets); the
    * caller gates on the intermediate row only when its own offset is
    * uncovered — and a STRICT flag: false once any non-strict
    * construct passed through (user CASE/boolean keywords, a
    * whitelisted scalar function call — r16), which voids the
    * coverage shortcut (a branch that may not evaluate enforces
    * nothing) and forces the caller's gate; the returned coverage is
    * emptied for the same reason. Returns None on anything outside
    * the subset (unknown function calls, qualified refs,
    * doubly-nested args).
    */
  private def distributeNav(
      expr: String, kw: String, k: Int): Option[(String, Set[Long], Boolean)] = {
    val other = if (kw == "PREV") "NEXT" else "PREV"
    // keywords that pass through as tokens but mark the expression
    // NON-strict (three-valued logic / conditional evaluation /
    // null-absorbing constructs can turn a missing row's NULL into a
    // value — only the outer existence gate restores batch semantics)
    val nonStrictKw = Set("AND", "OR", "NOT", "CASE", "WHEN", "THEN",
      "ELSE", "END", "IS", "NULL", "IN", "BETWEEN", "LIKE", "TRUE",
      "FALSE")
    // keywords that signal NON-row-local content (subqueries, the
    // SQL-standard SUBSTRING ... FROM ... FOR form, quantified
    // comparisons): distribution would wrap their tokens as spurious
    // columns, so bail to the named batch-only rejection instead.
    // Deliberate cost: a bare column literally NAMED one of these SQL
    // words inside nested navigation takes the rejection too — the
    // token scan cannot tell keyword position from identifier
    // position, and a misleading unresolved-column error on a
    // distributed subquery would be worse
    val bailKw = Set("SELECT", "FROM", "WHERE", "EXISTS", "ANY", "ALL",
      "SOME", "JOIN", "UNION", "FOR", "ESCAPE", "GROUP", "ORDER",
      "HAVING", "DISTINCT")
    // row-local scalar functions admitted inside a navigated
    // expression (r16): distribution shifts their column arguments
    // like any other token; the outer gate handles null-absorption
    // (COALESCE/NULLIF/IF and friends). Aggregates and anything not
    // listed stay out — their semantics are not row-local.
    val scalarFns = Set("COALESCE", "NULLIF", "IF", "IFNULL", "NVL",
      "NVL2", "ABS", "LEAST", "GREATEST", "ROUND", "FLOOR", "CEIL",
      "CEILING", "MOD", "POWER", "POW", "SQRT", "EXP", "LN", "LOG",
      "SIGN", "CONCAT", "UPPER", "LOWER", "LENGTH", "TRIM", "LTRIM",
      "RTRIM", "SUBSTRING", "SUBSTR", "REPLACE")
    val dOuter = if (kw == "NEXT") k.toLong else -k.toLong
    def render(a: String, net: Long): String =
      if (net == 0L) s"($a)"
      else if (net > 0L) s"NEXT($a, $net)"
      else s"PREV($a, ${-net})"
    val coverage = scala.collection.mutable.Set.empty[Long]
    var strict = true
    val masked = maskQuoted(expr)
    val sb = new StringBuilder
    var i = 0
    while (i < expr.length) {
      val c = masked.charAt(i)
      if (c.isLetter || c == '_') {
        val st = i
        while (i < expr.length && (masked.charAt(i).isLetterOrDigit ||
          masked.charAt(i) == '_')) i += 1
        val word = expr.substring(st, i)
        var j = i
        while (j < expr.length && expr.charAt(j).isWhitespace) j += 1
        val uw = word.toUpperCase
        val gate = if (uw == "CASE") parseSyntheticGate(expr, st) else None
        if (gate.isDefined) {
          // the synthetic existence-gate shape this flattener itself
          // emits composes: the gate atom shifts to its net offset
          val (gkw, gk, body, endIdx) = gate.get
          val g = if (gkw == "NEXT") gk.toLong else -gk.toLong
          val net = dOuter + g
          distributeNav(body, kw, k) match {
            case Some((db, cov2, strict2)) =>
              coverage ++= cov2
              if (!strict2) strict = false
              if (net == 0L) sb.append(s"($db)")
              else {
                coverage += net
                sb.append(s"(CASE WHEN ${render("(true)", net)} " +
                  s"IS NOT NULL THEN ($db) END)")
              }
              i = endIdx
            case None => return None
          }
        } else if (bailKw.contains(uw)) {
          return None
        } else if (nonStrictKw.contains(uw)) {
          // user CASE/boolean/null keywords (r16): pass through as
          // tokens — the caller's unconditional outer gate makes the
          // distribution exact (see flattenSameDirNav)
          strict = false
          sb.append(word)
        } else if (j < expr.length && expr.charAt(j) == '(') {
          if (uw != kw && uw != other) {
            // whitelisted row-local scalar calls distribute through
            // their argument tokens (the parens and commas pass the
            // operator branch); anything else is out of the subset
            if (!scalarFns.contains(uw)) return None
            strict = false
            sb.append(word)
            // fall through — '(' handled by the operator branch
          } else {
            val e = closeParen(expr, j)
            val (a0, k0) = splitTopLevel(expr.substring(j + 1, e - 1)) match {
              case Seq(x) => (x.trim, 1)
              case Seq(x, kk) if raw"^\d+$$".r.findFirstIn(kk.trim).isDefined =>
                (x.trim, kk.trim.toInt)
              case _ => return None
            }
            if (hasPrev(a0) || hasNextNav(a0)) return None
            val dIn = if (uw == "NEXT") k0.toLong else -k0.toLong
            val net = dOuter + dIn
            if (net != 0L) coverage += net
            sb.append(render(a0, net))
            i = e
          }
        } else if (uw == other) return None
        else if (j < expr.length && expr.charAt(j) == '.') return None // qualified
        else {
          if (dOuter != 0L) coverage += dOuter
          sb.append(render(word, dOuter))
        }
      } else if (c == '\'' || c == '"' || c == '`') {
        // string literals compare strictly — copy verbatim
        val e = skipQuoted(expr, i, expr.charAt(i))
        sb.append(expr.substring(i, e)); i = e
      } else if (c.isDigit) {
        val st = i
        while (i < expr.length && (masked.charAt(i).isDigit ||
          masked.charAt(i) == '.')) i += 1
        // exponent suffix: digits [eE][+-]?digits — without this, the
        // 'e3' of '1e3' would scan as a bare column and wrap into a
        // spurious PREV(e3, k)
        if (i < expr.length && (masked.charAt(i) == 'e' ||
            masked.charAt(i) == 'E')) {
          var j = i + 1
          if (j < expr.length && (expr.charAt(j) == '+' ||
            expr.charAt(j) == '-')) j += 1
          val ds = j
          while (j < expr.length && masked.charAt(j).isDigit) j += 1
          if (j > ds) i = j
        }
        // any residual letter glued to the digit run is not a shape
        // this distributor understands — fall back to rejectNestedNav
        if (i < expr.length && (masked.charAt(i).isLetter ||
          masked.charAt(i) == '_')) return None
        sb.append(expr.substring(st, i))
      } else if (c.isWhitespace || "+-*/%()<>=!,".indexOf(c) >= 0) {
        // ',' admits whitelisted scalar-call argument lists (r16)
        sb.append(expr.charAt(i)); i += 1
      } else return None
    }
    // non-strict bodies void their internal coverage: an offset inside
    // a branch that may not evaluate enforces nothing for outer levels
    Some((sb.toString, if (strict) coverage.toSet else Set.empty, strict))
  }

  private val GateHeadRe =
    raw"(?is)^CASE\s+WHEN\s+(PREV|NEXT)\s*\(\s*\(\s*true\s*\)\s*,\s*(\d+)\s*\)\s+IS\s+NOT\s+NULL\s+THEN\s*\(".r
  private val GateTailRe = raw"(?is)^\s*END\b".r

  /** Parses the synthetic existence-gate CASE emitted by
    * [[flattenSameDirNav]] starting at `st` (the `C` of `CASE`):
    * `CASE WHEN kw((true), k) IS NOT NULL THEN (body) END`. Returns
    * (gate keyword, gate offset, body text, index just past END), or
    * None when the text is any other CASE shape.
    */
  private def parseSyntheticGate(
      expr: String, st: Int): Option[(String, Int, String, Int)] =
    GateHeadRe.findFirstMatchIn(expr.substring(st)).flatMap { m =>
      val open = st + m.end - 1 // the '(' opening the THEN body
      val close = closeParen(expr, open) // index just past ')'
      GateTailRe.findFirstMatchIn(expr.substring(close)).map { t =>
        (m.group(1).toUpperCase, m.group(2).toInt,
          expr.substring(open + 1, close - 1), close + t.end)
      }
    }

  /** Rejects any navigation call nested inside another's argument —
    * checked on the ORIGINAL text, because the two rewrite passes run
    * sequentially and a cross-keyword nesting like `NEXT(PREV(v))`
    * would otherwise have its inner call rewritten before the outer
    * pass could see it (yielding invalid nested window functions). */
  private def rejectNestedNav(pred: String): Unit = {
    val masked = maskQuoted(pred)
    val opens = (PrevOpenRe.findAllMatchIn(masked).map(_.end - 1) ++
      NextOpenRe.findAllMatchIn(masked).map(_.end - 1)).toSeq
    opens.foreach { open =>
      val end = closeParen(pred, open)
      if (opens.exists(o => o > open && o < end))
        fail(s"nested PREV/NEXT navigation is not supported: $pred")
    }
  }

  /** Splits a predicate on top-level `AND` keywords — blind to ANDs
    * inside parentheses and string/identifier literals. Used to keep
    * the non-PREV conjuncts of a PREV-bearing DEFINE evaluating
    * upstream in Catalyst (any column type), moving only the
    * PREV-bearing conjuncts into the tracker.
    */
  private[harness] def splitTopLevelAnd(s: String): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    var depth = 0
    var start = 0
    var i = 0
    def wordBoundary(idx: Int): Boolean =
      idx < 0 || idx >= s.length || !(s.charAt(idx).isLetterOrDigit ||
        s.charAt(idx) == '_')
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case q @ ('\'' | '"' | '`') => i = skipQuoted(s, i, q)
        case c if depth == 0 && (c == 'a' || c == 'A') &&
            s.regionMatches(true, i, "AND", 0, 3) &&
            wordBoundary(i - 1) && wordBoundary(i + 3) =>
          out += s.substring(start, i); start = i + 3; i += 3
        case _ => i += 1
      }
    }
    out += s.substring(start)
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Rejects DEFINE predicates that navigate beyond the current row in
    * ways the boolean-precompute design cannot carry (PREV is fine —
    * it is physical and precomputes as lag; see [[mapPrevCalls]]).
    */
  private def checkDefine(variable: String, pred: String,
      allVars: Set[String],
      subsets: Map[String, Seq[String]] = Map.empty): Unit = {
    val masked = maskQuoted(pred)
    // nested PREV/NEXT is batch-only (staged lag/lead columns — see
    // execute's translateNav); the streaming rewrite contract-rejects
    // it per define before conjunct splitting
    // a pattern variable OR a SUBSET union variable is readable
    val readable = allVars ++ subsets.keySet
    // aggregate calls: only SUM/AVG/MIN/MAX(V.col) over a pattern or
    // union variable is in the subset (a running aggregate the matcher
    // evaluates); any other aggregate form would leak an unevaluable
    // Catalyst AggregateExpression into the rewrite, so it fails the
    // contract here instead of crashing at match time. A union
    // variable CONTAINING the defined variable is fine for aggregates
    // — the running-semantics current-run inclusion generalizes to
    // set membership.
    val aggStarts = AggCallRe.findAllMatchIn(masked)
      .filter(m => readable.contains(m.group(2).toUpperCase))
      .map(_.start).toSet
    raw"(?i)\b(SUM|AVG|MIN|MAX|COUNT)\s*\(".r.findAllMatchIn(masked).foreach { m =>
      if (!aggStarts.contains(m.start))
        fail(s"DEFINE $variable uses an unsupported aggregate form " +
          s"(${m.group(1).toUpperCase}) — aggregates in DEFINE support " +
          "only SUM/AVG/MIN/MAX(V.col) over a pattern variable")
    }
    // FIRST/LAST are admitted only as cross-variable references
    // (FIRST(V.col[, k]) over ANOTHER variable's running assignment);
    // FIRST/LAST over the variable's own rows — directly or through a
    // union variable containing it — is not in the subset (the ref
    // slots resolve over rows assigned BEFORE the current element's
    // run, which would silently exclude the run for a self-member)
    def selfVia(v: String): Boolean =
      v == variable || subsets.get(v).exists(_.contains(variable))
    CrossFlRe.findAllMatchIn(masked).foreach { m =>
      val v = m.group(2).toUpperCase
      if (selfVia(v))
        fail(s"DEFINE $variable uses ${m.group(1).toUpperCase}($v.…) " +
          "over its own rows — self navigation beyond the current row " +
          "is not supported")
      if (!readable.contains(v))
        fail(s"DEFINE $variable references ${m.group(2)}.<col> — " +
          s"${m.group(2)} is not a pattern variable")
    }
    // a bare `U.col` means LAST(U.col): the same self-membership rule
    // applies to union variables (scan with agg/FL spans blanked so an
    // aggregate's or navigation's inner V.col is not double-counted)
    if (subsets.nonEmpty) {
      val blanked = replaceOutside(replaceOutside(pred, AggCallRe)(m =>
        " " * (m.end - m.start)), CrossFlRe)(m => " " * (m.end - m.start))
      CrossBareRe.findAllMatchIn(maskQuoted(blanked)).foreach { m =>
        val v = m.group(1).toUpperCase
        if (v != variable && subsets.get(v).exists(_.contains(variable)))
          fail(s"DEFINE $variable references $v.<col> — the SUBSET $v " +
            s"contains $variable, and self navigation beyond the " +
            "current row is not supported")
      }
    }
    // FIRST/LAST calls NOT matching the supported shape (e.g. FIRST
    // over an expression) would leak as Catalyst first/last AGGREGATES
    // into the rewrite and die unevaluable at match time — contract
    // error here instead
    val flStarts = CrossFlRe.findAllMatchIn(masked).map(_.start).toSet
    raw"(?i)\b(FIRST|LAST)\s*\(".r.findAllMatchIn(masked).foreach { m =>
      if (!flStarts.contains(m.start))
        fail(s"DEFINE $variable uses an unsupported " +
          s"${m.group(1).toUpperCase}() form — DEFINE supports only " +
          "FIRST/LAST(V.col[, k]) cross-variable navigation (no " +
          "expressions, integer-literal offsets only)")
    }
  }

  /** `FIRST(V.col[, k])` / `LAST(V.col[, k])` in a DEFINE — SQL:2016
    * running cross-variable navigation: the (k+1)-th row from the
    * first/last currently assigned to ANOTHER pattern variable in this
    * match attempt (NULL while the variable has matched fewer than k+1
    * rows, so the predicate is unknown and the row does not match —
    * Flink CEP's behavior). A bare `V.col` for another variable means
    * LAST(V.col), per the standard.
    */
  private[harness] val CrossFlRe =
    raw"(?i)\b(FIRST|LAST)\s*\(\s*([A-Za-z_]\w*)\s*\.\s*([A-Za-z_]\w*)\s*(?:,\s*(\d+)\s*)?\)".r
  private[harness] val CrossBareRe =
    raw"(?i)\b([A-Za-z_]\w*)\s*\.\s*([A-Za-z_]\w*)".r

  private def hasCrossRef(pred: String, others: Set[String]): Boolean = {
    val masked = maskQuoted(pred)
    CrossFlRe.findAllMatchIn(masked).exists(m => others.contains(m.group(2).toUpperCase)) ||
      CrossBareRe.findAllMatchIn(masked).exists(m => others.contains(m.group(1).toUpperCase))
  }

  /** `SUM/AVG/MIN/MAX(V.col)` inside a DEFINE — SQL:2016 running
    * aggregate over the rows the current match attempt assigns to V
    * (including the row being classified when V is the defined
    * variable itself). Detection and rewriting are literal-masked like
    * every other navigation form.
    */
  private[harness] val AggCallRe =
    raw"(?i)\b(SUM|AVG|MIN|MAX)\s*\(\s*([A-Za-z_]\w*)\s*\.\s*([A-Za-z_]\w*)\s*\)".r

  private def hasAggRef(pred: String, vars: Set[String]): Boolean =
    AggCallRe.findAllMatchIn(maskQuoted(pred))
      .exists(m => vars.contains(m.group(2).toUpperCase))

  /** A DEFINE predicate may qualify columns with its own variable
    * (`A AS A.price > 10`); the qualifier means "the row being
    * classified", so it strips to a bare column reference. A qualifier
    * inside a supported AGGREGATE call (`SUM(A.price)`) is running
    * navigation, not a current-row reference — it survives for the
    * in-matcher aggregate compiler. The aggregate spans are detected
    * once on the masked text (checkDefine has already rejected every
    * non-`FN(V.col)` aggregate form, so span membership is exact).
    */
  private def stripSelfQualifier(variable: String, pred: String): String = {
    val aggSpans = AggCallRe.findAllMatchIn(maskQuoted(pred))
      .map(m => (m.start, m.end)).toArray
    replaceOutside(pred,
      (raw"(?i)\b" + java.util.regex.Pattern.quote(variable) + raw"\s*\.").r) { m =>
      if (aggSpans.exists { case (s, e) => m.start >= s && m.start < e }) m.matched
      else ""
    }
  }

  /** First occurrence of clause keyword `kw` at or after `from` that
    * heads a real clause: occurrences that are an alias (`COUNT(*) AS
    * pattern`) or a qualified identifier (`V.pattern`) are skipped, and
    * the caller advances `from` through the grammar so identifiers that
    * merely look like LATER clause keywords (a PARTITION BY column
    * named `pattern`) cannot corrupt the clause split.
    */
  private def clausePos(body: String, kw: String, from: Int): Option[Int] = {
    val re = (raw"(?is)\b" + kw.replace(" ", raw"\s+") + raw"\b").r
    re.findAllMatchIn(body).map(_.start).filter(_ >= from).find { p =>
      var i = p - 1
      while (i >= 0 && Character.isWhitespace(body.charAt(i))) i -= 1
      if (i < 0) true
      else if (body.charAt(i) == '.') false // qualified identifier
      else {
        // an AS token immediately before means this is an alias that
        // happens to be named like a clause, not the clause itself
        var s = i
        while (s >= 0 && Character.isLetter(body.charAt(s))) s -= 1
        !body.substring(s + 1, i + 1).equalsIgnoreCase("AS")
      }
    }
  }

  private[harness] def parseSpec(body: String): Spec = {
    // clause boundaries, scanned in grammar order: each keyword is
    // searched only past the previous one, with alias/qualifier
    // look-alikes skipped (see clausePos)
    val kws = Seq("PARTITION BY", "ORDER BY", "MEASURES", "ONE ROW PER MATCH",
      "ALL ROWS PER MATCH", "AFTER MATCH", "PATTERN", "SUBSET", "DEFINE")
    var from = 0
    val pos = kws.flatMap { k =>
      clausePos(body, k, from).map { p => from = p + k.length; k -> p }
    }.sortBy(_._2)
    def clauseText(kw: String): Option[String] =
      pos.zipWithIndex.collectFirst { case ((k, p), i) if k == kw =>
        val end = if (i + 1 < pos.size) pos(i + 1)._2 else body.length
        body.substring(p + kw.length, end).trim
      }
    // ALL ROWS PER MATCH: every matched row comes back (all input
    // columns + measures with RUNNING semantics); empty matches are
    // never emitted (the matcher requires end > start), matching the
    // OMIT EMPTY MATCHES flavor
    val allRows = clauseText("ALL ROWS PER MATCH").isDefined

    val partitionBy = clauseText("PARTITION BY").toSeq
      .flatMap(splitTopLevel).map(_.trim)
    val orderItems = clauseText("ORDER BY")
      .map(splitTopLevel(_).map(_.trim))
      .getOrElse(fail("ORDER BY is required"))
    val orderDesc = orderItems.map(o =>
      raw"(?i)\s+DESC$$".r.findFirstIn(o).isDefined)
    val orderBy = orderItems.map(
      _.replaceAll(raw"(?i)\s+(ASC|DESC)$$", ""))
    val (measures, measureFinal) = clauseText("MEASURES")
      .map(splitTopLevel(_).map(parseMeasure).unzip)
      .getOrElse(fail("MEASURES is required"))
    val SkipVarRe = raw"(?is)^SKIP\s+TO\s+(FIRST|LAST)\s+([A-Za-z_][A-Za-z0-9_]*)$$".r
    val (skipToNext, skipToVar) = clauseText("AFTER MATCH") match {
      case None => (false, None)
      case Some(s) if raw"(?is)^SKIP\s+PAST\s+LAST\s+ROW$$".r.findFirstIn(s).isDefined =>
        (false, None)
      case Some(s) if raw"(?is)^SKIP\s+TO\s+NEXT\s+ROW$$".r.findFirstIn(s).isDefined =>
        (true, None)
      case Some(SkipVarRe(fl, v)) =>
        (false, Some((fl.equalsIgnoreCase("FIRST"), v.toUpperCase)))
      case Some(s) => fail(s"unsupported AFTER MATCH clause: SKIP $s")
    }
    val patternRaw = clauseText("PATTERN")
      .getOrElse(fail("PATTERN is required"))
    // Flink CEP's duration bound: PATTERN (...) WITHIN INTERVAL 'n' UNIT
    val WithinRe = raw"(?is)^(.*\))\s*WITHIN\s+INTERVAL\s+'(\d+)'\s+([A-Za-z]+)\s*$$".r
    val (patternTxt, withinMs) = patternRaw match {
      case WithinRe(body, n, u) =>
        val ms = n.toLong * (u.toUpperCase.stripSuffix("S") match {
          case "SECOND" => 1000L
          case "MINUTE" => 60000L
          case "HOUR" => 3600000L
          case "DAY" => 86400000L
          case other => fail(s"unsupported WITHIN unit: $other")
        })
        if (ms <= 0) fail("WITHIN duration must be positive")
        (body.trim, Some(ms))
      case _ =>
        if (raw"(?i)\bWITHIN\b".r.findFirstIn(patternRaw).isDefined)
          fail(s"unsupported WITHIN form (want WITHIN INTERVAL 'n' UNIT): $patternRaw")
        (patternRaw, None)
    }
    if (!patternTxt.startsWith("(") || !patternTxt.endsWith(")"))
      fail(s"PATTERN must be parenthesized: $patternTxt")
    val pattern = parsePattern(patternTxt.substring(1, patternTxt.length - 1).trim)
    val allVars = pattern.flatMap(varsIn(_)).toSet
    if (allVars.size > 62) fail("too many pattern variables (max 62)")
    // SUBSET U = (A, B)[, W = (...)]: union variables over pattern
    // variables; names must not collide with pattern variables or each
    // other, and every member must appear in PATTERN
    val SubsetRe = raw"(?is)^([A-Za-z_][A-Za-z0-9_]*)\s*=\s*\((.*)\)$$".r
    val subsets: Map[String, Seq[String]] = {
      val entries = clauseText("SUBSET").toSeq.flatMap(splitTopLevel).map {
        case SubsetRe(name, members) =>
          val u = name.toUpperCase
          if (allVars.contains(u))
            fail(s"SUBSET $u collides with a pattern variable")
          val ms = splitTopLevel(members).map(_.trim.toUpperCase)
          if (ms.isEmpty) fail(s"SUBSET $u has no members")
          ms.foreach { m =>
            if (!allVars.contains(m))
              fail(s"SUBSET $u includes $m, which is not in PATTERN")
          }
          u -> ms
        case other => fail(s"SUBSET entry needs `U = (A, B, ...)`: $other")
      }
      entries.groupBy(_._1).foreach { case (u, es) =>
        if (es.size > 1) fail(s"SUBSET $u is defined twice")
      }
      entries.toMap
    }
    val defines = clauseText("DEFINE").toSeq.flatMap(splitTopLevel).map { d =>
      val m = raw"(?is)^([A-Za-z_][A-Za-z0-9_]*)\s+AS\s+(.+)$$".r
        .findFirstMatchIn(d).getOrElse(fail(s"DEFINE entry needs `VAR AS predicate`: $d"))
      val v = m.group(1).toUpperCase
      if (!allVars.contains(v)) fail(s"DEFINE $v does not appear in PATTERN")
      checkDefine(v, m.group(2), allVars, subsets)
      v -> stripSelfQualifier(v, m.group(2).trim)
    }.toMap
    // measures must reference pattern variables or SUBSET names;
    // non-bare bodies decompose into expression measures now that the
    // readable-variable set is known
    val readableVars = allVars ++ subsets.keySet
    val resolvedMeasures = measures.zipWithIndex.map {
      case (PendingMeasure(body, alias), i) =>
        decomposeMeasure(body, alias, i, readableVars)
      case (m, _) => m
    }
    resolvedMeasures.foreach {
      case ColMeasure(v, _, _, _, _) if !readableVars.contains(v) =>
        fail(s"measure references undefined pattern variable $v")
      case CountMeasure(Some(v), _) if !readableVars.contains(v) =>
        fail(s"measure references undefined pattern variable $v")
      case AggMeasure(_, v, _, _) if !readableVars.contains(v) =>
        fail(s"measure references undefined pattern variable $v")
      case _ =>
    }
    skipToVar.foreach { case (_, v) =>
      if (!readableVars.contains(v))
        fail(s"AFTER MATCH SKIP TO references $v, not in PATTERN")
    }
    Spec(partitionBy, orderBy, resolvedMeasures, skipToNext, skipToVar,
      pattern, defines, allRows, withinMs, measureFinal, subsets,
      orderDesc)
  }

  // ------------------------------------------------------------- rewrite

  /** Balanced-paren scan from the `(` at `open`; returns the index just
    * past the matching `)`. Quote-aware: a `)` inside a string literal
    * (e.g. `DEFINE A AS t = ':)'`) must not close the region — ending
    * it early would leak the clause tail to Spark's parser.
    */
  private[harness] def closeParen(sql: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < sql.length) {
      sql.charAt(i) match {
        case '(' => depth += 1; i += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return i + 1
          i += 1
        case q @ ('\'' | '"' | '`') => i = skipQuoted(sql, i, q)
        case _ => i += 1
      }
    }
    fail("unbalanced parentheses")
  }

  /** The source-name-before-the-marker law, shared by both rewrites
    * and [[rowtimeMeasureOf]]: a dotted chain of identifier segments,
    * each bare or backtick-quoted (`db`.`tbl`, db.tbl, `tbl`),
    * anchored at the end of the text before `MATCH_RECOGNIZE` — the
    * whole chain must match, or a qualified name would mis-splice at
    * its last segment. Callers matching on MASKED text re-read the
    * group from the raw statement (quote content is blanked but
    * offsets align). */
  private val TableBeforeRe =
    raw"(?is)((?:`[^`]+`|[A-Za-z_]\w*)(?:\s*\.\s*(?:`[^`]+`|[A-Za-z_]\w*))*)\s*$$".r

  /** Index of the `(` matching the `)` at `closeIdx` — forward scan
    * with a depth stack, quote-aware (a paren inside a string literal
    * is data). Used to recover a subquery source's span, which sits
    * BEFORE the MATCH_RECOGNIZE marker and so can't use the forward
    * [[closeParen]] scan.
    */
  private def openForClose(s: String, closeIdx: Int): Int = {
    var i = 0
    val stack = scala.collection.mutable.ArrayBuffer.empty[Int]
    while (i <= closeIdx) {
      s.charAt(i) match {
        case '(' => stack += i; i += 1
        case ')' =>
          if (stack.isEmpty) fail("unbalanced parentheses before MATCH_RECOGNIZE")
          if (i == closeIdx) return stack.last
          stack.remove(stack.length - 1)
          i += 1
        case q @ ('\'' | '"' | '`') => i = skipQuoted(s, i, q)
        case _ => i += 1
      }
    }
    fail("unbalanced parentheses before MATCH_RECOGNIZE")
  }

  private val viewCounter = new java.util.concurrent.atomic.AtomicInteger()

  // also matches the window-TVF rewrite's graft_tvf_N views, so one
  // cleanup pass covers every dialect-rewrite temp view
  private val MrViewRe = raw"\bgraft_(?:mr|tvf|topn)_\d+\b".r

  /** Drops the temp views a [[rewrite]]/[[rewriteStreaming]] call left
    * behind, given the rewritten statement text. Call after the
    * enclosing statement executes: Spark resolves a view into the plan
    * at analysis time, so already-built DataFrames and running
    * streaming queries are unaffected — but without the drop a
    * long-lived session leaks one catalog entry (pinning its plan) per
    * MATCH_RECOGNIZE statement.
    */
  def dropViews(spark: SparkSession, rewrittenSql: String): Unit =
    MrViewRe.findAllIn(rewrittenSql).toSet.foreach { v: String =>
      spark.catalog.dropTempView(v): Unit
    }

  /** Rewrites and runs ONE batch statement, dropping the rewrite's temp
    * views immediately (safe: `spark.sql` resolves the view into the
    * returned frame's plan at analysis). Library operators use this;
    * the CLI harness defers the drop to statement end instead.
    */
  def sql(spark: SparkSession, flinkSql: String): DataFrame = {
    val rewritten = rewrite(spark, flinkSql)
    val df = spark.sql(rewritten)
    dropViews(spark, rewritten)
    df
  }

  /** When `sql` contains exactly one MATCH_RECOGNIZE region over a
    * BARE table/view source whose MEASURES declare a bare
    * `MATCH_ROWTIME() AS x`, returns (source name, x)
    * ([[rowtimeRegionOf]]). */
  def rowtimeMeasureOf(sql: String): Option[(String, String)] =
    rowtimeRegionOf(sql).map(r => (r.src, r.alias))

  /** A MATCH_ROWTIME pattern region: the source name, the measure's
    * alias, where the source name starts, and the [from, to) span of
    * `MATCH_RECOGNIZE (...)`. */
  private[harness] final case class RowtimeRegion(src: String,
      alias: String, srcStart: Int, from: Int, to: Int)

  /** For the CLI's event-time view registry (SqlSubmitAction.recordView,
    * which blanks the region and parses the rest): the region of
    * [[rowtimeMeasureOf]]. Flink's law: the MATCH_ROWTIME measure is a
    * rowtime attribute of the pattern output, so a view projecting it
    * can feed a downstream window TVF / OVER / top-N / temporal probe;
    * the registry maps the view to (x's output name, the source's
    * watermark delay). A subquery source or a second region stays
    * unregistered — the downstream pass then raises its named
    * needs-a-WATERMARK error, same as any other non-propagating view.
    */
  private[harness] def rowtimeRegionOf(sql: String): Option[RowtimeRegion] = {
    val masked = maskQuoted(sql)
    for {
      m <- MarkerRe.findFirstMatchIn(masked)
      if MarkerRe.findFirstMatchIn(masked.substring(m.end)).isEmpty
      open = sql.indexOf('(', m.start)
      end <- scala.util.Try(closeParen(sql, open)).toOption
      // the source name may be backtick-quoted — match on the masked
      // text (quote chars kept, content blanked) and re-read raw
      tm <- TableBeforeRe.findFirstMatchIn(masked.substring(0, m.start))
      rawName = sql.substring(tm.start(1), tm.end(1))
      srcName = DdlParser.unquoteName(rawName)
      // same tick-guard as the rewrites: a TICKED name is never the
      // FROM keyword, so `FROM` (backticked) registers like any table
      if rawName.startsWith("`") || !srcName.equalsIgnoreCase("FROM")
      spec <- scala.util.Try(parseSpec(sql.substring(open + 1, end - 1)))
        .toOption
      alias <- spec.measures.collectFirst {
        case MatchRowtimeMeasure(a) => a }
    } yield RowtimeRegion(srcName, alias, tm.start(1), m.start, end)
  }

  /** Replaces every `<table> MATCH_RECOGNIZE (...)` region with a temp
    * view holding the recognized matches; the surrounding statement
    * (outer SELECT list, WHERE, trailing alias) is untouched. A
    * subquery source — `FROM (SELECT ...) MATCH_RECOGNIZE (...)`,
    * which Flink admits — evaluates first into its own temp view
    * (streaming too, when the subquery's FROM names a
    * WATERMARK-declared table and projects its event-time column —
    * see [[rewriteStreaming]]'s lineage guards).
    * Throws on any form the subset does not cover — no Flink syntax
    * may leak to Spark's parser.
    */
  def rewrite(spark: SparkSession, sql: String): String = {
    var out = sql
    var guard = 0
    val created = ArrayBuffer.empty[String]
    try {
      while (hasMatchRecognize(out)) {
        guard += 1
        if (guard > 8) fail("too many MATCH_RECOGNIZE clauses in one statement")
        val m = MarkerRe.findFirstMatchIn(out).get
        val open = out.indexOf('(', m.start)
        val end = closeParen(out, open)
        val before = out.substring(0, m.start)
        // source: a bare table name, or a parenthesized subquery whose
        // closing `)` is the last non-whitespace before the marker
        var lastNonWs = before.length - 1
        while (lastNonWs >= 0 && Character.isWhitespace(before.charAt(lastNonWs)))
          lastNonWs -= 1
        val (table, cutStart) =
          if (lastNonWs >= 0 && before.charAt(lastNonWs) == ')') {
            val sqOpen = openForClose(before, lastNonWs)
            // the token before the subquery must be FROM — anything
            // else (a function call, a join tail) is out of the subset
            var j = sqOpen - 1
            while (j >= 0 && Character.isWhitespace(before.charAt(j))) j -= 1
            val fromStart = j - 3
            val isFrom = fromStart >= 0 &&
              before.substring(fromStart, j + 1).equalsIgnoreCase("FROM") &&
              (fromStart == 0 || {
                val c = before.charAt(fromStart - 1)
                !(c.isLetterOrDigit || c == '_')
              })
            if (!isFrom)
              fail("expected `FROM <table> MATCH_RECOGNIZE (...)` or " +
                "`FROM (subquery) MATCH_RECOGNIZE (...)`")
            val inner = before.substring(sqOpen + 1, lastNonWs)
            val srcView = s"graft_mr_${viewCounter.incrementAndGet()}"
            val df =
              try spark.sql(inner)
              catch { case e: Exception =>
                fail(s"cannot evaluate MATCH_RECOGNIZE subquery source: " +
                  e.getMessage) }
            df.createOrReplaceTempView(srcView)
            created += srcView
            (srcView, sqOpen)
          } else {
            val tm = TableBeforeRe.findFirstMatchIn(before)
              .getOrElse(fail("expected `FROM <table> MATCH_RECOGNIZE (...)` " +
                "or `FROM (subquery) MATCH_RECOGNIZE (...)`"))
            // keep the ticks for spark.table (names with specials
            // parse); a TICKED name is never the FROM keyword
            val t = tm.group(1)
            if (!t.startsWith("`") && t.equalsIgnoreCase("FROM"))
              fail("expected a table name before MATCH_RECOGNIZE")
            (t, tm.start)
          }
        val spec = parseSpec(out.substring(open + 1, end - 1))
        val result = execute(spark.table(table), spec)
        val view = s"graft_mr_${viewCounter.incrementAndGet()}"
        result.createOrReplaceTempView(view)
        created += view
        out = before.substring(0, cutStart) + view + " " + out.substring(end)
        // a subquery source's view is already resolved into the result
        // view's stored (analyzed) plan — drop it now, because it never
        // appears in the rewritten text and the caller's dropViews pass
        // could not find it
        if (created.size >= 2 && created(created.size - 2) == table) {
          spark.catalog.dropTempView(table): Unit
        }
      }
      out
    } catch {
      // a failure on the SECOND region of a statement must not orphan
      // the first region's already-created view
      case e: Throwable =>
        created.foreach(v => spark.catalog.dropTempView(v): Unit)
        throw e
    }
  }

  // --------------------------------------------------- streaming rewrite

  /** Streaming `MATCH_RECOGNIZE` over the [[graft.streaming.PatternTracker]]
    * per-key NFA (watermark-matured decisions, append mode, exactly the
    * batch matcher's results on the same ordered data). The streaming
    * subset narrows the batch one further:
    *
    *  - ORDER BY must be exactly the source's event-time (WATERMARK)
    *    column — Flink imposes the same;
    *  - `V.col` / FIRST / LAST measures may reference the event-time
    *    column (carried in state as epoch ms) or any string / integer /
    *    boolean column (carried as a per-row JSON payload of exactly
    *    the measure columns); double/timestamp/decimal measure columns
    *    throw the contract, because their JSON round-trip is not
    *    bit-faithful. COUNT and MATCH_NUMBER() are free.
    *    SUM/AVG/MIN/MAX(V.col) aggregate measures gate to INTEGRAL
    *    columns (the tracker accumulates exact longs in state; AVG
    *    divides as double on emission, matching batch).
    *  - SUM/AVG/MIN/MAX(V.col) running aggregates in DEFINE evaluate
    *    in-tracker against the running assignment (same slots as the
    *    batch matcher): SUM/AVG gate to INTEGRAL columns, MIN/MAX to
    *    any JSON-lossless type.
    *  - SQL:2016 SUBSET union variables work wherever a pattern
    *    variable is read (MEASURES, DEFINE navigation/aggregates,
    *    AFTER MATCH SKIP TO), resolved as OR-masks over the def
    *    bitmask — the batch maskOf design; union columns face the
    *    same type gates as their primary-variable forms.
    *
    * `watermarkOf` resolves a table name to its (event-time column,
    * delay) from the connector DDL.
    */
  def rewriteStreaming(
      spark: SparkSession, sql: String,
      watermarkOf: String => Option[(String, String)]): String = {
    import graft.streaming.{PatternEvent, PatternTracker}
    import org.apache.spark.sql.functions.{expr => sexpr, lit, struct, to_json, from_json, when, col => scol}
    var out = sql
    var guard = 0
    val created = ArrayBuffer.empty[String]
    try {
    while (hasMatchRecognize(out)) {
      guard += 1
      if (guard > 8) fail("too many MATCH_RECOGNIZE clauses in one statement")
      val m = MarkerRe.findFirstMatchIn(out).get
      val open = out.indexOf('(', m.start)
      val end = closeParen(out, open)
      val before = out.substring(0, m.start)
      // source: a named table, or a parenthesized subquery (Flink
      // admits both). A subquery evaluates into its own temp view —
      // streaming lineage rides through spark.sql — and its watermark
      // resolves from the ONE watermarked table it references; the
      // event-time column must survive the subquery's projection.
      var lastNonWs = before.length - 1
      while (lastNonWs >= 0 && Character.isWhitespace(before.charAt(lastNonWs)))
        lastNonWs -= 1
      val (table, cutStart, wmResolved) =
        if (lastNonWs >= 0 && before.charAt(lastNonWs) == ')') {
          val sqOpen = openForClose(before, lastNonWs)
          var j = sqOpen - 1
          while (j >= 0 && Character.isWhitespace(before.charAt(j))) j -= 1
          val fromStart = j - 3
          val isFrom = fromStart >= 0 &&
            before.substring(fromStart, j + 1).equalsIgnoreCase("FROM") &&
            (fromStart == 0 || {
              val c = before.charAt(fromStart - 1)
              !(c.isLetterOrDigit || c == '_')
            })
          if (!isFrom)
            fail("expected `FROM <table> MATCH_RECOGNIZE (...)` or " +
              "`FROM (subquery) MATCH_RECOGNIZE (...)`")
          val inner = before.substring(sqOpen + 1, lastNonWs)
          // event-time lineage — the shared law (SubquerySource, r17:
          // one watermarked table in relation position, event-time
          // column projected)
          val (df, wm) = SubquerySource.resolve(spark, inner,
            watermarkOf, "MATCH_RECOGNIZE", fail)
          val srcView = s"graft_mr_${viewCounter.incrementAndGet()}"
          df.createOrReplaceTempView(srcView)
          created += srcView
          (srcView, sqOpen, Some(wm))
        } else {
          val tm = TableBeforeRe.findFirstMatchIn(before)
            .getOrElse(fail("expected `FROM <table> MATCH_RECOGNIZE (...)` " +
              "or `FROM (subquery) MATCH_RECOGNIZE (...)`"))
          // ticks kept for spark.table; the watermark registry keys
          // on the UNQUOTED name (how the DDL recorded it)
          val t = tm.group(1)
          if (!t.startsWith("`") && t.equalsIgnoreCase("FROM"))
            fail("expected a table name before MATCH_RECOGNIZE")
          (t, tm.start, watermarkOf(DdlParser.unquoteName(t)))
        }
      val spec = {
        val parsed = parseSpec(out.substring(open + 1, end - 1))
        // nested navigation flattens to net offsets — same-direction
        // exactly, mixed-direction (r14) gated on the intermediate
        // row's existence, and navigation below another navigation
        // (r15) by composing the synthetic gates to their net offsets
        // (see flattenSameDirNav); non-strict constructs (user CASE,
        // boolean logic, whitelisted scalar calls) distribute under an
        // unconditional outer gate (r16); the tracker then sees
        // ordinary flat PREV/NEXT atoms. Shapes outside the subset
        // (unknown functions, aggregates, qualified refs) pass through
        // unchanged and hit rejectNestedNav's named batch-only error.
        parsed.copy(defines = parsed.defines.map { case (v, p) =>
          v -> flattenSameDirNav(p) })
      }
      // PREV(col[, k]) in DEFINE is supported: the referenced columns
      // ride a type-gated JSON payload per row and the tracker
      // re-evaluates those variables' bits over the matured, ordered
      // prefix (see PatternTracker.PrevSpec). ALL ROWS PER MATCH stays
      // batch-only — state carries no full rows to replay.
      if (spec.allRows)
        fail("ALL ROWS PER MATCH is not supported in streaming " +
          "MATCH_RECOGNIZE (batch only — state carries no rows)")
      val (wmCol, wmDelay) = wmResolved.getOrElse(fail(
        s"streaming MATCH_RECOGNIZE needs a WATERMARK declaration on $table"))
      if (spec.orderDesc.exists(identity))
        fail("streaming MATCH_RECOGNIZE must ORDER BY the event-time " +
          "column ASCENDING (watermarks mature rows in time order; " +
          "Flink imposes the same — its streaming MATCH_RECOGNIZE " +
          "requires the primary sort to be an ascending time " +
          "attribute; DESC runs in batch mode here, beyond Flink)")
      if (spec.orderBy.map(_.toLowerCase) != Seq(wmCol.toLowerCase))
        fail("streaming MATCH_RECOGNIZE must ORDER BY exactly the " +
          s"source's event-time column ($wmCol); got ${spec.orderBy.mkString(", ")}")

      val vars = spec.pattern.flatMap(varsIn(_)).distinct
      if (vars.size > 62) fail("too many pattern variables (max 62)")
      val varOf = vars.zipWithIndex.toMap
      // readable variables as def-bit masks: a primary is its own bit,
      // a SUBSET union ORs its members' bits — the tracker tests
      // assignment membership against masks, the same design as the
      // batch matcher's maskOf
      val maskOf: Map[String, Long] =
        varOf.map { case (v, i) => v -> (1L << i) } ++
          spec.subsets.map { case (u, ms) =>
            u -> ms.foldLeft(0L)((m, x) => m | (1L << varOf(x))) }
      // alternation branches in preference order (leftmost wins), SKIP
      // TO FIRST/LAST, and grouped sub-patterns all ride through to
      // the tracker, which mirrors the batch matcher's semantics under
      // watermark finality (the tracker walks the same pattern tree
      // with a continuation — see PatternTracker.tryNodes).
      def compileNode(n: PatNode): PatternTracker.PatNode = n match {
        case PatternElem(v, lo, hi) => PatternTracker.Elem(varOf(v), lo, hi)
        case PatternGroup(bs, lo, hi) =>
          PatternTracker.Group(bs.map(_.map(compileNode)), lo, hi)
      }
      val branches = spec.pattern.map(_.map(compileNode))
      val skipTo = spec.skipToVar.map { case (f, v) => (f, maskOf(v)) }

      val src = spark.table(table)
      // case-insensitive column resolution with the contract's failure
      // mode, shared by every schema lookup below
      def fieldIdx(c: String): Int = {
        val i = src.schema.fieldNames.indexWhere(_.equalsIgnoreCase(c))
        if (i < 0) fail(s"column $c not found in $table")
        i
      }
      // measure plan in PatternTracker kinds. Event-time FIRST/LAST ride
      // the state's time slot (kinds 0/1); any other column rides a
      // per-row JSON payload (kinds 5/6) through the shared exact
      // carrier (StateFormat.carrierOf — round 15; previously the
      // JSON-lossless set only): doubles / floats / decimals / dates
      // ride an exact string, timestamps ride epoch micros, so every
      // scalar measure type a real stream carries is admitted; only
      // nested/binary columns keep the named rejection
      val colMeasureCols = scala.collection.mutable.LinkedHashSet.empty[String]
      def measureCarrier(c: String): graft.streaming.StateFormat.Carrier = {
        val f = src.schema(fieldIdx(c))
        graft.streaming.StateFormat.carrierOf(f).getOrElse(
          fail(s"streaming MATCH_RECOGNIZE measure on $c: type " +
            s"${f.dataType.simpleString} has no exact state carrier " +
            "(nested and binary types cannot ride the JSON state " +
            s"payload) — supported: any scalar column, or the " +
            s"event-time column $wmCol"))
      }
      def gatedMeasureCol(c: String): String = {
        measureCarrier(c)
        src.schema(fieldIdx(c)).name
      }
      // aggregate measures (kinds 8-11) ride the same vals payload;
      // their columns gate to INTEGRAL types so the tracker aggregates
      // exact longs (no double/decimal round-trip hazards in state)
      val aggCols = ArrayBuffer.empty[String]
      // expression measures: their atoms ride the tracker like bare
      // measures; the expression projects after decoding (below)
      val flatMeasures: Seq[Measure] = spec.measures.flatMap {
        case e: ExprMeasure => e.atoms
        case m => Seq(m)
      }
      // FIRST/LAST(V.col, k) logical offsets, parallel to the flat
      // measure list: the tracker counts occurrences over the final
      // assignment at emission time, exactly the batch edgeRow
      val measureOffsets = flatMeasures.map {
        case ColMeasure(_, _, _, _, off) => off
        case _ => 0
      }.toArray
      val measures = flatMeasures.map {
        case ColMeasure(v, c, first, _, _) =>
          if (c.equalsIgnoreCase(wmCol)) (if (first) 0 else 1, maskOf(v))
          else {
            colMeasureCols += gatedMeasureCol(c)
            (if (first) 5 else 6, maskOf(v))
          }
        case CountMeasure(Some(v), _) => (2, maskOf(v))
        case CountMeasure(None, _) => (3, 0L)
        case MatchNumberMeasure(_) => (4, 0L)
        case ClassifierMeasure(_) => (7, 0L)
        // MATCH_ROWTIME = LAST over ALL variables of the event-time
        // column (the streaming ORDER BY head IS the watermark column):
        // kind 1 reads the state's time slot at the match's last row
        case MatchRowtimeMeasure(_) =>
          (1, varOf.values.foldLeft(0L)((m, i) => m | (1L << i)))
        case AggMeasure(fn, v, c, _) =>
          import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType}
          val idx = fieldIdx(c)
          val dt = src.schema(idx).dataType
          val integral = dt == ByteType || dt == ShortType ||
            dt == IntegerType || dt == LongType
          if (!integral)
            fail(s"streaming MATCH_RECOGNIZE $fn($c): aggregate " +
              "measures evaluate over the JSON state payload as exact " +
              s"longs — only integer columns are supported (got " +
              s"${dt.simpleString}); pre-scale the column upstream or " +
              "run the query in batch")
          colMeasureCols += src.schema(idx).name
          aggCols += src.schema(idx).name
          (fn match {
            case "SUM" => 8
            case "MIN" => 9
            case "MAX" => 10
            case _ => 11
          }, maskOf(v))
        case other => fail(s"unexpected measure form: $other") // unreachable
      }
      // per-key state groups on a to_json/from_json round-trip of the
      // PARTITION BY tuple; only types whose JSON text decodes
      // bit-identically are admitted — timestamp/decimal/float keys
      // could lose precision or formatting fidelity on the way back
      AggSlots.requireLosslessKeys(
        p => src.schema(fieldIdx(p)).dataType, spec.partitionBy,
        "streaming MATCH_RECOGNIZE PARTITION BY", fail)
      val keyExpr =
        if (spec.partitionBy.isEmpty) lit("{}")
        else to_json(struct(spec.partitionBy.map(scol): _*))

      // PREV(col[, k]) defines: Catalyst cannot lag over an unbounded
      // stream, so these predicates are compiled to bound Catalyst
      // expressions and evaluated INSIDE the tracker, where the
      // matured rows are already in match order. Referenced columns are
      // type-gated to the JSON-lossless set (like measures/keys) and
      // packed as a per-row payload.
      // split each DEFINE on top-level AND and classify the conjuncts:
      // PREV-bearing, cross-variable, and running-aggregate conjuncts
      // move tracker-side (and only THEIR columns face the
      // JSON-lossless gate); the rest evaluate upstream in Catalyst
      // like any other define, on any column type. A conjunct mixing
      // PREV with the in-matcher forms is out of the subset.
      val allVarSet = vars.toSet
      // nested navigation that did NOT flatten above (unknown function
      // names, aggregates, or qualified refs in the navigated
      // expression) is batch-only: the tracker's lag payload carries
      // fixed per-row slots, not composed navigation — reject with the
      // contract before conjunct splitting produces a misleading
      // unresolved-column error
      spec.defines.values.foreach(rejectNestedNav)
      // SUBSET union names read like pattern variables: a conjunct
      // referencing one moves tracker-side exactly like a cross ref
      val readSet = allVarSet ++ spec.subsets.keySet
      val split: Map[String, (Seq[String], Seq[String], Seq[String])] =
        vars.flatMap { v =>
          spec.defines.get(v).flatMap { p =>
            val others = (allVarSet - v) ++ spec.subsets.keySet
            def hasNav(c: String): Boolean = hasPrev(c) || hasNextNav(c)
            def inMatcher(c: String): Boolean =
              hasCrossRef(c, others) || hasAggRef(c, readSet)
            if (!hasNav(p) && !inMatcher(p)) None
            else {
              val conjs = splitTopLevelAnd(p)
              conjs.find(c => hasNav(c) && inMatcher(c))
                .foreach(_ => fail(s"DEFINE $v mixes PREV()/NEXT() and " +
                  "a cross-variable/aggregate reference in one " +
                  "AND-conjunct — split them into separate conjuncts"))
              val (pp, notPrev) = conjs.partition(hasNav)
              val (cc, rest) = notPrev.partition(inMatcher)
              Some(v -> ((pp, cc, rest)))
            }
          }
        }.toMap
      val prevVars = vars.filter(v => split.get(v).exists(_._1.nonEmpty))
      val crossVars = vars.filter(v => split.get(v).exists(_._2.nonEmpty))
      val prevSplit: Map[String, (String, Option[String])] =
        split.map { case (v, (pp, cc, rest)) =>
          v -> (pp.map(p => s"($p)").mkString(" AND "),
            if (rest.isEmpty) None
            else Some(rest.map(p => s"($p)").mkString(" AND ")))
        }
      // columns of the per-row lag/cross payload, in PrevSpec.cols
      // order: referenced source columns, then synthetic PREV-expression
      // columns (computed upstream in Catalyst)
      var lagPayload: Seq[org.apache.spark.sql.Column] = Nil
      val prevSpecOpt: Option[PatternTracker.PrevSpec] =
        if (split.isEmpty) None else {
          import org.apache.spark.sql.types._
          import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BindReferences}
          import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LocalRelation}
          val srcNames = src.schema.fieldNames.map(n => n.toLowerCase -> n).toMap
          def gatedLagField(c: String): StructField = {
            val f = src.schema(fieldIdx(c))
            if (graft.streaming.StateFormat.jsonLossless(f.dataType)) f
            else fail("streaming MATCH_RECOGNIZE: column $c".replace("$c", c) +
              s" (type ${f.dataType.simpleString}) appears in a PREV- or " +
              "cross-variable conjunct, which evaluates inside the " +
              "tracker over a JSON state payload — only string / " +
              "integer / boolean columns round-trip that payload " +
              "losslessly. Move the condition into a separate " +
              "AND-conjunct, or pre-cast the column upstream.")
          }
          // every source column a tracker-side CONJUNCT touches —
          // inside PREV(...) / FIRST/LAST(V.col) directly, plus
          // current-row identifiers. Detection and sweeps run on
          // literal-masked text (a string like `'V.x'` is never a
          // reference), and an identifier heading a call — a function
          // name — is not a column.
          val referenced = scala.collection.mutable.LinkedHashSet.empty[String]
          def sweepIds(text: String): Unit = {
            val masked = maskQuoted(text)
            raw"[A-Za-z_][A-Za-z0-9_]*".r.findAllMatchIn(masked).foreach { m =>
              var j = m.end
              while (j < masked.length && masked.charAt(j).isWhitespace) j += 1
              if (j >= masked.length || masked.charAt(j) != '(')
                srcNames.get(m.matched.toLowerCase).foreach(referenced += _)
            }
          }
          // PREV over a non-column EXPRESSION precomputes upstream as a
          // synthetic payload column, lagged like any source column;
          // repeats of the same (whitespace-normalized) text share one
          // slot. PREV(expr, 0) is the current row's value and rides
          // the payload's unlagged slot.
          val exprCols = scala.collection.mutable.LinkedHashMap
            .empty[String, (String, String)] // normKey -> (slotName, exprText)
          var maxK = 0
          var maxNextK = 0
          val prevRewritten: Map[String, String] = prevVars.map { v =>
            def navSlotBase(e: String): String = e match {
              case BareColRe() =>
                val cn = srcNames.getOrElse(e.toLowerCase,
                  fail(s"column $e not found in $table"))
                referenced += cn
                cn
              case _ =>
                exprCols.getOrElseUpdate(e.replaceAll(raw"\s+", " "),
                  (s"__pe_${exprCols.size + 1}", e))._1
            }
            // guard the parse: \d+ can exceed Int range; saturate, the
            // contract error must fire, not NumberFormatException
            def navK(kStr: String): Int = parseIntSat(kStr)
            val withPrev = mapPrevCalls(prevSplit(v)._1) { (e, kStr) =>
              val k = navK(kStr)
              maxK = math.max(maxK, k)
              val slotBase = navSlotBase(e)
              if (k == 0) slotBase else s"__prev_${k}_$slotBase"
            }
            // NEXT mirrors PREV with lead slots: the tracker fills them
            // from matured successors and defers decisions within
            // maxNextK of the maturity boundary (see PatternTracker)
            val t = mapNextCalls(withPrev) { (e, kStr) =>
              val k = navK(kStr)
              maxNextK = math.max(maxNextK, k)
              val slotBase = navSlotBase(e)
              if (k == 0) slotBase else s"__next_${k}_$slotBase"
            }
            sweepIds(t)
            v -> t
          }.toMap
          if (maxK > 16) fail(s"PREV offset $maxK exceeds the streaming " +
            "subset's maximum of 16")
          if (maxNextK > 16) fail(s"NEXT offset $maxNextK exceeds the " +
            "streaming subset's maximum of 16")
          crossVars.foreach { v =>
            val pred = split(v)._2.map(c => s"($c)").mkString(" AND ")
            val mp = maskQuoted(pred)
            // aggregate columns gate like aggregate MEASURES: SUM/AVG
            // accumulate exact longs in the tracker, so INTEGRAL only;
            // MIN/MAX compare payload values, so any JSON-lossless type
            AggCallRe.findAllMatchIn(mp).foreach { cm =>
              if (maskOf.contains(cm.group(2).toUpperCase)) {
                val cn = srcNames.getOrElse(cm.group(3).toLowerCase,
                  fail(s"column ${cm.group(3)} not found in $table"))
                val fn = cm.group(1).toUpperCase
                val dt = src.schema(fieldIdx(cn)).dataType
                val integral = dt == ByteType || dt == ShortType ||
                  dt == IntegerType || dt == LongType
                if ((fn == "SUM" || fn == "AVG") && !integral)
                  fail(s"streaming MATCH_RECOGNIZE $fn($cn) in DEFINE: " +
                    "aggregates evaluate over the JSON state payload as " +
                    s"exact longs — only integer columns are supported " +
                    s"(got ${dt.simpleString}); pre-scale the column " +
                    "upstream or run the query in batch")
                referenced += cn
              }
            }
            val aggBlanked = replaceOutside(pred, AggCallRe) { cm =>
              if (maskOf.contains(cm.group(2).toUpperCase)) " " else cm.matched
            }
            CrossFlRe.findAllMatchIn(maskQuoted(aggBlanked)).foreach { cm =>
              if (maskOf.contains(cm.group(2).toUpperCase))
                referenced += srcNames.getOrElse(cm.group(3).toLowerCase,
                  fail(s"column ${cm.group(3)} not found in $table"))
            }
            CrossBareRe.findAllMatchIn(maskQuoted(aggBlanked)).foreach { cm =>
              if (maskOf.contains(cm.group(1).toUpperCase))
                referenced += srcNames.getOrElse(cm.group(2).toLowerCase,
                  fail(s"column ${cm.group(2)} not found in $table"))
            }
            sweepIds(replaceOutside(replaceOutside(aggBlanked, CrossFlRe)(_ => " "),
              CrossBareRe)(_ => " "))
          }
          // synthetic PREV-expression columns resolve (and type-gate)
          // against the source schema; errors carry the expression text
          val exprFields = exprCols.values.toSeq.map { case (name, text) =>
            val dt =
              try src.selectExpr(s"($text) AS $name").schema.head.dataType
              catch { case e: Exception =>
                fail(s"cannot resolve PREV expression ($text): ${e.getMessage}") }
            if (!graft.streaming.StateFormat.jsonLossless(dt))
              fail(s"streaming MATCH_RECOGNIZE: PREV expression ($text) " +
                s"has type ${dt.simpleString}, which does not round-trip " +
                "the JSON state payload losslessly (supported: string / " +
                "integer / boolean) — add a cast inside PREV")
            StructField(name, dt)
          }
          val fields = referenced.toSeq.map(gatedLagField) ++ exprFields
          lagPayload = referenced.toSeq.map(scol) ++
            exprCols.values.toSeq.map { case (name, text) =>
              sexpr(s"($text)").as(name) }
          val schemaAll = fields ++ (1 to maxK).flatMap(k =>
            fields.map(f => StructField(s"__prev_${k}_${f.name}", f.dataType))) ++
            (1 to maxNextK).flatMap(k =>
              fields.map(f => StructField(s"__next_${k}_${f.name}", f.dataType)))
          val attrs = schemaAll
            .map(f => AttributeReference(f.name, f.dataType, nullable = true)())
            .toIndexedSeq
          val preds = prevVars.map { v =>
            val t = prevRewritten(v)
            // CAST AS BOOLEAN mirrors the batch rewrite's .cast; the
            // analyzer run resolves identifiers case-insensitively and
            // applies the usual type coercions
            val parsedE =
              try spark.sessionState.sqlParser.parseExpression(
                s"CAST(($t) AS BOOLEAN)")
              catch { case e: Exception =>
                fail(s"cannot parse DEFINE $v: ${e.getMessage}") }
            val analyzed =
              try spark.sessionState.analyzer.execute(
                LFilter(parsedE, LocalRelation(attrs)))
              catch { case e: Exception =>
                fail(s"cannot resolve DEFINE $v over the PREV payload: " +
                  e.getMessage) }
            val cond = analyzed.asInstanceOf[LFilter].condition
            if (!cond.resolved)
              fail(s"cannot resolve DEFINE $v over the PREV payload " +
                "columns (only source columns and PREV(expr[, k]) are " +
                "available)")
            (varOf(v), BindReferences.bindReference(cond, attrs))
          }.toArray
          // cross-variable / aggregate conjuncts: bound over `cols ++
          // ref slots ++ aggregate slots`, evaluated DURING matching
          // against the running assignment (same layout the batch
          // matcher uses, but with payload values instead of raw rows).
          // Aggregate calls rewrite FIRST — their `V.col` argument must
          // not be seen by the bare-ref pass.
          val colOrd = fields.map(_.name).zipWithIndex.toMap
          val crossPreds = crossVars.map { v =>
            val predText = split(v)._2.map(c => s"($c)").mkString(" AND ")
            val refs = scala.collection.mutable.LinkedHashMap
              .empty[String, (Boolean, Long, Int, Int)]
            val aggRefs = scala.collection.mutable.LinkedHashMap
              .empty[String, (Int, Long, Int)]
            def slot(firstKw: Boolean, rv: String, c: String,
                skip: Int): String = {
              val cn = srcNames(c.toLowerCase)
              val name = s"__cv_${if (firstKw) "f" else "l"}${skip}_${rv}_$cn"
              refs.getOrElseUpdate(name, (firstKw, maskOf(rv), colOrd(cn), skip))
              name
            }
            // saturate past-Int offsets like the measure parser
            def navOff(s: String): Int =
              if (s == null) 0 else parseIntSat(s)
            var t = replaceOutside(predText, AggCallRe) { cm =>
              val rv = cm.group(2).toUpperCase
              if (!maskOf.contains(rv)) cm.matched
              else {
                val fn = cm.group(1).toUpperCase
                val cn = srcNames(cm.group(3).toLowerCase)
                val fnKind = fn match {
                  case "SUM" => 0
                  case "AVG" => 1
                  case "MIN" => 2
                  case _ => 3
                }
                val name = s"__ca_${fn.toLowerCase}_${rv}_$cn"
                aggRefs.getOrElseUpdate(name, (fnKind, maskOf(rv), colOrd(cn)))
                name
              }
            }
            t = replaceOutside(t, CrossFlRe) { cm =>
              val rv = cm.group(2).toUpperCase
              if (!maskOf.contains(rv)) cm.matched
              else slot(cm.group(1).equalsIgnoreCase("FIRST"), rv,
                cm.group(3), navOff(cm.group(4)))
            }
            t = replaceOutside(t, CrossBareRe) { cm =>
              val rv = cm.group(1).toUpperCase
              if (!maskOf.contains(rv)) cm.matched
              else slot(firstKw = false, rv, cm.group(2), skip = 0)
            }
            val crossAttrs = (fields.map(f =>
                AttributeReference(f.name, f.dataType, nullable = true)()) ++
              refs.map { case (name, (_, _, ord, _)) =>
                AttributeReference(name, fields(ord).dataType,
                  nullable = true)()
              } ++
              aggRefs.map { case (name, (fnKind, _, ord)) =>
                // SUM of integral payload values is an exact long; AVG
                // divides that long as double; MIN/MAX keep the column
                // type — mirroring the batch matcher's output typing
                val dt = fnKind match {
                  case 0 => LongType
                  case 1 => DoubleType
                  case _ => fields(ord).dataType
                }
                AttributeReference(name, dt, nullable = true)()
              }).toIndexedSeq
            val parsedE =
              try spark.sessionState.sqlParser.parseExpression(
                s"CAST(($t) AS BOOLEAN)")
              catch { case e: Exception =>
                fail(s"cannot parse DEFINE $v: ${e.getMessage}") }
            val analyzed =
              try spark.sessionState.analyzer.execute(
                LFilter(parsedE, LocalRelation(crossAttrs)))
              catch { case e: Exception =>
                fail(s"cannot resolve DEFINE $v over the cross payload: " +
                  e.getMessage) }
            val cond = analyzed.asInstanceOf[LFilter].condition
            if (!cond.resolved)
              fail(s"cannot resolve DEFINE $v over the payload columns " +
                "and its cross-variable references")
            (varOf(v), BindReferences.bindReference(cond, crossAttrs),
              refs.values.toArray, aggRefs.values.toArray)
          }.toArray
          Some(PatternTracker.PrevSpec(fields.map(_.name).toArray,
            fields.map(_.dataType).toArray, maxK, preds, crossPreds,
            maxNextK))
        }

      val defsExpr = vars.zipWithIndex.map { case (v, i) =>
        val pred =
          if (split.contains(v))
            // upstream carries only the non-tracker conjuncts (true
            // when there are none); the tracker ANDs in the PREV- and
            // cross-bearing conjuncts
            prevSplit(v)._2.getOrElse("true")
          else spec.defines.getOrElse(v, "true")
        s"(CASE WHEN ($pred) THEN CAST(${1L << i} AS BIGINT) " +
          "ELSE CAST(0 AS BIGINT) END)"
      }.mkString(" + ")
      val valsExpr =
        if (colMeasureCols.isEmpty) lit("")
        else to_json(struct(colMeasureCols.toSeq.map(c =>
          measureCarrier(c).enc.as(src.schema(fieldIdx(c)).name)): _*))
      val lagExpr =
        if (lagPayload.isEmpty) lit("") else to_json(struct(lagPayload: _*))
      // a CHAINED source (a windowed pre-agg view, r17) rides the
      // never-late sentinel — its rows are upstream watermark-gated
      // emissions (see Watermarks.neverLate); the encoder binds by
      // name, so the extra column never touches PatternEvent
      val chainedCols =
        if (graft.streaming.Watermarks.isChained(src))
          Seq(graft.streaming.Watermarks.neverLate)
        else Nil
      val prepared = src.select(Seq(
        keyExpr.as("key"),
        graft.streaming.Watermarks.eventTimeCol(src, wmCol, "ts"),
        sexpr(defsExpr).as("defs"),
        valsExpr.as("vals"),
        lagExpr.as("lag")) ++ chainedCols: _*)
      implicit val evEnc = org.apache.spark.sql.Encoders.product[PatternEvent]
      // WITHIN rides straight through: the tracker prunes during
      // matching on the same strict ts(p)+n bound as the batch matcher,
      // and the horizon tightens finality (a start is decidable once
      // the watermark passes its horizon — no future arrival can join)
      val tracked = PatternTracker.trackBranches(
        prepared.as[PatternEvent], wmDelay, branches, measures,
        spec.skipToNextRow, skipTo, spec.withinMs.getOrElse(0L),
        prevSpecOpt,
        if (aggCols.isEmpty) None
        else Some(PatternTracker.AggSpec(aggCols.toArray)),
        if (measureOffsets.forall(_ == 0)) null else measureOffsets)

      val keySchema = StructType(
        spec.partitionBy.map(p => src.schema(fieldIdx(p))).toArray)
      val keyCols = spec.partitionBy.map(p =>
        from_json(scol("key"), keySchema).getField(p).as(p))
      // decode schema over the carrier STORAGE types (what the payload
      // JSON actually holds); each measure column casts back through
      // its carrier on the way out
      val valsSchema = StructType(
        colMeasureCols.toSeq.map(c =>
          StructField(src.schema(fieldIdx(c)).name,
            measureCarrier(c).storage, nullable = true)).toArray)
      var ci = -1
      val measureCols = flatMeasures.zipWithIndex.map { case (ms, i) =>
        val v = scol("values").getItem(i)
        ms match {
          case ColMeasure(_, c, _, alias, _) if c.equalsIgnoreCase(wmCol) =>
            when(v === graft.streaming.PatternTracker.UnmatchedTime, lit(null))
              .otherwise(sexpr(s"timestamp_millis(values[$i])")).as(alias)
          case MatchRowtimeMeasure(alias) =>
            when(v === graft.streaming.PatternTracker.UnmatchedTime, lit(null))
              .otherwise(sexpr(s"timestamp_millis(values[$i])")).as(alias)
          case ColMeasure(_, c, _, alias, _) =>
            // column measure: decode the matched row's JSON payload
            // through the column's carrier; a null payload (variable
            // matched no row) decodes to NULL
            ci += 1
            measureCarrier(c).dec(
              from_json(scol("cvals").getItem(ci), valsSchema)
                .getField(src.schema(fieldIdx(c)).name)).as(alias)
          case AggMeasure(fn, _, c, alias) =>
            // aggregate result rides cvals as a decimal string; cast to
            // the batch matcher's output type (SUM over integral →
            // BIGINT, AVG → DOUBLE, MIN/MAX → the input column type)
            ci += 1
            val raw = scol("cvals").getItem(ci)
            (fn match {
              case "SUM" => raw.cast("bigint")
              case "AVG" => raw.cast("double")
              case _ => raw.cast(src.schema(fieldIdx(c)).dataType)
            }).as(alias)
          case ClassifierMeasure(alias) =>
            // the tracker emits the last matched row's variable INDEX;
            // map it back to the variable name in pattern order
            sexpr("element_at(array(" +
              vars.map(n => s"'$n'").mkString(", ") +
              s"), CAST(values[$i] AS INT) + 1)").as(alias)
          case other => v.as(other.alias)
        }
      }
      val decoded = tracked.select(keyCols ++ measureCols: _*)
      // expression measures project over the decoded atom columns —
      // same composition as the batch final select
      val result =
        if (!spec.measures.exists(_.isInstanceOf[ExprMeasure])) decoded
        else decoded.select(spec.partitionBy.map(scol) ++
          spec.measures.map {
            case e: ExprMeasure =>
              (try sexpr(e.sql) catch { case ex: Exception =>
                fail(s"cannot parse measure ${e.alias}: ${ex.getMessage}")
              }).as(e.alias)
            case m => scol(m.alias)
          }: _*)
      val view = s"graft_mr_${viewCounter.incrementAndGet()}"
      result.createOrReplaceTempView(view)
      created += view
      out = before.substring(0, cutStart) + view + " " + out.substring(end)
      // a subquery source's view is already resolved into the result
      // view's stored plan and never appears in the rewritten text —
      // drop it now (the caller's dropViews pass could not find it)
      if (created.size >= 2 && created(created.size - 2) == table)
        spark.catalog.dropTempView(table): Unit
    }
    out
    } catch {
      // mirror rewrite(): never orphan an earlier region's view when a
      // later region fails the contract
      case e: Throwable =>
        created.foreach(v => spark.catalog.dropTempView(v): Unit)
        throw e
    }
  }

  // ------------------------------------------------------------- execute

  /** One buffered row with its precomputed per-variable match booleans
    * and event time — the unit of the matcher's sliding window. `cat`
    * holds the row's Catalyst-internal values for matcher-side
    * cross-variable predicate evaluation (null unless the pattern has
    * cross defines). */
  private final class Ent(val row: Row, val ok: Array[Boolean],
      val tsMs: Long, val tsNull: Boolean, val cat: Array[Any] = null)

  /** Matcher-compiled pattern node: a quantified variable (index into
    * the branch's variable table) or a quantified grouped sub-pattern
    * whose alternation branches repeat as a unit — each repetition
    * tries the branches leftmost-first, greedy, with full backtracking
    * across both the branch choice and the group boundary. */
  private sealed trait CPat
  private final case class CVar(v: Int, lo: Int, hi: Int) extends CPat
  private final case class CGrp(branches: Array[Array[CPat]], lo: Int,
      hi: Int) extends CPat

  /** Diagnostic high-water mark: the most rows the sliding window ever
    * buffered for a single key group (process-wide max; exact in local
    * mode where executors share the JVM, per-executor on a cluster).
    * The bounded-memory spec asserts against it.
    */
  private[harness] val peakWindowRows = new java.util.concurrent.atomic.AtomicLong()
  private def recordPeak(n: Long): Unit = {
    var cur = peakWindowRows.get()
    while (n > cur && !peakWindowRows.compareAndSet(cur, n))
      cur = peakWindowRows.get()
  }

  /** Runs the pattern over `src`: per-variable predicates become boolean
    * columns (codegen'd), rows co-locate per key and sort by the
    * PARTITION BY + ORDER BY prefix, and a greedy backtracking matcher
    * walks each key's run emitting ONE ROW PER MATCH.
    */
  private[harness] def execute(src: DataFrame, spec: Spec): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType,
      FloatType, DoubleType, BinaryType, ArrayType, MapType}
    val vars = spec.pattern.flatMap(varsIn(_)).distinct
    // PREV(expr[, k]) → lag(expr, k) over the exact order the matcher
    // walks (partition key, then ORDER BY); the navigated expression
    // may be any Catalyst scalar expression (nested PREV is out of the
    // subset — see mapPrevCalls)
    // ORDER BY keys with their per-key direction (SQL:2016 allows
    // DESC; the window clause, the matcher sort, and PREV/NEXT lag
    // columns all follow the same order, so navigation stays
    // consistent with the walk direction)
    def dirOf(i: Int): Boolean = spec.orderDesc.lift(i).getOrElse(false)
    val orderSql = spec.orderBy.zipWithIndex.map { case (o, i) =>
      if (dirOf(i)) s"$o DESC" else o
    }.mkString(", ")
    val overClause =
      (if (spec.partitionBy.nonEmpty)
        s"PARTITION BY ${spec.partitionBy.mkString(", ")} " else "") +
      s"ORDER BY $orderSql"
    // nested navigation (`PREV(price + PREV(price))`, `NEXT(PREV(v))`)
    // cannot render as nested window functions — SQL forbids a window
    // function inside another's argument — so inner calls precompute as
    // STAGED lag/lead columns over the same match order: stage d holds
    // every nav call whose argument only needs stages < d, and each
    // stage is one extra Project+Window pass before the __def select.
    // Non-nested predicates stage nothing and render inline exactly as
    // before. Stages dedupe by normalized SQL across all defines.
    val navStages = ArrayBuffer.empty[scala.collection.mutable.LinkedHashMap[String, String]]
    val navSlotByKey = scala.collection.mutable.HashMap.empty[String, String]
    def navParts(text: String, open: Int, kw: String): (String, Int) = {
      val end = closeParen(text, open)
      val inner = text.substring(open + 1, end - 1).trim
      val (e, k) = splitTopLevel(inner) match {
        case Seq(x) => (x, 1)
        case Seq(x, kk) if raw"^\d+$$".r.findFirstIn(kk).isDefined =>
          (x, parseIntSat(kk))
        case _ => fail(s"unsupported $kw form (want $kw(expr[, k]) " +
          s"with an integer-literal offset): $text")
      }
      if (e.isEmpty) fail(s"unsupported $kw form (want $kw(expr[, k])): $text")
      (e, k)
    }
    // top-level nav opens of `text`, left-to-right, literal-masked;
    // opens inside an earlier call's span are skipped by the callers'
    // `last` cursor
    def navOpens(masked: String): Seq[(Int, Int, String)] =
      (PrevOpenRe.findAllMatchIn(masked).map(m => (m.start, m.end - 1, "PREV")) ++
        NextOpenRe.findAllMatchIn(masked).map(m => (m.start, m.end - 1, "NEXT")))
        .toSeq.sortBy(_._1)
    // replaces EVERY nav call in `text` (recursively) with a staged
    // column reference; returns the rewritten text and the max stage
    // any replaced call landed in (0 = no nav calls)
    def stageNav(text: String): (String, Int) = {
      val sb = new StringBuilder
      var last = 0
      var maxDepth = 0
      navOpens(maskQuoted(text)).foreach { case (start, open, kw) =>
        if (start >= last) {
          val end = closeParen(text, open)
          val (e, k) = navParts(text, open, kw)
          val (e2, d) = stageNav(e)
          val depth = d + 1
          maxDepth = math.max(maxDepth, depth)
          val fn = if (kw == "PREV") "lag" else "lead"
          val callSql = s"$fn($e2, $k) OVER ($overClause)"
          val name = navSlotByKey.getOrElseUpdate(
            s"$depth|${callSql.replaceAll(raw"\s+", " ")}", {
              while (navStages.size < depth)
                navStages += scala.collection.mutable.LinkedHashMap.empty
              val n = s"__nav${depth}_${navStages(depth - 1).size}"
              navStages(depth - 1)(n) = callSql
              n
            })
          sb.append(text.substring(last, start)).append(name)
          last = end
        }
      }
      sb.append(text.substring(last))
      (sb.toString, maxDepth)
    }
    // outermost calls render inline (they may sit inside the __def
    // boolean like any window expression); only their nested arguments
    // stage
    def translateNav(pred: String): String = {
      val sb = new StringBuilder
      var last = 0
      navOpens(maskQuoted(pred)).foreach { case (start, open, kw) =>
        if (start >= last) {
          val end = closeParen(pred, open)
          val (e, k) = navParts(pred, open, kw)
          val (e2, _) = stageNav(e)
          val fn = if (kw == "PREV") "lag" else "lead"
          sb.append(pred.substring(last, start))
            .append(s"$fn($e2, $k) OVER ($overClause)")
          last = end
        }
      }
      sb.append(pred.substring(last))
      sb.toString
    }
    // cross-variable and running-aggregate defines split on top-level
    // AND like the streaming PREV path: conjuncts without cross/agg
    // refs stay in the precomputed __def boolean (Catalyst, any type);
    // the rest evaluate INSIDE the matcher against the running
    // assignment. SUBSET union variables read like pattern variables
    // (checkDefine already rejected self-membership for refs).
    val allVarSet = vars.toSet
    val readSet = allVarSet ++ spec.subsets.keySet
    val crossParts: Map[String, (Seq[String], Seq[String])] =
      vars.flatMap { v =>
        spec.defines.get(v).flatMap { p =>
          val others = (allVarSet - v) ++ spec.subsets.keySet
          def inMatcher(c: String): Boolean =
            hasCrossRef(c, others) || hasAggRef(c, readSet)
          if (!inMatcher(p)) None
          else Some(v -> splitTopLevelAnd(p).partition(inMatcher))
        }
      }.toMap
    val defCols = vars.map { v =>
      val pred = crossParts.get(v) match {
        case Some((_, rest)) =>
          if (rest.isEmpty) "true"
          else rest.map(r => s"($r)").mkString(" AND ")
        case None => spec.defines.getOrElse(v, "true")
      }
      expr(translateNav(pred)).cast("boolean").as(s"__def_$v")
    }
    // nested-navigation stages (populated by the translateNav calls
    // above) precompute innermost lag/lead columns first; the __def
    // select then sees them like any source column
    val stagedSrc = navStages.foldLeft(src) { (df, st) =>
      df.select(col("*") +: st.toSeq.map { case (n, sql) =>
        expr(sql).as(n) }: _*)
    }
    val prepared = stagedSrc.select(col("*") +: defCols: _*)
    val inSchema = prepared.schema
    // output row width: the ORIGINAL source columns only — staged
    // __nav columns are internal like the __def booleans
    val srcLen = src.schema.fields.length
    def fieldIdx(name: String): Int = {
      val i = inSchema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
      if (i < 0) fail(s"column $name not found in input")
      i
    }
    val partIdx = spec.partitionBy.map(fieldIdx).toArray
    // the per-key matcher compares PARTITION BY values with universal
    // equality; binary/array/map/struct values compare by reference
    // there and would silently split one logical key — reject them
    // (consistent with the subset's contract-throwing style)
    spec.partitionBy.foreach { p =>
      import org.apache.spark.sql.types._
      inSchema(fieldIdx(p)).dataType match {
        case BinaryType | _: ArrayType | _: MapType | _: StructType =>
          fail(s"PARTITION BY $p has a non-atomic type " +
            s"(${inSchema(fieldIdx(p)).dataType.simpleString}) — only " +
            "value-comparable key types are supported")
        case _ => ()
      }
    }
    val varIdx = vars.map(v => fieldIdx(s"__def_$v")).toArray
    // WITHIN needs real event times: the first ORDER BY column, as a
    // TIMESTAMP (ms-compared — project timestamp_millis(unix_millis(t))
    // upstream if sub-ms precision could reorder ties)
    val withinMs = spec.withinMs.getOrElse(0L)
    val tsIdx: Int = spec.withinMs.fold(-1) { _ =>
      if (dirOf(0))
        fail("WITHIN requires the first ORDER BY column ascending " +
          "(the duration bound measures forward from the match start)")
      val i = fieldIdx(spec.orderBy.head)
      inSchema(i).dataType match {
        case org.apache.spark.sql.types.TimestampType => i
        case other => fail("WITHIN requires the first ORDER BY column " +
          s"to be TIMESTAMP; ${spec.orderBy.head} is $other")
      }
    }
    val varOf = vars.zipWithIndex.toMap
    // every readable variable as a bitmask over primary-variable
    // indices: a primary is its own bit, a SUBSET union variable ORs
    // its members' bits. The matcher tests `assign(row)` against masks
    // so one code path serves both (parseSpec caps variables at 62).
    val maskOf: Map[String, Long] =
      varOf.map { case (v, i) => v -> (1L << i) } ++
        spec.subsets.map { case (u, ms) =>
          u -> ms.foldLeft(0L)((m, x) => m | (1L << varOf(x))) }
    @inline def inMask(mask: Long, a: Int): Boolean =
      a >= 0 && ((mask >> a) & 1L) == 1L
    // alternation branches in preference order: the matcher tries each
    // at a start position and the first with a non-empty match wins.
    // Grouped sub-patterns compile to nested CGrp nodes the matcher
    // walks with a continuation (see tryNodes).
    def compilePat(n: PatNode): CPat = n match {
      case PatternElem(v, lo, hi) => CVar(varOf(v), lo, hi)
      case PatternGroup(bs, lo, hi) =>
        CGrp(bs.map(_.map(compilePat).toArray).toArray, lo, hi)
    }
    val branches: Array[Array[CPat]] =
      spec.pattern.map(_.map(compilePat).toArray).toArray

    // measure plan: resolved field indexes, output schema.
    // ONE ROW PER MATCH: partition columns + measures;
    // ALL ROWS PER MATCH: every input column (minus the internal __def
    // booleans) + measures, one output row per matched input row.
    val baseLen = inSchema.fields.length - vars.length

    // cross-variable defines compile to bound Catalyst expressions over
    // (current row's columns) ++ (one slot per FIRST/LAST(V.col) ref)
    // ++ (one slot per running SUM/AVG/MIN/MAX(V.col) aggregate); the
    // matcher evaluates them during the run scan with the rows the
    // running assignment currently gives V. No JSON round-trip here —
    // values convert Row→Catalyst directly, so every column type works.
    final case class CrossDef(
        expr: org.apache.spark.sql.catalyst.expressions.Expression,
        // (isFirst, varMask, colIdx, logical offset k): the slot holds
        // the (k+1)-th row from the first/last assigned to the readable
        // variable — a single-bit mask for a pattern variable, an
        // OR-mask for a SUBSET union (membership tested via inMask)
        refs: Array[(Boolean, Long, Int, Int)],
        // (fnKind 0=SUM 1=AVG 2=MIN 3=MAX, varMask, colIdx, mode 0=long 1=double)
        aggRefs: Array[(Int, Long, Int, Int)],
        // base-row ordinals the bound expression actually reads — the
        // matcher fills only these per candidate row instead of
        // copying the full row width
        usedBase: Array[Int])
    val crossByVar: Array[CrossDef] =
      if (crossParts.isEmpty) null
      else {
        import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BindReferences}
        import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LocalRelation}
        import org.apache.spark.sql.types.{DataType, StructField}
        val spark = src.sparkSession
        val base = inSchema.fields.take(baseLen)
        val arr = new Array[CrossDef](vars.length)
        crossParts.foreach { case (v, (cross, _)) =>
          val predText = cross.map(c => s"($c)").mkString(" AND ")
          if (hasPrev(predText) || hasNextNav(predText))
            fail(s"DEFINE $v mixes PREV()/NEXT() and a cross-variable " +
              "reference in one AND-conjunct — split them into " +
              "separate conjuncts")
          // ordered, de-duplicated ref slots: attr name -> ref tuple
          val refs = scala.collection.mutable.LinkedHashMap
            .empty[String, (Boolean, Long, Int, Int)]
          def slot(firstKw: Boolean, rv: String, c: String,
              skip: Int): String = {
            val ci = fieldIdx(c)
            if (ci >= baseLen) fail(s"DEFINE $v references $rv.$c: " +
              s"column $c not found in input")
            val name = s"__cv_${if (firstKw) "f" else "l"}${skip}_${rv}_" +
              inSchema(ci).name
            refs.getOrElseUpdate(name, (firstKw, maskOf(rv), ci, skip))
            name
          }
          // logical offsets saturate past Int range like the measure
          // parser (an offset past any real assignment list is NULL)
          def navOff(s: String): Int =
            if (s == null) 0 else parseIntSat(s)
          // aggregate slots: type-gated like the MEASURES aggregates
          // (SUM/AVG need numeric columns, MIN/MAX any comparable
          // atomic), carrying the slot's OUTPUT type for the attr list
          val aggRefs = scala.collection.mutable.LinkedHashMap
            .empty[String, (Int, Long, Int, Int, DataType)]
          def aggSlot(fn: String, rv: String, c: String): String = {
            val ci = fieldIdx(c)
            if (ci >= baseLen) fail(s"DEFINE $v references $fn($rv.$c): " +
              s"column $c not found in input")
            val dt = inSchema(ci).dataType
            val integral = dt == ByteType || dt == ShortType ||
              dt == IntegerType || dt == LongType
            val fractional = dt == FloatType || dt == DoubleType
            val (fnKind, mode, slotDt) = fn match {
              case "SUM" =>
                if (!integral && !fractional)
                  fail(s"DEFINE $v: SUM(${inSchema(ci).name}) needs an " +
                    s"integer or floating column; got ${dt.simpleString}")
                (0, if (integral) 0 else 1,
                  if (integral) LongType else DoubleType)
              case "AVG" =>
                if (!integral && !fractional)
                  fail(s"DEFINE $v: AVG(${inSchema(ci).name}) needs an " +
                    s"integer or floating column; got ${dt.simpleString}")
                (1, if (integral) 0 else 1, DoubleType: DataType)
              case _ =>
                dt match {
                  case BinaryType | _: ArrayType | _: MapType | _: StructType =>
                    fail(s"DEFINE $v: $fn(${inSchema(ci).name}) needs a " +
                      s"comparable atomic column; got ${dt.simpleString}")
                  case _ => ()
                }
                (if (fn == "MIN") 2 else 3, 0, dt)
            }
            val name = s"__agg_${fn.toLowerCase}_${rv}_${inSchema(ci).name}"
            aggRefs.getOrElseUpdate(name, (fnKind, maskOf(rv), ci, mode, slotDt))
            name
          }
          // aggregates rewrite FIRST so their inner V.col never reaches
          // the bare-reference pass; all three passes are literal-blind
          // (replaceOutside) — a string like `'A.v'` is data, not a ref.
          // maskOf (not varOf) gates the rewrite: SUBSET union variables
          // are readable exactly like pattern variables here
          var t = replaceOutside(predText, AggCallRe) { m =>
            val rv = m.group(2).toUpperCase
            if (!maskOf.contains(rv)) m.matched
            else aggSlot(m.group(1).toUpperCase, rv, m.group(3))
          }
          t = replaceOutside(t, CrossFlRe) { m =>
            val rv = m.group(2).toUpperCase
            if (!maskOf.contains(rv)) m.matched
            else slot(m.group(1).equalsIgnoreCase("FIRST"), rv, m.group(3),
              navOff(m.group(4)))
          }
          // bare V.col (another variable) = LAST(V.col) per SQL:2016
          t = replaceOutside(t, CrossBareRe) { m =>
            val rv = m.group(1).toUpperCase
            if (!maskOf.contains(rv)) m.matched
            else slot(firstKw = false, rv, m.group(2), skip = 0)
          }
          val attrs = (base.map(f =>
              AttributeReference(f.name, f.dataType, nullable = true)()) ++
            refs.map { case (name, (_, _, ci, _)) =>
              AttributeReference(name, base(ci).dataType, nullable = true)()
            } ++
            aggRefs.map { case (name, (_, _, _, _, slotDt)) =>
              AttributeReference(name, slotDt, nullable = true)()
            }).toIndexedSeq
          val parsedE =
            try spark.sessionState.sqlParser.parseExpression(
              s"CAST(($t) AS BOOLEAN)")
            catch { case e: Exception =>
              fail(s"cannot parse DEFINE $v: ${e.getMessage}") }
          val analyzed =
            try spark.sessionState.analyzer.execute(
              LFilter(parsedE, LocalRelation(attrs)))
            catch { case e: Exception =>
              fail(s"cannot resolve DEFINE $v: ${e.getMessage}") }
          val cond = analyzed.asInstanceOf[LFilter].condition
          if (!cond.resolved)
            fail(s"cannot resolve DEFINE $v over the input columns and " +
              "its cross-variable references")
          val bound = BindReferences.bindReference(cond, attrs)
          val usedBase = bound.collect {
            case b: org.apache.spark.sql.catalyst.expressions.BoundReference
                if b.ordinal < baseLen => b.ordinal
          }.distinct.toArray
          arr(varOf(v)) = CrossDef(bound,
            refs.values.toArray,
            aggRefs.values.toArray.map { case (k, rv, ci, mode, _) =>
              (k, rv, ci, mode) },
            usedBase)
        }
        arr
      }
    // Row→Catalyst converters for the matcher-side evaluation (built
    // only when a cross define exists; Ent.cat stays null otherwise)
    val catConverters: Array[Any => Any] =
      if (crossByVar == null) null
      else inSchema.fields.take(baseLen).map(f =>
        org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToCatalystConverter(f.dataType))
    // aggregate measures: accumulation mode per column type. Integral
    // columns sum/avg over exact longs (AVG divides as double at the
    // end); float/double accumulate double (deterministic: the matcher
    // walks rows in match order); MIN/MAX compare via Comparable, so
    // any atomic comparable type works (string, timestamp, decimal, …).
    def aggOut(fn: String, c: Int, alias: String): StructField = {
      val dt = inSchema(c).dataType
      val integral = dt == ByteType || dt == ShortType ||
        dt == IntegerType || dt == LongType
      val fractional = dt == FloatType || dt == DoubleType
      fn match {
        case "SUM" | "AVG" =>
          if (!integral && !fractional)
            fail(s"$fn(${inSchema(c).name}) needs an integer or " +
              s"floating column; got ${dt.simpleString} (cast upstream, " +
              "or use MIN/MAX for comparable types)")
          val out = if (fn == "AVG") DoubleType
            else if (integral) LongType else DoubleType
          StructField(alias, out, nullable = true)
        case _ =>
          dt match {
            case BinaryType | _: ArrayType | _: MapType | _: StructType =>
              fail(s"$fn(${inSchema(c).name}) needs a comparable atomic " +
                s"column; got ${dt.simpleString}")
            case _ => StructField(alias, dt, nullable = true)
          }
      }
    }
    // expression measures contribute their ATOMS to the matcher's
    // internal output; the expression itself projects after the
    // matcher (see the hasExprMeasures select below)
    val flatMeasures: Seq[Measure] = spec.measures.flatMap {
      case e: ExprMeasure => e.atoms
      case m => Seq(m)
    }
    val flatFinal: Seq[Boolean] =
      if (spec.measureFinal.isEmpty) Nil
      else spec.measures.zip(spec.measureFinal).flatMap {
        case (e: ExprMeasure, f) => Seq.fill(e.atoms.size)(f)
        case (_, f) => Seq(f)
      }
    // MATCH_ROWTIME(): the match's event time = the ORDER BY head value
    // of the last matched row — needs an ascending TIMESTAMP head (the
    // WITHIN contract; Flink defines the measure only over an
    // event-time-sorted input)
    lazy val rowtimeIdx: Int = {
      if (dirOf(0))
        fail("MATCH_ROWTIME() requires the first ORDER BY column " +
          "ascending (the measure is the match's last event time)")
      val i = fieldIdx(spec.orderBy.head)
      inSchema(i).dataType match {
        case org.apache.spark.sql.types.TimestampType => i
        case other => fail("MATCH_ROWTIME() requires the first ORDER BY " +
          s"column to be TIMESTAMP; ${spec.orderBy.head} is " +
          other.simpleString)
      }
    }
    val measureFields = flatMeasures.map {
      case ColMeasure(_, c, _, alias, _) =>
        StructField(alias, inSchema(fieldIdx(c)).dataType, nullable = true)
      case CountMeasure(_, alias) => StructField(alias, LongType, nullable = false)
      case MatchNumberMeasure(alias) => StructField(alias, LongType, nullable = false)
      case ClassifierMeasure(alias) => StructField(alias, StringType, nullable = false)
      case MatchRowtimeMeasure(alias) =>
        StructField(alias, inSchema(rowtimeIdx).dataType, nullable = true)
      case AggMeasure(fn, _, c, alias) => aggOut(fn, fieldIdx(c), alias)
      case other => fail(s"unexpected measure form: $other") // unreachable
    }
    val outFields =
      if (spec.allRows) inSchema.fields.take(srcLen).toSeq ++ measureFields
      else spec.partitionBy.map(p => inSchema(fieldIdx(p))).map(f =>
        StructField(f.name, f.dataType, nullable = f.nullable)) ++ measureFields
    val outSchema = StructType(outFields.toArray)
    val measurePlan: Array[(Int, Long, Int, Int)] = flatMeasures.map {
      // (kind, varMask, colIdx, mode): kind 0=first 1=last
      // 2=countVar 3=countAll 4=matchNo 5=classifier 6=sum 7=avg
      // 8=min 9=max; varMask selects the readable variable's rows
      // (single bit for a pattern variable, OR-mask for a SUBSET
      // union); mode holds the logical offset for kinds 0/1 and the
      // long/double accumulation mode for agg kinds
      case ColMeasure(v, c, first, _, off) =>
        (if (first) 0 else 1, maskOf(v), fieldIdx(c), off)
      case CountMeasure(Some(v), _) => (2, maskOf(v), -1, 0)
      case CountMeasure(None, _) => (3, 0L, -1, 0)
      case MatchNumberMeasure(_) => (4, 0L, -1, 0)
      case ClassifierMeasure(_) => (5, 0L, -1, 0)
      // MATCH_ROWTIME = LAST over ALL variables of the time head: kind
      // 1 with the all-variables mask finds the match's last row
      case MatchRowtimeMeasure(_) =>
        (1, varOf.values.foldLeft(0L)((m, i) => m | (1L << i)),
          rowtimeIdx, 0)
      case AggMeasure(fn, v, c, _) =>
        val ci = fieldIdx(c)
        val kind = fn match {
          case "SUM" => 6
          case "AVG" => 7
          case "MIN" => 8
          case _ => 9
        }
        val dt = inSchema(ci).dataType
        val mode =
          if (dt == FloatType || dt == DoubleType) 1 else 0
        (kind, maskOf(v), ci, mode)
      case other => fail(s"unexpected measure form: $other") // unreachable
    }.toArray
    // FINAL measures under ALL ROWS evaluate over the complete match;
    // an empty mask (specs built without keywords) means all-RUNNING
    val finalMask: Array[Boolean] =
      if (flatFinal.isEmpty) new Array[Boolean](measurePlan.length)
      else flatFinal.toArray
    val varNames = vars.toArray

    val sortCols = spec.partitionBy.map(col) ++
      spec.orderBy.zipWithIndex.map { case (o, i) =>
        if (dirOf(i)) col(o).desc else col(o)
      }
    val located =
      if (spec.partitionBy.nonEmpty)
        prepared.repartition(spec.partitionBy.map(col): _*)
          .sortWithinPartitions(sortCols: _*)
      else
        // no key: the pattern runs over ONE global sequence
        prepared.coalesce(1).sortWithinPartitions(sortCols: _*)

    val skipToNext = spec.skipToNextRow
    // SKIP TO FIRST/LAST <var>: resolved to (isFirst, varMask) — a
    // SUBSET union skips to the first/last row of ANY member; 0 = none
    val (skipFirst, skipMask) = spec.skipToVar
      .map { case (f, v) => (f, maskOf(v)) }.getOrElse((false, 0L))
    // most rows ONE match can span: the quantifier-sum of the longest
    // branch, or unbounded when any quantifier is (Long.MaxValue
    // sentinel). Together with the WITHIN horizon this caps how far the
    // sliding window must read ahead of a match start.
    // saturating arithmetic: an unbounded quantifier anywhere in the
    // tree (Int.MaxValue sentinel) makes the whole span unbounded
    def satAdd(a: Long, b: Long): Long =
      if (Long.MaxValue - a < b) Long.MaxValue else a + b
    def spanOf(n: CPat): Long = n match {
      case CVar(_, _, hi) =>
        if (hi == Int.MaxValue) Long.MaxValue else hi.toLong
      case CGrp(bs, _, hi) =>
        // widest alternation branch bounds one iteration's span
        val s = bs.map(_.foldLeft(0L)((acc, x) => satAdd(acc, spanOf(x)))).max
        if (hi == Int.MaxValue || s >= Long.MaxValue / math.max(hi, 1))
          Long.MaxValue
        else s * hi
    }
    val maxSpan: Long =
      branches.map(_.foldLeft(0L)((a, n) => satAdd(a, spanOf(n)))).max
    val matched = located.mapPartitions { it =>
      // codegen'd predicates for the cross/aggregate DEFINE conjuncts,
      // compiled once per partition (Spark's codegen cache dedupes
      // across partitions in the same executor): the matcher evaluates
      // these per candidate row, where interpreted Expression.eval is
      // the hot-loop cost at corpus scale
      val crossPredByVar:
          Array[org.apache.spark.sql.catalyst.expressions.BasePredicate] =
        if (crossByVar == null) null
        else crossByVar.map(cd =>
          if (cd == null) null
          else org.apache.spark.sql.catalyst.expressions.Predicate
            .create(cd.expr))
      new Iterator[Row] {
        private var lookahead: Option[Row] = None

        private def sameKey(a: Row, b: Row): Boolean =
          partIdx.forall(i => a.get(i) == b.get(i))

        /** Matches ONE key group, streaming: rows load lazily from `it`
          * into a sliding window whose head drops below the current
          * match start, and output rows emit per match. Peak memory is
          * the largest single match extent (WITHIN horizon / quantifier
          * sum), never the group's total row count.
          */
        final class GroupMatcher(head: Row) extends Iterator[Row] {
          private def toEnt(r: Row): Ent = {
            val ok = new Array[Boolean](varIdx.length)
            var j = 0
            while (j < varIdx.length) {
              ok(j) = !r.isNullAt(varIdx(j)) && r.getBoolean(varIdx(j))
              j += 1
            }
            val cat =
              if (catConverters == null) null
              else Array.tabulate(baseLen)(i => catConverters(i)(r.get(i)))
            if (tsIdx < 0) new Ent(r, ok, 0L, tsNull = false, cat)
            else if (r.isNullAt(tsIdx)) new Ent(r, ok, 0L, tsNull = true, cat)
            else new Ent(r, ok, r.getTimestamp(tsIdx).getTime,
              tsNull = false, cat)
          }

          private val win = ArrayBuffer(toEnt(head))
          private var base = 0          // absolute index of win(0)
          private var groupDone = false // the key's rows are exhausted
          private var p = 0             // next match start (absolute)
          private var matchNo = 0L
          private var emit: Iterator[Row] = Iterator.empty
          private var finished = false
          private var localPeak = 1L

          private def loadedEnd: Int = base + win.length
          private def at(abs: Int): Ent = win(abs - base)

          /** Loads one more row of this key; false at group end (the
            * first row of the NEXT key parks in `lookahead`). */
          private def loadOne(): Boolean = {
            if (groupDone) return false
            if (!it.hasNext) { groupDone = true; return false }
            val r = it.next()
            if (sameKey(head, r)) {
              win += toEnt(r)
              if (win.length > localPeak) localPeak = win.length.toLong
              true
            } else { lookahead = Some(r); groupDone = true; false }
          }

          private def ensure(abs: Int): Boolean = {
            while (loadedEnd <= abs && loadOne()) {}
            abs < loadedEnd
          }

          /** Drops window rows below the new start. Compaction runs only
            * once the dead prefix outweighs the live tail (amortized
            * O(1) per row; live memory ≤ 2× the needed look-back). */
          private def dropBelow(abs: Int): Unit = {
            val dead = abs - base
            if (dead > 0 && dead >= math.max(64, win.length - dead)) {
              win.remove(0, dead)
              base = abs
            }
          }

          /** Exclusive bound on rows a match starting at `pAbs` may use;
            * loads exactly the rows inside that bound. WITHIN prunes
            * DURING matching, like Flink CEP, not post-filtering: a
            * greedy run stops at the boundary and can still complete.
            * NULL event times cannot participate in a time-bounded match
            * (mirrors the null-DEFINE discipline: ineligible, not NPE).
            */
          private def limitFor(pAbs: Int): Int = {
            if (tsIdx >= 0) {
              val pe = at(pAbs)
              if (pe.tsNull) return pAbs // a null-time row starts nothing
              var r = pAbs
              // a bounded pattern under a wide WITHIN caps at its
              // quantifier-sum too — don't buffer a day's rows for a
              // five-row pattern
              while (r - pAbs < maxSpan && ensure(r) && !at(r).tsNull &&
                  at(r).tsMs - pe.tsMs < withinMs)
                r += 1
              r
            } else if (maxSpan < Long.MaxValue) {
              math.min(pAbs.toLong + maxSpan, Int.MaxValue.toLong).toInt
            } else {
              // unbounded quantifier, no WITHIN: rows load lazily as the
              // greedy run extends (see tryBranch's ensure), so memory
              // holds the ACTIVE run — a run that keeps matching to the
              // group's end buffers that run, Flink CEP's contract for
              // such patterns; a run broken by a failing predicate stops
              // loading right there
              Int.MaxValue
            }
          }

          // per-match variable assignment, relative to the match start:
          // assign(i) is the variable matched at absolute row p+i; grows
          // with the actual match extent (lim may be the Int.MaxValue
          // lazy-load sentinel, so it can't size this)
          private var assign: Array[Int] = Array.fill(64)(-1)

          private def growAssign(maxIdx: Int): Unit = {
            if (maxIdx >= assign.length) {
              val old = assign.length
              assign = java.util.Arrays.copyOf(assign,
                math.max(maxIdx + 1, old * 2))
              java.util.Arrays.fill(assign, old, assign.length, -1)
            }
          }

          // --- crossOk element-scan cache ---------------------------
          // The FIRST/LAST slot values and the aggregate over rows
          // already ASSIGNED in [pAbs, elemStart) are constant for the
          // whole greedy run scan of one element, and the run scan
          // visits rowAbs strictly forward — so the scan-constant part
          // computes once per element and the run part accumulates one
          // row per call. This takes a hot key's cross/aggregate
          // DEFINE from O(extent²) per match to O(extent).
          // `assignEpoch` bumps on every assignment write (and the
          // per-branch reset), invalidating the cached base when a
          // different branch reuses the same (v, start) coordinates
          // over a different running assignment.
          private var assignEpoch = 0L
          private var csV = -1
          private var csPAbs = -1
          private var csStart = -1
          private var csEpoch = -1L
          private var csRunRow = 0
          private var csRefVals: Array[Any] = null
          private var csBaseSumL: Array[Long] = null
          private var csBaseSumD: Array[Double] = null
          private var csBaseCnt: Array[Long] = null
          private var csBaseBest: Array[Any] = null
          private var csRunSumL: Array[Long] = null
          private var csRunSumD: Array[Double] = null
          private var csRunCnt: Array[Long] = null
          private var csRunBest: Array[Any] = null
          // reused eval row: one allocation per (v, width), not per
          // candidate row — crossOk runs per row of every greedy scan
          private var csIrow: org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow = null

          /** Evaluates variable v's cross-variable conjuncts at row
            * `rowAbs`: each FIRST/LAST(V.col) slot resolves over the
            * rows the running assignment currently gives V — i.e. the
            * already-assigned elements in [pAbs, elemStart) — NULL
            * while V has matched no row (the predicate is then unknown
            * and the row does not match). Running aggregates cover the
            * assigned rows plus — when rv is the variable being
            * DEFINEd — the current element's run so far and the
            * candidate row itself (tentatively rv's, SQL:2016 running
            * semantics). SQL null discipline: NULL values skip; no
            * non-null value → NULL slot → predicate unknown → no match.
            */
          private def crossOk(v: Int, rowAbs: Int, pAbs: Int,
              elemStart: Int): Boolean = {
            if (crossByVar == null) return true
            val cd = crossByVar(v)
            if (cd == null) return true
            val nRefs = cd.refs.length
            val nAggs = cd.aggRefs.length
            def accAgg(a: Int, value: Any, run: Boolean): Unit =
              if (value != null) {
                val (fnKind, _, _, mode) = cd.aggRefs(a)
                fnKind match {
                  case 0 | 1 =>
                    if (mode == 0) {
                      if (run) csRunSumL(a) += value.asInstanceOf[Number].longValue
                      else csBaseSumL(a) += value.asInstanceOf[Number].longValue
                    } else {
                      if (run) csRunSumD(a) += value.asInstanceOf[Number].doubleValue
                      else csBaseSumD(a) += value.asInstanceOf[Number].doubleValue
                    }
                  case _ =>
                    val best = if (run) csRunBest(a) else csBaseBest(a)
                    val cmp =
                      if (best == null) 0
                      else value.asInstanceOf[Comparable[Any]].compareTo(best)
                    if (best == null || (fnKind == 2 && cmp < 0) ||
                        (fnKind == 3 && cmp > 0)) {
                      if (run) csRunBest(a) = value else csBaseBest(a) = value
                    }
                }
                if (run) csRunCnt(a) += 1 else csBaseCnt(a) += 1
              }
            def resetRun(): Unit = {
              csRunRow = elemStart
              var a = 0
              while (a < nAggs) {
                csRunSumL(a) = 0L; csRunSumD(a) = 0.0d
                csRunCnt(a) = 0L; csRunBest(a) = null
                a += 1
              }
            }
            if (v != csV || pAbs != csPAbs || elemStart != csStart ||
                assignEpoch != csEpoch) {
              csV = v; csPAbs = pAbs; csStart = elemStart
              csEpoch = assignEpoch
              if (csRefVals == null || csRefVals.length < nRefs)
                csRefVals = new Array[Any](math.max(nRefs, 1))
              if (csBaseSumL == null || csBaseSumL.length < nAggs) {
                val n = math.max(nAggs, 1)
                csBaseSumL = new Array[Long](n); csBaseSumD = new Array[Double](n)
                csBaseCnt = new Array[Long](n); csBaseBest = new Array[Any](n)
                csRunSumL = new Array[Long](n); csRunSumD = new Array[Double](n)
                csRunCnt = new Array[Long](n); csRunBest = new Array[Any](n)
              }
              var j = 0
              while (j < nRefs) {
                val (first, rvMask, colIdx, skip) = cd.refs(j)
                var found = -1
                var remaining = skip
                if (first) {
                  var r = pAbs
                  while (found < 0 && r < elemStart) {
                    if (inMask(rvMask, assign(r - pAbs))) {
                      if (remaining == 0) found = r else remaining -= 1
                    }
                    r += 1
                  }
                } else {
                  var r = elemStart - 1
                  while (found < 0 && r >= pAbs) {
                    if (inMask(rvMask, assign(r - pAbs))) {
                      if (remaining == 0) found = r else remaining -= 1
                    }
                    r -= 1
                  }
                }
                csRefVals(j) = if (found < 0) null else at(found).cat(colIdx)
                j += 1
              }
              var a = 0
              while (a < nAggs) {
                csBaseSumL(a) = 0L; csBaseSumD(a) = 0.0d
                csBaseCnt(a) = 0L; csBaseBest(a) = null
                val (_, rvMask, colIdx, _) = cd.aggRefs(a)
                var r = pAbs
                while (r < elemStart) {
                  if (inMask(rvMask, assign(r - pAbs)))
                    accAgg(a, at(r).cat(colIdx), run = false)
                  r += 1
                }
                a += 1
              }
              resetRun()
            }
            // a fresh scan of the SAME element with an unchanged
            // assignment (e.g. after a zero-length optional matched
            // nothing in between) restarts the run accumulation
            if (rowAbs < csRunRow) resetRun()
            while (csRunRow <= rowAbs) {
              var a = 0
              while (a < nAggs) {
                // the current element's run accrues when the variable
                // being DEFINEd is a member of the aggregate's mask —
                // itself, or through a SUBSET union containing it
                val (_, rvMask, colIdx, _) = cd.aggRefs(a)
                if (inMask(rvMask, v)) accAgg(a, at(csRunRow).cat(colIdx), run = true)
                a += 1
              }
              csRunRow += 1
            }
            if (csIrow == null || csIrow.numFields != baseLen + nRefs + nAggs)
              csIrow = new org.apache.spark.sql.catalyst.expressions
                .GenericInternalRow(baseLen + nRefs + nAggs)
            val irow = csIrow
            val cur = at(rowAbs).cat
            var i = 0
            while (i < cd.usedBase.length) {
              val o = cd.usedBase(i)
              irow.update(o, cur(o)); i += 1
            }
            var j = 0
            while (j < nRefs) { irow.update(baseLen + j, csRefVals(j)); j += 1 }
            var a = 0
            while (a < nAggs) {
              val (fnKind, _, _, mode) = cd.aggRefs(a)
              val cnt = csBaseCnt(a) + csRunCnt(a)
              val value: Any = fnKind match {
                case 0 =>
                  if (cnt == 0) null
                  else if (mode == 0) csBaseSumL(a) + csRunSumL(a)
                  else csBaseSumD(a) + csRunSumD(a)
                case 1 =>
                  if (cnt == 0) null
                  else (if (mode == 0) (csBaseSumL(a) + csRunSumL(a)).toDouble
                    else csBaseSumD(a) + csRunSumD(a)) / cnt
                case k =>
                  val b = csBaseBest(a); val r = csRunBest(a)
                  if (b == null) r
                  else if (r == null) b
                  else {
                    val cmp = r.asInstanceOf[Comparable[Any]].compareTo(b)
                    if ((k == 2 && cmp < 0) || (k == 3 && cmp > 0)) r else b
                  }
              }
              irow.update(baseLen + nRefs + a, value)
              a += 1
            }
            crossPredByVar(v).eval(irow)
          }

          // greedy backtracking within one branch: returns the match
          // end. `ensure` inside the run scan loads rows on demand, so
          // an unbounded run buffers only while its predicate keeps
          // matching. `cont` receives the position after this node
          // list and returns the final match end (or -1 to reject and
          // backtrack) — groups thread their repetition loop through
          // it so backtracking crosses the group boundary.
          private def tryNodes(nodes: Array[CPat], e: Int, pos: Int,
              pAbs: Int, lim: Int, cont: Int => Int): Int = {
            if (e == nodes.length) return cont(pos)
            nodes(e) match {
              case CVar(v, lo, hi) =>
                var run = 0
                while (run < hi && pos + run < lim && ensure(pos + run) &&
                    at(pos + run).ok(v) && crossOk(v, pos + run, pAbs, pos))
                  run += 1
                var k = math.min(run, hi)
                while (k >= lo) {
                  if (k > 0) {
                    growAssign(pos + k - 1 - pAbs)
                    assignEpoch += 1
                  }
                  var r = 0
                  while (r < k) { assign(pos + r - pAbs) = v; r += 1 }
                  val end = tryNodes(nodes, e + 1, pos + k, pAbs, lim, cont)
                  if (end >= 0) return end
                  k -= 1
                }
                -1
              case g: CGrp =>
                // greedy repetition: attempt one more inner iteration
                // before settling for n so far, trying the alternation
                // branches leftmost-first within each iteration. An
                // iteration that consumes no rows terminates the loop
                // (the regex empty-loop rule) — `(A*)+` can't recurse
                // forever.
                def rep(n: Int, here: Int): Int = {
                  if (n < g.hi) {
                    var bi = 0
                    while (bi < g.branches.length) {
                      val more = tryNodes(g.branches(bi), 0, here, pAbs,
                        lim, p2 => if (p2 == here) -1 else rep(n + 1, p2))
                      if (more >= 0) return more
                      bi += 1
                    }
                  }
                  if (n >= g.lo) tryNodes(nodes, e + 1, here, pAbs, lim, cont)
                  else -1
                }
                rep(0, pos)
            }
          }

          // branches in preference order; first NON-EMPTY match wins
          // (empty matches are omitted output-wide, so a branch that
          // can only match zero rows here never shadows a later one)
          private def tryMatch(pAbs: Int): Int = {
            val lim = limitFor(pAbs)
            if (lim <= pAbs) return -1
            var b = 0
            while (b < branches.length) {
              java.util.Arrays.fill(assign, -1)
              assignEpoch += 1
              val end = tryNodes(branches(b), 0, pAbs, pAbs, lim, p => p)
              if (end > pAbs) return end
              b += 1
            }
            -1
          }

          /** Row of the (skip+1)-th occurrence of a masked variable set
            * in [pAbs, upTo], counted from the first (or last) one; -1
            * when the set matched fewer than skip+1 rows in that span —
            * the SQL:2016 FIRST/LAST(V.col, k) logical offset. The mask
            * is a single bit for a pattern variable, an OR-mask for a
            * SUBSET union (whose rows are any member's rows). */
          private def edgeRow(vMask: Long, pAbs: Int, upTo: Int,
              first: Boolean, skip: Int = 0): Int = {
            var r = if (first) pAbs else upTo
            val step = if (first) 1 else -1
            var left = upTo - pAbs + 1
            var remaining = skip
            while (left > 0) {
              if (inMask(vMask, assign(r - pAbs))) {
                if (remaining == 0) return r
                remaining -= 1
              }
              r += step; left -= 1
            }
            -1
          }

          // measure value over rows [pAbs, upTo]; ONE ROW uses the full
          // match extent, ALL ROWS the RUNNING prefix ending at the
          // emitted row (SQL:2016 running semantics — FIRST/LAST and
          // counts see only rows matched so far)
          private def measureVal(mi: Int, pAbs: Int, upTo: Int): Any = {
            val (kind, vMask, c, mode) = measurePlan(mi)
            kind match {
              case 0 | 1 =>
                // found-ness tracked via the row index, not the value:
                // the FIRST/LAST row's column may legitimately be SQL
                // NULL, which must come back as NULL — not be skipped
                // in favor of another row's value. mode carries the
                // logical offset (FIRST/LAST(V.col, k)).
                val r = edgeRow(vMask, pAbs, upTo, first = kind == 0,
                  skip = mode)
                if (r < 0) null else at(r).row.get(c)
              case 2 =>
                var cnt = 0L
                var r = pAbs
                while (r <= upTo) {
                  if (inMask(vMask, assign(r - pAbs))) cnt += 1
                  r += 1
                }
                cnt
              case 3 => (upTo - pAbs + 1).toLong
              case 4 => matchNo
              case 5 =>
                // CLASSIFIER(): the variable matched at the emitted
                // row — the match's last row for ONE ROW PER MATCH, the
                // current row under ALL ROWS running semantics
                varNames(assign(upTo - pAbs))
              case _ =>
                // SUM/AVG/MIN/MAX over variable v's rows in the (running)
                // extent, SQL null discipline: NULL values skip, no
                // non-null value → NULL
                var sumL = 0L
                var sumD = 0.0d
                var cnt = 0L
                var best: Any = null
                var r = pAbs
                while (r <= upTo) {
                  if (inMask(vMask, assign(r - pAbs))) {
                    val value = at(r).row.get(c)
                    if (value != null) {
                      kind match {
                        case 6 | 7 =>
                          if (mode == 0) sumL += value.asInstanceOf[Number].longValue
                          else sumD += value.asInstanceOf[Number].doubleValue
                        case _ =>
                          val cmp =
                            if (best == null) 0
                            else value.asInstanceOf[Comparable[Any]].compareTo(best)
                          if (best == null || (kind == 8 && cmp < 0) ||
                              (kind == 9 && cmp > 0))
                            best = value
                      }
                      cnt += 1
                    }
                  }
                  r += 1
                }
                kind match {
                  case 6 =>
                    if (cnt == 0) null
                    else if (mode == 0) sumL else sumD
                  case 7 =>
                    if (cnt == 0) null
                    else (if (mode == 0) sumL.toDouble else sumD) / cnt
                  case _ => best
                }
            }
          }

          /** Advances to the next match, filling `emit`; stops at group
            * end. Output buffering is per match (bounded by the match
            * extent), never per group. */
          private def advance(): Unit = {
            while (!emit.hasNext) {
              dropBelow(p)
              if (!ensure(p)) return // group exhausted
              val end = tryMatch(p)
              if (end > p) {
                matchNo += 1
                if (spec.allRows) {
                  val outRows = new Array[Row](end - p)
                  var r = p
                  while (r < end) {
                    val vals = new Array[Any](srcLen + measurePlan.length)
                    var o = 0
                    while (o < srcLen) { vals(o) = at(r).row.get(o); o += 1 }
                    var mi = 0
                    while (mi < measurePlan.length) {
                      // RUNNING (default) sees the prefix ending at the
                      // emitted row; FINAL sees the complete match
                      val upTo = if (finalMask(mi)) end - 1 else r
                      vals(srcLen + mi) = measureVal(mi, p, upTo); mi += 1
                    }
                    outRows(r - p) = Row.fromSeq(vals.toIndexedSeq)
                    r += 1
                  }
                  emit = outRows.iterator
                } else {
                  val vals = new Array[Any](partIdx.length + measurePlan.length)
                  var o = 0
                  while (o < partIdx.length) { vals(o) = at(p).row.get(partIdx(o)); o += 1 }
                  var mi = 0
                  while (mi < measurePlan.length) {
                    vals(partIdx.length + mi) = measureVal(mi, p, end - 1); mi += 1
                  }
                  emit = Iterator.single(Row.fromSeq(vals.toIndexedSeq))
                }
                p =
                  if (skipToNext) p + 1
                  else if (skipMask == 0L) end
                  else {
                    // SKIP TO FIRST/LAST <var>: resume AT that row (it
                    // may start the next match). The standard's two
                    // error cases are data-dependent, so they throw at
                    // runtime exactly like Flink's CEP operator.
                    val found = edgeRow(skipMask, p, end - 1, skipFirst)
                    if (found < 0) throw new IllegalArgumentException(
                      "MATCH_RECOGNIZE: AFTER MATCH SKIP TO variable " +
                        "matched no row in this match")
                    if (found == p) throw new IllegalArgumentException(
                      "MATCH_RECOGNIZE: AFTER MATCH SKIP TO resumes at " +
                        "the match start — infinite loop")
                    found
                  }
              } else {
                // no match (or empty match, which ONE ROW PER MATCH skips)
                p += 1
              }
            }
          }

          override def hasNext: Boolean = {
            if (!emit.hasNext && !finished) {
              advance()
              if (!emit.hasNext) { finished = true; recordPeak(localPeak) }
            }
            emit.hasNext
          }
          override def next(): Row = {
            if (!hasNext) throw new NoSuchElementException("end of matches")
            emit.next()
          }
        }

        private var cur: Iterator[Row] = Iterator.empty
        override def hasNext: Boolean = {
          while (!cur.hasNext) {
            val head = lookahead.orElse(if (it.hasNext) Some(it.next()) else None)
            lookahead = None
            head match {
              case Some(h) => cur = new GroupMatcher(h)
              case None => return false
            }
          }
          true
        }
        override def next(): Row = cur.next()
      }
    }(Encoders.row(outSchema))
    // expression measures project over the matcher's atom columns; the
    // pass-through select is skipped entirely when every measure is
    // bare (zero plan churn for the common case)
    if (!spec.measures.exists(_.isInstanceOf[ExprMeasure])) matched
    else {
      val passCols =
        if (spec.allRows) inSchema.fields.take(srcLen).toSeq.map(f => col(f.name))
        else spec.partitionBy.map(p => col(inSchema(fieldIdx(p)).name))
      val measureCols = spec.measures.map {
        case e: ExprMeasure =>
          (try expr(e.sql) catch { case ex: Exception =>
            fail(s"cannot parse measure ${e.alias}: ${ex.getMessage}")
          }).as(e.alias)
        case m => col(m.alias)
      }
      matched.select(passCols ++ measureCols: _*)
    }
  }
}
