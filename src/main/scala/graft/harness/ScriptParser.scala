package graft.harness

import java.io.{BufferedReader, InputStreamReader}
import java.net.URI
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans.logical.{InsertIntoStatement, LogicalPlan}
import org.apache.spark.sql.catalyst.trees.TreeNode
import scala.collection.mutable
import scala.util.matching.Regex

/** SQL-script loader: comment stripping, statement splitting, `${var}`
  * substitution, classification, query parsing.
  *
  * Reproduces the reference's exact line-based semantics
  * (`SQLSubmitAction.java:101-161`), including its deliberate quirks:
  *   - everything from the first `--` to end-of-line is stripped, even
  *     inside string literals (`SQLSubmitAction.java:108-115`);
  *   - a statement terminates only when a line ENDS with `;`
  *     (`SQLSubmitAction.java:122`); a mid-line `;` followed by text does
  *     not terminate;
  *   - the accumulated statement is cut at the FIRST `;` occurrence
  *     (`SQLSubmitAction.java:123-124`);
  *   - a `${key}` with no binding raises (`SQLSubmitAction.java:151-155`).
  */
object ScriptParser {

  private val VarPattern: Regex = raw"\$$\{(.+?)}".r
  private val DoubleDash = "--"
  private val Semicolon = ";"

  /** Parse raw script text into classified statements. */
  def parse(script: String, variables: Map[String, String] = Map.empty): Vector[Statement] = {
    val out = Vector.newBuilder[Statement]
    val buf = new mutable.StringBuilder
    script.linesIterator.foreach { raw =>
      var line = raw
      // process comments: strip from the first `--` to end of line
      val dashIndex = line.indexOf(DoubleDash)
      if (dashIndex >= 0) {
        line = if (dashIndex == 0) "" else line.substring(0, dashIndex)
      }
      if (line.trim.nonEmpty) {
        buf.append(line).append("\n")
        if (line.endsWith(Semicolon)) {
          val orig = buf.toString
          // extension beyond the reference parser: an EXECUTE STATEMENT
          // SET block contains inner semicolons and closes with END; —
          // accumulate until then (the reference's line-based splitter
          // cannot express statement sets at all)
          val isBlock = raw"(?is)^\s*EXECUTE\s+STATEMENT\s+SET.*".r.matches(orig)
          // the block closes when the line ENDS with END; (covers both a
          // standalone END; line and a single-line statement set)
          val closesBlock = line.trim.toUpperCase.endsWith("END;")
          if (isBlock && !closesBlock) {
            // keep accumulating the block
          } else {
            val cut = if (isBlock) orig.lastIndexOf(Semicolon) else orig.indexOf(Semicolon)
            val statement = orig.substring(0, cut)
            out += classify(substitute(statement, variables))
            buf.clear()
          }
        }
      }
    }
    out.result()
  }

  /** `${key}` → value; empty/missing binding is an error
    * (`SQLSubmitAction.java:144-161`).
    */
  def substitute(sql: String, variables: Map[String, String]): String =
    VarPattern.replaceAllIn(sql, m => {
      val key = m.group(1)
      val value = variables.getOrElse(key, "")
      if (value == null || value.isEmpty)
        throw new IllegalArgumentException(
          s"Missing variable value for key '$key'. " +
            s"Please use option '--var $key=<VALUE>' to offer variable values.")
      Regex.quoteReplacement(value)
    })

  def classify(sql: String): Statement =
    Statement(StatementType.fromStatement(sql), sql)

  /** `INSERT INTO|OVERWRITE [TABLE] target [(cols)] ` for text front
    * ends. */
  private[harness] val InsertPrefixRe =
    raw"(?is)^\s*(INSERT\s+(?:INTO|OVERWRITE)\s+(?:TABLE\s+)?[\w.`]+\s*(?:\([^)]*\)\s*)?)".r

  /** The insert prefix (`INSERT INTO snk (a, b) `, or empty) and Spark's
    * unresolved plan of the query; None for a text Spark cannot parse
    * (window TVFs, MATCH_RECOGNIZE) or a PARTITION / BY NAME insert. */
  private[harness] def parseQuery(sql: String): Option[(String, LogicalPlan)] =
    scala.util.Try(CatalystSqlParser.parsePlan(sql)).toOption.collect {
      case i: InsertIntoStatement if i.partitionSpec.isEmpty && !i.byName =>
        (sql.substring(i.origin.startIndex.get, i.origin.stopIndex.get + 1) +
          " ", i.query)
      case q if !q.isInstanceOf[InsertIntoStatement] => ("", q)
    }

  /** A parsed INSERT whose target is a plain table name: the target's
    * last name part and the query's source text. */
  private[harness] final case class Insert(stmt: InsertIntoStatement,
      target: String, query: String)

  private[harness] def parseInsert(sql: String): Option[Insert] =
    scala.util.Try(CatalystSqlParser.parsePlan(sql)).toOption.collect {
      case i @ InsertIntoStatement(r: UnresolvedRelation, _, _, _, _, _, _) =>
        Insert(i, r.multipartIdentifier.last,
          sql.substring(i.origin.stopIndex.get + 1))
    }

  /** The source text of expressions (or a leaf relation) of
    * [[parseQuery]]'s plan: their trees' origins (a case-object node
    * such as `CURRENT ROW` keeps the origin of its first parse, so it
    * has none here), widened as in [[spanOf]]. */
  private[harness] def textOf(sql: String,
      nodes: TreeNode[_ <: TreeNode[_]]*): String = {
    val (from, to) = extentOf(sql, nodes: _*)
    sql.substring(from, to)
  }

  /** The [from, to) span of [[textOf]]. */
  private[harness] def extentOf(sql: String,
      nodes: TreeNode[_ <: TreeNode[_]]*): (Int, Int) =
    spanOf(sql, nodes.flatMap(_.collect {
      case n if !n.getClass.getName.endsWith("$") => n }): _*)

  /** Every node of a parsed plan, with the plans of its subquery
    * expressions and CTE definitions, recursively. */
  private[harness] def nodesOf(plan: LogicalPlan): Seq[LogicalPlan] =
    plan.flatMap(n => n +: (n.innerChildren.collect {
      case p: LogicalPlan => p } ++ n.expressions.flatMap(_.collect {
      case s: SubqueryExpression => s.plan })).flatMap(nodesOf))

  /** The [from, to) span of the nodes' own origins, widened to balanced
    * parentheses (a node's own origin can leave out enclosing
    * parentheses and, for `a LIKE 'x%'`, the left operand). */
  private[harness] def spanOf(sql: String, nodes: TreeNode[_]*): (Int, Int) = {
    val origins = nodes.map(_.origin)
    val masked = MatchRecognize.maskQuoted(sql)
    def depths(from: Int, to: Int) =
      masked.substring(from, to).scanLeft(0)((d, c) =>
        d + (if (c == '(') 1 else if (c == ')') -1 else 0))
    var (from, to) =
      (origins.flatMap(_.startIndex).min, origins.flatMap(_.stopIndex).max + 1)
    // a parenthesis inside a comment can leave no partner: stop at the ends
    while (from > 0 && depths(from, to).min < 0)
      from = masked.lastIndexOf('(', from - 1).max(0)
    while (to < sql.length && depths(from, to).last > 0)
      to = Some(masked.indexOf(')', to)).filter(_ >= 0).fold(sql.length)(_ + 1)
    (from, to)
  }

  /** Load + parse a script from `file://` or `hdfs://` (or any Hadoop FS
    * scheme — one code path, unlike the reference's two-way branch at
    * `SQLSubmitAction.java:163-186`; the FS API dispatches on scheme).
    */
  def loadStatements(
      filePath: String,
      variables: Map[String, String] = Map.empty,
      hadoopConf: Configuration = new Configuration()): Vector[Statement] = {
    val uri =
      if (filePath.contains("://")) new URI(filePath)
      else new URI("file://" + new java.io.File(filePath).getAbsolutePath)
    val fs = FileSystem.get(uri, hadoopConf)
    val path = new Path(uri)
    if (!fs.exists(path))
      throw new IllegalArgumentException(s"File $path dose not exists.")
    val reader = new BufferedReader(new InputStreamReader(fs.open(path)))
    try {
      val text = Iterator.continually(reader.readLine())
        .takeWhile(_ != null).mkString("\n")
      parse(text, variables)
    } finally reader.close()
  }
}
