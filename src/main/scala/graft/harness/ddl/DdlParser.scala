package graft.harness.ddl

import scala.collection.mutable

/** A small, honest parser for the `CREATE TABLE` forms the harness
  * supports (Flink-flavored DDL with a `WITH ('k'='v')` clause, computed
  * columns, and a `WATERMARK FOR` declaration — test.sql:14-44). Not a
  * general SQL parser: statements without a WITH clause are left for the
  * engine's native `spark.sql`.
  */
object DdlParser {

  /** Regex fragment for the inside of a parenthesized column-alias
    * list that tolerates COMMENT clauses: quoted strings may hold
    * parens, so the group alternates raw chars with complete
    * single-quoted literals ('' escapes inside). Used by
    * SqlSubmitAction.CreateViewRe. Contains no capture groups — safe to
    * interpolate without shifting group numbering. */
  private[harness] val ColListInner: String =
    raw"(?:[^()']|'(?:[^']|'')*')*"

  private val CreateHead =
    raw"(?is)^\s*CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(.+)$$".r

  /** True if this CREATE statement carries a connector WITH clause and so
    * must be handled by the shim rather than Spark SQL.
    */
  def isConnectorCreate(sql: String): Boolean =
    sql match {
      case CreateHead(_, _) =>
        // a WITH ( 'key' = 'value' ...) clause after the column list
        raw"(?is)\)\s*WITH\s*\(\s*'".r.findFirstIn(sql).isDefined
      case _ => false
    }

  /** Trailing `LIKE src [(merge options)]` — Flink's table-cloning
    * clause, always statement-final.
    */
  private val LikeTailRe =
    raw"(?is)\bLIKE\s+(`[^`]+`|[\w.]+(?:\.`[^`]+`)*)\s*(?:\(([^)]*)\))?\s*;?\s*$$".r

  /** The LIKE clause's referenced table name, if the statement has one
    * (static — used to route `CREATE TABLE t LIKE src` forms with no
    * WITH clause of their own to the shim when `src` is a connector
    * table).
    */
  /** A CTAS body contains `AS [ ( ] SELECT`; a statement-final `name
    * LIKE other_name` inside such a body is a PREDICATE (`WHERE name
    * LIKE pattern_col`), never the table-cloning clause — treating it
    * as one would silently discard the query body.
    */
  private val CtasRe = raw"(?is)\bAS\s*\(?\s*SELECT\b".r

  def likeTarget(sql: String): Option[String] = sql match {
    case CreateHead(_, rest) if CtasRe.findFirstIn(rest).isEmpty =>
      LikeTailRe.findFirstMatchIn(rest.trim).map(m => unquoteName(m.group(1)))
    case _ => None
  }

  private val LikeOptRe =
    raw"(?is)^(INCLUDING|EXCLUDING|OVERWRITING)\s+(ALL|OPTIONS|WATERMARKS|GENERATED|CONSTRAINTS|PARTITIONS|METADATA)$$".r

  def parse(sql: String): TableDef = {
    val (ifNotExists, rest0) = sql match {
      case CreateHead(ine, r) => (ine != null, r.trim)
      case _ =>
        throw new IllegalArgumentException(s"Not a CREATE TABLE statement: $sql")
    }
    // peel the statement-final LIKE clause first: with it present, both
    // the column list and the WITH clause become optional (inherited)
    val (rest, like) = LikeTailRe.findFirstMatchIn(rest0) match {
      case Some(m) =>
        val opts = Option(m.group(2)).toVector
          .flatMap(splitTopLevel).map(_.trim).filter(_.nonEmpty).map {
            case LikeOptRe(strategy, feature) =>
              val (s, f) = (strategy.toUpperCase, feature.toUpperCase)
              if (s == "OVERWRITING" &&
                  !Set("OPTIONS", "WATERMARKS", "GENERATED", "METADATA").contains(f))
                throw new IllegalArgumentException(
                  "LIKE supports OVERWRITING only for " +
                    s"OPTIONS/WATERMARKS/GENERATED/METADATA: $f")
              (s, f)
            case other => throw new IllegalArgumentException(
              s"Unsupported LIKE merge option: $other")
          }
        (rest0.substring(0, m.start).trim,
          Some(LikeClause(unquoteName(m.group(1)), opts)))
      case None => (rest0, None)
    }
    // rest = qualified.name [( schema )] [PARTITIONED BY (...)] [WITH ( options )]
    val NameHeadRe = raw"^((?:`[^`]+`|[\w$$]+)(?:\.(?:`[^`]+`|[\w$$]+))*)".r
    val nameMatch = NameHeadRe.findFirstMatchIn(rest).getOrElse(
      throw new IllegalArgumentException(s"CREATE TABLE missing table name: $sql"))
    val name = unquoteName(nameMatch.group(1))
    val afterName = rest.substring(nameMatch.end).trim
    val (schemaPart, afterSchema) =
      if (afterName.startsWith("(")) matchParen(afterName, 0)
      else if (like.isDefined) ("", afterName)
      else throw new IllegalArgumentException(
        s"CREATE TABLE missing column list: $sql")
    // optional Flink-style PARTITIONED BY (c1, c2) before the WITH clause
    val partRe = raw"(?is)PARTITIONED\s+BY\s*\(([^)]*)\)".r
    val partitionedBy = partRe.findFirstMatchIn(afterSchema)
      .map(_.group(1).split(",").map(c => unquoteName(c.trim)).toVector)
      .getOrElse(Vector.empty)
    val withIdx = raw"(?is)\bWITH\b".r.findFirstMatchIn(afterSchema).map(_.start)
    val options = withIdx match {
      case Some(w) =>
        val afterWith = afterSchema.substring(w + 4)
        val optOpen = afterWith.indexOf('(')
        val (optionsPart, _) = matchParen(afterWith, optOpen)
        parseOptions(optionsPart)
      case None if like.isDefined => Map.empty[String, String]
      case None => throw new IllegalArgumentException(
        s"CREATE TABLE missing WITH clause: $sql")
    }

    val columns = Vector.newBuilder[ColumnDef]
    val computed = Vector.newBuilder[ComputedColumnDef]
    val metadata = Vector.newBuilder[MetadataColumnDef]
    var watermark: Option[WatermarkDef] = None
    var primaryKey: Vector[String] = Vector.empty

    splitTopLevel(schemaPart).map(_.trim).filter(_.nonEmpty).foreach { entry =>
      val wmRe = raw"(?is)^WATERMARK\s+FOR\s+(\S+)\s+AS\s+(.+)$$".r
      val metaRe =
        raw"(?is)^(`[^`]+`|\w+)\s+(.+?)\s+METADATA(?:\s+FROM\s+'((?:[^']|'')*)')?(\s+VIRTUAL)?$$".r
      val compRe = raw"(?is)^(`[^`]+`|\w+)\s+AS\s+(.+)$$".r
      val colRe = raw"(?is)^(`[^`]+`|\w+)\s+(.+)$$".r
      val constraintRe = raw"(?is)^(PRIMARY\s+KEY|CONSTRAINT|UNIQUE)\b.*".r
      val pkRe = raw"(?is)^(?:CONSTRAINT\s+\S+\s+)?PRIMARY\s+KEY\s*\(([^)]*)\).*".r
      entry match {
        case pkRe(cols) =>
          // NOT ENFORCED in Flink, but it names the upsert key — the
          // print sink uses it for changelog row kinds (+I/-U/+U)
          primaryKey = cols.split(",").map(c => unquoteName(c.trim)).toVector
        case constraintRe(_) =>
          // other constraints are metadata-only; skip
          ()
        case wmRe(c, expr) =>
          watermark = Some(WatermarkDef(unquoteName(c), parseDelay(expr)))
        case metaRe(n, tpe, key, virt) =>
          val colName = unquoteName(n)
          metadata += MetadataColumnDef(colName, tpe.trim,
            Option(key).map(_.replace("''", "'")).getOrElse(colName),
            virtual = virt != null)
        case compRe(n, expr) =>
          computed += ComputedColumnDef(unquoteName(n), expr.trim)
        case colRe(n, tpe) =>
          columns += ColumnDef(unquoteName(n), tpe.trim)
        case _ =>
          throw new IllegalArgumentException(s"Cannot parse column entry: $entry")
      }
    }
    TableDef(name, ifNotExists, columns.result(), computed.result(), watermark,
      options, partitionedBy, primaryKey, like, metadata.result())
  }

  /** Merges a `LIKE` child definition with its parent, Flink's merge
    * semantics: every feature defaults to INCLUDING (copy from the
    * parent; a child re-declaration of the same thing is an error),
    * EXCLUDING drops the parent's feature, and OVERWRITING (options /
    * watermarks / generated / metadata) lets the child win on
    * conflict. Plain columns always copy; any duplicate NAME across
    * the merged physical/computed/metadata column spaces is an error —
    * a computed column silently shadowing a cloned physical column
    * would drop data.
    */
  def resolveLike(child: TableDef, parent: TableDef): TableDef = {
    val lc = child.like.getOrElse(return child)
    val strategies: Map[String, String] = {
      val base = lc.opts.collectFirst {
        case (s, "ALL") if s != "OVERWRITING" => s
      }.getOrElse("INCLUDING")
      val perFeature = lc.opts.filter(_._2 != "ALL").map(_.swap).toMap
      Seq("OPTIONS", "WATERMARKS", "GENERATED", "CONSTRAINTS", "PARTITIONS",
        "METADATA").map(f => f -> perFeature.getOrElse(f, base)).toMap
    }
    def err(what: String): Nothing = throw new IllegalArgumentException(
      s"CREATE TABLE ${child.name} LIKE ${lc.table}: $what is declared by " +
        "both tables — use the OVERWRITING merge option (or EXCLUDING " +
        "the parent's)")
    // columns: parent's then the child's additions; same name = error
    val parentCols = parent.columns.map(_.name).toSet
    child.columns.foreach(c => if (parentCols.contains(c.name))
      throw new IllegalArgumentException(
        s"CREATE TABLE ${child.name} LIKE ${lc.table}: column ${c.name} " +
          "already exists in the source table"))
    val options = strategies("OPTIONS") match {
      case "EXCLUDING" => child.options
      case "OVERWRITING" => parent.options ++ child.options
      case _ =>
        val dup = parent.options.keySet.intersect(child.options.keySet)
          // same key with the SAME value is not a conflict
          .filter(k => parent.options(k) != child.options(k))
        if (dup.nonEmpty) err(s"option ${dup.toSeq.sorted.mkString(", ")}")
        parent.options ++ child.options
    }
    val watermark = strategies("WATERMARKS") match {
      case "EXCLUDING" => child.watermark
      case "OVERWRITING" => child.watermark.orElse(parent.watermark)
      case _ =>
        if (parent.watermark.isDefined && child.watermark.isDefined)
          err("a watermark")
        child.watermark.orElse(parent.watermark)
    }
    val computed = strategies("GENERATED") match {
      case "EXCLUDING" => child.computedColumns
      case "OVERWRITING" =>
        val childNames = child.computedColumns.map(_.name).toSet
        parent.computedColumns.filterNot(c => childNames(c.name)) ++
          child.computedColumns
      case _ =>
        val dup = parent.computedColumns.map(_.name)
          .intersect(child.computedColumns.map(_.name))
        if (dup.nonEmpty) err(s"computed column ${dup.mkString(", ")}")
        parent.computedColumns ++ child.computedColumns
    }
    val primaryKey = strategies("CONSTRAINTS") match {
      case "EXCLUDING" => child.primaryKey
      case _ =>
        if (parent.primaryKey.nonEmpty && child.primaryKey.nonEmpty)
          err("a primary key")
        if (child.primaryKey.nonEmpty) child.primaryKey else parent.primaryKey
    }
    val partitionedBy = strategies("PARTITIONS") match {
      case "EXCLUDING" => child.partitionedBy
      case _ =>
        if (parent.partitionedBy.nonEmpty && child.partitionedBy.nonEmpty)
          err("partitioning")
        if (child.partitionedBy.nonEmpty) child.partitionedBy
        else parent.partitionedBy
    }
    val metadata = strategies("METADATA") match {
      case "EXCLUDING" => child.metadataColumns
      case "OVERWRITING" =>
        val childNames = child.metadataColumns.map(_.name).toSet
        parent.metadataColumns.filterNot(c => childNames(c.name)) ++
          child.metadataColumns
      case _ =>
        val dup = parent.metadataColumns.map(_.name)
          .intersect(child.metadataColumns.map(_.name))
        if (dup.nonEmpty) err(s"metadata column ${dup.mkString(", ")}")
        parent.metadataColumns ++ child.metadataColumns
    }
    val allCols = parent.columns ++ child.columns
    // cross-space collision check: a merged computed/metadata column
    // sharing a physical column's name would silently shadow it at
    // source registration (withColumn replaces) — error like Flink
    val names = allCols.map(_.name) ++ computed.map(_.name) ++
      metadata.map(_.name)
    names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
      .toSeq.sorted.headOption.foreach(n =>
        throw new IllegalArgumentException(
          s"CREATE TABLE ${child.name} LIKE ${lc.table}: column '$n' is " +
            "declared more than once across the merged physical/" +
            "computed/metadata columns"))
    TableDef(child.name, child.ifNotExists,
      allCols, computed, watermark, options,
      partitionedBy, primaryKey, like = None, metadata)
  }

  /** Flink-style `SHOW CREATE TABLE` text reconstructed from a parsed
    * [[TableDef]] — what the registry knows, normalized: the watermark
    * strategy prints as `col - INTERVAL 'n' UNIT` (a zero delay prints
    * the bare column), and options sort by key (the parsed map does
    * not keep declaration order).
    */
  /** Flink's `DESCRIBE <table>` rendering for a connector table:
    * name / type / null / key / extras / watermark columns, with
    * computed columns carrying their expression (their inferred type
    * lives in the session, not the registry) and metadata columns
    * their METADATA binding.
    */
  def describe(t: TableDef): String = {
    val wmText = t.watermark.map { wm =>
      val DelayRe = raw"^([\d.]+)\s+(\w+?)s?$$".r
      wm.delay match {
        case DelayRe(n, _) if n.toDouble == 0 => s"`${wm.column}`"
        case DelayRe(n, u) =>
          s"`${wm.column}` - INTERVAL '$n' ${u.toUpperCase}"
        case _ => s"`${wm.column}`"
      }
    }
    def keyOf(name: String): String =
      if (t.primaryKey.exists(_.equalsIgnoreCase(name)))
        s"PRI(${t.primaryKey.mkString(", ")})"
      else ""
    def wmOf(name: String): String =
      if (t.watermark.exists(_.column.equalsIgnoreCase(name)))
        wmText.getOrElse("")
      else ""
    val rows =
      t.columns.map(c => Seq(c.name, c.dataType.toUpperCase, "TRUE",
        keyOf(c.name), "", wmOf(c.name))) ++
        t.metadataColumns.map { m =>
          val virt = if (m.virtual) " VIRTUAL" else ""
          Seq(m.name, m.dataType.toUpperCase, "TRUE", "",
            s"METADATA FROM '${m.key}'$virt", "")
        } ++
        t.computedColumns.map(c =>
          Seq(c.name, "", "TRUE", "", s"AS ${c.expr}", wmOf(c.name)))
    val header = Seq("name", "type", "null", "key", "extras", "watermark")
    val widths = header.indices.map(i =>
      (rows.map(_(i).length) :+ header(i).length).max)
    def line(cells: Seq[String]): String =
      cells.zip(widths).map { case (c, w) => s" ${c.padTo(w, ' ')} " }
        .mkString("|", "|", "|")
    val bar = widths.map(w => "-" * (w + 2)).mkString("+", "+", "+")
    (Seq(bar, line(header), bar) ++ rows.map(line) :+ bar).mkString("\n")
  }

  def showCreate(t: TableDef): String = {
    val entries = Vector.newBuilder[String]
    t.columns.foreach(c => entries += s"  `${c.name}` ${c.dataType}")
    t.metadataColumns.foreach { m =>
      val virt = if (m.virtual) " VIRTUAL" else ""
      entries += s"  `${m.name}` ${m.dataType} METADATA FROM '${m.key}'$virt"
    }
    t.computedColumns.foreach(c => entries += s"  `${c.name}` AS ${c.expr}")
    t.watermark.foreach { wm =>
      val DelayRe = raw"^([\d.]+)\s+(\w+?)s?$$".r
      val strategy = wm.delay match {
        case DelayRe(n, _) if n.toDouble == 0 => s"`${wm.column}`"
        case DelayRe(n, u) =>
          s"`${wm.column}` - INTERVAL '$n' ${u.toUpperCase}"
        case _ => s"`${wm.column}`"
      }
      entries += s"  WATERMARK FOR `${wm.column}` AS $strategy"
    }
    if (t.primaryKey.nonEmpty)
      entries += s"  PRIMARY KEY (${t.primaryKey.map(k => s"`$k`").mkString(", ")}) NOT ENFORCED"
    val part =
      if (t.partitionedBy.isEmpty) ""
      else s"\nPARTITIONED BY (${t.partitionedBy.map(p => s"`$p`").mkString(", ")})"
    val opts = t.options.toSeq.sortBy(_._1)
      .map { case (k, v) =>
        s"  '${k.replace("'", "''")}' = '${v.replace("'", "''")}'" }
      .mkString(",\n")
    s"CREATE TABLE `${t.name}` (\n${entries.result().mkString(",\n")}\n)" +
      s"$part\nWITH (\n$opts\n)"
  }

  /** `catalog.db.tbl` (possibly backticked parts) → bare table name. */
  def unquoteName(raw: String): String = {
    val parts = splitQualified(raw.trim)
    parts.last.stripPrefix("`").stripSuffix("`")
  }

  private def splitQualified(s: String): Vector[String] = {
    val parts = Vector.newBuilder[String]
    val cur = new mutable.StringBuilder
    var inTick = false
    s.foreach {
      case '`' => inTick = !inTick; cur.append('`')
      case '.' if !inTick => parts += cur.toString; cur.clear()
      case c => cur.append(c)
    }
    parts += cur.toString
    parts.result()
  }

  /** Return (inside, after) for the paren group starting at `openIdx`. */
  private def matchParen(s: String, openIdx: Int): (String, String) = {
    var depth = 0
    var inQuote = false
    var i = openIdx
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' => inQuote = !inQuote
        case '(' if !inQuote => depth += 1
        case ')' if !inQuote =>
          depth -= 1
          if (depth == 0)
            return (s.substring(openIdx + 1, i), s.substring(i + 1))
        case _ =>
      }
      i += 1
    }
    throw new IllegalArgumentException(s"Unbalanced parentheses in: $s")
  }

  /** Split on commas at paren-depth 0, outside single quotes. */
  private def splitTopLevel(s: String): Vector[String] = {
    val parts = Vector.newBuilder[String]
    val cur = new mutable.StringBuilder
    var depth = 0
    var inQuote = false
    s.foreach { c =>
      c match {
        case '\'' => inQuote = !inQuote; cur.append(c)
        case '(' if !inQuote => depth += 1; cur.append(c)
        case ')' if !inQuote => depth -= 1; cur.append(c)
        case ',' if depth == 0 && !inQuote => parts += cur.toString; cur.clear()
        case _ => cur.append(c)
      }
    }
    parts += cur.toString
    parts.result()
  }

  /** `'k' = 'v', 'k2' = 'v2'` → map. */
  def parseOptions(s: String): Map[String, String] = {
    val optRe = raw"(?s)'((?:[^']|'')*)'\s*=\s*'((?:[^']|'')*)'".r
    optRe.findAllMatchIn(s).map { m =>
      m.group(1).replace("''", "'") -> m.group(2).replace("''", "'")
    }.toMap
  }

  /** `row_time - INTERVAL '5' SECOND` → "5 seconds" (withWatermark delay). */
  private def parseDelay(expr: String): String = {
    val re = raw"(?is)INTERVAL\s+'([\d.]+)'\s+(\w+)".r
    re.findFirstMatchIn(expr) match {
      case Some(m) => s"${m.group(1)} ${m.group(2).toLowerCase}s"
      case None => "0 seconds"
    }
  }
}
