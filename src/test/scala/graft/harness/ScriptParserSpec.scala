package graft.harness

import org.scalatest.funsuite.AnyFunSuite

/** Pins the reference's exact line-based script semantics
  * (SQLSubmitAction.java:101-161) including its deliberate quirks.
  */
class ScriptParserSpec extends AnyFunSuite {

  test("splits on lines ending with semicolon") {
    val st = ScriptParser.parse("SELECT 1;\nSELECT\n2;")
    assert(st.map(_.sql) == Vector("SELECT 1", "SELECT\n2"))
    assert(st.forall(_.tpe == StatementType.SELECT))
  }

  test("mid-line semicolon followed by text does NOT terminate") {
    // reference: only `line.endsWith(";")` terminates (…java:122)
    val st = ScriptParser.parse("SELECT 1; SELECT 2\n;")
    assert(st.size == 1)
    // …and the statement is cut at the FIRST semicolon (…java:123-124)
    assert(st.head.sql == "SELECT 1")
  }

  test("whole-line comments are dropped, trailing comments stripped") {
    val st = ScriptParser.parse("-- header\nSELECT 1 -- trailing\n;")
    assert(st.map(_.sql) == Vector("SELECT 1 \n"))
  }

  test("comment marker inside a string literal is stripped too (reference quirk)") {
    // the reference strips from the first `--` regardless of quoting
    // (SQLSubmitAction.java:108-115); the mangled line then never ends
    // with ';' so the statement is silently dropped
    val st = ScriptParser.parse("SELECT 'a--b' AS x;")
    assert(st.isEmpty)
  }

  test("blank lines are skipped; statements can span lines") {
    val st = ScriptParser.parse("CREATE TABLE t (\n\n  a int\n);")
    assert(st.head.tpe == StatementType.CREATE)
    assert(st.head.sql == "CREATE TABLE t (\n  a int\n)")
  }

  test("variable substitution, repeatable, missing is an error") {
    val st = ScriptParser.parse(
      "SELECT * FROM ${tbl} WHERE x > ${min};",
      Map("tbl" -> "t1", "min" -> "5"))
    assert(st.head.sql == "SELECT * FROM t1 WHERE x > 5")
    val e = intercept[IllegalArgumentException] {
      ScriptParser.parse("SELECT ${nope};")
    }
    assert(e.getMessage.contains("Missing variable value for key 'nope'"))
  }

  test("EXECUTE STATEMENT SET: multi-line and single-line blocks both close") {
    val multi = ScriptParser.parse(
      "EXECUTE STATEMENT SET BEGIN\n  INSERT INTO a SELECT 1;\n  INSERT INTO b SELECT 2;\nEND;")
    assert(multi.size == 1)
    assert(multi.head.tpe == StatementType.EXECUTE)
    assert(multi.head.sql.contains("INSERT INTO b"))
    val single = ScriptParser.parse(
      "EXECUTE STATEMENT SET BEGIN INSERT INTO t SELECT 1; END;")
    assert(single.size == 1)
    assert(single.head.tpe == StatementType.EXECUTE)
  }

  test("classification order: CREATE vs CTAS lookahead, ADD JAR vs ADD") {
    assert(ScriptParser.classify("CREATE TABLE t (a int)").tpe == StatementType.CREATE)
    assert(ScriptParser.classify("CREATE TABLE t AS SELECT 1").tpe == StatementType.CTAS)
    assert(ScriptParser.classify("ADD JAR /x.jar").tpe == StatementType.ADD_JAR)
    assert(ScriptParser.classify("ADD CUSTOMJAR /x.jar").tpe == StatementType.ADD)
    assert(ScriptParser.classify("add jar /x.jar").tpe == StatementType.ADD_JAR)
  }

  test("classifier covers all 20 types + UNKNOWN fallthrough") {
    val cases = Map(
      "SELECT 1" -> StatementType.SELECT,
      "DROP TABLE t" -> StatementType.DROP,
      "ALTER TABLE t RENAME TO u" -> StatementType.ALTER,
      "INSERT INTO t VALUES (1)" -> StatementType.INSERT,
      "DESC t" -> StatementType.DESC,
      "DESCRIBE t" -> StatementType.DESC, // DESC pattern matches first
      "EXPLAIN SELECT 1" -> StatementType.EXPLAIN,
      "USE db" -> StatementType.USE,
      "SHOW TABLES" -> StatementType.SHOW,
      "LOAD MODULE x" -> StatementType.LOAD,
      "UNLOAD MODULE x" -> StatementType.UNLOAD,
      "SET a = b" -> StatementType.SET,
      "UNSET a" -> StatementType.UNSET,
      "RESET" -> StatementType.RESET,
      "EXECUTE STATEMENT SET BEGIN END" -> StatementType.EXECUTE,
      "PRINT hello" -> StatementType.PRINT,
      "gibberish" -> StatementType.UNKNOWN)
    cases.foreach { case (sql, expected) =>
      assert(StatementType.fromStatement(sql) == expected, s"for: $sql")
    }
  }

  test("hdfs-style scheme loads through the one Hadoop FS code path") {
    // SQLSubmitAction.java:163-186 branches file:// vs hdfs://; our
    // loadStatements dispatches on the URI scheme through the Hadoop FS
    // API. Pin the non-file branch with a registered scheme backed by
    // a local-disk FS — same dispatch an hdfs:// URI takes, no
    // namenode needed.
    val f = java.nio.file.Files.createTempFile("graft-script-", ".sql")
    java.nio.file.Files.writeString(f, "SELECT 1;\nSELECT 2;\n")
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.mockdfs.impl", classOf[MockDfsFileSystem].getName)
    val st = ScriptParser.loadStatements(
      s"mockdfs://localhost$f", Map.empty, conf)
    assert(st.map(_.sql) == Vector("SELECT 1", "SELECT 2"))
    // a missing path surfaces the reference's error text, not an FS error
    val e = intercept[IllegalArgumentException] {
      ScriptParser.loadStatements(
        "mockdfs://localhost/no/such/script.sql", Map.empty, conf)
    }
    assert(e.getMessage.contains("dose not exists"))
  }

  test("textOf reads a window call from its own nodes, not the frame objects' origins") {
    import org.apache.spark.sql.catalyst.expressions.WindowExpression
    import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
    // the frame boundaries (CURRENT ROW, the unspecified frame) are
    // case objects: their origin is the span of whichever parse first
    // built them (in a fresh JVM the long statement here, far past the
    // end of the short one)
    CatalystSqlParser.parsePlan("SELECT " + "x, " * 100 +
      "SUM(v) OVER (ORDER BY e ROWS BETWEEN 1 PRECEDING AND CURRENT ROW), " +
      "SUM(v) OVER (ORDER BY e) FROM t")
    val sql = "SELECT SUM(v) OVER (ROWS 1 PRECEDING) FROM t"
    val w = CatalystSqlParser.parsePlan(sql).expressions
      .flatMap(_.collect { case w: WindowExpression => w }).head
    assert(ScriptParser.textOf(sql, w) == "SUM(v) OVER (ROWS 1 PRECEDING)")
  }
}
