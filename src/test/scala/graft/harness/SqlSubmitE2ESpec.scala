package graft.harness

import java.nio.file.Files
import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end golden test (SURVEY.md §5 item 4): a bounded port of the
  * reference fixture test.sql through every dispatch branch — SET,
  * connector CREATE (datagen source + filesystem sink), INSERT with a
  * 5-aggregate GROUP BY, UNSET/EXPLAIN skip path, SELECT print.
  */
class SqlSubmitE2ESpec extends AnyFunSuite {

  test("bounded test.sql port: datagen -> agg -> parquet sink; skips honored") {
    val spark = SparkFixture.spark
    val outDir = Files.createTempDirectory("graft-e2e-out").toString
    val script =
      s"""-- bounded port of the reference fixture
         |SET pipeline.name = test-sql;
         |set parallelism.default = 4;
         |SET execution.runtime-mode = batch;
         |
         |create table if not exists tbl_aggregate_source(
         |  dim string,
         |  user_id bigint,
         |  price double,
         |  row_time as cast(current_timestamp as timestamp(3)),
         |  watermark for row_time as row_time - interval '5' second
         |) with (
         |  'connector' = 'datagen',
         |  'number-of-rows' = '500',
         |  'fields.dim.length' = '1',
         |  'fields.user_id.min' = '1',
         |  'fields.user_id.max' = '100',
         |  'fields.price.min' = '50',
         |  'fields.price.max' = '1000'
         |);
         |
         |create table if not exists tbl_aggregate_sink(
         |  dim string, pv bigint, uv bigint,
         |  sum_price double, max_price double, min_price double
         |) with (
         |  'connector' = 'filesystem',
         |  'path' = '$outDir/agg',
         |  'format' = 'parquet'
         |);
         |
         |insert into tbl_aggregate_sink
         |select dim, count(*) as pv, count(distinct user_id) as uv,
         |  sum(price) as sum_price, max(price) as max_price,
         |  min(price) as min_price
         |from tbl_aggregate_source
         |group by dim;
         |
         |unset pipeline.name;
         |explain select * from tbl_aggregate_source;
         |
         |select * from tbl_aggregate_source where user_id <= ${"$"}{maxid};
         |""".stripMargin
    val file = Files.createTempFile("graft-e2e-", ".sql")
    Files.writeString(file, script)

    val action = new SqlSubmitAction(
      file.toString, Map("maxid" -> "100"),
      existingSession = Some(spark), printLimit = 5)
    action.run()

    assert(action.sources.keySet.contains("tbl_aggregate_source"))
    assert(action.sinks.keySet == Set("tbl_aggregate_sink"))
    // after the write, the filesystem sink is readable within the script
    assert(action.sources.keySet.contains("tbl_aggregate_sink"))

    val out = spark.read.parquet(s"$outDir/agg")
    assert(out.columns.toSet ==
      Set("dim", "pv", "uv", "sum_price", "max_price", "min_price"))
    val rows = out.collect()
    assert(rows.nonEmpty)
    // 500 generated rows distributed over the length-1 dim alphabet
    assert(rows.map(_.getAs[Long]("pv")).sum == 500L)
    // uv <= pv, prices within configured bounds
    rows.foreach { r =>
      assert(r.getAs[Long]("uv") <= r.getAs[Long]("pv"))
      assert(r.getAs[Double]("min_price") >= 50.0)
      assert(r.getAs[Double]("max_price") <= 1000.0)
    }
  }

  test("module statements: registry parity, errors, and SHOW MODULES") {
    val spark = SparkFixture.spark
    def run(stmts: String): Unit = {
      val f = Files.createTempFile("graft-mod-", ".sql")
      Files.writeString(f,
        s"SET execution.runtime-mode = batch;\n$stmts\n")
      new SqlSubmitAction(f.toString, Map.empty,
        existingSession = Some(spark)).run()
    }
    // unload + reload round-trips (each action starts with core loaded)
    run("UNLOAD MODULE core;\nLOAD MODULE core;\nSHOW MODULES;")
    // SHOW FULL MODULES prints Flink's two-column (module name, used)
    // shape; plain SHOW MODULES stays one-column
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf)) {
      run("SHOW FULL MODULES;\nSHOW MODULES;")
    }
    val outText = buf.toString
    assert(outText.contains("| module name | used |"), s"output: $outText")
    assert(outText.contains("| core        | true |"), s"output: $outText")
    assert(outText.contains("| core        |\n"), s"output: $outText")
    // duplicate load errors like Flink's executeSql, wrapped per
    // statement like every other failing statement
    val dup = intercept[Exception](run("LOAD MODULE core;"))
    assert(dup.getCause.getMessage.contains("already exists"),
      s"message: ${dup.getCause.getMessage}")
    // unknown module factory errors
    val unknown = intercept[Exception](run("LOAD MODULE hive;"))
    assert(unknown.getCause.getMessage.contains("core module"),
      s"message: ${unknown.getCause.getMessage}")
    // unloading a module that is not loaded errors
    val missing = intercept[Exception](
      run("UNLOAD MODULE core;\nUNLOAD MODULE core;"))
    assert(missing.getCause.getMessage.contains("No module"),
      s"message: ${missing.getCause.getMessage}")
  }

  test("EXECUTE STATEMENT SET runs grouped inserts; PRINT echoes; UNLOAD executes") {
    val spark = SparkFixture.spark
    val outDir = Files.createTempDirectory("graft-sset-out").toString
    val script =
      s"""SET execution.runtime-mode = batch;
         |create table src(v bigint) with (
         |  'connector' = 'datagen', 'number-of-rows' = '50',
         |  'fields.v.kind' = 'sequence', 'fields.v.start' = '1');
         |create table out_a(v bigint) with (
         |  'connector' = 'filesystem', 'path' = '$outDir/a', 'format' = 'parquet');
         |create table out_b(total bigint) with (
         |  'connector' = 'filesystem', 'path' = '$outDir/b', 'format' = 'parquet');
         |PRINT hello from graft;
         |UNLOAD MODULE core;
         |EXECUTE STATEMENT SET BEGIN
         |  insert into out_a select v from src where v <= 10;
         |  insert into out_b select cast(sum(v) as bigint) as total from src;
         |END;
         |""".stripMargin
    val file = Files.createTempFile("graft-sset-", ".sql")
    Files.writeString(file, script)
    new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(spark)).run()
    assert(spark.read.parquet(s"$outDir/a").count() == 10L)
    val total = spark.read.parquet(s"$outDir/b").collect().head.getLong(0)
    assert(total == (1L to 50L).sum)
  }

  test("catalog statements: CTAS, DESCRIBE, SHOW, DROP route to Spark SQL") {
    val spark = SparkFixture.spark
    val script =
      """SET execution.runtime-mode = batch;
        |create table gen(v bigint) with (
        |  'connector' = 'datagen', 'number-of-rows' = '30',
        |  'fields.v.kind' = 'sequence', 'fields.v.start' = '0');
        |CREATE TABLE ctas_out AS SELECT v, v * 2 AS dbl FROM gen WHERE v < 7;
        |DESCRIBE ctas_out;
        |SHOW TABLES;
        |SELECT * FROM ctas_out;
        |DROP TABLE ctas_out;
        |""".stripMargin
    val file = Files.createTempFile("graft-ctas-", ".sql")
    Files.writeString(file, script)
    val action = new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(spark), printLimit = 10)
    action.run()
    // dropped at the end — catalog must not contain it any more
    assert(!spark.catalog.tableExists("ctas_out"))
  }

  test("extension SQL functions (graft_*) resolve in submitted scripts") {
    val spark = SparkFixture.spark
    val outDir = Files.createTempDirectory("graft-fns-out").toString
    val script =
      s"""SET execution.runtime-mode = batch;
         |create table gen(v bigint) with (
         |  'connector' = 'datagen', 'number-of-rows' = '5',
         |  'fields.v.kind' = 'sequence', 'fields.v.start' = '1');
         |create table fps(fp bigint, sim bigint) with (
         |  'connector' = 'filesystem', 'path' = '$outDir/fps', 'format' = 'parquet');
         |insert into fps select
         |  graft_poly_hash(cast(v as string)) as fp,
         |  graft_simhash(array(v, v + 1)) as sim
         |from gen;
         |""".stripMargin
    val file = Files.createTempFile("graft-fns-", ".sql")
    Files.writeString(file, script)
    new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(spark)).run()
    val rows = spark.read.parquet(s"$outDir/fps").count()
    assert(rows === 5L)
  }

  test("filesystem connector supports csv format roundtrip") {
    val spark = SparkFixture.spark
    val outDir = Files.createTempDirectory("graft-csv-out").toString
    val script =
      s"""SET execution.runtime-mode = batch;
         |create table src(v bigint, lbl string) with (
         |  'connector' = 'datagen', 'number-of-rows' = '25',
         |  'fields.v.kind' = 'sequence', 'fields.v.start' = '1',
         |  'fields.lbl.length' = '3');
         |create table out_csv(v bigint, lbl string) with (
         |  'connector' = 'filesystem', 'path' = '$outDir/csv', 'format' = 'csv');
         |insert into out_csv select v, lbl from src;
         |""".stripMargin
    val file = Files.createTempFile("graft-csv-", ".sql")
    Files.writeString(file, script)
    new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(spark)).run()
    assert(spark.read.csv(s"$outDir/csv").count() == 25L)
  }

  test("INSERT with explicit column list routes to the engine sink") {
    val spark = SparkFixture.spark
    val outDir = Files.createTempDirectory("graft-collist-out").toString
    val script =
      s"""SET execution.runtime-mode = batch;
         |create table src(v bigint) with (
         |  'connector' = 'datagen', 'number-of-rows' = '5',
         |  'fields.v.kind' = 'sequence', 'fields.v.start' = '1');
         |create table out_t(v bigint) with (
         |  'connector' = 'filesystem', 'path' = '$outDir/t', 'format' = 'parquet');
         |insert into out_t(v) select v from src;
         |""".stripMargin
    val file = Files.createTempFile("graft-collist-", ".sql")
    Files.writeString(file, script)
    new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(spark)).run()
    assert(spark.read.parquet(s"$outDir/t").count() == 5L)
  }

  test("INSERT INTO TABLE (Spark's optional keyword) routes to the engine sink") {
    val spark = SparkFixture.spark
    val outDir = Files.createTempDirectory("graft-instable-out").toString
    val script =
      s"""SET execution.runtime-mode = batch;
         |create table src(v bigint) with (
         |  'connector' = 'datagen', 'number-of-rows' = '5',
         |  'fields.v.kind' = 'sequence', 'fields.v.start' = '1');
         |create table out_t(v bigint) with (
         |  'connector' = 'filesystem', 'path' = '$outDir/t', 'format' = 'parquet');
         |insert into table out_t select v from src;
         |insert into table out_t (v) select v + 10 from src;
         |""".stripMargin
    val file = Files.createTempFile("graft-instable-", ".sql")
    Files.writeString(file, script)
    new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(spark)).run()
    val got = spark.read.parquet(s"$outDir/t").collect().map(_.getLong(0)).toSet
    assert(got == ((1L to 5L) ++ (11L to 15L)).toSet, got)
  }

  test("a static PARTITION clause on a connector sink keeps its named error") {
    val spark = SparkFixture.spark
    val outDir = Files.createTempDirectory("graft-staticpart-out").toString
    val script =
      s"""SET execution.runtime-mode = batch;
         |create table src(v bigint) with (
         |  'connector' = 'datagen', 'number-of-rows' = '5',
         |  'fields.v.kind' = 'sequence', 'fields.v.start' = '1');
         |create table out_p(v bigint, par bigint) partitioned by (par) with (
         |  'connector' = 'filesystem', 'path' = '$outDir/p', 'format' = 'parquet');
         |insert into out_p partition (par = 1) select v from src;
         |""".stripMargin
    val file = Files.createTempFile("graft-staticpart-", ".sql")
    Files.writeString(file, script)
    val e = intercept[Exception](new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(spark)).run())
    assert(Option(e.getCause).exists(
      _.getMessage.contains("static PARTITION clause is not supported")), e)
  }

  test("EXECUTE STATEMENT SET keeps a semicolon inside a string literal") {
    val spark = SparkFixture.spark
    val outDir = Files.createTempDirectory("graft-sset-semi-out").toString
    val script =
      s"""SET execution.runtime-mode = batch;
         |create table src(v bigint) with (
         |  'connector' = 'datagen', 'number-of-rows' = '3',
         |  'fields.v.kind' = 'sequence', 'fields.v.start' = '1');
         |create table out_s(v bigint, tag string) with (
         |  'connector' = 'filesystem', 'path' = '$outDir/s', 'format' = 'parquet');
         |EXECUTE STATEMENT SET BEGIN
         |  insert into out_s select v, 'a;b' as tag from src;
         |  insert into out_s select v + 10 as v, 'c' as tag from src;
         |END;
         |""".stripMargin
    val file = Files.createTempFile("graft-sset-semi-", ".sql")
    Files.writeString(file, script)
    new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(spark)).run()
    val got = spark.read.parquet(s"$outDir/s").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a;b"), (2L, "a;b"), (3L, "a;b"),
      (11L, "c"), (12L, "c"), (13L, "c")), got)
  }

  test("an INSERT without a column list maps its columns onto the " +
      "connector sink's declared columns by position, as Flink does") {
    val spark = SparkFixture.spark
    val outDir = Files.createTempDirectory("graft-insert-pos-out").toString
    val script =
      s"""SET execution.runtime-mode = batch;
         |create table src(v bigint) with (
         |  'connector' = 'datagen', 'number-of-rows' = '3',
         |  'fields.v.kind' = 'sequence', 'fields.v.start' = '1');
         |create table out_s(v bigint, tag string) with (
         |  'connector' = 'filesystem', 'path' = '$outDir/s', 'format' = 'parquet');
         |insert into out_s select v + 10, 'c' as tag from src;
         |""".stripMargin
    val file = Files.createTempFile("graft-insert-pos-", ".sql")
    Files.writeString(file, script)
    new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(spark)).run()
    val back = spark.read.parquet(s"$outDir/s")
    assert(back.columns.toSeq == Seq("v", "tag"), back.columns.toSeq)
    val got = back.collect()
      .map(r => (Option(r.getAs[java.lang.Long]("v")), r.getAs[String]("tag")))
      .toSet
    assert(got == Set((Some(11L), "c"), (Some(12L), "c"), (Some(13L), "c")),
      got)
  }

  test("re-running a script whose sink path now exists still resolves the sink") {
    val spark = SparkFixture.spark
    val outDir = Files.createTempDirectory("graft-rerun-out").toString
    val script =
      s"""SET execution.runtime-mode = batch;
         |create table src(v bigint) with (
         |  'connector' = 'datagen', 'number-of-rows' = '4',
         |  'fields.v.kind' = 'sequence', 'fields.v.start' = '1');
         |create table out_t(v bigint) with (
         |  'connector' = 'filesystem', 'path' = '$outDir/t', 'format' = 'parquet');
         |insert into out_t select v from src;
         |""".stripMargin
    val file = Files.createTempFile("graft-rerun-", ".sql")
    Files.writeString(file, script)
    new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(spark)).run()
    // second run: path exists now; INSERT must still find the sink
    new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(spark)).run()
    assert(spark.read.parquet(s"$outDir/t").count() == 8L)
  }

  test("ansi/time-parser confs are restored on the caller's session after run") {
    val spark = SparkFixture.spark
    val before = spark.conf.get("spark.sql.ansi.enabled")
    val file = Files.createTempFile("graft-conf-", ".sql")
    Files.writeString(file, "SELECT 1 AS one;\n")
    new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(spark)).run()
    assert(spark.conf.get("spark.sql.ansi.enabled") == before)
  }

  test("statements failing mid-script are wrapped with the offending SQL") {
    val spark = SparkFixture.spark
    val file = Files.createTempFile("graft-bad-", ".sql")
    Files.writeString(file, "SELECT * FROM table_that_does_not_exist_xyz;\n")
    val action = new SqlSubmitAction(
      file.toString, Map.empty, existingSession = Some(spark))
    val e = intercept[Exception](action.run())
    assert(e.getMessage.contains("table_that_does_not_exist_xyz"))
  }

  test("dynamic OPTIONS hint overrides connector props per query") {
    val spark = SparkFixture.spark
    val outDir = Files.createTempDirectory("graft-hint-out").toString
    val script =
      s"""SET execution.runtime-mode = batch;
         |set table.dynamic-table-options.enabled=true;
         |create table hint_gen(v bigint) with (
         |  'connector' = 'datagen', 'number-of-rows' = '12',
         |  'fields.v.kind' = 'sequence', 'fields.v.start' = '0');
         |create table hint_out(v bigint) with (
         |  'connector' = 'filesystem', 'path' = '$outDir/h', 'format' = 'parquet');
         |insert into hint_out select v from hint_gen /*+ OPTIONS('number-of-rows'='4') */;
         |""".stripMargin
    val file = Files.createTempFile("graft-hint-", ".sql")
    Files.writeString(file, script)
    new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(spark)).run()
    // the hint, not the DDL, decides the row count for this query
    assert(spark.read.parquet(s"$outDir/h").count() == 4L)
  }

  test("dynamic OPTIONS hint without the enabling flag fails like Flink") {
    val spark = SparkFixture.spark
    val script =
      """SET execution.runtime-mode = batch;
        |create table hint_gen2(v bigint) with (
        |  'connector' = 'datagen', 'number-of-rows' = '5');
        |SELECT v FROM hint_gen2 /*+ OPTIONS('number-of-rows'='2') */;
        |""".stripMargin
    val file = Files.createTempFile("graft-hint2-", ".sql")
    Files.writeString(file, script)
    val e = intercept[Exception](
      new SqlSubmitAction(file.toString, Map.empty,
        existingSession = Some(spark)).run())
    // the dispatch loop wraps per-statement failures; the reason is on
    // the cause
    assert(Option(e.getCause).exists(
      _.getMessage.contains("dynamic-table-options")))
  }

  test("INSERT OVERWRITE replaces a filesystem sink; non-replaceable sinks reject") {
    val spark = SparkFixture.spark
    val out = java.nio.file.Files.createTempDirectory("ow_e2e").toString
    val script = java.nio.file.Files.createTempFile("ow", ".sql")
    java.nio.file.Files.writeString(script,
      s"""SET execution.runtime-mode = batch;
         |create table ow_src (id bigint) with (
         |  'connector' = 'datagen', 'number-of-rows' = '4',
         |  'fields.id.kind' = 'sequence',
         |  'fields.id.start' = '1', 'fields.id.end' = '4');
         |create table ow_snk (id bigint) with (
         |  'connector' = 'filesystem',
         |  'path' = 'file://$out/sink', 'format' = 'parquet');
         |insert into ow_snk select id from ow_src;
         |insert into ow_snk select id from ow_src;
         |insert overwrite ow_snk select id from ow_src where id <= 2;
         |""".stripMargin)
    new SqlSubmitAction(script.toString, Map.empty,
      existingSession = Some(spark)).run()
    // two appends (8 rows) then the overwrite leaves exactly the 2-row set
    assert(spark.read.parquet(s"$out/sink").count() == 2)
    val bad = java.nio.file.Files.createTempFile("owbad", ".sql")
    java.nio.file.Files.writeString(bad,
      s"""SET execution.runtime-mode = batch;
         |create table owb_src (id bigint) with (
         |  'connector' = 'datagen', 'number-of-rows' = '1');
         |create table owb_snk (id bigint) with ('connector' = 'print');
         |insert overwrite owb_snk select id from owb_src;
         |""".stripMargin)
    val e = intercept[Exception](new SqlSubmitAction(bad.toString, Map.empty,
      existingSession = Some(spark)).run())
    assert(Option(e.getCause).exists(
      _.getMessage.contains("only filesystem tables are replaceable")))
  }

  test("SHOW CREATE TABLE prints the registry's reconstructed Flink DDL") {
    val spark = SparkFixture.spark
    val script = java.nio.file.Files.createTempFile("sct", ".sql")
    java.nio.file.Files.writeString(script,
      """SET execution.runtime-mode = batch;
        |create table sct_t (id bigint, doubled as id * 2) with (
        |  'connector' = 'datagen', 'number-of-rows' = '1');
        |show create table sct_t;
        |""".stripMargin)
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf)) {
      new SqlSubmitAction(script.toString, Map.empty,
        existingSession = Some(spark)).run()
    }
    val out = buf.toString
    assert(out.contains("CREATE TABLE `sct_t` ("), out)
    assert(out.contains("`doubled` AS id * 2"), out)
    assert(out.contains("'connector' = 'datagen'"), out)
  }

  test("DESCRIBE on a connector table renders the Flink surface from the registry") {
    val spark = SparkFixture.spark
    val script = java.nio.file.Files.createTempFile("graft-desc", ".sql")
    java.nio.file.Files.writeString(script,
      """SET execution.runtime-mode = batch;
        |create table desc_t (id bigint, doubled as id * 2,
        |  row_time as TO_TIMESTAMP_LTZ(id * 1000),
        |  watermark for row_time as row_time - interval '5' second,
        |  primary key (id) not enforced)
        |with ('connector' = 'datagen', 'number-of-rows' = '1');
        |describe desc_t;
        |desc desc_t;
        |""".stripMargin)
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf)) {
      new SqlSubmitAction(script.toString, Map.empty,
        existingSession = Some(spark)).run()
    }
    val out = buf.toString
    assert(out.contains("| name"), out)
    assert(out.contains("PRI(id)"), out)
    assert(out.contains("AS id * 2"), out)
    assert(out.contains("`row_time` - INTERVAL '5' SECOND"), out)
  }

  test("SHOW JARS lists the session's ADDed jar paths in order") {
    val spark = SparkFixture.spark
    // a minimal VALID zip (empty central directory) — ADD JAR opens it
    val jar = java.nio.file.Files.createTempFile("graft-sj", ".jar")
    val zos = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(jar))
    zos.putNextEntry(new java.util.zip.ZipEntry("placeholder.txt"))
    zos.closeEntry(); zos.close()
    val script = java.nio.file.Files.createTempFile("graft-sj", ".sql")
    java.nio.file.Files.writeString(script,
      s"""SET execution.runtime-mode = batch;
         |ADD JAR '$jar';
         |SHOW JARS;
         |""".stripMargin)
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf)) {
      new SqlSubmitAction(script.toString, Map.empty,
        existingSession = Some(spark)).run()
    }
    assert(buf.toString.contains("| jars"), buf.toString)
    assert(buf.toString.contains(jar.toString), buf.toString)
  }

  test("CREATE/USE CATALOG reject by name; SHOW CATALOGS lists the session catalog") {
    val spark = SparkFixture.spark
    def run(stmts: String): Unit = {
      val f = java.nio.file.Files.createTempFile("graft-cat-", ".sql")
      java.nio.file.Files.writeString(f, stmts)
      new SqlSubmitAction(f.toString, Map.empty,
        existingSession = Some(spark)).run()
    }
    // Flink admits catalog DDL through the router; Spark has no
    // catalogs to create/use — the error must name the statement, not
    // surface a raw parser failure from the USE/CREATE route
    val eu = intercept[Exception](run("USE CATALOG hive_cat;"))
    assert(eu.getMessage.contains("USE CATALOG hive_cat"), eu.getMessage)
    assert(Option(eu.getCause).exists(
      _.getMessage.contains("USE CATALOG is not supported")), eu.getMessage)
    val ec = intercept[Exception](run(
      "CREATE CATALOG c WITH ('type' = 'generic_in_memory');"))
    assert(Option(ec.getCause).exists(
      _.getMessage.contains("CREATE CATALOG is not supported")), ec.getMessage)
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf)) {
      run("SHOW CATALOGS;")
    }
    assert(buf.toString.contains("catalog name"), buf.toString)
    assert(buf.toString.contains(spark.catalog.currentCatalog()), buf.toString)
    // the no-op boilerplate Flink scripts carry: USE CATALOG targeting
    // the session catalog (or Flink's default_catalog alias) is
    // log-and-skip, not an error — the rest of the script still runs
    val buf2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf2)) {
      run(s"""USE CATALOG default_catalog;
             |USE CATALOG ${spark.catalog.currentCatalog()};
             |USE CATALOG `default_catalog`;
             |SHOW CATALOGS;""".stripMargin)
    }
    assert(buf2.toString.contains("no-op"), buf2.toString)
    assert(buf2.toString.contains("catalog name"), buf2.toString)
  }

  test("partitioned INSERT OVERWRITE replaces only the written partitions") {
    val spark = SparkFixture.spark
    val out = java.nio.file.Files.createTempDirectory("owp_e2e").toString
    val script = java.nio.file.Files.createTempFile("owp", ".sql")
    java.nio.file.Files.writeString(script,
      s"""SET execution.runtime-mode = batch;
         |create table owp_src (id bigint) with (
         |  'connector' = 'datagen', 'number-of-rows' = '4',
         |  'fields.id.kind' = 'sequence',
         |  'fields.id.start' = '1', 'fields.id.end' = '4');
         |create table owp_snk (id bigint, par bigint)
         |partitioned by (par) with (
         |  'connector' = 'filesystem',
         |  'path' = 'file://$out/sink', 'format' = 'parquet');
         |insert into owp_snk select id, id % 2 as par from owp_src;
         |insert overwrite owp_snk select id, id % 2 as par from owp_src where id = 2;
         |""".stripMargin)
    new SqlSubmitAction(script.toString, Map.empty,
      existingSession = Some(spark)).run()
    // the partition directory value scans back type-inferred (int)
    val got = spark.read.parquet(s"$out/sink")
      .selectExpr("cast(id as long) id", "cast(par as long) par")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // partition par=0 was rewritten to just {2}; par=1 (ids 1, 3)
    // survives — Flink's partition-scoped overwrite, not a full wipe
    assert(got == Set((2L, 0L), (1L, 1L), (3L, 1L)))
  }

  test("filesystem METADATA columns read Spark's _metadata fields") {
    val spark = SparkFixture.spark
    val dir = java.nio.file.Files.createTempDirectory("meta_e2e").toString
    spark.sql("SELECT * FROM VALUES (1L), (2L) AS t(v)")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/data")
    val script = java.nio.file.Files.createTempFile("meta", ".sql")
    java.nio.file.Files.writeString(script,
      s"""SET execution.runtime-mode = batch;
         |create table meta_src (
         |  v bigint,
         |  fname string metadata from 'file.name',
         |  fsize bigint metadata from 'file.size' virtual
         |) with (
         |  'connector' = 'filesystem',
         |  'path' = 'file://$dir/data',
         |  'format' = 'parquet'
         |);
         |""".stripMargin)
    new SqlSubmitAction(script.toString, Map.empty,
      existingSession = Some(spark)).run()
    val rows = spark.sql(
      "SELECT v, fname, fsize FROM meta_src ORDER BY v").collect()
    assert(rows.length == 2)
    assert(rows.forall(_.getString(1).endsWith(".parquet")))
    assert(rows.forall(_.getLong(2) > 0L))
    // unknown metadata key and non-filesystem connectors reject
    val bad = java.nio.file.Files.createTempFile("metabad", ".sql")
    java.nio.file.Files.writeString(bad,
      s"""create table meta_bad (v bigint, k string metadata from 'nope')
         |with ('connector'='filesystem','path'='file://$dir/data','format'='parquet');
         |""".stripMargin)
    val e = intercept[Exception](new SqlSubmitAction(bad.toString, Map.empty,
      existingSession = Some(spark)).run())
    assert(e.getMessage.contains("metadata") ||
      Option(e.getCause).exists(_.getMessage.contains("metadata")))
  }

  test("CREATE TABLE LIKE clones a connector table with merged options") {
    val spark = SparkFixture.spark
    val out = java.nio.file.Files.createTempDirectory("like_e2e").toString
    val script = java.nio.file.Files.createTempFile("like", ".sql")
    java.nio.file.Files.writeString(script,
      s"""SET execution.runtime-mode = batch;
         |create table like_base (
         |  id bigint,
         |  doubled as id * 2
         |) with (
         |  'connector' = 'datagen',
         |  'number-of-rows' = '3',
         |  'fields.id.kind' = 'sequence',
         |  'fields.id.start' = '1',
         |  'fields.id.end' = '3'
         |);
         |create table like_clone with (
         |  'fields.id.end' = '7',
         |  'number-of-rows' = '7'
         |) like like_base (OVERWRITING OPTIONS);
         |create table like_snk (id bigint, doubled bigint) with (
         |  'connector' = 'filesystem',
         |  'path' = 'file://$out/sink',
         |  'format' = 'parquet'
         |);
         |insert into like_snk select id, doubled from like_clone;
         |create table like_bad with ('number-of-rows' = '9') like like_base;
         |""".stripMargin)
    // the final statement re-declares number-of-rows without the
    // OVERWRITING directive — the script errors there, after the insert
    val e = intercept[Exception](new SqlSubmitAction(script.toString,
      Map.empty, existingSession = Some(spark)).run())
    assert(Option(e.getCause).exists(_.getMessage.contains("OVERWRITING")))
    val got = spark.read.parquet(s"$out/sink")
    // the clone inherited schema + computed column, with the row count
    // and sequence end overwritten: 7 rows, doubled = id * 2
    assert(got.count() == 7)
    assert(got.filter("doubled = id * 2").count() == 7)
  }

  test("window_time propagates out of a window-TVF view: two-stage " +
      "pipeline (TUMBLE pre-agg -> OVER) streams above it (r17)") {
    val spark = SparkFixture.spark
    val out = Files.createTempDirectory("graft-wtv-e2e").toString
    // seq 0..5 at 30 s spacing from midnight; TUMBLE 1 min sums pairs:
    // windows hold v = {0,1}, {2,3}, {4,5} -> s = 1, 5, 9; the OVER
    // stage runs a running SUM over the view's window_time rowtime ->
    // rs = 1, 6, 15 (Flink's two-stage streaming pipeline shape)
    val script =
      s"""SET execution.runtime-mode = streaming;
         |create table wtv_src (
         |  k bigint,
         |  seq bigint,
         |  v as seq,
         |  ts as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 30 as int)),
         |  watermark for ts as ts - interval '1' second
         |) with ('connector' = 'datagen', 'number-of-rows' = '6',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '5',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create temporary view wtv_agg as
         |  select k, window_time as wt, sum(v) as s
         |  from table(tumble(table wtv_src, descriptor(ts),
         |    interval '1' minute))
         |  group by k, window_start, window_end, window_time;
         |create table wtv_sink (k bigint, s bigint, rs bigint) with (
         |  'connector' = 'filesystem', 'path' = '$out/sink',
         |  'format' = 'parquet');
         |insert into wtv_sink
         |select k, s, sum(s) over (partition by k order by wt) as rs
         |from wtv_agg;
         |""".stripMargin
    val file = Files.createTempFile("graft-wtv-", ".sql")
    Files.writeString(file, script)
    new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(spark), durationSec = 30).run()
    val got = spark.read.parquet(s"$out/sink")
      .collect().map(r => (r.getAs[Long]("s"), r.getAs[Long]("rs"))).toSet
    assert(got === Set((1L, 1L), (5L, 6L), (9L, 15L)), got.toString)
  }

  test("MATCH_ROWTIME() carries event time out of a pattern view: " +
      "two-stage pipeline (MATCH_RECOGNIZE -> TUMBLE agg) streams " +
      "above it (r18)") {
    val spark = SparkFixture.spark
    val out = Files.createTempDirectory("graft-mrt-e2e").toString
    // seq 0..8 at 30 s spacing; t = 'b' every third row. PATTERN (A+ B)
    // with SKIP PAST LAST ROW matches rows {0,1,2}, {3,4,5}, {6,7,8} —
    // MATCH_ROWTIME (= B's time) lands at 60 s, 150 s, 240 s. The
    // downstream TUMBLE(1 min) over mrt buckets them into the
    // 00:01/00:02/00:04 windows, one match each (Flink's
    // pattern-stage-feeds-a-window pipeline shape)
    val script =
      s"""SET execution.runtime-mode = streaming;
         |create table mrt_src (
         |  k bigint,
         |  seq bigint,
         |  t as case when seq % 3 = 2 then 'b' else 'a' end,
         |  ts as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 30 as int)),
         |  watermark for ts as ts - interval '1' second
         |) with ('connector' = 'datagen', 'number-of-rows' = '9',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '8',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create temporary view mrt_pat as
         |  select * from mrt_src match_recognize (
         |    partition by k order by ts
         |    measures match_rowtime() as mrt, count(a.*) as na
         |    one row per match after match skip past last row
         |    pattern (a+ b)
         |    define a as t = 'a', b as t = 'b');
         |create table mrt_sink (ws timestamp, n bigint, tot bigint)
         |  with ('connector' = 'filesystem', 'path' = '$out/sink',
         |  'format' = 'parquet');
         |insert into mrt_sink
         |select window_start as ws, count(*) as n, sum(na) as tot
         |from table(tumble(table mrt_pat, descriptor(mrt),
         |  interval '1' minute))
         |group by window_start;
         |""".stripMargin
    val file = Files.createTempFile("graft-mrt-", ".sql")
    Files.writeString(file, script)
    new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(spark), durationSec = 30).run()
    val got = spark.read.parquet(s"$out/sink")
      .collect()
      .map(r => (r.getAs[java.sql.Timestamp]("ws").toString,
        r.getAs[Long]("n"), r.getAs[Long]("tot"))).toSet
    assert(got === Set(
      ("2024-01-01 00:01:00.0", 1L, 2L),
      ("2024-01-01 00:02:00.0", 1L, 2L),
      ("2024-01-01 00:04:00.0", 1L, 2L)), got.toString)
  }

  test("an OVER aggregation runs above a MATCH_ROWTIME pattern view " +
      "(r18 chain matrix: pattern head, OVER tail)") {
    val spark = SparkFixture.spark
    val out = Files.createTempDirectory("graft-mro-e2e").toString
    // same data shape as the TUMBLE-tail test: matches at 60/150/240 s
    // each with na = 2; the OVER stage runs a running SUM over the
    // pattern view's mrt rowtime -> rs = 2, 4, 6
    val script =
      s"""SET execution.runtime-mode = streaming;
         |create table mro_src (
         |  k bigint,
         |  seq bigint,
         |  t as case when seq % 3 = 2 then 'b' else 'a' end,
         |  ts as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 30 as int)),
         |  watermark for ts as ts - interval '1' second
         |) with ('connector' = 'datagen', 'number-of-rows' = '9',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '8',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create temporary view mro_pat as
         |  select * from mro_src match_recognize (
         |    partition by k order by ts
         |    measures match_rowtime() as mrt, count(a.*) as na
         |    one row per match after match skip past last row
         |    pattern (a+ b)
         |    define a as t = 'a', b as t = 'b');
         |create table mro_sink (k bigint, na bigint, rs bigint)
         |  with ('connector' = 'filesystem', 'path' = '$out/sink',
         |  'format' = 'parquet');
         |insert into mro_sink
         |select k, na, sum(na) over (partition by k order by mrt) as rs
         |from mro_pat;
         |""".stripMargin
    val file = Files.createTempFile("graft-mro-", ".sql")
    Files.writeString(file, script)
    new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(spark), durationSec = 30).run()
    val got = spark.read.parquet(s"$out/sink")
      .collect().map(r => (r.getAs[Long]("na"), r.getAs[Long]("rs"))).toSet
    assert(got === Set((2L, 2L), (2L, 4L), (2L, 6L)), got.toString)
  }

  test("a temporal probe runs above a MATCH_ROWTIME pattern view " +
      "(r18 chain matrix: pattern head, enrichment tail)") {
    val spark = SparkFixture.spark
    val out = Files.createTempDirectory("graft-mrj-e2e").toString
    // matches at 60/150/240 s enrich against rates effective from
    // 0/100/200 s -> 100, 101, 102
    val script =
      s"""SET execution.runtime-mode = streaming;
         |create table mrj_rates (
         |  k bigint,
         |  seq bigint,
         |  rt as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 100 as int)),
         |  rate as 100 + seq,
         |  primary key (k) not enforced,
         |  watermark for rt as rt - interval '1' second
         |) with ('connector' = 'datagen', 'number-of-rows' = '3',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '2',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create table mrj_src (
         |  k bigint,
         |  seq bigint,
         |  t as case when seq % 3 = 2 then 'b' else 'a' end,
         |  ts as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 30 as int)),
         |  watermark for ts as ts - interval '1' second
         |) with ('connector' = 'datagen', 'number-of-rows' = '9',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '8',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create temporary view mrj_pat as
         |  select * from mrj_src match_recognize (
         |    partition by k order by ts
         |    measures match_rowtime() as mrt, count(a.*) as na
         |    one row per match after match skip past last row
         |    pattern (a+ b)
         |    define a as t = 'a', b as t = 'b');
         |create table mrj_sink (k bigint, na bigint, rate bigint)
         |  with ('connector' = 'filesystem', 'path' = '$out/sink',
         |  'format' = 'parquet');
         |insert into mrj_sink
         |select p.k, p.na, r.rate from mrj_pat p
         |join mrj_rates for system_time as of p.mrt as r on r.k = p.k;
         |""".stripMargin
    val file = Files.createTempFile("graft-mrj-", ".sql")
    Files.writeString(file, script)
    new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(spark), durationSec = 30).run()
    val got = spark.read.parquet(s"$out/sink")
      .collect().map(r => (r.getAs[Long]("na"), r.getAs[Long]("rate"))).toSet
    assert(got === Set((2L, 100L), (2L, 101L), (2L, 102L)), got.toString)
  }

  test("an IDENTITY wrapper around a pattern region keeps the rowtime " +
      "(r18: the registry folds the attribute through nested SIMPLE " +
      "projections, Flink's per-level law)") {
    val spark = SparkFixture.spark
    val out = Files.createTempDirectory("graft-mri-e2e").toString
    // same pipeline as the direct MATCH_ROWTIME -> TUMBLE e2e, but the
    // pattern region sits inside `SELECT * FROM ( ... ) w WHERE na > 0`
    // — identity projection + filter, both of which preserve the
    // attribute in Flink
    val script =
      s"""SET execution.runtime-mode = streaming;
         |create table mri_src (
         |  k bigint,
         |  seq bigint,
         |  t as case when seq % 3 = 2 then 'b' else 'a' end,
         |  ts as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 30 as int)),
         |  watermark for ts as ts - interval '1' second
         |) with ('connector' = 'datagen', 'number-of-rows' = '9',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '8',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create temporary view mri_pat as
         |  select * from (
         |    select * from mri_src match_recognize (
         |      partition by k order by ts
         |      measures match_rowtime() as mrt, count(a.*) as na
         |      one row per match after match skip past last row
         |      pattern (a+ b)
         |      define a as t = 'a', b as t = 'b')) w
         |  where na > 0;
         |create table mri_sink (ws timestamp, n bigint, tot bigint)
         |  with ('connector' = 'filesystem', 'path' = '$out/sink',
         |  'format' = 'parquet');
         |insert into mri_sink
         |select window_start as ws, count(*) as n, sum(na) as tot
         |from table(tumble(table mri_pat, descriptor(mrt),
         |  interval '1' minute))
         |group by window_start;
         |""".stripMargin
    val file = Files.createTempFile("graft-mri-", ".sql")
    Files.writeString(file, script)
    new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(spark), durationSec = 30).run()
    val got = spark.read.parquet(s"$out/sink")
      .collect()
      .map(r => (r.getAs[java.sql.Timestamp]("ws").toString,
        r.getAs[Long]("n"), r.getAs[Long]("tot"))).toSet
    assert(got === Set(
      ("2024-01-01 00:01:00.0", 1L, 2L),
      ("2024-01-01 00:02:00.0", 1L, 2L),
      ("2024-01-01 00:04:00.0", 1L, 2L)), got.toString)
  }

  test("a pattern view with a REGULAR join beside the MATCH_RECOGNIZE " +
      "stays unregistered: Flink drops time attributes through regular " +
      "joins (r19 advice)") {
    val spark = SparkFixture.spark
    // the view enriches the pattern output against a dimension with a
    // plain JOIN — Flink drops the rowtime attribute through any
    // regular join, so the view must stay OUT of the registry and the
    // downstream TUMBLE must raise the named needs-a-WATERMARK error,
    // never window under the source's registered delay
    val script =
      s"""SET execution.runtime-mode = streaming;
         |create table mjg_dim (
         |  k bigint,
         |  tag bigint,
         |  primary key (k) not enforced
         |) with ('connector' = 'datagen', 'number-of-rows' = '1',
         |  'fields.k.min' = '0', 'fields.k.max' = '0',
         |  'fields.tag.min' = '7', 'fields.tag.max' = '7');
         |create table mjg_src (
         |  k bigint,
         |  seq bigint,
         |  t as case when seq % 3 = 2 then 'b' else 'a' end,
         |  ts as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 30 as int)),
         |  watermark for ts as ts - interval '1' second
         |) with ('connector' = 'datagen', 'rows-per-second' = '5',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '100000',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create temporary view mjg_pat as
         |  select p.k, p.mrt, p.na, d.tag
         |  from (
         |    select * from mjg_src match_recognize (
         |      partition by k order by ts
         |      measures match_rowtime() as mrt, count(a.*) as na
         |      one row per match after match skip past last row
         |      pattern (a+ b)
         |      define a as t = 'a', b as t = 'b')) p
         |  join mjg_dim d on d.k = p.k;
         |select window_start, count(*) as n
         |from table(tumble(table mjg_pat, descriptor(mrt),
         |  interval '1' minute))
         |group by window_start;
         |""".stripMargin
    val file = Files.createTempFile("graft-mjg-", ".sql")
    Files.writeString(file, script)
    val e = intercept[Exception] {
      new SqlSubmitAction(file.toString, Map.empty,
        existingSession = Some(spark), durationSec = 10).run()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .toSeq
    assert(msgs.exists(_.toLowerCase.contains("watermark")),
      msgs.mkString(" | "))
  }

  test("a temporal-join view with an EXTRA regular join stays " +
      "unregistered: only the FOR SYSTEM_TIME joins keep the probe's " +
      "rowtime (r19 advice)") {
    val spark = SparkFixture.spark
    // probe -> temporal enrich (keeps rowtime in Flink) -> plain JOIN
    // against a second dimension (drops it). The STREAMING rewrite
    // already rejects this shape at view creation ("residual WHERE
    // only"), so the exposure is a BATCH-created view (the interval
    // rewrite tolerates surrounding joins) later consulted by the
    // registry — e.g. a mixed-mode script or a chained child view.
    // The guard keeps it out; the pure temporal control registers.
    val script =
      s"""SET execution.runtime-mode = batch;
         |create table tjg_rates (
         |  k bigint,
         |  seq bigint,
         |  rt as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 100 as int)),
         |  rate as 100 + seq,
         |  primary key (k) not enforced,
         |  watermark for rt as rt - interval '1' second
         |) with ('connector' = 'datagen', 'number-of-rows' = '3',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '2',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create table tjg_dim (
         |  k bigint,
         |  tag bigint,
         |  primary key (k) not enforced
         |) with ('connector' = 'datagen', 'number-of-rows' = '1',
         |  'fields.k.min' = '0', 'fields.k.max' = '0',
         |  'fields.tag.min' = '7', 'fields.tag.max' = '7');
         |create table tjg_src (
         |  k bigint,
         |  seq bigint,
         |  ts as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 30 as int)),
         |  watermark for ts as ts - interval '1' second
         |) with ('connector' = 'datagen', 'number-of-rows' = '9',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '8',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create temporary view tjg_enrich as
         |  select p.k, p.ts, r.rate, d.tag
         |  from tjg_src p
         |  join tjg_rates for system_time as of p.ts as r on r.k = p.k
         |  join tjg_dim d on d.k = p.k;
         |create temporary view tjg_pure as
         |  select p.k, p.ts, r.rate
         |  from tjg_src p
         |  join tjg_rates for system_time as of p.ts as r on r.k = p.k;
         |""".stripMargin
    val file = Files.createTempFile("graft-tjg-", ".sql")
    Files.writeString(file, script)
    val action = new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(spark), durationSec = 10)
    action.run()
    assert(action.registeredRowtimeOf("tjg_enrich").isEmpty,
      "extra regular join must drop the probe's rowtime (Flink's law)")
    assert(action.registeredRowtimeOf("tjg_pure")
      .exists(_._1.equalsIgnoreCase("ts")),
      "pure temporal view must keep the probe's rowtime")
  }

  test("a subquery WRAPPER around a pattern region stays unregistered: " +
      "an expression aliased back onto the MATCH_ROWTIME name must not " +
      "pose as a rowtime attribute (r18 review)") {
    val spark = SparkFixture.spark
    // the wrapper shifts mrt by an hour and aliases it back — Flink
    // drops the rowtime attribute through any expression, so the view
    // must stay OUT of the registry and the downstream TUMBLE must
    // raise the named needs-a-WATERMARK error, not window the shifted
    // values under the original delay
    val script =
      s"""SET execution.runtime-mode = streaming;
         |create table mrw_src (
         |  k bigint,
         |  seq bigint,
         |  t as case when seq % 3 = 2 then 'b' else 'a' end,
         |  ts as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 30 as int)),
         |  watermark for ts as ts - interval '1' second
         |) with ('connector' = 'datagen', 'rows-per-second' = '5',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '100000',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create temporary view mrw_pat as
         |  select * from (
         |    select k, mrt + interval '1' hour as mrt, na
         |    from mrw_src match_recognize (
         |      partition by k order by ts
         |      measures match_rowtime() as mrt, count(a.*) as na
         |      one row per match after match skip past last row
         |      pattern (a+ b)
         |      define a as t = 'a', b as t = 'b')) w;
         |select window_start, count(*) as n
         |from table(tumble(table mrw_pat, descriptor(mrt),
         |  interval '1' minute))
         |group by window_start;
         |""".stripMargin
    val file = Files.createTempFile("graft-mrw-", ".sql")
    Files.writeString(file, script)
    val e = intercept[Exception] {
      new SqlSubmitAction(file.toString, Map.empty,
        existingSession = Some(spark), durationSec = 10).run()
    }
    // the view stays unregistered, so the TVF runs as a plain
    // aggregation over a non-attribute column and fails at start by
    // name (no watermark for append) — never windows shifted values
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .toSeq
    assert(msgs.exists(_.toLowerCase.contains("watermark")),
      msgs.mkString(" | "))
  }

  test("a TTL'd updating operator above a windowed view rejects by " +
      "name (the intermediate stage would emit partials as facts)") {
    val spark = SparkFixture.spark
    val script =
      s"""SET execution.runtime-mode = streaming;
         |SET table.exec.state.ttl = 60 s;
         |create table wtu_src (
         |  k bigint,
         |  seq bigint,
         |  ts as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 30 as int)),
         |  watermark for ts as ts - interval '1' second
         |) with ('connector' = 'datagen', 'rows-per-second' = '5',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '100000',
         |  'fields.k.min' = '0', 'fields.k.max' = '1');
         |create temporary view wtu_agg as
         |  select k, window_time, sum(seq) as s
         |  from table(tumble(table wtu_src, descriptor(ts),
         |    interval '1' minute))
         |  group by k, window_start, window_end, window_time;
         |create table wtu_sink (k bigint, t bigint) with (
         |  'connector' = 'print');
         |insert into wtu_sink
         |select k, sum(s) as t from wtu_agg group by k;
         |""".stripMargin
    val file = Files.createTempFile("graft-wtu-", ".sql")
    Files.writeString(file, script)
    val e = intercept[Exception] {
      new SqlSubmitAction(file.toString, Map.empty,
        existingSession = Some(spark), durationSec = 10).run()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .toSeq
    assert(msgs.exists(_.contains("cannot run above another stateful")),
      msgs.mkString(" | "))
    // the rejection must NAME the two-statement recipe (INSERT INTO a
    // table from the windowed stage, TTL'd operator in its own
    // statement) — the residual surface a Flink user hits via the
    // pass-through route deserves the workaround, not just the no
    assert(msgs.exists(_.contains("INSERT INTO")), msgs.mkString(" | "))
  }

  // every UPDATING shape rejects above a stateful stage, not just the
  // plain GROUP BY: the TTL'd top-N and the rn=1 keep-first dedup are
  // the other two flatMapGroupsWithState-update operators the TTL
  // route compiles
  for (((shape, topStage), shapeIdx) <- Seq(
      "TTL'd top-N" ->
        """select k, s, rn from (
          |  select *, row_number() over (
          |    partition by k order by s desc) as rn
          |  from wtuAGG) where rn <= 3""".stripMargin,
      "rn=1 keep-first dedup" ->
        """select k, s, rn from (
          |  select *, row_number() over (
          |    partition by k order by s asc) as rn
          |  from wtuAGG) where rn = 1""".stripMargin).zipWithIndex) {
    test(s"a $shape above a windowed view rejects by name with the " +
        "two-statement recipe") {
      val spark = SparkFixture.spark
      // tests share one session — per-shape object names
      val script =
        s"""SET execution.runtime-mode = streaming;
           |SET table.exec.state.ttl = 60 s;
           |create table wtu${shapeIdx}_src (
           |  k bigint,
           |  seq bigint,
           |  ts as timestamp '2024-01-01 00:00:00' +
           |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 30 as int)),
           |  watermark for ts as ts - interval '1' second
           |) with ('connector' = 'datagen', 'rows-per-second' = '5',
           |  'fields.seq.kind' = 'sequence',
           |  'fields.seq.start' = '0', 'fields.seq.end' = '100000',
           |  'fields.k.min' = '0', 'fields.k.max' = '1');
           |create temporary view wtu${shapeIdx}_agg as
           |  select k, window_time, sum(seq) as s
           |  from table(tumble(table wtu${shapeIdx}_src, descriptor(ts),
           |    interval '1' minute))
           |  group by k, window_start, window_end, window_time;
           |create table wtu${shapeIdx}_sink (k bigint, s bigint,
           |  rn bigint) with ('connector' = 'print');
           |insert into wtu${shapeIdx}_sink
           |${topStage.replace("wtuAGG", s"wtu${shapeIdx}_agg")};
           |""".stripMargin
      val file = Files.createTempFile("graft-wtu2-", ".sql")
      Files.writeString(file, script)
      val e = intercept[Exception] {
        new SqlSubmitAction(file.toString, Map.empty,
          existingSession = Some(spark), durationSec = 10).run()
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
        .toSeq
      assert(msgs.exists(m => m.contains("cannot run above another " +
        "stateful") || m.contains("APPEND end-to-end")),
        msgs.mkString(" | "))
    }
  }

  test("a window-TVF view NOT projecting window_time stays unrecorded " +
      "and the downstream OVER raises the named watermark error") {
    val spark = SparkFixture.spark
    val script =
      s"""SET execution.runtime-mode = streaming;
         |create table wtn_src (
         |  k bigint,
         |  seq bigint,
         |  ts as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 30 as int)),
         |  watermark for ts as ts - interval '1' second
         |) with ('connector' = 'datagen', 'number-of-rows' = '2',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '1',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create temporary view wtn_agg as
         |  select k, window_end as we, sum(seq) as s
         |  from table(tumble(table wtn_src, descriptor(ts),
         |    interval '1' minute))
         |  group by k, window_start, window_end;
         |select k, sum(s) over (partition by k order by we) as rs
         |from wtn_agg;
         |""".stripMargin
    val file = Files.createTempFile("graft-wtn-", ".sql")
    Files.writeString(file, script)
    val e = intercept[Exception] {
      new SqlSubmitAction(file.toString, Map.empty,
        existingSession = Some(spark), durationSec = 10).run()
    }
    // window_end is NOT a rowtime attribute (Flink's law: only
    // window_time carries the attribute out)
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .toSeq
    assert(msgs.exists(_.contains("WATERMARK")), msgs.mkString(" | "))
  }

  private def versionedViewScript(mode: String, out: String,
      pre: String): String =
    s"""SET execution.runtime-mode = $mode;
       |create table ${pre}_log (
       |  k bigint,
       |  seq bigint,
       |  rt as timestamp '2024-01-01 00:00:00' +
       |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 100 as int)),
       |  rate as 100 + seq,
       |  watermark for rt as rt - interval '1' second
       |) with ('connector' = 'datagen', 'number-of-rows' = '4',
       |  'fields.seq.kind' = 'sequence',
       |  'fields.seq.start' = '0', 'fields.seq.end' = '3',
       |  'fields.k.min' = '0', 'fields.k.max' = '0');
       |create table ${pre}_orders (
       |  k bigint,
       |  seq bigint,
       |  ot as timestamp '2024-01-01 00:00:00' +
       |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 150 as int)),
       |  amount as seq * 10,
       |  watermark for ot as ot - interval '1' second
       |) with ('connector' = 'datagen', 'number-of-rows' = '3',
       |  'fields.seq.kind' = 'sequence',
       |  'fields.seq.start' = '0', 'fields.seq.end' = '2',
       |  'fields.k.min' = '0', 'fields.k.max' = '0');
       |create temporary view ${pre}_latest as
       |  select k, rt, rate from (
       |    select *, row_number() over (partition by k
       |      order by rt desc) as rn
       |    from ${pre}_log) where rn = 1;
       |create table ${pre}_sink (k bigint, amount bigint, rate bigint)
       |  with ('connector' = 'filesystem', 'path' = '$out/sink',
       |  'format' = 'parquet');
       |insert into ${pre}_sink
       |select o.k, o.amount, v.rate from ${pre}_orders o
       |join ${pre}_latest for system_time as of o.ot as v on v.k = o.k;
       |""".stripMargin

  for (mode <- Seq("batch", "streaming"))
    test(s"a versioned VIEW (rn = 1 dedup over a watermarked source) " +
        s"serves as the FOR SYSTEM_TIME version side, $mode mode (r19)") {
      val spark = SparkFixture.spark
      // versions for k=0 at 0/100/200/300 s (rates 100..103); probes
      // at 0/150/300 s -> latest version at-or-before each: 100, 101,
      // 103. The join must read the view's HISTORY (all four
      // versions), not its rn = 1 output (only the 300 s row) —
      // probe 150 s picking 101 proves the history substitution.
      val out = Files.createTempDirectory(s"graft-vvr-$mode").toString
      val file = Files.createTempFile(s"graft-vvr-$mode-", ".sql")
      Files.writeString(file, versionedViewScript(mode, out, s"vvr_$mode"))
      new SqlSubmitAction(file.toString, Map.empty,
        existingSession = Some(spark), durationSec = 30).run()
      val got = spark.read.parquet(s"$out/sink").collect()
        .map(r => (r.getAs[Long]("amount"), r.getAs[Long]("rate"))).toSet
      assert(got === Set((0L, 100L), (10L, 101L), (20L, 103L)), got.toString)
    }

  private def renamedVersionedViewScript(mode: String, out: String,
      pre: String, colListForm: Boolean): String = {
    val view =
      if (colListForm)
        s"""create temporary view ${pre}_latest (ck, vts, fx) as
           |  select k, rt, rate from (
           |    select *, row_number() over (partition by k
           |      order by rt desc) as rn
           |    from ${pre}_log) where rn = 1;""".stripMargin
      else
        s"""create temporary view ${pre}_latest as
           |  select k as ck, rt as vts, rate fx from (
           |    select *, row_number() over (partition by k
           |      order by rt desc) as rn
           |    from ${pre}_log) where rn = 1;""".stripMargin
    versionedViewScript(mode, out, pre)
      .replace(
        s"""create temporary view ${pre}_latest as
           |  select k, rt, rate from (
           |    select *, row_number() over (partition by k
           |      order by rt desc) as rn
           |    from ${pre}_log) where rn = 1;""".stripMargin, view)
      .replace(s"select o.k, o.amount, v.rate from ${pre}_orders o",
        s"select o.k, o.amount, v.fx as rate from ${pre}_orders o")
      .replace("on v.k = o.k", "on v.ck = o.k")
  }

  for (mode <- Seq("batch", "streaming"))
    test(s"a versioned view may RENAME key/time/payload columns in " +
        s"its projection (r20): the join resolves against the renamed " +
        s"surface, $mode mode") {
      val spark = SparkFixture.spark
      val out = Files.createTempDirectory(s"graft-vvn-$mode").toString
      val file = Files.createTempFile(s"graft-vvn-$mode-", ".sql")
      Files.writeString(file,
        renamedVersionedViewScript(mode, out, s"vvn_$mode",
          colListForm = false))
      new SqlSubmitAction(file.toString, Map.empty,
        existingSession = Some(spark), durationSec = 30).run()
      val got = spark.read.parquet(s"$out/sink").collect()
        .map(r => (r.getAs[Long]("amount"), r.getAs[Long]("rate"))).toSet
      assert(got === Set((0L, 100L), (10L, 101L), (20L, 103L)), got.toString)
    }

  test("a CREATE VIEW column-alias LIST renames a versioned view's " +
      "surface positionally too (r20)") {
    val spark = SparkFixture.spark
    val out = Files.createTempDirectory("graft-vvl").toString
    val file = Files.createTempFile("graft-vvl-", ".sql")
    Files.writeString(file,
      renamedVersionedViewScript("batch", out, "vvl", colListForm = true))
    new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(spark), durationSec = 10).run()
    val got = spark.read.parquet(s"$out/sink").collect()
      .map(r => (r.getAs[Long]("amount"), r.getAs[Long]("rate"))).toSet
    assert(got === Set((0L, 100L), (10L, 101L), (20L, 103L)), got.toString)
  }

  test("a column-alias list outside the identifier charset keeps the " +
      "versioned-view rejection instead of failing on generated SQL " +
      "(r20 review)") {
    val spark = SparkFixture.spark
    val out = Files.createTempDirectory("graft-vvb").toString
    val script =
      renamedVersionedViewScript("batch", out, "vvb", colListForm = true)
        .replace("(ck, vts, fx)", "(`c k`, vts, fx)")
        .replace("on v.ck = o.k", "on v.`c k` = o.k")
    val file = Files.createTempFile("graft-vvb-", ".sql")
    Files.writeString(file, script)
    val e = intercept[Exception] {
      new SqlSubmitAction(file.toString, Map.empty,
        existingSession = Some(spark), durationSec = 10).run()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .toSeq
    assert(msgs.exists(_.contains("versioned")), msgs.mkString(" | "))
  }

  test("a versioned view may sit over another VIEW of the watermarked " +
      "source (r19: Flink accepts dedup views over views)") {
    val spark = SparkFixture.spark
    val out = Files.createTempDirectory("graft-vvw").toString
    val script =
      s"""SET execution.runtime-mode = batch;
         |create table vvw_log (
         |  k bigint,
         |  seq bigint,
         |  rt as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 100 as int)),
         |  rate as 100 + seq,
         |  watermark for rt as rt - interval '1' second
         |) with ('connector' = 'datagen', 'number-of-rows' = '4',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '3',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create table vvw_orders (
         |  k bigint,
         |  seq bigint,
         |  ot as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 150 as int)),
         |  amount as seq * 10,
         |  watermark for ot as ot - interval '1' second
         |) with ('connector' = 'datagen', 'number-of-rows' = '3',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '2',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create temporary view vvw_feed as
         |  select k, rt, rate from vvw_log;
         |create temporary view vvw_latest as
         |  select k, rt, rate from (
         |    select *, row_number() over (partition by k
         |      order by rt desc) as rn
         |    from vvw_feed) where rn = 1;
         |create table vvw_sink (k bigint, amount bigint, rate bigint)
         |  with ('connector' = 'filesystem', 'path' = '$out/sink',
         |  'format' = 'parquet');
         |insert into vvw_sink
         |select o.k, o.amount, v.rate from vvw_orders o
         |join vvw_latest for system_time as of o.ot as v on v.k = o.k;
         |""".stripMargin
    val file = Files.createTempFile("graft-vvw-", ".sql")
    Files.writeString(file, script)
    new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(spark), durationSec = 10).run()
    val got = spark.read.parquet(s"$out/sink").collect()
      .map(r => (r.getAs[Long]("amount"), r.getAs[Long]("rate"))).toSet
    assert(got === Set((0L, 100L), (10L, 101L), (20L, 103L)), got.toString)
  }

  test("DROP VIEW evicts the versioned view's derived history " +
      "VersionMeta too (r20 advice: stale graft_vv_* entries must not " +
      "outlive their view)") {
    val spark = SparkFixture.spark
    // run 1 proves the seam observes the entry after a temporal join
    // used the view; run 2 appends a DROP VIEW and must leave no trace
    val out1 = Files.createTempDirectory("graft-vve").toString
    val f1 = Files.createTempFile("graft-vve-", ".sql")
    Files.writeString(f1, versionedViewScript("batch", out1, "vve"))
    val a1 = new SqlSubmitAction(f1.toString, Map.empty,
      existingSession = Some(spark), durationSec = 10)
    a1.run()
    assert(a1.versionedHistoryRegistered(
      TemporalJoin.historyNameOf("vve_latest")))
    val out2 = Files.createTempDirectory("graft-vvd").toString
    val f2 = Files.createTempFile("graft-vvd-", ".sql")
    Files.writeString(f2, versionedViewScript("batch", out2, "vvd") +
      "drop view vvd_latest;\n")
    val a2 = new SqlSubmitAction(f2.toString, Map.empty,
      existingSession = Some(spark), durationSec = 10)
    a2.run()
    assert(!a2.versionedHistoryRegistered(
      TemporalJoin.historyNameOf("vvd_latest")))
  }

  test("an IMPLICIT comma join beside a pattern or temporal region " +
      "also drops the rowtime (r19 review: `FROM t, dim` is the same " +
      "regular join)") {
    val spark = SparkFixture.spark
    // batch mode: both views CREATE fine; the registry must stay
    // empty — Flink drops time attributes through comma joins exactly
    // like the JOIN keyword
    val script =
      s"""SET execution.runtime-mode = batch;
         |create table cjg_dim (
         |  k bigint, tag bigint
         |) with ('connector' = 'datagen', 'number-of-rows' = '1',
         |  'fields.k.min' = '0', 'fields.k.max' = '0',
         |  'fields.tag.min' = '7', 'fields.tag.max' = '7');
         |create table cjg_rates (
         |  k bigint,
         |  seq bigint,
         |  rt as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 100 as int)),
         |  rate as 100 + seq,
         |  primary key (k) not enforced,
         |  watermark for rt as rt - interval '1' second
         |) with ('connector' = 'datagen', 'number-of-rows' = '3',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '2',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create table cjg_src (
         |  k bigint,
         |  seq bigint,
         |  t as case when seq % 3 = 2 then 'b' else 'a' end,
         |  ts as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 30 as int)),
         |  watermark for ts as ts - interval '1' second
         |) with ('connector' = 'datagen', 'number-of-rows' = '9',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '8',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create temporary view cjg_pat as
         |  select p.k, p.mrt, p.na, d.tag
         |  from (
         |    select * from cjg_src match_recognize (
         |      partition by k order by ts
         |      measures match_rowtime() as mrt, count(a.*) as na
         |      one row per match after match skip past last row
         |      pattern (a+ b)
         |      define a as t = 'a', b as t = 'b')) p, cjg_dim d
         |  where d.k = p.k;
         |create temporary view cjg_tj as
         |  select p.k, p.ts, r.rate, d.tag
         |  from cjg_src p
         |  join cjg_rates for system_time as of p.ts as r on r.k = p.k,
         |  cjg_dim d
         |  where d.k = p.k;
         |create temporary view cjg_plainstream as
         |  select s.k, s.ts, d.tag
         |  from cjg_src s, cjg_dim d
         |  where d.k = s.k;
         |create temporary view cjg_dimfirst as
         |  select s.k, s.ts, d.tag
         |  from cjg_dim d, cjg_src s
         |  where d.k = s.k;
         |create table cjg_src2 (
         |  k bigint,
         |  seq bigint,
         |  ts2 as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 30 as int)),
         |  watermark for ts2 as ts2 - interval '1' second
         |) with ('connector' = 'datagen', 'number-of-rows' = '9',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '8',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create temporary view cjg_ss as
         |  select a.k, a.ts
         |  from cjg_src a, cjg_src2 b
         |  where a.k = b.k;
         |create temporary view cjg_tvf as
         |  select w.k, window_time, d.tag, sum(w.seq) as s
         |  from table(tumble(table cjg_src, descriptor(ts),
         |    interval '1' minute)) w, cjg_dim d
         |  where w.k = d.k
         |  group by w.k, window_start, window_end, window_time, d.tag;
         |create temporary view cjg_wrap as
         |  select k, mrt, na from (
         |    select p.k, p.mrt, p.na, d.tag
         |    from (
         |      select * from cjg_src match_recognize (
         |        partition by k order by ts
         |        measures match_rowtime() as mrt, count(a.*) as na
         |        one row per match after match skip past last row
         |        pattern (a+ b)
         |        define a as t = 'a', b as t = 'b')) p, cjg_dim d
         |    where d.k = p.k) w;
         |""".stripMargin
    val file = Files.createTempFile("graft-cjg-", ".sql")
    Files.writeString(file, script)
    val action = new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(spark), durationSec = 10)
    action.run()
    assert(action.registeredRowtimeOf("cjg_pat").isEmpty,
      "comma join beside MATCH_RECOGNIZE must drop the rowtime")
    assert(action.registeredRowtimeOf("cjg_tj").isEmpty,
      "comma join beside a temporal join must drop the probe rowtime")
    // the PLAIN branch's comma join routes through the stream-static
    // lookup validation like the JOIN keyword does (both sides batch
    // here: one watermarked relation, one dim) — the r16 mapping
    // registers the stream side's attribute either way
    assert(action.registeredRowtimeOf("cjg_plainstream")
      .exists(_._1.equalsIgnoreCase("ts")),
      "plain comma-join view keeps the lookup-join mapping")
    // the lookup mapping is ORDER-INDEPENDENT (r19 second pass: the
    // relation scan sees comma positions too)
    assert(action.registeredRowtimeOf("cjg_dimfirst")
      .exists(_._1.equalsIgnoreCase("ts")),
      "dim-first comma join keeps the lookup-join mapping")
    // a stream-STREAM comma join drops the attribute like its JOIN
    // twin (two watermarked relations: not a lookup shape)
    assert(action.registeredRowtimeOf("cjg_ss").isEmpty,
      "comma join of two watermarked tables must not register")
    // a window-TVF aggregation beside a comma join drops window_time
    assert(action.registeredRowtimeOf("cjg_tvf").isEmpty,
      "comma join beside a TVF aggregation must drop window_time")
    // a comma join one subquery DOWN drops the pattern rowtime too
    assert(action.registeredRowtimeOf("cjg_wrap").isEmpty,
      "nested comma join below a wrapper must drop the rowtime")
  }

  test("a non-relation comma whose next token matches a watermarked " +
      "name no longer poses as a second relation (r20 advice: the " +
      "lookup-join view must register)") {
    val spark = SparkFixture.spark
    // cmf_dim carries a COLUMN literally named after the watermarked
    // stream; the subquery select list's `, cmf_src` is not a relation
    // position, so the lookup-shape count must stay at one and the
    // view's rowtime must register
    val script =
      s"""SET execution.runtime-mode = batch;
         |create table cmf_src (
         |  k bigint,
         |  seq bigint,
         |  ts as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 30 as int)),
         |  watermark for ts as ts - interval '1' second
         |) with ('connector' = 'datagen', 'number-of-rows' = '3',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '2',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create table cmf_dim (
         |  tag bigint, cmf_src bigint
         |) with ('connector' = 'datagen', 'number-of-rows' = '1',
         |  'fields.tag.min' = '7', 'fields.tag.max' = '7',
         |  'fields.cmf_src.min' = '0', 'fields.cmf_src.max' = '0');
         |create temporary view cmf_enrich as
         |  select s.k, s.ts, x.tag
         |  from cmf_src s
         |  join (select tag, cmf_src from cmf_dim) x on x.cmf_src = s.k;
         |""".stripMargin
    val file = Files.createTempFile("graft-cmf-", ".sql")
    Files.writeString(file, script)
    val action = new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(spark), durationSec = 10)
    action.run()
    assert(action.registeredRowtimeOf("cmf_enrich")
      .exists(_._1.equalsIgnoreCase("ts")),
      "the select-list comma must not inflate the lookup-shape count")
  }

  test("a NON-versioned view in temporal position rejects by name " +
      "with the versioned-view recipe (r19)") {
    val spark = SparkFixture.spark
    // ASC ordering is keep-FIRST deduplication — not a version
    // history; the join must fail with the named contract, never
    // silently join against the deduped output
    val out = Files.createTempDirectory("graft-vvx").toString
    val script = versionedViewScript("batch", out, "vvx")
      .replace("order by rt desc", "order by rt asc")
    val file = Files.createTempFile("graft-vvx-", ".sql")
    Files.writeString(file, script)
    val e = intercept[Exception] {
      new SqlSubmitAction(file.toString, Map.empty,
        existingSession = Some(spark), durationSec = 10).run()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .toSeq
    assert(msgs.exists(_.contains("versioned")), msgs.mkString(" | "))
  }

  /** Runs `views` in batch mode over a watermarked source `<pre>_src`
    * (event time ts) and a static `<pre>_dim`, returning the action. */
  private def registryRun(pre: String, views: String): SqlSubmitAction = {
    val script =
      s"""SET execution.runtime-mode = batch;
         |create table ${pre}_src (
         |  k bigint,
         |  seq bigint,
         |  ts as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 30 as int)),
         |  watermark for ts as ts - interval '1' second
         |) with ('connector' = 'datagen', 'number-of-rows' = '3',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '2',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create table ${pre}_src2 (
         |  k bigint,
         |  seq bigint,
         |  ts2 as timestamp '2024-01-01 00:00:00' +
         |    make_interval(0, 0, 0, 0, 0, 0, cast(seq * 30 as int)),
         |  watermark for ts2 as ts2 - interval '1' second
         |) with ('connector' = 'datagen', 'number-of-rows' = '3',
         |  'fields.seq.kind' = 'sequence',
         |  'fields.seq.start' = '0', 'fields.seq.end' = '2',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |create table ${pre}_dim (
         |  k bigint, tag bigint
         |) with ('connector' = 'datagen', 'number-of-rows' = '1',
         |  'fields.k.min' = '0', 'fields.k.max' = '0');
         |$views""".stripMargin
    val file = Files.createTempFile(s"graft-$pre-", ".sql")
    Files.writeString(file, script)
    val action = new SqlSubmitAction(file.toString, Map.empty,
      existingSession = Some(SparkFixture.spark), durationSec = 10)
    action.run()
    action
  }

  test("Flink's DROP TEMPORARY VIEW runs as Spark's DROP VIEW and " +
      "evicts the view's rowtime record") {
    val action = registryRun("dtv",
      """create temporary view dtv_kept as select k, ts from dtv_src;
        |create temporary view dtv_v as select k, ts from dtv_src;
        |drop temporary view dtv_v;
        |drop temporary view if exists dtv_never;
        |""".stripMargin)
    assert(action.registeredRowtimeOf("dtv_v").isEmpty)
    assert(!SparkFixture.spark.catalog.tableExists("dtv_v"))
    assert(action.registeredRowtimeOf("dtv_kept").contains(("ts", "1 seconds")))
  }

  test("Flink's CREATE TEMPORARY VIEW IF NOT EXISTS runs, and a second " +
      "one keeps the first definition and its rowtime") {
    val action = registryRun("cne",
      """create temporary view if not exists cne_v as select k, ts from cne_src;
        |create temporary view if not exists cne_v as select k from cne_src;
        |""".stripMargin)
    assert(action.viewDefs.get("cne_v").contains("select k, ts from cne_src"))
    assert(action.registeredRowtimeOf("cne_v").contains(("ts", "1 seconds")))
    assert(SparkFixture.spark.table("cne_v").columns.toSeq == Seq("k", "ts"))
  }

  test("a view's recorded definition is all the text after AS, block " +
      "comments and parentheses included, and comments or a TABLE body " +
      "keep its rowtime") {
    val action = registryRun("vdt",
      """create temporary view vdt_tail as select k, ts from vdt_src /* note */;
        |create temporary view vdt_lead as /* c */ (select k, ts from vdt_src);
        |create temporary view vdt_table as table vdt_src;
        |""".stripMargin)
    assert(action.viewDefs.get("vdt_tail")
      .contains("select k, ts from vdt_src /* note */"))
    assert(action.viewDefs.get("vdt_lead")
      .contains("/* c */ (select k, ts from vdt_src)"))
    for (v <- Seq("vdt_tail", "vdt_lead", "vdt_table"))
      assert(action.registeredRowtimeOf(v).contains(("ts", "1 seconds")), v)
  }

  test("subquery WRAPPERS, a parenthesized body and a COMMENT clause " +
      "keep a plain view's rowtime: projections and filters keep it " +
      "at every SELECT level") {
    val action = registryRun("pwr",
      """create temporary view pwr_star as
        |  select * from (select k, ts from pwr_src) w;
        |create temporary view pwr_qual as
        |  select w.ts as rt, w.k from (select k, ts from pwr_src) w
        |  where k >= 0;
        |create temporary view pwr_paren as (select k, ts from pwr_src);
        |create temporary view pwr_comment comment 'c' as
        |  select k, ts from pwr_src;
        |""".stripMargin)
    assert(action.registeredRowtimeOf("pwr_star").contains(("ts", "1 seconds")))
    assert(action.registeredRowtimeOf("pwr_qual").contains(("rt", "1 seconds")))
    assert(action.registeredRowtimeOf("pwr_paren").contains(("ts", "1 seconds")))
    assert(action.registeredRowtimeOf("pwr_comment")
      .contains(("ts", "1 seconds")))
  }

  test("a GROUP BY inside a WHERE subquery over a static table does " +
      "not drop the outer view's rowtime") {
    val action = registryRun("igb",
      """create temporary view igb_v as
        |  select k, ts from igb_src
        |  where k in (select k from igb_dim group by k);
        |""".stripMargin)
    assert(action.registeredRowtimeOf("igb_v").contains(("ts", "1 seconds")))
  }

  test("a stream-static join keeps the stream's rowtime below a " +
      "wrapper and over a subquery of the stream") {
    val action = registryRun("jwr",
      """create temporary view jwr_wrapped as
        |  select * from (
        |    select s.k, s.ts, d.tag from jwr_src s
        |    join jwr_dim d on d.k = s.k) w;
        |create temporary view jwr_inner as
        |  select x.k, x.ts, d.tag from (select * from jwr_src) x
        |  join jwr_dim d on d.k = x.k;
        |""".stripMargin)
    assert(action.registeredRowtimeOf("jwr_wrapped")
      .contains(("ts", "1 seconds")))
    assert(action.registeredRowtimeOf("jwr_inner")
      .contains(("ts", "1 seconds")))
  }

  test("a versioned (rn = 1 dedup) view keeps its source's rowtime, " +
      "renamed through a column-alias list too") {
    val dedup =
      """select k, ts, seq from (select *, row_number() over (
        |  partition by k order by ts desc) as rn from vvr2_src)
        |where rn = 1""".stripMargin
    val action = registryRun("vvr2",
      s"""create temporary view vvr2_latest as $dedup;
         |create temporary view vvr2_named (ck, vts, s) as $dedup;
         |""".stripMargin)
    assert(action.registeredRowtimeOf("vvr2_latest")
      .contains(("ts", "1 seconds")))
    assert(action.registeredRowtimeOf("vvr2_named")
      .contains(("vts", "1 seconds")))
  }

  test("DISTINCT and a semi-join against a second stream drop the " +
      "rowtime: Flink's aggregation and regular-join laws") {
    val action = registryRun("dsj",
      """create temporary view dsj_distinct as
        |  select distinct k, ts from dsj_src;
        |create temporary view dsj_semi as
        |  select k, ts from dsj_src where k in (select k from dsj_src2);
        |""".stripMargin)
    assert(action.registeredRowtimeOf("dsj_distinct").isEmpty)
    assert(action.registeredRowtimeOf("dsj_semi").isEmpty)
  }
}
