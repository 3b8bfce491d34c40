package graft.operators

import graft.{SparkEntry, SparkFixture, Verify}
import org.scalatest.funsuite.AnyFunSuite

/** Guards the oracle-checker contract: the driver's pandas comparator
  * can only sort/hash atomic top-level columns, so every registered
  * query must return scalars only (the q87 lesson from round 10 — an
  * array-typed output column errored the checker, not the query).
  * The sweep builds each registered query's analyzed schema (no
  * execution) and runs the same guard Verify.main applies at dump
  * time.
  */
class SchemaGuardSpec extends AnyFunSuite {

  test("assertAtomicSchema rejects array, map and struct columns") {
    import org.apache.spark.sql.types._
    val bad = StructType(Seq(
      StructField("k", IntegerType),
      StructField("segs", ArrayType(StringType))))
    val e = intercept[IllegalStateException] {
      Verify.assertAtomicSchema("q_bad", bad)
    }
    assert(e.getMessage.contains("q_bad"))
    assert(e.getMessage.contains("segs"))
    Verify.assertAtomicSchema("q_map_bad_expected", StructType(Seq(
      StructField("k", IntegerType)))) // atomic-only passes
    intercept[IllegalStateException] {
      Verify.assertAtomicSchema("q_map", StructType(Seq(
        StructField("m", MapType(StringType, IntegerType)))))
    }
    intercept[IllegalStateException] {
      Verify.assertAtomicSchema("q_struct", StructType(Seq(
        StructField("s", StructType(Seq(StructField("x", LongType)))))))
    }
  }

  test("registry names are distinct and every oracle names a query") {
    // SparkEntry.queries is built with toMap: a repeated name would
    // silently drop one query from Bench, Verify and the oracle
    val names = SparkEntry.registry.map(_.name)
    val repeated = names.diff(names.distinct)
    assert(repeated.isEmpty, s"repeated query names: $repeated")
    val orphans = SparkEntry.oracleSql.keySet -- names
    assert(orphans.isEmpty, s"oracle SQL without a query: $orphans")
  }

  test("every registered query has an atomic top-level schema") {
    val spark = SparkFixture.spark
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          Verify.assertAtomicSchema(
            name, fn(spark, "/root/testdata/sf0.001").schema)
          None
        } catch {
          case e: IllegalStateException => Some(e.getMessage)
        }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
