package graft.harness

import graft.SparkFixture
import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

/** How `sql-submit` sizes the shuffle and state partitions of a session
  * it builds ([[SqlSubmitAction.shufflePartitions]]), and what still
  * overrides that size.
  */
class ShufflePartitionsSpec extends AnyFunSuite {

  test("an explicit spark.sql.shuffle.partitions wins over the cores") {
    val conf = new SparkConf(false).set("spark.sql.shuffle.partitions", "32")
    assert(SqlSubmitAction.shufflePartitions(conf, 4) == 32)
  }

  test("with no explicit count, the count is defaultParallelism") {
    val conf = new SparkConf(false)
    assert(SqlSubmitAction.shufflePartitions(conf, 4) == 4)
    assert(SqlSubmitAction.shufflePartitions(conf, 96) == 96)
  }

  test("a caller's session keeps its count; SET parallelism.default " +
      "still lands") {
    val spark = SparkFixture.spark
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val script = java.nio.file.Files.createTempFile("graft-parts", ".sql")
    def submit(sql: String): String = {
      java.nio.file.Files.writeString(script, sql)
      new SqlSubmitAction(script.toString, Map.empty, Some(spark)).run()
      spark.conf.get("spark.sql.shuffle.partitions")
    }
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "5")
      assert(submit("SET pipeline.name = parts;") == "5")
      assert(submit("SET parallelism.default = 7;") == "7")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }
}
