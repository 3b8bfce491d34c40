package graft

import graft.harness.SqlSubmitAction
import org.apache.spark.sql.SparkSession

/** One shared local session for all specs (sessions are expensive). */
object SparkFixture {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new graft.functions.GraftSparkExtensions)
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the checkpoint file manager sql-submit runs streams on
      .config(SqlSubmitAction.CheckpointManagerKey, SqlSubmitAction.CheckpointManager)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
