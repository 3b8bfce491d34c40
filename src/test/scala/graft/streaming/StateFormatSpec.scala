package graft.streaming

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint format stamping: a durable checkpoint directory carries
  * the tracker state-format versions, and an incompatible restore
  * fails with the named contract error instead of a Spark encoder
  * stack trace.
  */
class StateFormatSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft-sf-").toString

  test("fresh directory is stamped and passes repeat checks") {
    val dir = tmp() + "/cp"
    StateFormat.check(spark, dir)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "graft-state-format.json")))
    // an unchanged build re-opens its own checkpoint freely
    StateFormat.check(spark, dir)
  }

  test("synthetically old stamp fails with the named error") {
    val dir = tmp() + "/cp"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "graft-state-format.json"),
      """{"patternTracker": 2, "cumulateTracker": 1}""")
    val e = intercept[IllegalStateException](StateFormat.check(spark, dir))
    assert(e.getMessage.contains("incompatible streaming state"),
      s"message: ${e.getMessage}")
    assert(e.getMessage.contains("fresh checkpoint"),
      s"message: ${e.getMessage}")
  }

  test("round-13 stamp (no top-N keys) fails by name — the r14 state break") {
    // TopNState gained (we, null-flag) fields and RankedRow a
    // null-flag between rounds 13 and 14; a r13 checkpoint predates
    // the topNTracker/unboundedTopN stamp keys, so its restore must
    // fail the named check (absent key reads as v0), never die in the
    // encoder
    val dir = tmp() + "/cp"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "graft-state-format.json"),
      """{"patternTracker": 3, "cumulateTracker": 1}""")
    val e = intercept[IllegalStateException](StateFormat.check(spark, dir))
    assert(e.getMessage.contains("topNTracker v0"), s"message: ${e.getMessage}")
    assert(e.getMessage.contains("unboundedTopN v0"),
      s"message: ${e.getMessage}")
  }

  test("round-17 stamp (no temporal/TTL keys) fails by name") {
    // TemporalRowState / TtlTopNState / UnboundedAggState became
    // checkpointable in rounds 16/17 but were stamped only in round
    // 18; a r17 checkpoint carries the seven older keys and none of
    // the three new ones, so its restore must fail the named check
    // (absent key reads as v0) — never die in the encoder if those
    // state carriers ever change shape
    val dir = tmp() + "/cp"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "graft-state-format.json"),
      """{"patternTracker": 3, "cumulateTracker": 3, "topNTracker": 4,
        | "unboundedTopN": 2, "gridAggTracker": 2,
        | "sessionAggTracker": 2, "overAggTracker": 2}""".stripMargin)
    val e = intercept[IllegalStateException](StateFormat.check(spark, dir))
    assert(e.getMessage.contains("temporalJoinTracker v0"),
      s"message: ${e.getMessage}")
    assert(e.getMessage.contains("ttlTopNTracker v0"),
      s"message: ${e.getMessage}")
    assert(e.getMessage.contains("unboundedAggTracker v0"),
      s"message: ${e.getMessage}")
  }

  test("grid v2 stamp (per-aggregate grid accumulators) fails by name") {
    // GridAggState went from per-(window, aggregate) accumulator rows
    // to per-window GridWin rows of CumAcc: a checkpoint stamped with
    // every current key but gridAggTracker v2 holds the old shape, so
    // its restore must fail the named check, never die in the encoder
    val dir = tmp() + "/cp"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "graft-state-format.json"),
      s"""{"patternTracker": ${StateFormat.PatternTrackerVersion},
         | "cumulateTracker": ${StateFormat.CumulateTrackerVersion},
         | "topNTracker": ${StateFormat.TopNTrackerVersion},
         | "unboundedTopN": ${StateFormat.UnboundedTopNVersion},
         | "gridAggTracker": 2,
         | "sessionAggTracker": ${StateFormat.SessionAggTrackerVersion},
         | "overAggTracker": ${StateFormat.OverAggTrackerVersion},
         | "temporalJoinTracker": ${StateFormat.TemporalJoinTrackerVersion},
         | "ttlTopNTracker": ${StateFormat.TtlTopNTrackerVersion},
         | "unboundedAggTracker": ${StateFormat.UnboundedAggTrackerVersion}}
         |""".stripMargin)
    val e = intercept[IllegalStateException](StateFormat.check(spark, dir))
    assert(e.getMessage.contains("gridAggTracker v2"),
      s"message: ${e.getMessage}")
    assert(e.getMessage.contains("incompatible streaming state"),
      s"message: ${e.getMessage}")
  }

  test("current stamp lists every checkpointable tracker state") {
    // the stamp's reason to exist: any state carrier a durable
    // checkpoint can hold must have a version key — pin the full key
    // set so adding a tracker without stamping it fails THIS spec
    // instead of silently restoring old state through a new encoder
    val dir = tmp() + "/cp"
    StateFormat.check(spark, dir)
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "graft-state-format.json"))
    for (k <- Seq("patternTracker", "cumulateTracker", "topNTracker",
        "unboundedTopN", "gridAggTracker", "sessionAggTracker",
        "overAggTracker", "temporalJoinTracker", "ttlTopNTracker",
        "unboundedAggTracker"))
      assert(text.contains("\"" + k + "\""), s"stamp missing $k: $text")
  }

  test("unstamped non-empty checkpoint (pre-versioning build) fails") {
    val dir = tmp() + "/cp"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "offsets"))
    val e = intercept[IllegalStateException](StateFormat.check(spark, dir))
    assert(e.getMessage.contains("incompatible streaming state"),
      s"message: ${e.getMessage}")
  }

  test("harness checkpoints under state.checkpoints.dir and recovers") {
    // a durable checkpoint base makes the CLI's streaming queries
    // recoverable across runs — the directory must be stable, stamped,
    // and reusable by the same build
    val base = tmp()
    val script = java.nio.file.Files.createTempFile("sf-cp", ".sql")
    val out = tmp()
    def runOnce(): Unit = {
      new graft.harness.SqlSubmitAction(script.toString, Map.empty,
        Some(spark), durationSec = 15L).run()
    }
    java.nio.file.Files.writeString(script,
      // no number-of-rows: a bounded datagen registers as a BATCH view
      // and would bypass the streaming checkpoint path entirely
      s"""SET execution.runtime-mode = streaming;
         |SET execution.checkpointing.enabled = true;
         |SET state.checkpoints.dir = file://$base;
         |SET pipeline.name = sfdemo;
         |create table src (
         |  id bigint,
         |  row_time as current_timestamp,
         |  watermark for row_time as row_time - interval '1' second
         |) with (
         |  'connector' = 'datagen',
         |  'rows-per-second' = '20'
         |);
         |create table snk (id bigint, n bigint) with (
         |  'connector' = 'filesystem',
         |  'path' = 'file://$out/sink',
         |  'format' = 'parquet'
         |);
         |insert into snk
         |SELECT id, COUNT(*) AS n FROM src
         |GROUP BY id, window(row_time, '2 seconds');
         |""".stripMargin)
    runOnce()
    val cp = java.nio.file.Paths.get(base, "sfdemo-snk")
    assert(java.nio.file.Files.exists(cp.resolve("graft-state-format.json")))
    assert(java.nio.file.Files.exists(cp.resolve("offsets")))
    // same build restarts against the same checkpoint without error
    runOnce()
  }
}
