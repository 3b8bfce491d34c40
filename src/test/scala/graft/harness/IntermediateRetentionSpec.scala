package graft.harness

import java.nio.file.{Files, Path => JPath}
import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for the auto-split retention sweeper (r20): the
  * commit-gated deletion law over crafted checkpoint layouts — the
  * e2e reading rides AutoSplitSpec.
  */
class IntermediateRetentionSpec extends AnyFunSuite {

  private val conf = new org.apache.hadoop.conf.Configuration()

  private def write(p: JPath, text: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, text): Unit
  }

  private def entry(path: JPath, ts: Long, batch: Long): String =
    s"""{"path":"file://$path","timestamp":$ts,"batchId":$batch}"""

  /** intermediate with n data files + a consumer checkpoint that has
    * committed `committed` batches (one file per batch). */
  private def scaffold(tag: String, files: Int, committed: Int)
      : (JPath, JPath, Seq[JPath]) = {
    val mat = Files.createTempDirectory(s"graft-ret-$tag-mat")
    val ckpt = Files.createTempDirectory(s"graft-ret-$tag-ckpt")
    val data = (0 until files).map { i =>
      val f = mat.resolve(f"part-$i%05d.snappy.parquet")
      write(f, s"data$i")
      f
    }
    write(mat.resolve("_spark_metadata/0"), "v1\n{}")
    val logLines = data.zipWithIndex.map { case (f, i) =>
      entry(f, 1000L + i, i.toLong) }
    (0 until files).foreach { i =>
      write(ckpt.resolve(s"sources/0/$i"), s"v1\n${logLines(i)}")
    }
    (0 until committed).foreach { i =>
      write(ckpt.resolve(s"commits/$i"), "v1\n{}")
    }
    (mat, ckpt, data)
  }

  test("deletes exactly the committed-by-all, past-horizon files " +
      "behind the one-batch safety margin; never the manifest") {
    val (mat, ckpt, data) = scaffold("basic", files = 4, committed = 3)
    val n = IntermediateRetention.sweep(conf, mat.toString,
      Seq(ckpt.toString), retentionMs = 0L)
    assert(n === 2, n.toString)
    assert(!Files.exists(data(0)) && !Files.exists(data(1)))
    assert(Files.exists(data(2)),
      "the newest committed batch's file is the safety margin")
    assert(Files.exists(data(3)), "uncommitted batch's file must survive")
    assert(Files.exists(mat.resolve("_spark_metadata/0")))
  }

  test("the horizon is relative to the newest entry behind the " +
      "margin, not wall clock") {
    val (mat, ckpt, data) = scaffold("hor", files = 3, committed = 3)
    // delete frontier = batches 0..1 (ts 1000, 1001); retention 1 ms
    // keeps ts 1001, deletes ts 1000 — wall clock plays no part
    val n = IntermediateRetention.sweep(conf, mat.toString,
      Seq(ckpt.toString), retentionMs = 1L)
    assert(n === 1, n.toString)
    assert(!Files.exists(data(0)))
    assert(Files.exists(data(1)) && Files.exists(data(2)))
  }

  test("a consumer with no commits yet blocks all deletion (fail-safe)") {
    val (mat, ckptA, data) = scaffold("block", files = 2, committed = 2)
    val ckptB = Files.createTempDirectory("graft-ret-block-ckptB")
    val n = IntermediateRetention.sweep(conf, mat.toString,
      Seq(ckptA.toString, ckptB.toString), retentionMs = 0L)
    assert(n === 0)
    assert(data.forall(Files.exists(_)))
  }

  test("multi-consumer: only the intersection of committed files is " +
      "deletable") {
    val (mat, ckptA, data) = scaffold("multi", files = 3, committed = 3)
    // consumer B read the same files but committed only batches 0-1
    // (its delete frontier is batch 0 behind the safety margin)
    val ckptB = Files.createTempDirectory("graft-ret-multi-ckptB")
    data.zipWithIndex.foreach { case (f, i) =>
      write(ckptB.resolve(s"sources/0/$i"),
        s"v1\n${entry(f, 1000L + i, i.toLong)}")
    }
    write(ckptB.resolve("commits/0"), "v1\n{}")
    write(ckptB.resolve("commits/1"), "v1\n{}")
    val n = IntermediateRetention.sweep(conf, mat.toString,
      Seq(ckptA.toString, ckptB.toString), retentionMs = 0L)
    assert(n === 1, n.toString)
    assert(!Files.exists(data(0)))
    assert(Files.exists(data(1)) && Files.exists(data(2)))
  }

  test("JSON-escaped paths in the source log still match (unescape " +
      "before the qualified-prefix comparison)") {
    val (mat, ckpt, data) = scaffold("esc", files = 3, committed = 3)
    // rewrite the delete-frontier entries with writer-escaped paths:
    // batch 0 escapes '/' as '\/', batch 1 escapes a letter as \uXXXX
    // — both must still compare equal to the listed file paths
    val slashEsc = s"file://${data(0)}".replace("/", "\\/")
    val p1 = s"file://${data(1)}"
    val idx = p1.lastIndexOf("part-")
    val uniEsc = p1.substring(0, idx) +
      "\\u0070" + p1.substring(idx + 1) // 'p' of part- as p
    write(ckpt.resolve("sources/0/0"),
      s"""v1\n{"path":"$slashEsc","timestamp":1000,"batchId":0}""")
    write(ckpt.resolve("sources/0/1"),
      s"""v1\n{"path":"$uniEsc","timestamp":1001,"batchId":1}""")
    val n = IntermediateRetention.sweep(conf, mat.toString,
      Seq(ckpt.toString), retentionMs = 0L)
    assert(n === 2, n.toString)
    assert(!Files.exists(data(0)) && !Files.exists(data(1)))
    assert(Files.exists(data(2)), "safety margin")
  }

  test("a \\u without four hex digits passes through literally instead " +
      "of failing the sweep") {
    val (mat, ckpt, data) = scaffold("badesc", files = 3, committed = 3)
    // batch 0's path carries a non-hex \u, batch 1's ends in a cut-off
    // one: neither names a listed file, so neither file is deleted,
    // and the sweep still runs to the end
    val p0 = s"file://${data(0)}"
    val i0 = p0.lastIndexOf("part-")
    val nonHex = p0.substring(0, i0) + "\\uZZZZ" + p0.substring(i0)
    val cutOff = s"file://${data(1)}\\u12"
    write(ckpt.resolve("sources/0/0"),
      s"""v1\n{"path":"$nonHex","timestamp":1000,"batchId":0}""")
    write(ckpt.resolve("sources/0/1"),
      s"""v1\n{"path":"$cutOff","timestamp":1001,"batchId":1}""")
    val n = IntermediateRetention.sweep(conf, mat.toString,
      Seq(ckpt.toString), retentionMs = 0L)
    assert(n === 0, n.toString)
    assert(data.forall(Files.exists(_)))
    // the same log with batch 0's file named correctly deletes it: the
    // malformed entry beside it does not stop the sweep
    write(ckpt.resolve("sources/0/0"),
      s"""v1\n{"path":"$p0","timestamp":1000,"batchId":0}""")
    assert(IntermediateRetention.sweep(conf, mat.toString,
      Seq(ckpt.toString), retentionMs = 0L) === 1)
    assert(!Files.exists(data(0)) && Files.exists(data(1)))
  }

  test("compacted source-log files contribute only their committed " +
      "slice (entries filter on batchId)") {
    val (mat, ckpt, data) = scaffold("compact", files = 2, committed = 2)
    // a rollup written ahead of the delete frontier (batch 0 behind
    // the margin): holds both batches, contributes only batch 0
    write(ckpt.resolve("sources/0/1.compact"),
      s"v1\n${entry(data(0), 1000L, 0L)}\n${entry(data(1), 1001L, 1L)}")
    val n = IntermediateRetention.sweep(conf, mat.toString,
      Seq(ckpt.toString), retentionMs = 0L)
    assert(n === 1, n.toString)
    assert(!Files.exists(data(0)) && Files.exists(data(1)))
  }
}
