package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke test of the profiling entry point on the shared session. */
class ProfileSpec extends AnyFunSuite {

  test("Profile.run prints one formatted plan and one timing line per run") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) {
      Profile.run(SparkFixture.spark, "/root/testdata/sf0.001", Seq("q1_agg"), 1)
    }
    val text = out.toString("UTF-8")
    assert("== Physical Plan ==".r.findAllIn(text).size === 1, text)
    val runs = raw"\[profile\] q1_agg run\d+: [\d.]+ s, rows=(\d+), jobs=(\d+)".r
      .findAllMatchIn(text).toSeq
    assert(runs.size === 1, text)
    assert(runs.head.group(1).toLong > 0, text)
    assert(runs.head.group(2).toInt >= 1, text)
  }
}
