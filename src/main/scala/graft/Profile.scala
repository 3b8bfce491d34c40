package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Per-query profile: prints each named query's formatted plan once, then
  * one line per run with seconds, rows and the Spark jobs the run
  * launched. A run is Bench's methodology (`.count()` the DataFrame)
  * after dropping cached relations and checkpoint blocks.
  *
  * Usage: sbt "runMain graft.Profile q1,q2,... [repeats]" on
  * SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q1_agg").split(",").map(_.trim).toSeq
    val repeats = args.lift(1).fold(Option(3))(_.toIntOption)
    val known = SparkEntry.queries.keySet
    val unknown = names.filterNot(known)
    if (args.length > 2 || repeats.isEmpty || unknown.nonEmpty) {
      System.err.println("usage: graft.Profile <q1,q2,...> [repeats]")
      if (unknown.nonEmpty)
        System.err.println(s"unknown queries: ${unknown.mkString(", ")}; " +
          s"known: ${known.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession()
    try run(spark, sfDir, names, repeats.get) finally spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, names: Seq[String],
      repeats: Int): Unit = {
    val sc = spark.sparkContext
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      println(s"===== $name =====")
      println(fn(spark, sfDir).queryExecution.explainString(FormattedMode))
      (1 to repeats).foreach { i =>
        Timeouts.boundedClearCache(spark, 300): Unit
        // a job group per run, so its jobs are counted apart from any other
        val group = s"graft-profile-${System.nanoTime()}"
        sc.setJobGroup(group, s"profile:$name")
        val t0 = System.nanoTime()
        val rows = try fn(spark, sfDir).count() finally sc.clearJobGroup()
        val sec = (System.nanoTime() - t0) / 1e9
        // the status store is fed by the listener bus asynchronously:
        // give it up to a second to record the run's jobs
        val deadline = System.nanoTime() + 1000000000L
        def jobs = sc.statusTracker.getJobIdsForGroup(group).length
        while (jobs == 0 && System.nanoTime() < deadline) Thread.sleep(10)
        println(f"[profile] $name run$i: $sec%.3f s, rows=$rows, jobs=$jobs")
      }
    }
  }
}
