package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.{SchedulerTrace, SpanLog}
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.execution.{
  InputAdapter, RDDScanExec, SparkPlan, WholeStageCodegenExec, FileSourceScanExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{
  BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators._

/** Closed loop with one client over a module set of the query library.
  *
  * Each query's result is written in full to Spark's `noop` sink, its
  * rows counted by `Dataset.observe`. Tables and query order are fixed:
  * the benchmark's seed varies nothing here yet.
  * A workload is every fourth query of each of its modules: a pass over
  * all of them takes 30 to 40 s on 4 cores, more than a run can hold.
  * Every pass visits each query once; the first pass always completes,
  * later passes stop at the deadline. The timed passes start cold, as
  * for a user who runs a query once: a warm-up pass made the run 10 s
  * longer and no steadier. A traced run makes a warm-up pass, then two
  * passes that trace every other query, the first the even-numbered
  * ones, the second the odd: each query runs once traced and once
  * not, and pass order weighs on both sides of the tracing overhead.
  */
object BatchRun {
  val Workloads: Map[String, Seq[(String, Seq[Q])]] = Map(
    "batch_sql" -> Seq(
      "Relational" -> Relational.all, "Joins" -> Joins.all,
      "Windows" -> Windows.all, "SetOps" -> SetOps.all,
      "Events" -> Events.all, "PatternQueries" -> PatternQueries.all,
      "Coverage" -> Coverage.all, "Dialect" -> Dialect.all),
    "batch_ext" -> Seq(
      "TextAnalysis" -> TextAnalysis.all, "Dedup" -> Dedup.all,
      "VectorSearch" -> VectorSearch.all,
      "MultimodalQueries" -> MultimodalQueries.all,
      "Sampling" -> Sampling.all, "Curation" -> Curation.all))

  private val QueryTimeoutSec = 120L
  private val Stride = 4

  /** Plan facts of one executed query plan. */
  final case class Shape(exchanges: Int, parquetScans: Int, checkpointScans: Int,
      broadcasts: Int, cartesian: Int, codegenNodes: Int, nodes: Int,
      graftExprs: Boolean)

  def shapeOf(root: SparkPlan): Shape = {
    val all = mutable.ArrayBuffer.empty[(SparkPlan, Boolean)]
    def walk(p: SparkPlan, inCodegen: Boolean): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen)
      case s: QueryStageExec => walk(s.plan, false)
      case _: ReusedExchangeExec => ()
      case w: WholeStageCodegenExec => walk(w.child, true)
      case i: InputAdapter => walk(i.child, false)
      case other =>
        all += (other -> inCodegen)
        (other.children ++ other.subqueries).foreach(walk(_, inCodegen))
    }
    walk(root, false)
    def n(f: SparkPlan => Boolean) = all.count(x => f(x._1))
    Shape(
      exchanges = n(_.isInstanceOf[ShuffleExchangeExec]),
      parquetScans = n(_.isInstanceOf[FileSourceScanExec]),
      checkpointScans = n(p => p.isInstanceOf[RDDScanExec] ||
        p.isInstanceOf[InMemoryTableScanExec]),
      broadcasts = n(_.isInstanceOf[BroadcastExchangeExec]),
      cartesian = n(_.isInstanceOf[CartesianProductExec]),
      codegenNodes = all.count(_._2),
      nodes = all.size,
      graftExprs = all.exists(_._1.expressions.exists(_.exists(
        _.getClass.getName.startsWith("graft.")))))
  }

  /** Planner phases and plan shapes of every execution of a query. */
  final class PlanTrace extends QueryExecutionListener {
    @volatile var current: String = ""
    val phases = mutable.ArrayBuffer.empty[(String, String, Long, Long)]
    val shapes = mutable.ArrayBuffer.empty[(String, Shape)]
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
      val t = current
      val ph = qe.tracker.phases.toSeq.map { case (k, v) => (t, k, v.startTimeMs, v.endTimeMs) }
      val sh = shapeOf(qe.executedPlan)
      synchronized { phases ++= ph; shapes += (t -> sh) }
    }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
  }

  def run(a: Main.Args, t0: Long, log: SpanLog): Map[String, Any] = {
    val modules = Workloads(a.workload)
    val moduleOf = modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap
    // every fourth query of each module, so one pass fits a run; in one
    // fixed order, as a query's cold time depends on what ran before it
    val queries = modules.flatMap(_._2.zipWithIndex.collect {
      case (q, i) if i % Stride == 0 => q })
    val nproc = Runtime.getRuntime.availableProcessors()

    // the session graft.Bench builds
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext

    var degraded = false
    def cleanup(): Unit =
      if (!degraded && graft.Timeouts.boundedClearCache(spark, QueryTimeoutSec).isDefined)
        degraded = true
    Tables.names.foreach(n => Tables.load(spark, a.data, n).count())
    val setupS = Main.secondsSince(t0)

    val sched = new SchedulerTrace(p =>
      Option(p.getProperty("spark.jobGroup.id")).filter(_.contains("#")))
    val plans = new PlanTrace
    val execs = mutable.ArrayBuffer.empty[Map[String, Any]]
    var i = 0

    /** One pass over the queries in order, to its end or the deadline;
      * the listeners are registered only around the queries `traced`
      * picks by their position. */
    def runPass(pass: Int, traced: Int => Boolean, deadline: Long): Unit = {
      val it = queries.iterator.zipWithIndex
      while (it.hasNext && System.nanoTime() < deadline) {
        val (q, j) = it.next()
        val tr = traced(j)
        cleanup()
        i += 1
        if (i % 8 == 0) System.gc()
        val trace = s"${q.name}#$pass"
        plans.current = trace
        if (tr) {
          sc.addSparkListener(sched)
          spark.listenerManager.register(plans)
        }
        val obs = Observation(s"perfbench_$i")
        var rows = -1L
        var (t1, t2, t3) = (0.0, 0.0, 0.0)
        val err = graft.Timeouts.bounded(spark, trace, QueryTimeoutSec) {
          t1 = log.nowMs()
          val df = q.fn(spark, a.data)
          t2 = log.nowMs()
          df.observe(obs, count(lit(1)).as("n")).write.format("noop")
            .mode("overwrite").save()
          t3 = log.nowMs()
          rows = obs.get("n").asInstanceOf[Long]
        }
        if (tr) {
          val root = log.add("operators.query", trace, -1, t1, t3)
          log.add("operators.build", trace, root, t1, t2)
          log.add("operators.run", trace, root, t2, t3)
          SchedulerTrace.drain(sc)
          sc.removeSparkListener(sched)
          spark.listenerManager.unregister(plans)
        }
        if (pass >= 0)
          execs += Map("name" -> q.name, "module" -> moduleOf(q.name), "pass" -> pass,
            "traced" -> tr, "build_ms" -> (t2 - t1), "run_ms" -> (t3 - t2),
            "rows" -> rows, "error" -> err.getOrElse(""))
      }
    }

    val start = System.nanoTime()
    if (!a.trace) {
      // the first pass always completes, later ones stop at the deadline
      val deadline = start + a.seconds * 1000000000L
      var pass = 0
      while (pass == 0 || System.nanoTime() < deadline) {
        runPass(pass, _ => false, if (pass == 0) Long.MaxValue else deadline)
        pass += 1
      }
    } else {
      runPass(-1, _ => false, Long.MaxValue)
      runPass(0, _ % 2 == 0, Long.MaxValue)
      runPass(1, _ % 2 == 1, Long.MaxValue)
    }
    val heap = Main.liveHeapMb()

    val traceDoc: Map[String, Any] = if (!a.trace) Map.empty else {
      SchedulerTrace.drain(sc)
      // spans for the planner phases and jobs, under the build or run
      // span whose interval holds their start
      val opSpans = log.spans.filter(_.name != "operators.query")
        .groupBy(_.trace)
      def parentOf(trace: String, at: Double): Long =
        opSpans.getOrElse(trace, Nil).find(s => s.startMs <= at && at <= s.endMs)
          .map(_.id).getOrElse(-1L)
      plans.synchronized(plans.phases.toList).foreach { case (t, ph, s, e) =>
        log.add(s"plans.$ph", t, parentOf(t, s.toDouble), s.toDouble, e.toDouble)
      }
      val counts = sched.snapshot
      counts.foreach { case (t, c) =>
        c.jobSpans.foreach { case (s, e) =>
          log.add("spark.job", t, parentOf(t, s.toDouble), s.toDouble, e.toDouble)
        }
      }
      Map("groups" -> counts.map { case (t, c) => t -> c.toMap },
        "shapes" -> plans.synchronized(plans.shapes.toList).map { case (t, s) => Map(
          "trace" -> t, "exchanges" -> s.exchanges, "parquet_scans" -> s.parquetScans,
          "checkpoint_scans" -> s.checkpointScans, "broadcasts" -> s.broadcasts,
          "cartesian" -> s.cartesian, "codegen_nodes" -> s.codegenNodes,
          "nodes" -> s.nodes, "graft_exprs" -> s.graftExprs) })
    }
    Map("setup_s" -> setupS, "live_heap_mb" -> heap,
      "execs" -> execs.toList, "trace" -> traceDoc)
  }
}
