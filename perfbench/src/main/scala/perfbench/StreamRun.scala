package perfbench

import java.nio.file.{FileVisitResult, Files, Path, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.{SchedulerTrace, SpanLog}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener,
  StreamingQueryProgress}

import graft.harness.{ScriptParser, SqlSubmitAction}

/** test.sql's streaming pipeline submitted through `SqlSubmitAction`.
  *
  * Open loop: the rate source's offsets advance with wall-clock time
  * however slow the micro-batches are. The script is submitted three
  * times; the first `run()` builds the session, as a deployment's would.
  * The first two submits are stopped once their query starts and give
  * submit samples, the third is measured. Set-up runs from main() entry
  * to the start of the window. A traced run switches its listeners on
  * and off after each data micro-batch, so traced and untraced batches
  * alternate through the same state phases.
  * The harness's own defaults hold: 32 shuffle and state partitions
  * unless SPARK_GRAFT_CPUS is set, which run.py does not.
  */
object StreamRun {
  private val Reps = 3
  private val WarmBatches = 3

  def run(a: Main.Args, t0: Long, log: SpanLog): Map[String, Any] = {
    val script = Files.readString(Path.of(a.script))

    final class Submitted(val action: SqlSubmitAction, val thread: Thread,
        val submitMs: Double, val startedAt: Double) {
      def query: StreamingQuery = action.started.head
    }

    def submit(rep: Int): (Submitted, Double, Int) = {
      val file = a.work.resolve(s"stream_$rep.sql")
      Files.writeString(file, script)
      val vars = Map("rate" -> a.rate.toString, "sink" -> s"perfbench_sink_$rep")
      val (stmts, parseS) = Main.timed(ScriptParser.loadStatements(file.toString, vars))
      val action = new SqlSubmitAction(file.toString, vars)
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val th = new Thread(() => try action.run() catch { case e: Throwable => err.set(e) })
      val s = log.nowMs()
      th.setDaemon(true)
      th.start()
      while (action.started.isEmpty && th.isAlive) Thread.sleep(1)
      if (action.started.isEmpty)
        throw new IllegalStateException("script did not start a query", err.get)
      val at = log.nowMs()
      (new Submitted(action, th, at - s, at), parseS * 1000, stmts.size)
    }

    val warm = (1 until Reps).map { r =>
      val (sub, parseMs, _) = submit(r)
      sub.query.stop()
      sub.thread.join(30000)
      (sub.submitMs, parseMs)
    }
    val spark = SparkSession.getDefaultSession.getOrElse(
      throw new IllegalStateException("SqlSubmitAction.run() built no session"))
    spark.sparkContext.setLogLevel("WARN")
    val (sub, parseMs, nStatements) = submit(Reps)
    val q = sub.query
    val submitMs = warm.map(_._1) :+ sub.submitMs
    val parseSamples = warm.map(_._2) :+ parseMs
    log.add("harness.submit", "submit", -1, sub.startedAt - sub.submitMs, sub.startedAt)

    // progress reports, polled; traced batches also get them pushed
    val progress = new java.util.concurrent.ConcurrentSkipListMap[Long, StreamingQueryProgress]()
    def poll(): Unit = {
      Option(q.lastProgress).foreach(p => progress.putIfAbsent(p.batchId, p))
    }
    val sched = new SchedulerTrace(p =>
      Option(p.getProperty("streaming.sql.batchId")))
    val pushed = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.putIfAbsent(e.progress.batchId, e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    }
    // (epoch ms, listeners on after it) of each switch
    val toggles = mutable.ArrayBuffer.empty[(Double, Boolean)]
    var tracing = false
    def toggle(): Unit = {
      if (tracing) {
        SchedulerTrace.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(sched)
        spark.streams.removeListener(pushed)
      } else {
        spark.sparkContext.addSparkListener(sched)
        spark.streams.addListener(pushed)
      }
      tracing = !tracing
      toggles += (log.nowMs() -> tracing)
    }
    // the window opens once the first data batches, which carry the
    // start-up backlog and compile the plan, are done
    def dataBatches = progress.values.asScala.filter(_.numInputRows > 0)
    val warmUntil = System.nanoTime() + 60000000000L
    while (dataBatches.size < WarmBatches && q.isActive && System.nanoTime() < warmUntil) {
      poll()
      Thread.sleep(5)
    }
    val warmLast = dataBatches.lastOption.map(_.batchId).getOrElse(-1L)
    val startNs = System.nanoTime()
    val setupS = (startNs - t0) / 1e9
    val deadline = startNs + a.seconds * 1000000000L
    var lastData = warmLast
    if (a.trace) toggle()
    while (System.nanoTime() < deadline && q.isActive) {
      poll()
      // switch right after a data batch ends; a saturated query starts
      // the next batch at once, but its jobs only after its planning
      Option(q.lastProgress).filter(p => p.numInputRows > 0 && p.batchId > lastData)
        .foreach { p =>
          lastData = p.batchId
          if (a.trace) toggle()
        }
      Thread.sleep(5)
    }
    val deadlineMs = log.nowMs()
    poll()
    val plan = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(buf)(q.explain())
      buf.toString("UTF-8")
    }
    val stateDiskBytes = treeBytes(Path.of(System.getProperty("java.io.tmpdir")), "state")
    // stop between two batches, so no batch is cut; a batch still in
    // flight after the wait is dropped from the samples
    val gapWait = System.nanoTime() + 5000000000L
    while (q.status.isTriggerActive && System.nanoTime() < gapWait) Thread.sleep(1)
    val interrupted = q.status.isTriggerActive
    q.stop()
    sub.thread.join(30000)
    // after the stop, so no in-flight batch's rows count; the state
    // store keeps its maps loaded until its maintenance task runs
    val heap = Main.liveHeapMb()
    q.recentProgress.foreach(p => progress.putIfAbsent(p.batchId, p))
    if (a.trace) SchedulerTrace.drain(spark.sparkContext)
    val failure = q.exception.map(_.toString).getOrElse("")

    val batches = progress.values.asScala.toList.map(_.json)
    val groups = sched.snapshot.map { case (b, c) => b -> c.toMap }
    Map("sink" -> s"perfbench_sink_$Reps",
      "setup_s" -> setupS,
      "submit_ms" -> submitMs, "parse_ms" -> parseSamples, "statements" -> nStatements,
      "submitted_ms" -> (sub.startedAt - sub.submitMs), "deadline_ms" -> deadlineMs,
      "warm_last_batch" -> warmLast, "interrupted" -> interrupted,
      "failure" -> failure, "plan" -> plan, "state_disk_bytes" -> stateDiskBytes,
      "live_heap_mb" -> heap, "batches" -> batches,
      "trace" -> Map("groups" -> groups, "toggles" -> toggles.toList.map(t => List(t._1, t._2))))
  }

  /** Bytes of the files under every directory named `dirName` below `root`. */
  private def treeBytes(root: Path, dirName: String): Long = {
    var total = 0L
    if (Files.isDirectory(root)) Files.walkFileTree(root, new SimpleFileVisitor[Path] {
      override def visitFile(p: Path, attrs: BasicFileAttributes): FileVisitResult = {
        if (root.relativize(p).iterator().asScala.exists(_.toString == dirName))
          total += attrs.size()
        FileVisitResult.CONTINUE
      }
      // the running query creates and renames files during the walk
      override def visitFileFailed(p: Path, e: java.io.IOException): FileVisitResult =
        FileVisitResult.CONTINUE
    })
    total
  }
}
