package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.perfbench.SpanLog

/** Runs one benchmark workload in this JVM and writes its raw samples
  * (per-operation timings, progress reports, listener counters, spans)
  * as one JSON document. `perfbench/run.py` builds this, starts it,
  * checks the outputs and turns the samples into metrics.
  *
  * Usage: perfbench.Main --workload W --seconds S --trace 0|1
  *          --work DIR --out FILE (--data DIR | --script FILE --rate N)
  *        perfbench.Main --dump-oracle FILE
  */
object Main {
  final case class Args(kv: Map[String, String]) {
    def workload: String = kv("workload")
    def seconds: Int = kv("seconds").toInt
    def trace: Boolean = kv("trace") == "1"
    def data: String = kv("data")
    def work: Path = Paths.get(kv("work"))
    def out: Path = Paths.get(kv("out"))
    def script: String = kv("script")
    def rate: Long = kv("rate").toLong
  }

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    kv.get("dump-oracle") match {
      case Some(path) =>
        Files.writeString(Paths.get(path), json.writeValueAsString(graft.SparkEntry.oracleSql))
        return
      case None =>
    }
    val a = Args(kv)
    val loadStart = loadAvg()
    val log = new SpanLog
    val body: Map[String, Any] = a.workload match {
      case "batch_sql" | "batch_ext" => BatchRun.run(a, t0, log)
      case "stream_agg_ttl" => StreamRun.run(a, t0, log)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val env = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "loadavg_start" -> loadStart,
      "loadavg_end" -> loadAvg(),
      "xmx_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments
        .toArray.map(_.toString).filter(_.startsWith("-Xm")).toSeq,
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "java_version" -> System.getProperty("java.version"))
    val doc = body ++ Map("env" -> env,
      "spans" -> log.spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "trace" -> s.trace, "parent" -> s.parent, "start" -> s.startMs, "end" -> s.endMs)))
    Files.writeString(a.out, json.writeValueAsString(doc))
    // the samples are written and the caller removes the temp dirs:
    // skip the shutdown hooks, and no leaked thread keeps the JVM alive
    Runtime.getRuntime.halt(0)
  }

  def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Heap in use after full collections, in MiB. A collection lets
    * Spark's ContextCleaner drop the blocks of RDDs, shuffles and
    * broadcasts no longer referenced, on its own thread: collect until
    * the figure settles. */
  def liveHeapMb(): Double = {
    def used(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var (prev, cur, n) = (Double.MaxValue, used(), 0)
    while (prev - cur > 0.25 && n < 10) {
      Thread.sleep(200)
      prev = cur
      cur = used()
      n += 1
    }
    cur
  }

  def secondsSince(t: Long): Double = (System.nanoTime() - t) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, secondsSince(t))
  }
}
