package graft.streaming

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.jdk.CollectionConverters._

import graft.SparkFixture
import graft.harness.{MockDfsFileSystem, SqlSubmitAction, UnboundedAgg}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileAlreadyExistsException, Path}
import org.apache.spark.SparkConf
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** `FileContext` view of `mockdfs://`, so a FileContext-based manager
  * can open that scheme. */
class MockDfsAbstractFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new MockDfsFileSystem, conf, "mockdfs", false)

/** Which manager [[LocalCheckpointFileManager]] picks for a path, what
  * its local writes guarantee, that sql-submit keeps an explicit
  * choice, and that a stream on it forks no `readlink`.
  */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private def tempPath(name: String): Path =
    new Path(Files.createTempDirectory("graft-ckpt-fm").toUri.toString, name)

  private def write(fm: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("a file: path gets the FileSystem-based delegate, also when Spark " +
      "creates the manager from the key") {
    val p = tempPath("ckpt")
    val conf = new Configuration()
    val fm = new LocalCheckpointFileManager(p, conf)
    assert(fm.delegate.isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(fm.isLocal)
    conf.set(SqlSubmitAction.CheckpointManagerKey, SqlSubmitAction.CheckpointManager)
    assert(CheckpointFileManager.create(p, conf).isInstanceOf[LocalCheckpointFileManager])
  }

  test("a non-local scheme gets Spark's FileContext-based delegate") {
    val conf = new Configuration()
    conf.set("fs.mockdfs.impl", classOf[MockDfsFileSystem].getName)
    conf.set("fs.AbstractFileSystem.mockdfs.impl", classOf[MockDfsAbstractFs].getName)
    val dir = Files.createTempDirectory("graft-ckpt-dfs")
    val fm = new LocalCheckpointFileManager(new Path(s"mockdfs://$dir/ckpt"), conf)
    assert(fm.delegate.isInstanceOf[FileContextBasedCheckpointFileManager])
  }

  test("createAtomic with overwrite writes the file and its Hadoop .crc, " +
      "and replaces an existing file") {
    val p = tempPath("0")
    val fm = new LocalCheckpointFileManager(p, new Configuration())
    val dir = new java.io.File(new URI(p.getParent.toString))
    write(fm, p, "first", overwrite = true)
    assert(read(fm, p) == "first")
    assert(dir.list().toSet == Set("0", ".0.crc"))
    write(fm, p, "second, longer", overwrite = true)
    // LocalFileSystem verifies the .crc on read: it was replaced too,
    // and no temp file is left behind
    assert(read(fm, p) == "second, longer")
    assert(dir.list().toSet == Set("0", ".0.crc"))
  }

  test("createAtomic without overwrite refuses an existing file when " +
      "the stream closes") {
    val p = tempPath("0")
    val fm = new LocalCheckpointFileManager(p, new Configuration())
    write(fm, p, "first", overwrite = false)
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("second".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](out.close())
    assert(read(fm, p) == "first")
  }

  test("sql-submit's session builder keeps an explicit manager class, " +
      "else names LocalCheckpointFileManager") {
    assert(SqlSubmitAction.checkpointManager(new SparkConf(false)) ==
      classOf[LocalCheckpointFileManager].getName)
    val explicit = new SparkConf(false).set(SqlSubmitAction.CheckpointManagerKey,
      classOf[FileContextBasedCheckpointFileManager].getName)
    assert(SqlSubmitAction.checkpointManager(explicit) ==
      classOf[FileContextBasedCheckpointFileManager].getName)
  }

  test("a TTL'd GROUP BY on a local checkpoint starts no readlink process") {
    import jdk.jfr.{FlightRecorder, Recording}
    import jdk.jfr.consumer.RecordingFile
    assume(FlightRecorder.isAvailable &&
      FlightRecorder.getFlightRecorder.getEventTypes.asScala
        .exists(_.getName == "jdk.ProcessStart"),
      "JFR event jdk.ProcessStart is not available in this JVM")
    val spark = SparkFixture.spark
    import spark.implicits._
    assert(spark.conf.get(SqlSubmitAction.CheckpointManagerKey) ==
      SqlSubmitAction.CheckpointManager)
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Long, String)]
    input.toDF().toDF("k", "v", "tag").createOrReplaceTempView("ckpt_fm_src")
    val rewritten = UnboundedAgg.rewrite(spark,
      "SELECT k, COUNT(*) AS c, COUNT(DISTINCT tag) AS d FROM ckpt_fm_src " +
        "GROUP BY k", stateTtlSec = 600L)
    val ckpt = Files.createTempDirectory("graft-ckpt-fm-stream").toString
    val recording = new Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    try {
      val q = spark.sql(rewritten).writeStream.format("noop")
        .outputMode("update")
        .trigger(Trigger.ProcessingTime("200 milliseconds"))
        .option("checkpointLocation", ckpt)
        .start()
      try {
        // timer batches keep the query busy, so count data batches
        for (i <- 1 to 3) {
          input.addData((s"k$i", i.toLong, "t"), ("k0", i.toLong, s"t$i"))
          val deadline = System.nanoTime() + 60L * 1000000000L
          def dataBatches = q.recentProgress.count(_.numInputRows > 0)
          while (dataBatches < i && System.nanoTime() < deadline) Thread.sleep(50L)
          assert(dataBatches >= i, s"data micro-batch $i did not complete")
        }
      } finally q.stop()
      // a control: the recording sees a process this test starts
      new ProcessBuilder("true").start().waitFor()
    } finally recording.stop()
    val file = Files.createTempFile("graft-ckpt-fm", ".jfr")
    recording.dump(file)
    recording.close()
    val commands = RecordingFile.readAllEvents(file).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
    Files.delete(file)
    assert(commands.exists(_.startsWith("true")), commands)
    assert(!commands.exists(_.contains("readlink")), commands)
  }
}
