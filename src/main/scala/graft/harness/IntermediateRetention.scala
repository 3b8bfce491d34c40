package graft.harness

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Retention for the auto-split managed intermediates (r20).
  *
  * Stage 1's file sink appends parquet files (and `_spark_metadata`
  * entries) forever; Spark retires neither once the stage-2 consumers
  * have fully consumed them, so a month-long auto-split stream is a
  * disk-filler. With `graft.streaming.intermediate-retention` set, a
  * sweeper deletes a data file when BOTH hold:
  *
  *  - every registered consumer has COMMITTED the batch that read it —
  *    consumption is read from each consumer checkpoint's
  *    `sources/0` file-source log (entries carry path, modification
  *    timestamp, and batchId; compacted log files are handled by
  *    filtering entries on batchId) joined with its `commits/` log.
  *    The checkpoint is the authority — never a bare wall-clock guess,
  *    which could race a lagging consumer and lose data;
  *  - the file is older than the retention horizon relative to the
  *    NEWEST committed entry's timestamp (the data's own timeline, so
  *    an idle stream never "ages into" deleting its most recent files
  *    faster than the horizon).
  *
  * The sink's `_spark_metadata` log is left alone: its compact file is
  * an append-only manifest bounded by entry size (bytes per file, not
  * file contents) — the data files are what fill disks. A consumer
  * restarted from its checkpoint never re-reads a committed file (the
  * restored seen-files log skips it), so deletion is invisible to the
  * exactly-once contract; only an ad-hoc batch read of the intermediate
  * (not a supported surface) would notice.
  */
object IntermediateRetention {

  private val PathRe = "\"path\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r

  /** Undo JSON string escapes in a captured path (the log writer may
    * escape `/` as `\/`, non-ASCII as `\uXXXX`, etc.); without this the
    * qualified-prefix comparison silently never matched such paths and
    * the sweep became a per-file no-op (r20 advice).
    */
  private def unescapeJson(s: String): String = {
    if (s.indexOf('\\') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'u' =>
            // a \u without four hex digits is not an escape the writer
            // made: keep it as it stands instead of failing the sweep
            val hex = s.substring(i + 2, math.min(i + 6, s.length))
            if (hex.length == 4 && hex.forall(Character.digit(_, 16) >= 0)) {
              sb.append(Integer.parseInt(hex, 16).toChar)
              i += 6
            } else { sb.append("\\u"); i += 2 }
          case 'n' => sb.append('\n'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case other => sb.append(other); i += 2 // \" \\ \/ pass through
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
  private val TsRe = "\"timestamp\"\\s*:\\s*(-?\\d+)".r
  private val BatchRe = "\"batchId\"\\s*:\\s*(-?\\d+)".r

  private final case class Entry(path: String, ts: Long, batchId: Long)

  /** Parsed source-log files, keyed by (path, length) — the log's
    * batch files and compact rollups are written once and never
    * rewritten, so a length-matched entry never re-reads. Without
    * this, every 2 s sweep re-downloaded and re-parsed the ENTIRE log
    * set (the compact is cumulative — O(total files ever) per tick,
    * quadratic over a stream's lifetime, against remote storage in
    * the durable case; r20 review). One cache per SWEEPER (the action
    * run), never a JVM singleton (second review pass: a singleton
    * outlived its run — unbounded growth on a shared session, and a
    * wiped-and-recreated checkpoint whose log file matched a cached
    * (path, length) key would return stale entries). Superseded
    * compacts bound growth via the size cap: past it the cache clears
    * and re-parses once. */
  final class Cache private[IntermediateRetention] () {
    private[IntermediateRetention] val map =
      new java.util.concurrent.ConcurrentHashMap[(String, Long), Seq[Entry]]()
  }

  def newCache(): Cache = new Cache()

  private val CacheMaxFiles = 256

  /** Max committed batch id of a consumer checkpoint, None when the
    * consumer has not committed anything yet (→ delete nothing). The
    * checkpoint is resolved through its OWN filesystem — a remote
    * intermediate with local checkpoints (or vice versa) must not
    * probe the wrong store (r20 review: that made retention a silent
    * permanent no-op on any cross-scheme layout). */
  private def maxCommitted(hadoopConf: Configuration,
      ckpt: String): Option[Long] = {
    val dir = new Path(ckpt, "commits")
    val fs = dir.getFileSystem(hadoopConf)
    if (!fs.exists(dir)) return None
    val ids = fs.listStatus(dir).toSeq
      .flatMap(s => s.getPath.getName.toLongOption)
    if (ids.isEmpty) None else Some(ids.max)
  }

  /** All file entries the consumer committed: parsed from every
    * `sources/0` log file (single-batch files AND `.compact` rollups —
    * entries are filtered on their own batchId, so a compact written
    * ahead of the commit frontier contributes only its committed
    * slice). */
  private def committedEntries(hadoopConf: Configuration,
      ckpt: String, upTo: Long, cache: Cache): Seq[Entry] = {
    val dir = new Path(ckpt, "sources/0")
    val fs = dir.getFileSystem(hadoopConf)
    if (!fs.exists(dir)) return Seq.empty
    if (cache.map.size > CacheMaxFiles) cache.map.clear()
    fs.listStatus(dir).toSeq
      .filter(s => s.getPath.getName.stripSuffix(".compact")
        .toLongOption.isDefined)
      .flatMap { s =>
        cache.map.computeIfAbsent(
          (s.getPath.toString, s.getLen), { _ =>
            val in = fs.open(s.getPath)
            val text =
              try {
                val out = new java.io.ByteArrayOutputStream()
                org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
                out.toString("UTF-8")
              } finally in.close()
            text.linesIterator.flatMap { line =>
              for {
                p <- PathRe.findFirstMatchIn(line)
                  .map(m => unescapeJson(m.group(1)))
                t <- TsRe.findFirstMatchIn(line).map(_.group(1).toLong)
                b <- BatchRe.findFirstMatchIn(line).map(_.group(1).toLong)
              } yield Entry(p, t, b)
            }.toSeq
          })
      }
      .filter(_.batchId <= upTo)
  }

  /** The marker a sweep writes into the intermediate directory before
    * its first deletion. It outlives the run, so a later run that
    * recomputes the same durable path still sees that the manifest
    * lists deleted files; Spark's file index skips names that start
    * with `_`. */
  private val SweptMarker = "_graft_swept"

  def wasSwept(hadoopConf: Configuration, intermediatePath: String): Boolean = {
    val p = new Path(intermediatePath, SweptMarker)
    p.getFileSystem(hadoopConf).exists(p)
  }

  /** One sweep over `intermediatePath` against `consumerCkpts`.
    * Returns the number of data files deleted. Fail-safe by
    * construction: no consumers, or any consumer without a commit yet,
    * deletes nothing. */
  def sweep(hadoopConf: Configuration, intermediatePath: String,
      consumerCkpts: Seq[String], retentionMs: Long,
      cache: Cache = newCache()): Int = {
    if (consumerCkpts.isEmpty) return 0
    val base = new Path(intermediatePath)
    val fs = base.getFileSystem(hadoopConf)
    val qualifiedBase = fs.makeQualified(base).toString
    // one-batch safety margin: the delete frontier sits ONE batch
    // behind each consumer's newest commit, so a kill landing on the
    // commit boundary (commit written, stop racing the next batch's
    // planning) can never see a just-deleted file — the cost is one
    // batch of files retained, the benefit is zero boundary races
    val perConsumer = consumerCkpts.map { ckpt =>
      maxCommitted(hadoopConf, ckpt)
        .map(mc => committedEntries(hadoopConf, ckpt, mc - 1, cache))
    }
    if (perConsumer.exists(_.isEmpty)) return 0
    val all = perConsumer.flatMap(_.get)
    if (all.isEmpty) return 0
    // a file is consumed only when EVERY consumer committed it
    val everyCommitted = perConsumer
      .map(_.get.map(_.path).toSet)
      .reduce(_ intersect _)
    val horizon = all.map(_.ts).max - retentionMs
    // only ever touch files under the intermediate itself, and never
    // its _spark_metadata manifest
    val doomed = all.groupBy(_.path).toSeq.collect {
      case (p, entries) if everyCommitted(p) && entries.head.ts <= horizon =>
        new Path(p)
    }.filter { hp =>
      val qualified = fs.makeQualified(hp).toString
      qualified.startsWith(qualifiedBase + "/") &&
        !qualified.contains("_spark_metadata")
    }
    // the marker lands BEFORE the first deletion (a failed write
    // deletes nothing), so a directory without it has a whole
    // manifest; a single bad delete (transient IO) must not abort the
    // ones after it
    val marker = new Path(base, SweptMarker)
    if (doomed.nonEmpty && !fs.exists(marker)) fs.create(marker, true).close()
    doomed.count(hp => scala.util.Try(fs.delete(hp, false)).getOrElse(false))
  }
}
