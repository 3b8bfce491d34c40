package graft.operators

import graft.SparkFixture

/** Dev aid: the df-cap guard rehearsal, on the shared test session.
  *
  * Builds an in-memory corpus of N distinct docs sharing
  * one boilerplate trigram and shows both sides of the cap: with the
  * cap disabled (df-cap = 2^30) the pair expansion dies on the
  * graft_doc_pairs guard exactly as the uncapped code did, and with
  * the default cap the same query completes with the hot shingle
  * dropped (and the drop observed). Usage:
  * `Test/runMain graft.operators.DedupCapDryRun [nDocs=70000]`.
  *
  * To time the capped queries on a distinct-variant corpus
  * (`tools/make_hot_corpus.py`), point `graft.Profile` at it.
  */
object DedupCapDryRun {

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(70000)
    val spark = SparkFixture.spark
    graft.functions.GraftFunctions.register(spark)
    graft.functions.GraftMetrics.ensureListener(spark)
    // N distinct docs, every one carrying the hot trigram "hot common
    // boiler"; the tail trigram is unique per doc
    val docs = spark.range(nDocs.toLong).selectExpr(
      "id AS doc_id", "'en' AS lang",
      "concat('hot common boiler t', id) AS text")
    def run(label: String): Unit = {
      val t0 = System.nanoTime()
      try {
        val n = Dedup.candidatePairs(Dedup.canonicalDocs(docs),
          s"graft_dryrun_$label").count()
        println(f"$label: $n pairs in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      } catch {
        case e: Exception =>
          val root = Iterator.iterate(e: Throwable)(_.getCause)
            .takeWhile(_ != null).toSeq.last
          println(f"$label: FAILED after ${(System.nanoTime() - t0) / 1e9}%.2f s " +
            s"with ${root.getClass.getSimpleName}: " +
            root.getMessage.linesIterator.next())
      }
    }
    spark.conf.set("graft.dedup.df-cap", (1 << 30).toString)
    run(s"uncapped_${nDocs}_docs")
    spark.conf.set("graft.dedup.df-cap", Dedup.DfCapDefault.toString)
    run(s"capped_${nDocs}_docs")
    spark.conf.unset("graft.dedup.df-cap")
  }
}
