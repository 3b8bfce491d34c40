package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import scala.collection.immutable.HashSet

/** Typed `Aggregator` UDAF (SURVEY.md §2.C UDF/UDAF surface row): exact
  * distinct count with mergeable per-partition set state — the typed
  * custom-aggregation escape hatch for state the built-ins can't hold.
  *
  * Partial aggregation applies: each partition builds its own set and
  * only sets (not rows) cross the shuffle. State is O(distinct) per
  * group — the minimum for exactness; at 100 TB cardinalities switch to
  * the HLL sketch (`approx_count_distinct`).
  */
object ExactDistinct
    extends Aggregator[java.lang.Long, HashSet[Long], Long] {
  override def zero: HashSet[Long] = HashSet.empty
  // NULL inputs are skipped, matching COUNT(DISTINCT) semantics
  override def reduce(b: HashSet[Long], a: java.lang.Long): HashSet[Long] =
    if (a == null) b else b + a.longValue
  override def merge(b1: HashSet[Long], b2: HashSet[Long]): HashSet[Long] = b1 ++ b2
  override def finish(reduction: HashSet[Long]): Long = reduction.size.toLong
  override def bufferEncoder: Encoder[HashSet[Long]] =
    Encoders.kryo[HashSet[Long]]
  override def outputEncoder: Encoder[Long] = Encoders.scalaLong
}
