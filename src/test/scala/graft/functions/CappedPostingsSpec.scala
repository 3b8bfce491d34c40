package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, Literal}
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** Direct contract tests for [[CappedPostingsAgg]]' truncation path —
  * the cap-overflow semantics no oracle run exercises at small SF (max
  * df at sf0.01 is far below the default cap): a buffer is bounded at
  * cap+1 postings while the true df keeps counting, merge must stay
  * bounded and order-insensitive IN ITS OUTPUT, eval must emit the
  * complete list iff df <= cap and an empty one otherwise, and the
  * partial-aggregation byte image must round-trip losslessly.
  */
class CappedPostingsSpec extends AnyFunSuite {

  private def posting(i: Int): (Long, Long) = (i.toLong, 10L + i)

  private def agg(cap: Int) = CappedPostingsAgg(
    BoundReference(0, LongType, nullable = true),
    BoundReference(1, LongType, nullable = true),
    Literal(cap))

  /** Fold a partition's postings through update. */
  private def part(a: CappedPostingsAgg, ps: Seq[(Long, Long)]): PostingsBuffer =
    ps.foldLeft(a.createAggregationBuffer()) { (b, p) =>
      a.update(b, new GenericInternalRow(Array[Any](p._1, p._2)))
    }

  /** Decode eval's struct<ds, df> output for assertions. */
  private def finish(a: CappedPostingsAgg, b: PostingsBuffer): (Set[(Long, Long)], Long) = {
    val row = a.eval(b).asInstanceOf[InternalRow]
    val arr = row.getArray(0)
    val ds = (0 until arr.numElements()).map { i =>
      val e = arr.getStruct(i, 2)
      (e.getLong(0), e.getLong(1))
    }.toSet
    (ds, row.getLong(1))
  }

  test("update bounds the buffer at cap+1 while df keeps counting") {
    val a = agg(3)
    val buf = part(a, (1 to 10).map(posting))
    assert(buf.n == 4)      // cap + 1 proves overflow
    assert(buf.df == 10L)   // the TRUE df, past the cap
  }

  test("eval at df == cap emits the complete list") {
    val a = agg(5)
    val (ds, df) = finish(a, part(a, (1 to 5).map(posting)))
    assert(df == 5L)
    assert(ds == (1 to 5).map(posting).toSet)
  }

  test("eval at df == cap+1 emits empty with the true df") {
    val a = agg(5)
    val (ds, df) = finish(a, part(a, (1 to 6).map(posting)))
    assert(df == 6L)
    assert(ds.isEmpty)
  }

  test("a null doc id is neither stored nor counted toward df") {
    val a = agg(3)
    val withNull = Seq[Any](1L, null, 2L).foldLeft(a.createAggregationBuffer()) {
      (b, id) => a.update(b, new GenericInternalRow(Array[Any](id, 7L)))
    }
    assert(withNull.n == 2)
    assert(withNull.df == 2L)
    assert(finish(a, withNull) == ((Set((1L, 7L), (2L, 7L)), 2L)))
  }

  test("eval of the zero buffer is empty with df 0") {
    val a = agg(3)
    val (ds, df) = finish(a, a.createAggregationBuffer())
    assert(df == 0L && ds.isEmpty)
  }

  test("merge keeps the buffer bounded when either side is saturated") {
    val a = agg(2)
    for (swap <- Seq(false, true)) {
      val full = part(a, (1 to 5).map(posting))   // saturated: 3 items, df 5
      val small = part(a, Seq(posting(9)))        // 1 item, df 1
      val m = if (swap) a.merge(small, full) else a.merge(full, small)
      assert(m.n <= 3)
      assert(m.df == 6L)
      assert(finish(a, m)._1.isEmpty) // df 6 > cap 2
    }
  }

  test("merge at exactly the cap boundary, split across partitions") {
    val a = agg(4)
    val ps = (1 to 4).map(posting)
    // every 2-way split of 4 postings, both merge orders
    for (k <- 0 to 4; swap <- Seq(false, true)) {
      val (l, r) = ps.splitAt(k)
      val m = if (swap) a.merge(part(a, r), part(a, l))
              else a.merge(part(a, l), part(a, r))
      assert(m.df == 4L)
      val (ds, _) = finish(a, m)
      assert(ds == ps.toSet, s"split at $k lost postings: $ds")
    }
  }

  test("one-over-cap split across partitions finishes empty either order") {
    val a = agg(4)
    val ps = (1 to 5).map(posting)
    for (k <- 0 to 5; swap <- Seq(false, true)) {
      val (l, r) = ps.splitAt(k)
      val m = if (swap) a.merge(part(a, r), part(a, l))
              else a.merge(part(a, l), part(a, r))
      assert(m.df == 5L)
      assert(finish(a, m)._1.isEmpty, s"split at $k leaked a hot list")
    }
  }

  test("serialize/deserialize round-trips the buffer image exactly") {
    val a = agg(7)
    for (n <- Seq(0, 1, 7, 8, 20)) {
      val buf = part(a, (1 to n).map(posting))
      val back = a.deserialize(a.serialize(buf))
      assert(back.df == buf.df, s"n=$n df")
      assert(back.n == buf.n, s"n=$n count")
      assert(back.ids.take(back.n).toSeq == buf.ids.take(buf.n).toSeq)
      assert(back.szs.take(back.n).toSeq == buf.szs.take(buf.n).toSeq)
      // and the deserialized buffer keeps aggregating correctly
      val (ds, df) = finish(a, a.merge(back, part(a, Seq(posting(99)))))
      assert(df == n + 1L)
      if (n + 1 <= 7)
        assert(ds == ((1 to n).map(posting) :+ posting(99)).toSet)
      else assert(ds.isEmpty)
    }
  }

  test("randomized: any partitioning and merge order yields the same output") {
    val rnd = new scala.util.Random(41)
    for (trial <- 1 to 50) {
      val a = agg(8)
      val n = 1 + rnd.nextInt(20)
      val ps = (1 to n).map(posting)
      // random partitioning into 1..5 partitions
      val parts = ps.groupBy(_ => rnd.nextInt(1 + rnd.nextInt(5))).values.toList
      val bufs = rnd.shuffle(parts.map(p => part(a, p)))
      val merged = bufs.reduce(a.merge)
      val (ds, df) = finish(a, merged)
      assert(df == n.toLong, s"trial $trial df")
      if (n <= 8) assert(ds == ps.toSet, s"trial $trial complete list")
      else assert(ds.isEmpty, s"trial $trial hot list must be empty")
      assert(merged.n <= 9, s"trial $trial unbounded buffer")
    }
  }
}
