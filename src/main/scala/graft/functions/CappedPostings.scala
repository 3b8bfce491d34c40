package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Aggregation buffer of [[CappedPostingsAgg]]: at most cap+1 postings
  * in two parallel primitive arrays plus the TRUE document frequency
  * (which keeps counting past the cap). Primitive storage on purpose:
  * this buffer is touched once per posting row of the dedup inverted
  * index — the hottest aggregation in the repo — and the previous
  * `Aggregator[Posting, PostingBuf, _]` form paid an ExpressionEncoder
  * round-trip plus a `Vector :+` path copy per row (~2.7 µs/row
  * measured at sf0.1, ~70% of ext_jaccard_pairs' runtime).
  */
final class PostingsBuffer(initialCapacity: Int) {
  var ids: Array[Long] = new Array[Long](initialCapacity)
  var szs: Array[Long] = new Array[Long](initialCapacity)
  var n: Int = 0
  var df: Long = 0L

  def ensure(extra: Int, hardCap: Int): Unit = {
    val want = math.min(n + extra, hardCap)
    if (want > ids.length) {
      val cap = math.min(hardCap, math.max(want, ids.length * 2))
      ids = java.util.Arrays.copyOf(ids, cap)
      szs = java.util.Arrays.copyOf(szs, cap)
    }
  }
}

/** Document-frequency-capped posting-list collector — the scale guard
  * of the inverted-index pair-expansion paths ([[graft.operators.Dedup]]).
  *
  * `collect_list` state grows with a shingle's document frequency: a
  * boilerplate shingle (license header, templated text) shared by
  * millions of documents turns one aggregation buffer into gigabytes
  * and its pair expansion quadratic. This buffer is bounded at cap+1
  * postings — one past the cap proves overflow, the true df keeps
  * counting — so hot shingles DEGRADE (their row is filtered and
  * counted) instead of OOMing the aggregate or tripping the
  * graft_doc_pairs expansion guard. Partial aggregation applies
  * (TypedImperativeAggregate → ObjectHashAggregate), so every
  * partition's pre-shuffle state is equally bounded.
  *
  * Truncation order-dependence is harmless: a truncated list is only
  * ever emitted as empty (df > cap ⇒ `eval` discards the prefix), and
  * an untruncated one (df <= cap) holds every posting regardless of
  * merge order.
  *
  * Native `TypedImperativeAggregate` rather than a typed `Aggregator`:
  * `update` reads two longs straight off the input row into primitive
  * arrays — no per-row encoder, no immutable-collection churn — and
  * the buffer serializes as a flat byte image only at the partial-
  * aggregation shuffle boundary. Output schema is unchanged:
  * `struct<ds: array<struct<doc_id, sz>>, df: bigint>`.
  *
  * SQL surface: `graft_capped_postings(doc_id, sz, cap)` with `cap` a
  * positive integer literal.
  */
case class CappedPostingsAgg(
    docId: Expression,
    sz: Expression,
    capExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PostingsBuffer] {

  override def prettyName: String = "graft_capped_postings"
  override def children: Seq[Expression] = Seq(docId, sz, capExpr)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (docId.dataType == LongType && sz.dataType == LongType &&
        capExpr.dataType == IntegerType && capExpr.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_capped_postings(doc_id: bigint, sz: bigint, cap: int literal), " +
        s"got (${docId.dataType}, ${sz.dataType}, ${capExpr.dataType})")

  override def dataType: DataType = CappedPostingsAgg.OutputType

  private lazy val cap: Int = {
    val v = capExpr.eval(InternalRow.empty)
    require(v != null, "graft_capped_postings: cap must be a literal")
    val c = v.asInstanceOf[Int]
    require(c > 0, s"df cap must be positive, got $c")
    c
  }
  private def keep: Int = cap + 1

  override def createAggregationBuffer(): PostingsBuffer =
    new PostingsBuffer(16)

  override def update(buf: PostingsBuffer, input: InternalRow): PostingsBuffer = {
    val id = docId.eval(input)
    // df counts documents: a null id names none, so it is skipped
    if (id == null) return buf
    buf.df += 1L
    if (buf.n < keep) {
      val s = sz.eval(input)
      buf.ensure(1, keep)
      buf.ids(buf.n) = id.asInstanceOf[Long]
      buf.szs(buf.n) = if (s == null) 0L else s.asInstanceOf[Long]
      buf.n += 1
    }
    buf
  }

  override def merge(x: PostingsBuffer, y: PostingsBuffer): PostingsBuffer = {
    val take = math.min(keep - x.n, y.n)
    if (take > 0) {
      x.ensure(take, keep)
      System.arraycopy(y.ids, 0, x.ids, x.n, take)
      System.arraycopy(y.szs, 0, x.szs, x.n, take)
      x.n += take
    }
    x.df += y.df
    x
  }

  override def eval(buf: PostingsBuffer): Any = {
    val items: Array[Any] =
      if (buf.df <= cap) {
        val out = new Array[Any](buf.n)
        var i = 0
        while (i < buf.n) {
          out(i) = new GenericInternalRow(
            Array[Any](buf.ids(i), buf.szs(i)))
          i += 1
        }
        out
      } else Array.empty[Any]
    new GenericInternalRow(
      Array[Any](new GenericArrayData(items), buf.df))
  }

  /** Flat image: [df: i64][n: i32][ids ×n: i64][szs ×n: i64]. */
  override def serialize(buf: PostingsBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(12 + 16 * buf.n)
    bb.putLong(buf.df)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putLong(buf.ids(i)); i += 1 }
    i = 0
    while (i < buf.n) { bb.putLong(buf.szs(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): PostingsBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val df = bb.getLong()
    val n = bb.getInt()
    val buf = new PostingsBuffer(math.max(16, n))
    var i = 0
    while (i < n) { buf.ids(i) = bb.getLong(); i += 1 }
    i = 0
    while (i < n) { buf.szs(i) = bb.getLong(); i += 1 }
    buf.n = n
    buf.df = df
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CappedPostingsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CappedPostingsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CappedPostingsAgg =
    copy(docId = newChildren(0), sz = newChildren(1), capExpr = newChildren(2))
}

object CappedPostingsAgg {
  /** Byte-compatible with the former `Encoders.product[PostingList]`
    * schema: downstream code reads `pl.ds` / `pl.df` by name.
    */
  val OutputType: StructType = StructType(Seq(
    StructField("ds", ArrayType(StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("sz", LongType, nullable = false))),
      containsNull = false), nullable = false),
    StructField("df", LongType, nullable = false)))
}
