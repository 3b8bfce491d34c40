package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** The slot-accumulator law ([[CumAcc]]) exercised directly, with no
  * SparkSession: fold/merge agreement over every split of an input,
  * sentinel seeding, Spark's NaN-safe double ordering, and the
  * empty-side merge branch that keeps the moments bit-identical.
  */
class CumAccSpec extends AnyFunSuite {

  /** Kinds whose accumulator is the fixed-size fields (the DISTINCT
    * kinds keep their value sets in the trackers). */
  private val Kinds = (0 to 8) ++ (17 to 20) ++ (22 to 25)

  /** One slot input: the value as long, double and decimal text. */
  private final case class In(lv: Long, dv: Double, sv: String)

  private def inputs(seed: Long, n: Int): Seq[In] = {
    val r = new scala.util.Random(seed)
    Seq.fill(n) {
      val l = r.nextInt(2001).toLong - 1000L
      In(l, l * 0.37 + r.nextDouble(),
        java.math.BigDecimal.valueOf(r.nextLong() % 1000000L, 3)
          .toPlainString)
    }
  }

  private def foldAll(kind: Int, xs: Seq[In]): CumAcc =
    xs.foldLeft(CumAcc.empty(kind))((a, x) =>
      CumAcc.fold(kind, a, x.lv, x.dv, x.sv))

  private def close(x: Double, y: Double): Boolean =
    x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  test("merge(fold(xs), fold(ys)) equals fold(xs ++ ys) at every split") {
    for (kind <- Kinds; seed <- 1L to 5L) {
      val all = inputs(seed * 31L + kind, 12)
      val whole = foldAll(kind, all)
      for (k <- 0 to all.length) {
        val (xs, ys) = all.splitAt(k)
        val m = CumAcc.merge(kind, foldAll(kind, xs), foldAll(kind, ys))
        val at = s"kind $kind seed $seed split $k"
        assert(m.cnt === whole.cnt, at)
        assert(m.sumL === whole.sumL, at)
        assert(m.mnL === whole.mnL && m.mxL === whole.mxL, at)
        assert(bits(m.mnD) === bits(whole.mnD), at)
        assert(bits(m.mxD) === bits(whole.mxD), at)
        assert(m.dec === whole.dec, at)
        assert(close(m.sumD, whole.sumD), s"$at sumD ${m.sumD} ${whole.sumD}")
        assert(close(m.m1, whole.m1), s"$at m1 ${m.m1} ${whole.m1}")
        assert(close(m.m2, whole.m2), s"$at m2 ${m.m2} ${whole.m2}")
        assert(CumAcc.fieldValue(kind, m, Set.empty).isDefined ===
          CumAcc.fieldValue(kind, whole, Set.empty).isDefined, at)
      }
    }
  }

  test("a first value of Long.MaxValue or Long.MinValue seeds the sentinels") {
    for (v <- Seq(Long.MaxValue, Long.MinValue); kind <- Seq(3, 5)) {
      val a = CumAcc.fold(kind, CumAcc.empty(kind), v, v.toDouble, null)
      assert(a.mnL === v && a.mxL === v, s"kind $kind value $v")
      assert(CumAcc.fieldValue(kind, a, Set.empty) === Some(v.toString))
      // the seeded side wins a merge against an empty partial, either way
      assert(CumAcc.merge(kind, CumAcc.empty(kind), a) === a)
      assert(CumAcc.merge(kind, a, CumAcc.empty(kind)) === a)
    }
    // a double first value seeds too: +Infinity would lose a MIN to the
    // Double.MaxValue sentinel, NaN would be skipped by it
    for (v <- Seq(Double.PositiveInfinity, Double.NaN)) {
      val a = CumAcc.fold(4, CumAcc.empty(4), 0L, v, null)
      assert(bits(a.mnD) === bits(v) && bits(a.mxD) === bits(v), s"value $v")
    }
  }

  test("NaN, -0.0 and Infinity follow Spark's ordering: MAX picks NaN, MIN skips it") {
    val nan = Double.NaN
    val ninf = Double.NegativeInfinity
    val pinf = Double.PositiveInfinity
    val values = Seq(1.0, nan, ninf, pinf, -0.0, 0.0)
    def minMax(xs: Seq[Double]): (Double, Double) = {
      val a = xs.foldLeft(CumAcc.empty(4))((a, x) =>
        CumAcc.fold(4, a, 0L, x, null))
      (a.mnD, a.mxD)
    }
    for (order <- values.permutations) {
      val (mn, mx) = minMax(order)
      assert(mn === ninf, s"MIN over $order")
      assert(mx.isNaN, s"MAX over $order")
    }
    // NaN first: MIN skips it once a number arrives, MAX keeps it
    assert(minMax(Seq(nan, 3.0)) match {
      case (mn, mx) => mn == 3.0 && mx.isNaN
    })
    // NaN sorts above +Infinity
    assert(minMax(Seq(pinf, nan)) match {
      case (mn, mx) => mn == pinf && mx.isNaN
    })
    // -0.0 and 0.0 are equal: either is the MIN of the pair
    val (mn0, mx0) = minMax(Seq(-0.0, 0.0))
    assert(mn0 == 0.0 && mx0 == 0.0)
    // the merge compares the same way
    val m = CumAcc.merge(4, CumAcc.fold(4, CumAcc.empty(4), 0L, nan, null),
      CumAcc.fold(4, CumAcc.empty(4), 0L, 2.0, null))
    assert(m.mnD === 2.0 && m.mxD.isNaN)
    assert(CumAcc.fieldValue(4, m, Set.empty) === Some("2.0"))
    assert(CumAcc.fieldValue(6, m, Set.empty) === Some("NaN"))
  }

  test("merge(empty, a) equals a with bit-identical m1/m2") {
    // Chan's merge against an empty side computes (m1 / n) * n, which
    // is not always m1 in floating point: the seeding branch must take
    // the non-empty side outright
    var chanWouldPerturb = false
    for (kind <- 17 to 20; seed <- 1L to 40L) {
      val a = foldAll(kind, inputs(seed * 7L + kind, 1 + (seed % 9).toInt))
      val m = CumAcc.merge(kind, CumAcc.empty(kind), a)
      assert(m === a, s"kind $kind seed $seed")
      assert(bits(m.m1) === bits(a.m1) && bits(m.m2) === bits(a.m2),
        s"kind $kind seed $seed")
      val (c1, c2) = CumAcc.momentMerge(0L, 0d, 0d, a.cnt, a.m1, a.m2)
      if (bits(c1) != bits(a.m1) || bits(c2) != bits(a.m2))
        chanWouldPerturb = true
    }
    assert(chanWouldPerturb,
      "no input exercises the difference between seeding and Chan's merge")
    // a one-value fold is the single-value moments: mean = x, M2 = 0
    val one = CumAcc.fold(17, CumAcc.empty(17), 0L, 2.5, null)
    assert(one.m1 === 2.5 && bits(one.m2) === bits(0d))
  }
}
