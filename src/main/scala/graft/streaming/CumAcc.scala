package graft.streaming

/** One aggregate slot's accumulator, the state carrier every slot
  * tracker shares (CUMULATE, pinned-grid, SESSION, OVER and the TTL'd
  * unbounded GROUP BY): non-null count, exact long sum, double sum,
  * typed min/max, for the DISTINCT kinds only the exact distinct-value
  * set (string-encoded, sorted for deterministic state; empty for every
  * other kind), for the variance-family kinds 17-20 only the central
  * moments `m1` (running mean) and `m2` (sum of squared deviations),
  * and for the decimal kinds 22-25 the exact running value `dec`.
  * `span`/`step` locate a CUMULATE accumulator; every other tracker
  * pins them to 0. The arithmetic over these fields is the law in the
  * companion object.
  */
final case class CumAcc(span: Long, step: Int, agg: Int, cnt: Long,
    sumL: Long, sumD: Double, mnL: Long, mxL: Long, mnD: Double, mxD: Double,
    ds: List[String] = Nil, m1: Double = 0d, m2: Double = 0d,
    dec: String = null)

/** The slot-accumulator law: how an empty accumulator is seeded, how
  * one non-null input folds in, how two partials merge, and how a slot
  * emits — defined once for every slot tracker, so a new aggregate kind
  * lands here and in the harness slot planner (`AggSlots`) only.
  *
  * Aggregate kinds: 0 = COUNT (rows with non-null input; COUNT(*)
  * feeds a literal), 1 = SUM exact over longs, 2 = SUM over doubles,
  * 3 = MIN long, 4 = MIN double, 5 = MAX long, 6 = MAX double,
  * 7 = AVG over doubles, 8 = AVG over longs (exact long sum divided
  * once), 9-13/21/26-29 = the DISTINCT kinds ([[isDistinctKind]]),
  * 17-20 = the variance family ([[isVarianceKind]]), 22-25 = the plain
  * decimal kinds ([[isDecimalKind]]). Kinds 14-16 (LAG, FIRST_VALUE,
  * LAST_VALUE) are [[OverAggTracker]]'s own. A slot whose inputs were
  * all null emits SQL NULL for SUM/MIN/MAX/AVG and 0 for COUNT —
  * matching batch aggregation semantics.
  *
  * The min/max fields of a `cnt = 0` accumulator are unset sentinels
  * that never meet real data: [[fold]] seeds them from the first
  * non-null value and [[merge]] takes the other side outright when one
  * side is empty (a `Long.MaxValue` input or a NaN/Infinity double
  * would otherwise lose to, or corrupt against, the sentinel; Chan's
  * moment merge against an empty side would perturb `m1`).
  */
object CumAcc {

  /** The empty accumulator of slot `agg`, its extrema at the sentinels. */
  def empty(agg: Int, span: Long = 0L, step: Int = 0): CumAcc =
    CumAcc(span, step, agg, 0L, 0L, 0d, Long.MaxValue, Long.MinValue,
      Double.MaxValue, Double.MinValue)

  /** Folds one NON-NULL input of slot kind `kind` into `a`: the value
    * as long (`lv`), as double (`dv`) and as string (`sv`, read by the
    * decimal kinds). A DISTINCT kind only counts the row here — its
    * value goes to the caller's distinct-value set. Doubles compare
    * with Spark's NaN-safe ordering; the variance kinds fold their
    * central moments by Welford, the update path Spark's batch
    * aggregation runs, so a streamed variance matches batch bit for
    * bit.
    */
  def fold(kind: Int, a: CumAcc, lv: Long, dv: Double, sv: String): CumAcc =
    if (isDistinctKind(kind)) a.copy(cnt = a.cnt + 1L)
    else if (isDecimalKind(kind))
      a.copy(cnt = a.cnt + 1L, dec = decFold(kind, a.dec, sv))
    else {
      val first = a.cnt == 0L
      val (nm1, nm2) =
        if (isVarianceKind(kind)) momentAdd(a.cnt + 1L, a.m1, a.m2, dv)
        else (a.m1, a.m2)
      a.copy(cnt = a.cnt + 1L,
        sumL = a.sumL + lv, sumD = a.sumD + dv,
        mnL = if (first) lv else math.min(a.mnL, lv),
        mxL = if (first) lv else math.max(a.mxL, lv),
        mnD = if (first) dv else nanMin(a.mnD, dv),
        mxD = if (first) dv else nanMax(a.mxD, dv),
        m1 = nm1, m2 = nm2)
    }

  /** Merges partial `a` into `m` (keeping `m`'s span/step/agg): counts
    * and sums add, extrema compare NaN-safely, moments merge by Chan,
    * the decimal seat by the kind's add/compare law. Distinct-value
    * lists concatenate; callers deduplicate once, at state save or
    * emission.
    */
  def merge(kind: Int, m: CumAcc, a: CumAcc): CumAcc = {
    val ds =
      if (a.ds.isEmpty) m.ds else if (m.ds.isEmpty) a.ds else m.ds ++ a.ds
    if (a.cnt == 0L) { if (a.ds.isEmpty) m else m.copy(ds = ds) }
    else if (m.cnt == 0L)
      m.copy(cnt = a.cnt, sumL = a.sumL, sumD = a.sumD,
        mnL = a.mnL, mxL = a.mxL, mnD = a.mnD, mxD = a.mxD,
        ds = ds, m1 = a.m1, m2 = a.m2, dec = a.dec)
    else {
      val (nm1, nm2) = momentMerge(m.cnt, m.m1, m.m2, a.cnt, a.m1, a.m2)
      m.copy(cnt = m.cnt + a.cnt,
        sumL = m.sumL + a.sumL, sumD = m.sumD + a.sumD,
        mnL = math.min(m.mnL, a.mnL), mxL = math.max(m.mxL, a.mxL),
        mnD = nanMin(m.mnD, a.mnD), mxD = nanMax(m.mxD, a.mxD),
        ds = ds, m1 = nm1, m2 = nm2,
        dec = decFold(kind, m.dec, a.dec))
    }
  }

  /** The house vals JSON object `{"a0": ..., "a1": ...}` over
    * (field name, JSON value) pairs, decoded by the harness with the
    * result schema. */
  def valsJson(fields: Iterable[(String, String)]): String =
    fields.iterator.map { case (k, v) => s""""$k": $v""" }
      .mkString("{", ", ", "}")

  /** The vals JSON of one emitted row: slot `i` of kind `kinds(i)`
    * reads accumulator `acc(i)` and distinct-value set `ds(i)`; SQL
    * NULL results are omitted. */
  def vals(kinds: Array[Int], acc: Int => CumAcc,
      ds: Int => scala.collection.Set[String]): String =
    valsJson(kinds.indices.flatMap(i =>
      fieldValue(kinds(i), acc(i), ds(i)).map(v => s"a$i" -> v)))

  /** The kinds whose accumulator keeps the window's exact
    * distinct-value set (string-encoded): 9 = COUNT(DISTINCT),
    * 10 = SUM(DISTINCT integral), 11 = AVG(DISTINCT integral),
    * 12 = SUM(DISTINCT double), 13 = AVG(DISTINCT double) — the
    * double kinds re-parse the exact string carrier and fold in
    * SORTED order so replay is deterministic (double addition is not
    * associative; a hash-set iteration order must never reach the
    * sum). Kind 21 is the distinct-set PASSTHROUGH: the sorted value
    * set emits verbatim as a JSON string array, and the harness
    * finishes the arithmetic in Catalyst decimal expressions
    * (SUM/AVG(DISTINCT decimal) — exact and fold-order-free). Kinds
    * 26-29 are the variance family over DISTINCT inputs — VAR_POP/
    * VAR_SAMP/STDDEV_POP/STDDEV_SAMP = plain kind + 9 — whose
    * accumulator keeps the value set and re-folds the central moments
    * over the SORTED set at emission (deterministic replay; the values
    * are exactly what batch deduplication feeds Spark's moment
    * arithmetic).
    */
  private[graft] def isDistinctKind(k: Int): Boolean =
    (k >= 9 && k <= 13) || k == 21 || (k >= 26 && k <= 29)

  /** The plain-decimal kinds: 22 = SUM, 23 = AVG, 24 = MIN, 25 = MAX
    * over DECIMAL inputs — the accumulator's `dec` string seat carries
    * the running exact value (BigDecimal addition is exact and
    * associative, so folds and merges are order-free; comparisons are
    * SQL decimal ordering). SUM/MIN/MAX emit the value as JSON number
    * text decoded straight into the result decimal type; AVG emits
    * `{"s": sum, "n": count}` and the harness finishes the division in
    * Catalyst with Spark's Average result arithmetic — bit-identical
    * to batch. Inputs ride the `sv` string slot like the distinct
    * kinds.
    */
  private[graft] def isDecimalKind(k: Int): Boolean = k >= 22 && k <= 25

  /** The variance-family kinds: 17 = VAR_POP, 18 = VAR_SAMP,
    * 19 = STDDEV_POP, 20 = STDDEV_SAMP. All four accumulate the same
    * central moments (count, mean, M2) and differ only at emission —
    * exactly Spark's CentralMomentAgg family, whose update and merge
    * arithmetic [[momentAdd]] / [[momentMerge]] replicate step for
    * step so a streamed variance is the same computation batch runs.
    */
  private[graft] def isVarianceKind(k: Int): Boolean = k >= 17 && k <= 20

  /** Folds (or merges) one exact decimal value into the running `dec`
    * seat: add for SUM/AVG, SQL ordering for MIN/MAX. `cur` may be
    * null (no value yet); both arguments are plain decimal texts. */
  private[streaming] def decFold(kind: Int, cur: String, v: String): String =
    if (cur == null) v
    else if (v == null) cur
    else kind match {
      case 22 | 23 => new java.math.BigDecimal(cur)
        .add(new java.math.BigDecimal(v)).toPlainString
      case 24 => if (new java.math.BigDecimal(v)
        .compareTo(new java.math.BigDecimal(cur)) < 0) v else cur
      case _ => if (new java.math.BigDecimal(v)
        .compareTo(new java.math.BigDecimal(cur)) > 0) v else cur
    }

  /** Welford update — Spark's CentralMomentAgg.updateExpressions:
    * folds value `x` into moments `(m1, m2)`; `cntAfter` is the
    * non-null count INCLUDING `x`. */
  private[streaming] def momentAdd(cntAfter: Long, m1: Double, m2: Double,
      x: Double): (Double, Double) = {
    val delta = x - m1
    val deltaN = delta / cntAfter.toDouble
    (m1 + deltaN, m2 + delta * (delta - deltaN))
  }

  /** Parallel moment merge — Spark's CentralMomentAgg
    * .mergeExpressions (Chan et al.): combines two partial
    * (count, m1, m2) triples. */
  private[streaming] def momentMerge(n1: Long, m1a: Double, m2a: Double,
      n2: Long, m1b: Double, m2b: Double): (Double, Double) = {
    val n = (n1 + n2).toDouble
    val delta = m1b - m1a
    val deltaN = if (n == 0d) 0d else delta / n
    (m1a + deltaN * n2.toDouble,
      m2a + m2b + delta * deltaN * n1.toDouble * n2.toDouble)
  }

  /** Exact double SUM over a distinct-value string set, in ascending
    * numeric order for deterministic replay. */
  private[streaming] def distinctDoubleSum(ds: Iterable[String]): Double = {
    val arr = ds.iterator.map(_.toDouble).toArray
    java.util.Arrays.sort(arr)
    var s = 0d
    var i = 0
    while (i < arr.length) { s += arr(i); i += 1 }
    s
  }

  /** One aggregate slot's emission value as JSON number/text. `None` =
    * SQL NULL (omitted from the vals object); `ds` is the slot's
    * distinct-value set (empty for non-distinct kinds).
    */
  private[streaming] def fieldValue(kind: Int, a: CumAcc,
      ds: scala.collection.Set[String]): Option[String] = kind match {
    case 0 => Some(a.cnt.toString)
    case 1 => if (a.cnt == 0) None else Some(a.sumL.toString)
    case 2 => if (a.cnt == 0) None else Some(fmtD(a.sumD))
    case 3 => if (a.cnt == 0) None else Some(a.mnL.toString)
    case 4 => if (a.cnt == 0) None else Some(fmtD(a.mnD))
    case 5 => if (a.cnt == 0) None else Some(a.mxL.toString)
    case 6 => if (a.cnt == 0) None else Some(fmtD(a.mxD))
    case 7 => if (a.cnt == 0) None else Some(fmtD(a.sumD / a.cnt))
    case 9 => Some(ds.size.toString)
    case 10 => if (ds.isEmpty) None
      else Some(ds.iterator.map(_.toLong).sum.toString)
    case 11 => if (ds.isEmpty) None
      else Some(fmtD(ds.iterator.map(_.toLong).sum.toDouble / ds.size))
    case 12 => if (ds.isEmpty) None else Some(fmtD(distinctDoubleSum(ds)))
    case 13 => if (ds.isEmpty) None
      else Some(fmtD(distinctDoubleSum(ds) / ds.size))
    // set passthrough: the sorted value set as a JSON string array —
    // the harness finishes the arithmetic (decimal texts are
    // [-0-9.]-only, but escape anyway: the carrier contract is general)
    case 21 => if (ds.isEmpty) None
      else Some(ds.toSeq.sorted.map(jsonText).mkString("[", ",", "]"))
    // variance family (kinds 17-20): Spark's ANSI-default divide-by-
    // zero results, pinned empirically — a single-row *_SAMP is SQL
    // NULL (with ANSI off Spark would emit NaN instead), a single-row
    // *_POP is 0.0
    case 17 => if (a.cnt == 0) None else Some(fmtD(a.m2 / a.cnt.toDouble))
    case 18 => if (a.cnt <= 1) None
      else Some(fmtD(a.m2 / (a.cnt - 1L).toDouble))
    case 19 => if (a.cnt == 0) None
      else Some(fmtD(math.sqrt(a.m2 / a.cnt.toDouble)))
    case 20 => if (a.cnt <= 1) None
      else Some(fmtD(math.sqrt(a.m2 / (a.cnt - 1L).toDouble)))
    // plain decimal (22-25): SUM/MIN/MAX emit the exact value as JSON
    // number text; AVG emits (sum, count) for the harness' Catalyst
    // division
    case 22 | 24 | 25 => if (a.cnt == 0) None else Some(a.dec)
    case 23 => if (a.cnt == 0) None
      else Some(s"""{"s": ${a.dec}, "n": ${a.cnt}}""")
    // DISTINCT variance (26-29 = plain kind + 9): re-fold the central
    // moments over the SORTED distinct set — deterministic replay, and
    // exactly the deduplicated values batch feeds CentralMomentAgg.
    // Same divide-by-zero pins as 17-20: single-value *_SAMP is NULL,
    // *_POP is 0.0
    case 26 | 27 | 28 | 29 =>
      if (ds.isEmpty) None
      else {
        val arr = ds.iterator.map(_.toDouble).toArray
        java.util.Arrays.sort(arr)
        var n = 0L
        var m1 = 0d
        var m2 = 0d
        arr.foreach { x =>
          n += 1L
          val (a1, a2) = momentAdd(n, m1, m2, x)
          m1 = a1
          m2 = a2
        }
        kind match {
          case 26 => Some(fmtD(m2 / n.toDouble))
          case 27 => if (n <= 1L) None else Some(fmtD(m2 / (n - 1L).toDouble))
          case 28 => Some(fmtD(math.sqrt(m2 / n.toDouble)))
          case _ => if (n <= 1L) None
            else Some(fmtD(math.sqrt(m2 / (n - 1L).toDouble)))
        }
      }
    case _ => if (a.cnt == 0) None else Some(fmtD(a.sumL.toDouble / a.cnt))
  }

  /** JSON string literal for a carried state value — the one escape
    * routine for every string the trackers embed in their vals JSON
    * (the kind-21 set carrier here, the LAG/FIRST/LAST value carrier
    * in [[OverAggTracker]]). */
  private[streaming] def jsonText(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** JSON number text for a double aggregate value — integral-valued
    * doubles render `N.0` so the decoded type is unambiguous. */
  private[streaming] def fmtD(v: Double): String =
    if (v == Math.rint(v) && math.abs(v) < 1e15) v.toLong.toString + ".0"
    else java.lang.Double.toString(v)

  /** Spark SQL's double ordering (`nanSafeCompareDoubles`): NaN equals
    * NaN and sorts above every other value (including +Infinity), and
    * -0.0 equals 0.0. MIN/MAX must use this — `Math.min` would
    * propagate NaN into MIN where Spark's MIN picks the non-NaN value.
    */
  private def nanSafeCompare(x: Double, y: Double): Int = {
    val xNaN = java.lang.Double.isNaN(x)
    val yNaN = java.lang.Double.isNaN(y)
    if ((xNaN && yNaN) || x == y) 0
    else if (xNaN) 1
    else if (yNaN) -1
    else if (x > y) 1
    else -1
  }
  private[streaming] def nanMin(x: Double, y: Double): Double =
    if (nanSafeCompare(x, y) <= 0) x else y
  private[streaming] def nanMax(x: Double, y: Double): Double =
    if (nanSafeCompare(x, y) >= 0) x else y
}
