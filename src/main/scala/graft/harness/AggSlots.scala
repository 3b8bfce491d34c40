package graft.harness

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The shared tracker-slot planner for SQL aggregates riding the
  * streaming state trackers — one kind table for the window-TVF
  * aggregation pass ([[WindowTvf]]) and the OVER aggregation pass
  * ([[OverAgg]]), so a new kind or a type-admission change lands in
  * exactly one place. Kinds are the slot-accumulator law's
  * ([[graft.streaming.CumAcc]]):
  * 0 = COUNT, 1/2 = SUM long/double, 3/4 = MIN, 5/6 = MAX,
  * 7/8 = AVG double/long, 9 = COUNT(DISTINCT),
  * 10/11 = SUM/AVG(DISTINCT integral), 12/13 = SUM/AVG(DISTINCT
  * float/double via the exact string carrier), 17/18/19/20 =
  * VAR_POP/VAR_SAMP/STDDEV_POP/STDDEV_SAMP (central moments),
  * 21 = distinct-set passthrough (SUM/AVG(DISTINCT decimal) — the
  * sorted value set emits as a JSON string array and the harness
  * finishes the arithmetic in Catalyst decimal expressions),
  * 22/23/24/25 = plain SUM/AVG/MIN/MAX over DECIMAL inputs (the exact
  * BigDecimal string seat; AVG finishes its division here),
  * 26/27/28/29 = the variance family over DISTINCT inputs (r17 —
  * value-set state, moments re-folded over the sorted set at
  * emission).
  */
private[harness] object AggSlots {

  /** Variance-family function names → tracker kind (17 = VAR_POP,
    * 18 = VAR_SAMP, 19 = STDDEV_POP, 20 = STDDEV_SAMP). VARIANCE and
    * STDDEV are the SQL-standard sample aliases, as in Spark and
    * Flink. */
  val VarianceFns: Map[String, Int] = Map(
    "VAR_POP" -> 17, "VAR_SAMP" -> 18, "VARIANCE" -> 18,
    "STDDEV_POP" -> 19, "STDDEV_SAMP" -> 20, "STDDEV" -> 20)

  /** The regex alternation of every aggregate-function name the slot
    * planner accepts — callers splice it into their select-item /
    * re-aggregation-detection patterns so the name list lives here. */
  val FnAlternation: String =
    "COUNT|SUM|MIN|MAX|AVG|STDDEV_SAMP|STDDEV_POP|STDDEV|" +
      "VAR_SAMP|VAR_POP|VARIANCE"

  /** Kinds whose input rides the exact long slot (`lv`). */
  def readsLong(kind: Int): Boolean =
    kind == 1 || kind == 3 || kind == 5 || kind == 8

  /** Kinds whose input rides the double slot (`dv`) — the double
    * SUM/MIN/MAX/AVG kinds plus the variance family (which always
    * accumulates central moments in doubles, Spark's cast). */
  def readsDouble(kind: Int): Boolean =
    kind == 2 || kind == 4 || kind == 6 || kind == 7 ||
      graft.streaming.CumAcc.isVarianceKind(kind)

  /** Injective string encoding for a DISTINCT value slot: how a value
    * of type `dt` rides the tracker's string state so SQL-equal values
    * collide and only they do. Lossless types pass natively;
    * floats/doubles normalize -0.0 to 0.0 first (Spark's DISTINCT
    * treats them equal; Java's round-trip text is injective on the
    * rest, NaN included); decimals and dates print canonically;
    * timestamps ride epoch micros. Nested/binary have no encoding.
    */
  def distinctEncode(input: String, dt: DataType): Option[String] =
    dt match {
      case _ if graft.streaming.StateFormat.jsonLossless(dt) => Some(input)
      case FloatType | DoubleType =>
        Some(s"(CAST(($input) AS DOUBLE) + CAST(0.0 AS DOUBLE))")
      case _: DecimalType | DateType => Some(input)
      case _: TimestampType | _: TimestampNTZType =>
        Some(s"unix_micros(CAST(($input) AS TIMESTAMP))")
      case _ => None
    }

  /** One planned aggregate slot: the tracker kind, the type the value
    * has inside the emitted vals JSON (`storage`), the slot input
    * expression, and — for the set-passthrough kinds — the `finish`
    * transform the harness applies to the decoded storage column to
    * produce the SQL result (decimal distinct arithmetic defers to
    * Catalyst decimal expressions this way, so the result is
    * bit-identical to the batch aggregate). */
  final case class Slot(kind: Int, storage: DataType, input: String,
      finish: Option[Column => Column] = None)

  /** The four slot input arrays (nn, lv, dv, sv) for a planned slot
    * list — each value slot built ONLY for the kinds that read it:
    * COUNT reads neither (so COUNT over a non-castable array/struct
    * never builds an invalid cast), integral kinds read lv, double
    * kinds read dv (an ANSI NaN→long cast on an unused slot would
    * throw otherwise), the distinct/decimal kinds read sv. One
    * builder shared by the window-TVF, TTL'd-unbounded, and future
    * tracker passes so the slot contract cannot diverge. */
  def slotInputArrays(plans: Seq[Slot]):
      (Column, Column, Column, Column) = {
    val nn = array(plans.map(p => expr(p.input).isNotNull): _*)
    val lv = array(plans.map(p =>
      if (readsLong(p.kind))
        coalesce(expr(p.input).cast("long"), lit(0L))
      else lit(0L)): _*)
    val dv = array(plans.map(p =>
      if (readsDouble(p.kind))
        coalesce(expr(p.input).cast("double"), lit(0d))
      else lit(0d)): _*)
    val sv = array(plans.map(p =>
      if (graft.streaming.CumAcc.isDistinctKind(p.kind) ||
          graft.streaming.CumAcc.isDecimalKind(p.kind))
        expr(p.input).cast("string")
      else lit(null).cast("string")): _*)
    (nn, lv, dv, sv)
  }

  /** Rejects per-key state keys whose type cannot round-trip the
    * to_json/from_json state encoding losslessly — the shared tracker
    * contract (timestamp/decimal/float keys could lose precision on
    * the way back; a NaN double key produces non-decodable JSON). */
  def requireLosslessKeys(resolve: String => DataType, keys: Seq[String],
      what: String, fail: String => Nothing, hint: String = ""): Unit =
    keys.foreach { k =>
      val dt = resolve(k)
      if (!graft.streaming.StateFormat.jsonLossless(dt))
        fail(s"$what key $k has type ${dt.simpleString} — keys must " +
          "round-trip the JSON state encoding losslessly " +
          "(string / integer / boolean)" + hint)
    }

  /** Plans one aggregate slot for COUNT/SUM/MIN/MAX/AVG (with optional
    * DISTINCT) and the variance family.
    * `resolve` analyzes an input expression to its type (never called
    * for `COUNT(*)`); `fail` raises the caller's contract error.
    * MIN/MAX(DISTINCT) fold to their distinct-invariant plain forms —
    * Flink plans the same.
    */
  def plan(fn: String, distinct: Boolean, arg: String,
      resolve: String => DataType,
      fail: String => Nothing): Slot = {
    def integralOf(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case FloatType | DoubleType => false
      case other => fail(s"$fn($arg): unsupported input " +
        s"type ${other.simpleString} (numeric only)")
    }
    val isMinMax = fn == "MIN" || fn == "MAX"
    if (VarianceFns.contains(fn)) {
      // VAR_POP/VAR_SAMP/STDDEV_POP/STDDEV_SAMP (+ sample aliases):
      // one fixed-size central-moment accumulator, Spark's
      // CentralMomentAgg arithmetic; inputs cast to double exactly as
      // Spark's batch evaluation does. DISTINCT variance (r17) keeps
      // the value set like the other distinct aggregates (kinds 26-29,
      // = plain kind + 9) and re-folds the central moments over the
      // SORTED set at emission — deterministic replay, exactly the
      // values batch deduplication feeds Spark's moment arithmetic.
      resolve(arg) match {
        case dt @ (ByteType | ShortType | IntegerType | LongType |
            FloatType | DoubleType) =>
          if (distinct)
            Slot(VarianceFns(fn) + 9, DoubleType, distinctEncode(arg, dt).get)
          else Slot(VarianceFns(fn), DoubleType, arg)
        case dt: DecimalType =>
          if (distinct)
            Slot(VarianceFns(fn) + 9, DoubleType, distinctEncode(arg, dt).get)
          else Slot(VarianceFns(fn), DoubleType, arg)
        case other => fail(s"$fn($arg): unsupported input type " +
          s"${other.simpleString} (numeric only)")
      }
    } else if (distinct && fn == "COUNT") {
      val dt = resolve(arg)
      val enc = distinctEncode(arg, dt).getOrElse(
        fail(s"COUNT(DISTINCT $arg) over ${dt.simpleString} — " +
          "distinct values must ride the string state encoding " +
          "injectively; nested and binary types have no encoding"))
      Slot(9, LongType, enc)
    } else if (distinct && !isMinMax) { // SUM / AVG
      // distinct arithmetic keeps the value set like COUNT(DISTINCT)
      // and folds it at emission — integral inputs accumulate as exact
      // longs (kinds 10/11); float/double inputs ride the exact string
      // carrier and fold in sorted order for deterministic replay
      // (kinds 12/13); decimal inputs (r16) ride the set-passthrough
      // kind 21 — the tracker emits the sorted value set as a JSON
      // string array, and the finish transform computes the aggregate
      // with Catalyst's OWN decimal expressions (sum accumulated at
      // Spark's sum precision p+10, AVG dividing by a DECIMAL(20,0)
      // count and casting to Spark's Average result type), so the
      // result is bit-identical to the batch aggregate, exact and
      // fold-order-free.
      resolve(arg) match {
        case ByteType | ShortType | IntegerType | LongType =>
          if (fn == "SUM") Slot(10, LongType, arg)
          else Slot(11, DoubleType, arg)
        case dt @ (FloatType | DoubleType) =>
          val enc = distinctEncode(arg, dt).get
          if (fn == "SUM") Slot(12, DoubleType, enc)
          else Slot(13, DoubleType, enc)
        case dt: DecimalType =>
          val sumT = DecimalType(math.min(38, dt.precision + 10), dt.scale)
          def sumOf(c: Column): Column =
            aggregate(c, lit(0).cast(sumT),
              (acc, x) => (acc + x.cast(dt)).cast(sumT))
          val finish: Column => Column =
            if (fn == "SUM") { c =>
              when(size(c) > 0, sumOf(c)).otherwise(lit(null).cast(sumT))
            } else { c =>
              val avgT = DecimalType(math.min(38, dt.precision + 4),
                math.min(38, dt.scale + 4))
              when(size(c) > 0,
                (sumOf(c) / size(c).cast(DecimalType(20, 0))).cast(avgT))
                .otherwise(lit(null).cast(avgT))
            }
          Slot(21, ArrayType(StringType), arg, Some(finish))
        case other => fail(
          s"$fn(DISTINCT $arg) over ${other.simpleString} — " +
            "distinct arithmetic aggregates support integral, " +
            "float/double, and decimal inputs (the value set rides " +
            "the string state encoding); cast upstream or use batch " +
            "runtime mode")
      }
    } else if (fn == "COUNT") {
      Slot(0, LongType, if (arg == "*") "1" else arg)
    } else resolve(arg) match {
      // plain DECIMAL aggregates (r16, kinds 22-25): the exact
      // BigDecimal string seat accumulates in the tracker; SUM/MIN/MAX
      // decode straight into Spark's result types, AVG emits
      // (sum, count) and divides here with Spark's Average arithmetic
      // — bit-identical to batch, overflow past 38 digits excepted
      // (the tracker's unbounded sum decodes NULL where ANSI batch
      // would raise)
      case dt: DecimalType =>
        val sumT = DecimalType(math.min(38, dt.precision + 10), dt.scale)
        fn match {
          case "SUM" => Slot(22, sumT, arg)
          case "MIN" => Slot(24, dt, arg)
          case "MAX" => Slot(25, dt, arg)
          case _ => // AVG
            val avgT = DecimalType(math.min(38, dt.precision + 4),
              math.min(38, dt.scale + 4))
            val storage = StructType(Array(
              StructField("s", sumT, nullable = true),
              StructField("n", LongType, nullable = true)))
            Slot(23, storage, arg, Some(c =>
              (c.getField("s") / c.getField("n").cast(DecimalType(20, 0)))
                .cast(avgT)))
        }
      case dt =>
        // MIN/MAX(DISTINCT) land here with distinct already irrelevant
        val integral = integralOf(dt)
        fn match {
          case "SUM" => Slot(if (integral) 1 else 2,
            if (integral) LongType else DoubleType, arg)
          case "MIN" => Slot(if (integral) 3 else 4,
            if (integral) LongType else DoubleType, arg)
          case "MAX" => Slot(if (integral) 5 else 6,
            if (integral) LongType else DoubleType, arg)
          case _ => Slot(if (integral) 8 else 7, DoubleType, arg)
        }
    }
  }
}
