package graft.functions

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native pair expansion must emit exactly the pairs of the nested
  * `transform` lambda form it replaced — (toks[i], toks[j]) for every
  * i < j, in the same order — including the empty and single-token
  * edge cases.
  */
class TokenPairsSpec extends AnyFunSuite {

  private val lambdaForm =
    "flatten(transform(toks, (x, i) -> " +
      "transform(slice(toks, i + 2, size(toks)), " +
      "y -> struct(x AS tok_a, y AS tok_b))))"

  test("native pairs equal the lambda form on varied token arrays") {
    val spark = SparkFixture.spark
    import spark.implicits._
    GraftFunctions.register(spark)
    val rows = Seq(
      Seq.empty[String],
      Seq("only"),
      Seq("a", "b"),
      Seq("a", "b", "c", "d"),
      (1 to 40).map(i => f"tok$i%02d"))
    val df = rows.toDF("toks")
    val native = df.select(expr("graft_token_pairs(toks)").as("p"))
      .collect().map(_.getSeq[Any](0).toList).toList
    val lambda = df.select(expr(lambdaForm).as("p"))
      .collect().map(_.getSeq[Any](0).toList).toList
    assert(native == lambda)
    // and the 40-token row expanded to exactly C(40, 2) pairs
    assert(native.last.size == 40 * 39 / 2)
  }

  test("over-expansion fails loud instead of overflowing") {
    val spark = SparkFixture.spark
    import spark.implicits._
    GraftFunctions.register(spark)
    // 66k tokens -> > Int.MaxValue pairs; must raise the named guard
    val big = Seq(Seq.fill(66000)("t")).toDF("toks")
    val e = intercept[Exception] {
      big.select(expr("size(graft_token_pairs(toks))")).collect()
    }
    // the guard is thrown in a task, so it may arrive as a cause
    val guard = "graft_token_pairs: 66000 tokens expand to 2177967000 pairs"
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toList
    assert(msgs.exists(_.contains(guard)), msgs.mkString("\n"))
  }
}
