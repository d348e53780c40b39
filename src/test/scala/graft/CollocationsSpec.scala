package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Collocations

/** PMI collocation semantics pinned for the `pmi_collocations`
  * oracle. */
class CollocationsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  test("hand-computed PMI on a tiny corpus") {
    import spark.implicits._
    // N = 4+3+2 = 9 tokens, B = 3+2+1 = 6 bigrams
    val df = Seq(
      "New York New York",   // pairs: (new,york) x2, (york,new) x1
      "New York is",         // (new,york), (york,is)
      "the end").toDF("text")
    val got = Collocations.pmiTopK(df, "text", minCount = 3, k = 5)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    // only (new, york) reaches minCount 3: c=3, ca(new)=3, ca(york)=3
    // -> pmi = ln(3*81 / (3*3*6)) = ln(243/54) = ln(4.5)
    val exp = math.floor(1e6 * math.log(243.0 / 54.0)).toLong
    assert(got == Seq(("new", "york", 3L, 3L, 3L, exp)))
  }

  test("unigram counts derive exactly from the pair table") {
    import spark.implicits._
    // last token of each doc must still count as a unigram
    val df = Seq("a b", "b").toDF("text")
    val got = Collocations.pmiTopK(df, "text", minCount = 1, k = 10)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    // one bigram (a,b): c=1, n_w1(a)=1, n_w2(b)=2, N=3, B=1
    assert(got.map(r => (r._1, r._2, r._3, r._4, r._5)) ==
      Seq(("a", "b", 1L, 1L, 2L)))
    assert(got.head._6 == math.floor(1e6 * math.log(9.0 / 2.0)).toLong)
  }

  test("ordering: pmi desc then lexicographic; k truncates") {
    import spark.implicits._
    val df = Seq("x y x y q r q r z z").toDF("text")
    val all = Collocations.pmiTopK(df, "text", minCount = 1, k = 100)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    val sorted = all.sortBy(r => (-r._6, r._1, r._2))
    assert(all == sorted)
    val two = Collocations.pmiTopK(df, "text", minCount = 1, k = 2)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(two == all.take(2))
  }

  test("result is independent of input partitioning") {
    import spark.implicits._
    val docs = (0 until 40).map(i => s"alpha beta gamma delta run $i end")
    val a = Collocations.pmiTopK(docs.toDF("text"), "text")
      .collect().toSeq
    val b = Collocations.pmiTopK(docs.toDF("text").repartition(7), "text")
      .collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("pmiMicro is right past 3e9 corpus tokens, where long products overflow") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // c·n·n = 1.6e22 passes 2^63; the ratio is just above 4
    val (c, n, n1, n2, bt) = (1000L, 4000000000L, 1000000L, 1000000L, 3999999999L)
    val got = Seq((c, n, n1, n2, bt)).toDF("c", "n", "n_w1", "n_w2", "bt")
      .select(Collocations.pmiMicro(col("c"), col("n"), col("n_w1"), col("n_w2"), col("bt")))
      .as[Long].head()
    val ratio = BigDecimal(c) * n * n / (BigDecimal(n1) * n2 * bt)
    assert(got == math.floor(1e6 * math.log(ratio.toDouble)).toLong)
  }
}
