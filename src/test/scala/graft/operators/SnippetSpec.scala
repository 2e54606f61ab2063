package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Query-biased snippets: window argmax, leftmost tie rule, zero-hit
  * drop, and the zero-shuffle plan.
  */
class SnippetSpec extends AnyFunSuite with SparkSuite {
  private def snip(docs: Seq[(Long, String)], terms: Seq[String], w: Int = 10) = {
    val df = spark.createDataFrame(docs).toDF("doc_id", "text")
    TextOps.snippets(df, terms, w).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
  }

  test("densest window wins; snippet slices the right words") {
    // hits at 0 and at 8,9: window 4 starting at 8 holds 2 hits
    val r = snip(Seq((1L, "q a b c d e f g q q x y")), Seq("q"), w = 4)
    assert(r(1L) == ((8L, 2L, "q q x y")))
  }

  test("equal-density windows resolve to the LEFTMOST (earliest mention)") {
    val r = snip(Seq((1L, "q a a a a a q b b b")), Seq("q"), w = 3)
    assert(r(1L)._1 == 0L && r(1L)._2 == 1L)
  }

  test("zero-hit docs drop; multiple terms count together; window clips at doc end") {
    val r = snip(Seq((1L, "x y z"), (2L, "a q r")), Seq("q", "r"), w = 5)
    assert(!r.contains(1L))
    assert(r(2L) == ((1L, 2L, "q r")))
  }

  test("the per-doc window search is a zero-shuffle projection") {
    val df = spark.createDataFrame(Seq((1L, "q a"))).toDF("doc_id", "text")
    val p = TextOps.snippets(df, Seq("q")).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"snippet search must not shuffle:\n$p")
  }

  test("SERP fusion: ranking matches QL exactly, snippets only for ranked docs, prior-only rows keep rank with empty snippet") {
    // 30 docs; the self-selected terms land on mid-df words. One doc (id
    // 29) shares no vocabulary with anything → scores on the prior alone;
    // it must still appear ranked (no silent drop) with start_word = -1.
    val docs = (0L until 29L).map { i =>
      val filler = (0 until 10).map(k => s"f${i}x$k").mkString(" ")
      val marker = if (i % 2 == 0) "alpha common beta" else "gamma common delta"
      (i, s"$marker $filler")
    } :+ (29L, "zz1 zz2 zz3 zz4 zz5 zz6 zz7 zz8 zz9 zz10 zz11 zz12")
    val df = spark.createDataFrame(docs).toDF("doc_id", "text").repartition(4)
    val fused = TextOps.searchResults(df, topK = 30).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))
    // rank/score identical to the standalone scorer
    val ql = TextOps.queryLikelihoodTopDocs(df, topK = 30).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .map { case (id, s, rk) => (rk, id, s) }.sortBy(_._1)
    assert(fused.map(t => (t._1, t._2, t._3)).sortBy(_._1).toSeq == ql.toSeq)
    // every ranked doc present exactly once; hit docs carry a real snippet
    assert(fused.length == 30 && fused.map(_._2).distinct.length == 30)
    val prior = fused.find(_._2 == 29L).get
    assert(prior._4 == -1L && prior._5 == 0L && prior._6 == "",
      s"prior-only doc must keep its rank with an empty snippet: $prior")
    assert(fused.filter(_._2 != 29L).forall(t => t._5 >= 1L && t._6.nonEmpty))
  }
}
