package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Dirichlet query likelihood: relevance separation, the never-zero
  * smoothing property, and distribution invariance.
  */
class QueryLikelihoodSpec extends AnyFunSuite with SparkSuite {
  private def top(docs: Seq[(Long, String)], parts: Int = 4): Seq[(Long, Long, Int)] = {
    val df = spark.createDataFrame(docs).toDF("doc_id", "text").repartition(parts)
    TextOps.queryLikelihoodTopDocs(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
  }

  // half the docs carry the discriminative markers (df ≈ N/2 selects them)
  private val corpus: Seq[(Long, String)] = (0L until 30L).map { i =>
    val filler = (0 until 10).map(k => s"c${(i + k) % 4}").mkString(" ")
    val marker = if (i % 2 == 0) " zq zq zr zs" else ""
    (i, s"base $filler$marker")
  }

  test("docs carrying the query terms outrank docs paying only the collection prior") {
    val r = top(corpus)
    val ranked = r.sortBy(_._3).map(_._1)
    // every marker doc (even ids) must rank above every non-marker doc
    val markerRanks = r.filter(x => x._1 % 2 == 0).map(_._3)
    val otherRanks = r.filter(x => x._1 % 2 == 1).map(_._3)
    assert(markerRanks.nonEmpty)
    if (otherRanks.nonEmpty)
      assert(markerRanks.max < otherRanks.min,
        s"marker docs must lead the ranking: $r")
    assert(ranked.distinct.size == ranked.size)
  }

  test("smoothing never zeroes: every doc scores finite milli-bits, ranking is a total order") {
    val r = top(corpus)
    assert(r.size == 20)
    assert(r.forall(_._2 > 0))
    assert(r.map(_._3).sorted == (1 to 20))
  }

  test("result is identical under different input partitioning") {
    assert(top(corpus, parts = 1) == top(corpus, parts = 13))
  }
}
