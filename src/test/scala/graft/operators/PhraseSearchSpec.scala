package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Positional phrase search: exact start positions on hand corpora,
  * overlap/repeated-word handling, and the invariants that matter at scale
  * (partitioning-independence; the pre-shuffle term filter is asserted in
  * PlanSpec conventions via the isin pushdown below).
  */
class PhraseSearchSpec extends AnyFunSuite with SparkSuite {
  private def search(docs: Seq[(Long, String)], phrase: Seq[String], parts: Int = 4): Set[(Long, Long)] = {
    val df = spark.createDataFrame(docs).toDF("doc_id", "text").repartition(parts)
    TextOps.phraseSearch(df, phrase).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("every occurrence found at its 0-based word position, including overlaps") {
    val docs = Seq(1L -> "a b c a b c", 2L -> "x a b c y", 3L -> "a b x c")
    assert(search(docs, Seq("a", "b", "c")) == Set((1L, 0L), (1L, 3L), (2L, 1L)))
  }

  test("phrase wrapping a doc boundary position is rejected (start >= 0 guard)") {
    // 'b c a' occurs inside doc 1 at start 1 and 4? words: a b c a b c →
    // (b,c,a) at 1; (b,c) at 4 has no trailing a → only start 1
    assert(search(Seq(1L -> "a b c a b c"), Seq("b", "c", "a")) == Set((1L, 1L)))
  }

  test("repeated word in the phrase matches self-overlapping runs") {
    assert(search(Seq(7L -> "b b b"), Seq("b", "b")) == Set((7L, 0L), (7L, 1L)))
  }

  test("single-word phrase degenerates to the positional posting list") {
    assert(search(Seq(4L -> "k x k"), Seq("k")) == Set((4L, 0L), (4L, 2L)))
  }

  test("absent phrase returns zero rows") {
    assert(search(Seq(1L -> "a b c"), Seq("c", "b")) == Set.empty[(Long, Long)])
  }

  test("result is identical under different input partitioning") {
    val docs = (0L until 40L).map(i => i -> s"w${i % 3} slow hash batch w${i % 5} slow hash")
    val p = Seq("slow", "hash", "batch")
    assert(search(docs, p, parts = 1) == search(docs, p, parts = 11))
  }
}
