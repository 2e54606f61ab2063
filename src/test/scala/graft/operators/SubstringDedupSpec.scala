package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Exact substring-range dedup vectors: hand-computed maximal ranges on
  * crafted corpora, plus the invariants that matter at scale
  * (partitioning-independence, within-doc repeats, short-doc exclusion).
  */
class SubstringDedupSpec extends AnyFunSuite with SparkSuite {
  private def ranges(docs: Seq[(Long, String)], n: Int, parts: Int = 4): Set[(Long, Int, Int, Int)] = {
    val df = spark.createDataFrame(docs).toDF("doc_id", "text").repartition(parts)
    Dedup.substringRanges(df, n).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
  }

  // 12 distinct words; w0..w7 shared between docs 1 and 2 at different offsets
  private val shared = "a b c d e f g h"

  test("cross-doc duplicated 8-gram yields one range per doc at its offset") {
    val docs = Seq(
      1L -> s"$shared p q r s",        // gram at pos 0
      2L -> s"x y $shared u v")        // gram at pos 2
    assert(ranges(docs, 8) == Set((1L, 0, 0, 8), (2L, 0, 2, 10)))
  }

  test("overlapping duplicated grams merge into one maximal range") {
    // doc 1 and 2 share a 10-word run → 3 grams (pos 0,1,2 / 1,2,3), one range
    val run = "a b c d e f g h i j"
    val docs = Seq(1L -> s"$run k l", 2L -> s"z $run")
    assert(ranges(docs, 8) == Set((1L, 0, 0, 10), (2L, 0, 1, 11)))
  }

  test("disjoint duplicated runs produce separate indexed ranges") {
    // two shared 8-gram runs separated by unique middles (> n words apart)
    val r1 = "a b c d e f g h"
    val r2 = "s t u v w x y z"
    val docs = Seq(
      1L -> s"$r1 m1 m2 m3 m4 m5 m6 m7 m8 m9 $r2",
      2L -> s"$r1 k1 k2 k3 k4 k5 k6 k7 k8 k9 $r2")
    val r = ranges(docs, 8)
    assert(r == Set(
      (1L, 0, 0, 8), (1L, 1, 17, 25),
      (2L, 0, 0, 8), (2L, 1, 17, 25)))
  }

  test("a gram repeated WITHIN one document is duplicated") {
    val docs = Seq(1L -> "a b c d e f g h zz a b c d e f g h")
    // grams at pos 0 and 9 duplicate each other → two ranges (gap 9 > 8... merge? 9 <= 0+8 false → separate)
    assert(ranges(docs, 8) == Set((1L, 0, 0, 8), (1L, 1, 9, 17)))
  }

  test("docs shorter than n words never surface") {
    val docs = Seq(1L -> "a b c", 2L -> "a b c", 3L -> s"$shared x")
    assert(ranges(docs, 8).isEmpty)
  }

  test("unique corpus → no ranges") {
    val docs = Seq(1L -> "one two three four five six seven eight nine",
      2L -> "ten eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen")
    assert(ranges(docs, 8).isEmpty)
  }

  test("partitioning-independent: 1 partition ≡ 7 partitions") {
    val docs = (0L until 40L).map { i =>
      val base = s"w${i % 5} x$i common run of words here for doc $i tail t${i % 3}"
      i -> base
    } ++ Seq(100L -> "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9 u100",
      101L -> "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9 u101")
    assert(ranges(docs, 8, parts = 1) == ranges(docs, 8, parts = 7))
  }

  test("adjacent grams (next pos == prev pos + n) merge into one contiguous range") {
    // shared 16-word run appears in two docs: every gram pos 0..8 duplicates;
    // also checks end = last_pos + n
    val run16 = (0 until 16).map(i => s"r$i").mkString(" ")
    val docs = Seq(1L -> run16, 2L -> s"pre1 pre2 $run16")
    assert(ranges(docs, 8) == Set((1L, 0, 0, 16), (2L, 0, 2, 18)))
  }
}
