package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Sliding-window document chunking: word-granular windows with stride,
  * remainder chunk included, every word covered at least once.
  */
class ChunkSpec extends AnyFunSuite with SparkSuite {
  private def chunksOf(text: String, window: Int, stride: Int): Seq[(Long, Long, String)] = {
    val ss = spark; import ss.implicits._
    TextOps.chunkDocs(Seq((1L, text)).toDF("doc_id", "text"), window, stride)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3))).sortBy(_._1).toSeq
  }

  test("overlapping windows: stride < window covers every word, remainder chunk last") {
    val text = (1 to 10).map(i => s"w$i").mkString(" ") // 10 words
    val got = chunksOf(text, window = 4, stride = 2)
    assert(got == Seq(
      (0L, 4L, "w1 w2 w3 w4"),
      (1L, 4L, "w3 w4 w5 w6"),
      (2L, 4L, "w5 w6 w7 w8"),
      (3L, 4L, "w7 w8 w9 w10")))
  }

  test("remainder shorter than a window still lands; short doc is one chunk") {
    val got = chunksOf("a b c d e", window = 4, stride = 4) // disjoint packing
    assert(got == Seq((0L, 4L, "a b c d"), (1L, 1L, "e")))
    assert(chunksOf("a b", window = 16, stride = 8) == Seq((0L, 2L, "a b")))
  }

  test("every word covered at least once at any stride/window combo (property)") {
    val text = (1 to 57).map(i => s"t$i").mkString(" ")
    for ((w, s) <- Seq((8, 3), (8, 8), (5, 1), (57, 10), (100, 100))) {
      val covered = chunksOf(text, w, s).flatMap(_._3.split(' ')).toSet
      assert(covered == (1 to 57).map(i => s"t$i").toSet, s"window=$w stride=$s")
    }
  }

  test("zero-shuffle plan: chunking is a pure projection") {
    val ss = spark; import ss.implicits._
    val df = TextOps.chunkDocs((0 until 100).map(i => (i.toLong, "a b c d e f"))
      .toDF("doc_id", "text"), 4, 2)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("bad parameters refuse") {
    val ss = spark; import ss.implicits._
    val df = Seq((1L, "a")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](TextOps.chunkDocs(df, 0, 1))
    intercept[IllegalArgumentException](TextOps.chunkDocs(df, 4, 5))
  }
}
