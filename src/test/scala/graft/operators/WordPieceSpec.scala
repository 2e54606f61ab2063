package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** WordPiece trainer: likelihood-ratio argmax (exact rationals), hand-
  * pinned against the case where it genuinely disagrees with BPE's count
  * argmax; incremental symbol counts; deterministic; distributed encode
  * equals the driver recompute.
  */
class WordPieceSpec extends AnyFunSuite with SparkSuite {
  /** ab×10 a×40 b×40 cd×5 d×5: BPE's count argmax picks (a,b) c=10; the
    * likelihood ratio picks (c,d): 5/(5·10)=0.1 ≫ 10/(50·50)=0.004 —
    * rare-but-always-together beats frequent-but-incidental.
    */
  private def corpus() = {
    val ss = spark; import ss.implicits._
    val text = (Seq.fill(10)("ab") ++ Seq.fill(40)("a") ++ Seq.fill(40)("b") ++
      Seq.fill(5)("cd") ++ Seq.fill(5)("d")).mkString(" ")
    Seq((1L, text)).toDF("doc_id", "text")
  }

  test("first merge: likelihood ratio picks (c,d) where BPE picks (a,b) — full rational evidence") {
    val (wp, _) = WordPiece.trainDriver(corpus(), k = 1)
    assert(wp.toSeq == Seq((1, "c", "d", 5L, 5L, 10L)))
    val (bpe, _) = graft.operators.TextOps.bpeTrainDriver(corpus(), k = 1)
    assert((bpe.head._2, bpe.head._3) == (("a", "b")))
  }

  test("merge 2 sees the UPDATED segmentation: cd is one symbol, (a,b) wins next") {
    val (wp, vocab) = WordPiece.trainDriver(corpus(), k = 2)
    assert(wp.toSeq == Seq((1, "c", "d", 5L, 5L, 10L), (2, "a", "b", 10L, 50L, 50L)))
    val vm = vocab.toMap
    assert(vm("cd") == "·cd·" && vm("ab") == "·ab·" && vm("d") == "·d·")
  }

  test("deterministic: rerun bit-identical at k=5 on a real-shaped corpus") {
    val ss = spark; import ss.implicits._
    val docs = (0 until 50).map(i =>
      (i.toLong, s"the quick brown fox jumps over the lazy dog number $i again and again"))
      .toDF("doc_id", "text")
    val a = WordPiece.trainDriver(docs, 5)
    val b = WordPiece.trainDriver(docs, 5)
    assert(a._1.toSeq == b._1.toSeq && a._2.toSeq == b._2.toSeq)
    assert(a._1.length == 5)
  }

  test("distributed encode equals the driver recompute") {
    val ss = spark; import ss.implicits._
    val docs = (0 until 30).map(i =>
      (i.toLong, s"alpha beta gamma alpha delta beta word$i")).toDF("doc_id", "text")
    val (_, vocab) = WordPiece.trainDriver(docs, 5)
    val toks = vocab.toMap.map { case (w, s) => w -> s.split('·').count(_.nonEmpty).toLong }
    val got = WordPiece.wordPieceEncode(docs, 5).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    docs.collect().foreach { r =>
      val words = r.getString(1).split(' ').filter(_.matches("[a-z]+"))
      val want = (words.map(toks).sum, words.length.toLong)
      assert(got(r.getLong(0)) == want, s"doc ${r.getLong(0)}")
    }
  }
}
