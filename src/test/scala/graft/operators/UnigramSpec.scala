package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Unigram-LM tokenizer: the EM trainer's E-step must match hand-computed
  * lattice posteriors exactly; pruning must hit the target size while
  * protecting single characters; the packed Viterbi must realize the
  * lexicographic (cost, ntok) minimization; and the distributed encode
  * must equal a driver-side recompute word for word.
  */
class UnigramSpec extends AnyFunSuite with SparkSuite {
  private def sfDocs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  // ---------------- Viterbi ----------------

  test("packed Viterbi minimizes (total cost, token count) lexicographically") {
    import Unigram._
    // 'abab': pieces ab(2), a(3), b(3), abab(9) → [ab,ab]=4 beats abab=9
    // and [a,b,a,b]=12; packed tokens land in the low 20 bits
    val c1 = Map("ab" -> 2L, "a" -> 3L, "b" -> 3L, "abab" -> 9L)
    val v1 = viterbiPacked("abab", c1.getOrElse(_, -1L), 4)
    assert((v1 >> Shift) === 4L && (v1 & TokMask) === 2L)
    // equal-cost tie: abab(6) vs [ab,ab]=6 → FEWER tokens wins (ntok is
    // the low-order field of the packed value)
    val c2 = Map("ab" -> 3L, "a" -> 9L, "b" -> 9L, "abab" -> 6L)
    val v2 = viterbiPacked("abab", c2.getOrElse(_, -1L), 4)
    assert((v2 >> Shift) === 6L && (v2 & TokMask) === 1L)
    // unknown single char falls back to UnkCost; the word still segments
    val v3 = viterbiPacked("axb", Map("a" -> 1L, "b" -> 1L).getOrElse(_, -1L), 3)
    assert((v3 & TokMask) === 3L && (v3 >> Shift) === 2L + UnkCost)
  }

  // ---------------- EM trainer ----------------

  test("E-step posteriors match the hand-computed 'ab' lattice exactly") {
    import Unigram._
    // corpus {ab:1}; seed = {a, b, ab}, uniform 1/3 each. Lattice:
    // [ab] p=1/3, [a][b] p=1/9 → posteriors 3/4 and 1/4; expected counts
    // ab=3/4, a=b=1/4 → M-step probs ab=3/5, a=b=1/5.
    val m = trainFromWordCounts(Array(("ab", 1L)), vocabSize = 10,
      maxPieceLen = 2, seedSize = 10, emIters = 1)
    val p = m.map(x => x.piece -> x.prob).toMap
    assert(math.abs(p("ab") - 0.6) < 1e-12)
    assert(math.abs(p("a") - 0.2) < 1e-12)
    assert(math.abs(p("b") - 0.2) < 1e-12)
  }

  test("pruning reaches the target size, protects chars, and is deterministic") {
    import Unigram._
    val rng = new scala.util.Random(0xC0FFEE)
    val letters = "abcdefgh"
    val words = (1 to 400).map { i =>
      val w = (0 until 3 + rng.nextInt(6))
        .map(_ => letters(rng.nextInt(letters.length))).mkString
      (w, 1L + rng.nextInt(50).toLong)
    }.groupBy(_._1).map { case (w, xs) => (w, xs.map(_._2).sum) }.toArray.sortBy(_._1)
    val m1 = trainFromWordCounts(words, vocabSize = 40, maxPieceLen = 4,
      seedSize = 300, emIters = 2)
    val m2 = trainFromWordCounts(words, vocabSize = 40, maxPieceLen = 4,
      seedSize = 300, emIters = 2)
    assert(m1.toSeq === m2.toSeq, "driver training must be deterministic")
    assert(m1.length <= 40)
    val kept = m1.map(_.piece).toSet
    letters.foreach(ch => assert(kept(ch.toString), s"char $ch pruned"))
    assert(m1.exists(_.piece.length > 1), "some multi-char pieces survive")
    assert(math.abs(m1.map(_.prob).sum - 1.0) < 1e-6)
    // every corpus word must segment at finite cost under the frozen model
    val costs = m1.map(p => p.piece -> p.cost).toMap
    words.foreach { case (w, _) =>
      val v = viterbiPacked(w, costs.getOrElse(_, -1L), 4)
      assert((v & TokMask) >= 1L && (v & TokMask) <= w.length.toLong)
      assert((v >> Shift) < UnkCost, s"$w needed the OOV fallback in-corpus")
    }
  }

  test("frozen-model distributed encode equals the driver recompute") {
    import Unigram._
    val ss = spark; import ss.implicits._
    val model = unigramTrainDriver(sfDocs, vocabSize = 60, maxPieceLen = 4,
      seedSize = 200, emIters = 2)
    val maxLen = model.map(_.piece.length).max
    val costs = model.map(p => p.piece -> p.cost).toMap
    val got = unigramEncodeWith(sfDocs, model)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    val want = sfDocs.selectExpr("doc_id", "explode(split(text, ' ')) AS word")
      .where(s"word RLIKE '^[a-z]+$$' AND length(word) <= $MaxWordLen")
      .as[(Long, String)].collect()
      .groupBy(_._1).map { case (d, ws) =>
        d -> ((ws.map(x => viterbiPacked(x._2, costs.getOrElse(_, -1L), maxLen) & TokMask).sum,
               ws.length.toLong))
      }
    assert(got.keySet === want.keySet)
    want.foreach { case (d, (toks, n)) =>
      val r = got(d); assert(r._1 === toks && r._2 === n, s"doc $d")
    }
  }

  test("closed-form encode plan: broadcast join, no sort-merge, OOV path never taken") {
    val df = Unigram.unigramEncodeClosedForm(sfDocs)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("SortMergeJoin"), plan.take(800))
    // single chars of the stream are always pieces → no word pays UnkCost
    val ss = spark; import ss.implicits._
    val maxBits = df.selectExpr("max(cost_bits)").as[Long].head()
    assert(maxBits < Unigram.UnkCost, "closed-form inventory hit the OOV fallback")
  }
}
