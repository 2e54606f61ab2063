package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Batch-perceptron trainer: equality against a sequential reference
  * implementation of the same full-batch update, convergence on a separable
  * task, and partitioning-independence (the property the full-batch variant
  * exists for — a per-example perceptron could never promise it).
  */
class PerceptronSpec extends AnyFunSuite with SparkSuite {
  /** docs: (doc_id, lang, text) */
  private def train(docs: Seq[(Long, String, String)], iters: Int, parts: Int = 4): Map[String, Long] = {
    val df = spark.createDataFrame(docs).toDF("doc_id", "lang", "text").repartition(parts)
    TextOps.perceptronTrain(df, posLang = "en", iters = iters).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Sequential reference: same features, same full-batch rounds. */
  private def reference(docs: Seq[(Long, String, String)], iters: Int): (Array[Long], Long) = {
    def countMarker(text: String, w: String): Long = {
      val padded = s" $text "
      val needle = s" $w "
      (padded.length - padded.replace(needle, "").length).toLong / needle.length
    }
    val rows = docs.map { case (_, lang, text) =>
      val y = if (lang == "en") 1L else -1L
      (y, Array(
        (text.length - text.replace(" ", "").length + 1).toLong,
        text.length.toLong,
        countMarker(text, "the")))
    }
    val w = Array(0L, 0L, 0L)
    var b = 0L
    for (_ <- 0 until iters) {
      var dw0 = 0L; var dw1 = 0L; var dw2 = 0L; var db = 0L
      rows.foreach { case (y, x) =>
        val m = y * (w(0) * x(0) + w(1) * x(1) + w(2) * x(2) + b)
        if (m <= 0) { dw0 += y * x(0); dw1 += y * x(1); dw2 += y * x(2); db += y }
      }
      w(0) += dw0; w(1) += dw1; w(2) += dw2; b += db
    }
    val errs = rows.count { case (y, x) =>
      y * (w(0) * x(0) + w(1) * x(1) + w(2) * x(2) + b) <= 0
    }.toLong
    (w :+ b, errs)
  }

  private val corpus: Seq[(Long, String, String)] = (0L until 60L).map { i =>
    val lang = if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "fr"
    val extra = if (lang == "en") " the lazy dog jumped over the fence again today" else ""
    (i, lang, s"w${i % 7} text body item ${i}$extra")
  }

  test("matches the sequential full-batch reference bit-for-bit") {
    val got = train(corpus, iters = 3)
    val (w, errs) = reference(corpus, iters = 3)
    assert(got("w_tokens") == w(0) && got("w_chars") == w(1) &&
      got("w_stop") == w(2) && got("bias") == w(3))
    assert(got("errors") == errs)
  }

  test("separable task: training reaches zero errors and stays at the fixed point") {
    // en docs carry 'the' markers + longer texts — linearly separable on
    // (tokens, chars, stop); the batch updates oscillate for a few rounds
    // then land on a separating plane (round 10 here), which is a FIXED
    // point (no misclassification → zero delta), so any iters ≥ 10 agrees
    val got = train(corpus, iters = 10)
    assert(got("errors") == 0L, s"errors=${got("errors")}")
    assert(got("w_stop") > 0) // the stopword feature must carry positive weight
    assert(train(corpus, iters = 13) == got) // fixed point
  }

  test("result is identical under different input partitioning") {
    assert(train(corpus, iters = 3, parts = 1) == train(corpus, iters = 3, parts = 13))
  }

  test("all-negative corpus drives the bias negative and errors to zero") {
    val neg = (0L until 12L).map(i => (i, "de", s"kurz text $i"))
    val got = train(neg, iters = 3)
    assert(got("bias") < 0)
    assert(got("errors") == 0L)
  }
}
