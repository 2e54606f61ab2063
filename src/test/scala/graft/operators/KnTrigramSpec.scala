package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Interpolated Kneser-Ney TRIGRAM perplexity: bit-equality against an
  * independent BigInt reference of the full three-level backoff chain,
  * the trigram-context separation a bigram model cannot make, and
  * distribution invariances.
  */
class KnTrigramSpec extends AnyFunSuite with SparkSuite {
  /** Reference: the exact three-level formulas, BigInt end to end. */
  private def ref(docs: Seq[(Long, String)], minCount: Long): Map[Long, (Long, Long, Long)] = {
    val tr = docs.flatMap { case (id, t) =>
      val ws = t.split(' ')
      (0 until ws.length - 2).map(i => (id, ws(i), ws(i + 1), ws(i + 2)))
    }
    val t3 = tr.groupBy(x => (x._2, x._3, x._4)).map { case (k, v) => k -> v.size.toLong }
    val m3 = t3.filter(_._2 >= minCount)
    val c12 = t3.toSeq.groupBy(x => (x._1._1, x._1._2))
      .map { case (k, v) => k -> v.map(_._2).sum }.filter(_._2 >= minCount)
    val n1f12 = t3.keys.groupBy(k => (k._1, k._2)).map { case (k, v) => k -> v.size.toLong }
    val n1mid = t3.keys.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val n1f2 = t3.keys.groupBy(_._2).map { case (k, v) => k -> v.map(_._3).toSet.size.toLong }
    val n1c = t3.keys.groupBy(k => (k._2, k._3)).map { case (k, v) => k -> v.size.toLong }
    val b = docs.flatMap { case (_, t) =>
      val ws = t.split(' '); ws.dropRight(1).zip(ws.drop(1))
    }
    val ty = b.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val n1b = ty.keys.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val nbb = BigInt(ty.size)
    val t = BigInt(ty.keys.map(_._2).toSet.size)
    val v = BigInt(docs.flatMap(_._2.split(' ')).toSet.size)
    def bits(w1: String, w2: String, w3: String): Long = {
      val cnum = BigInt(0).max(4 * BigInt(n1b.getOrElse(w3, 0L)) - 3) * v + 3 * t
      val cden = BigInt(4) * nbb * v
      val (p2num, p2den) =
        if (n1mid.getOrElse(w2, 0L) > 0)
          (BigInt(0).max(4 * BigInt(n1c.getOrElse((w2, w3), 0L)) - 3) * cden +
            3 * BigInt(n1f2.getOrElse(w2, 0L)) * cnum,
            4 * BigInt(n1mid(w2)) * cden)
        else (cnum, cden)
      val c12c = BigInt(c12.getOrElse((w1, w2), 0L))
      val (num, den) =
        if (c12c > 0)
          (BigInt(0).max(4 * BigInt(m3.getOrElse((w1, w2, w3), 0L)) - 3) * p2den +
            3 * BigInt(n1f12.getOrElse((w1, w2), 0L)) * p2num,
            4 * c12c * p2den)
        else (p2num, p2den)
      (den / num).bitLength - 1L
    }
    tr.groupBy(_._1).map { case (id, ts) =>
      val bs = ts.map(x => bits(x._2, x._3, x._4))
      id -> ((bs.size.toLong, bs.sum, bs.sum * 1000 / bs.size))
    }
  }

  private def run(docs: Seq[(Long, String)], minCount: Long = 2L,
                  parts: Int = 4): Map[Long, (Long, Long, Long)] = {
    val df = spark.createDataFrame(docs).toDF("doc_id", "text").repartition(parts)
    TextOps.knTrigramPerplexity(df, minCount).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
  }

  private val corpus: Seq[(Long, String)] = (0L until 40L).map { i =>
    val ws = (0 until 12).map(k => s"w${(i * 7 + k * k) % 13}")
    (i, (ws :+ s"tail${i % 5}").mkString(" "))
  }

  test("bit-equality against the BigInt reference on a mixed corpus") {
    assert(run(corpus) == ref(corpus, 2L))
  }

  test("every surprisal is non-negative; docs shorter than one trigram drop") {
    val r = run(corpus ++ Seq((900L, "two words"), (901L, "one")))
    assert(r.values.forall { case (n, nll, _) => n > 0 && nll >= 0 })
    assert(!r.contains(900L) && !r.contains(901L))
  }

  test("trigram context separates what a bigram model cannot: p(w3|w1w2) uses BOTH context words") {
    // 'cream' follows 'ice milk' nowhere but (ice, milk) is frequent with
    // continuation 'shake'; 'dog hot shake' vs 'ice milk shake': identical
    // bigram context (milk/hot → shake unseen at bigram? construct so the
    // LAST bigram (milk, shake) vs (hot, shake) have equal stats but the
    // trigram prefixes differ in continuation diversity
    val base =
      (0L until 6L).map(i => (i, s"ice milk shake a$i b")) ++      // (ice,milk)→shake 6×
      (10L until 16L).map(i => (i, s"dog hot x${i} c$i b"))        // (dog,hot)→ 6 DISTINCT
    val probe = Seq((100L, "ice milk shake"), (101L, "dog hot shake"))
    val r = run(base ++ probe, minCount = 1L)
    // both probes are ONE trigram; (ice,milk,shake) is a seen trigram,
    // (dog,hot,shake) is unseen under an equally-frequent prefix → must
    // cost strictly more bits
    assert(r(100L)._2 < r(101L)._2, s"seen trigram must be cheaper: ${r(100L)} vs ${r(101L)}")
  }

  test("result is identical under different input partitioning") {
    assert(run(corpus, parts = 1) == run(corpus, parts = 13))
  }
}
