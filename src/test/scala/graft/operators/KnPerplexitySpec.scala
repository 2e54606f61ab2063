package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Interpolated Kneser-Ney bigram perplexity: bit-equality against an
  * independent BigInt reference implementation, the continuation-diversity
  * property the smoothing exists for, and distribution invariances.
  */
class KnPerplexitySpec extends AnyFunSuite with SparkSuite {
  /** Reference: the exact formulas, BigInt end to end. */
  private def ref(docs: Seq[(Long, String)], minCount: Long): Map[Long, (Long, Long, Long)] = {
    val b = docs.flatMap { case (id, t) =>
      val ws = t.split(' '); ws.dropRight(1).zip(ws.drop(1)).map { case (a, c) => (id, a, c) }
    }
    val ty = b.groupBy(x => (x._2, x._3)).map { case (k, v) => k -> v.size.toLong }
    val c12 = ty.filter(_._2 >= minCount)
    val c1 = b.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }.filter(_._2 >= minCount)
    val n1f = ty.keys.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val n1b = ty.keys.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val nbb = BigInt(ty.size)
    val t = BigInt(ty.keys.map(_._2).toSet.size)
    val v = BigInt(docs.flatMap(_._2.split(' ')).toSet.size)
    def bits(id: Long, w1: String, w2: String): Long = {
      val cnum = BigInt(0).max(4 * BigInt(n1b.getOrElse(w2, 0L)) - 3) * v + 3 * t
      val cden = BigInt(4) * nbb * v
      val c1c = BigInt(c1.getOrElse(w1, 0L))
      val (num, den) =
        if (c1c > 0)
          (BigInt(0).max(4 * BigInt(c12.getOrElse((w1, w2), 0L)) - 3) * cden +
            3 * BigInt(n1f.getOrElse(w1, 0L)) * cnum,
            4 * c1c * cden)
        else (cnum, cden)
      (den / num).bitLength - 1L // floor(log2(den/num)) for den >= num
    }
    b.groupBy(_._1).map { case (id, pairs) =>
      val bs = pairs.map(p => bits(id, p._2, p._3))
      id -> ((bs.size.toLong, bs.sum, bs.sum * 1000 / bs.size))
    }
  }

  private def run(docs: Seq[(Long, String)], minCount: Long = 2L,
                  parts: Int = 4): Map[Long, (Long, Long, Long)] = {
    val df = spark.createDataFrame(docs).toDF("doc_id", "text").repartition(parts)
    TextOps.knPerplexity(df, minCount).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
  }

  private val corpus: Seq[(Long, String)] = (0L until 40L).map { i =>
    val ws = (0 until 12).map(k => s"w${(i * 7 + k * k) % 13}")
    (i, (ws :+ s"tail${i % 5}").mkString(" "))
  }

  test("bit-equality against the BigInt reference on a mixed corpus") {
    assert(run(corpus) == ref(corpus, 2L))
  }

  test("every surprisal is non-negative (p <= 1 invariant) and bounded") {
    val r = run(corpus)
    assert(r.values.forall { case (n, nll, _) => n > 0 && nll >= 0 })
  }

  test("continuation diversity: the KN novelty prior orders unseen pairs by context count, not raw frequency") {
    // 'glued' follows ONLY 'san' (8 times); 'open' follows 8 DIFFERENT
    // words once each... both then appear after the novel prefix 'new'.
    // Raw counts tie (8 vs 8), add-one cannot separate them; KN must make
    // p(open|new) > p(glued|new) — i.e. fewer surprisal bits for 'open'.
    val base = (0L until 8L).map(i => (i, s"san glued c$i open x$i y"))
    val probe = Seq((100L, "q new glued z"), (101L, "q new open z"))
    val r = run(base ++ probe, minCount = 1L)
    // doc 100/101: bigrams (q,new)(new,·)(·,z) — identical except the middle
    assert(r(100L)._2 > r(101L)._2,
      s"KN must prefer the diverse continuation: ${r(100L)} vs ${r(101L)}")
  }

  test("result is identical under different input partitioning") {
    assert(run(corpus, parts = 1) == run(corpus, parts = 13))
  }

  test("overflow arm engine-pinned: DECIMAL(38) num*2^62 nulls and the plain quotient is exact") {
    // num = 3e19 ≥ ceil(10^38/2^62): the shifted multiply exceeds 38
    // digits → NULL under non-ANSI decimals, the qhi-IS-NULL arm fires,
    // and den div num = 3e18 → floor(log2) = 61. This is the regime no
    // corpus-sized spec can reach; the expression semantics are what the
    // oracle's threshold branch mirrors, so pin them directly.
    val r = spark.sql(
      """SELECT CASE WHEN qhi IS NULL OR qhi = 0
        |            THEN length(bin(den div num)) - 1
        |            ELSE 62 + length(bin(qhi)) - 1 END AS bits,
        |       qhi IS NULL AS overflowed
        |FROM (SELECT num, den,
        |             den div (num * CAST(4611686018427387904 AS DECIMAL(38,0))) AS qhi
        |      FROM (SELECT CAST('30000000000000000000' AS DECIMAL(38,0)) AS num,
        |                   CAST('90000000000000000000000000000000000000' AS DECIMAL(38,0)) AS den))""".stripMargin)
      .first()
    assert(r.getBoolean(1), "expected the DECIMAL(38) overflow NULL")
    assert(r.getInt(0) == 61, s"plain-arm quotient bits wrong: ${r.getInt(0)}")
  }
}
