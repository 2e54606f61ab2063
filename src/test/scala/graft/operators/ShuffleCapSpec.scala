package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Deterministic epoch shuffle (seeded training-order permutation) and
  * per-domain frequency capping (C4/RefinedWeb domain balancing).
  */
class ShuffleCapSpec extends AnyFunSuite with SparkSuite {
  test("epochShuffle: a permutation — every doc once, pos contiguous per shard") {
    val ss = spark; import ss.implicits._
    val docs = (0L until 1000L).toDF("doc_id")
    val out = TextOps.epochShuffle(docs, seed = 7L, nShards = 8).collect()
    assert(out.map(_.getLong(0)).toSet == (0L until 1000L).toSet)
    assert(out.map(_.getLong(1)).forall(s => s >= 0 && s < 8))
    out.groupBy(_.getLong(1)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(2)).sorted.toSeq == (1L to rows.length).toSeq)
    }
  }

  test("epochShuffle: same seed reproduces bit-exactly; different seed re-permutes") {
    val ss = spark; import ss.implicits._
    val docs = (0L until 500L).toDF("doc_id")
    def run(seed: Long) = TextOps.epochShuffle(docs, seed, nShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(run(42L) == run(42L))
    assert(run(42L) != run(43L))
    // partition-layout independence: a repartitioned input yields the
    // same permutation (the md5 key is the only randomness)
    val re = TextOps.epochShuffle(docs.repartition(13), 42L, nShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(re == run(42L))
  }

  test("domainCap: keeps at most cap per domain, best-ranked first, ties by id") {
    val ss = spark; import ss.implicits._
    val docs = Seq(
      (1L, "a.com", 10L), (2L, "a.com", 30L), (3L, "a.com", 20L), (4L, "a.com", 30L),
      (5L, "b.com", 5L)
    ).toDF("doc_id", "host", "quality")
    val kept = UrlOps.domainCap(docs, cap = 2).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // a.com: quality 30 (ids 2,4 — id asc keeps both), drops 20 and 10
    assert(kept == Set((2L, "a.com"), (4L, "a.com"), (5L, "b.com")))
  }

  test("domainCap: executes as a streaming per-group top-k (WindowGroupLimit), one exchange") {
    val ss = spark; import ss.implicits._
    val docs = (0 until 10000).map(i => (i.toLong, s"h${i % 7}.com", (i * 31 % 997).toLong))
      .toDF("doc_id", "host", "quality")
    val capped = UrlOps.domainCap(docs, cap = 50)
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
    assert("Exchange".r.findAllIn(plan).size <= 2, plan) // partial+final of one shuffle
    assert(capped.count() == 7L * 50)
  }
}
