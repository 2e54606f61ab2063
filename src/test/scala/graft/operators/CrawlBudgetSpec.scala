package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Water-filling crawl-budget allocation: hand-computed levels, exact
  * budget conservation, max-min fairness shape, and the distribution
  * invariances the distributed prefix-sum must preserve.
  */
class CrawlBudgetSpec extends AnyFunSuite with SparkSuite {
  private def alloc(stats: Seq[(String, Long, Long)], budget: Long,
                    parts: Int = 4): Map[String, (Long, Long, Long)] = {
    val df = spark.createDataFrame(stats).toDF("host", "demand", "cap").repartition(parts)
    Crawl.crawlBudget(df, budget).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
  }

  test("hand-computed water level with remainder spread") {
    // wants sorted: a=1, b=2, c=10, d=10; B=10 → funded {a,b}, level
    // L=(10-3) div 2 = 3, remainder 1 → first unfunded rank gets 4
    val r = alloc(Seq(("a", 1L, 99L), ("b", 2L, 99L), ("c", 10L, 99L), ("d", 10L, 99L)), 10L)
    assert(r("a") == ((1L, 1L, 1L)))
    assert(r("b") == ((2L, 2L, 2L)))
    assert(r("c") == ((10L, 3L, 4L))) // rank 3, first unfunded, +1 remainder
    assert(r("d") == ((10L, 4L, 3L)))
    assert(r.values.map(_._3).sum == 10L)
  }

  test("zero-delay host: the planning cap expression clamps, never NULL-caps") {
    // `Crawl-delay: 0` is legal and common; the CrawlPlanMain cap expression
    // (600 div greatest(delay,1)) must yield a real cap under non-ANSI
    // div-by-zero semantics, so crawlBudget's Long encoder never sees NULL
    import org.apache.spark.sql.functions._
    val stats = spark.createDataFrame(Seq(
      ("z.example.com", 700L, 0L), ("s.example.com", 5L, 3L)))
      .toDF("host", "demand", "crawl_delay_s")
      .selectExpr("host", "demand", "600 div greatest(crawl_delay_s, 1L) AS cap")
    assert(stats.where(col("cap").isNull).count() == 0L)
    val r = Crawl.crawlBudget(stats, 1000L).collect()
      .map(x => x.getString(0) -> x.getLong(3)).toMap
    assert(r("z.example.com") == 600L) // demand 700 capped at 600 (1 fetch/s window)
    assert(r("s.example.com") == 5L)
  }

  test("budget conservation is exact: sum(alloc) == min(sum(want), B) at any budget") {
    val stats = (0L until 50L).map(i => (s"h$i", (i * 13) % 37 + 1, (i * 7) % 29 + 1))
    val wants = stats.map { case (_, d, c) => math.min(d, c) }
    for (b <- Seq(0L, 7L, 100L, 333L, wants.sum, wants.sum + 50L)) {
      val r = alloc(stats, b)
      assert(r.values.map(_._3).sum == math.min(wants.sum, b), s"budget $b")
    }
  }

  test("max-min fairness shape: funded prefix, unfunded leveled within 1, never above want") {
    val stats = (0L until 40L).map(i => (s"h$i", (i * 11) % 53 + 1, 100L))
    val b = stats.map(_._2).sum / 3
    val r = alloc(stats, b)
    r.values.foreach { case (w, _, a) => assert(a <= w, "allocation above want") }
    val unfunded = r.values.filter { case (w, _, a) => a < w }.map(_._3)
    if (unfunded.nonEmpty)
      assert(unfunded.max - unfunded.min <= 1, s"levels not max-min fair: $unfunded")
    val minUnfunded = if (unfunded.isEmpty) Long.MaxValue else unfunded.min
    r.values.foreach { case (w, _, a) =>
      if (a == w) assert(w <= minUnfunded + 1, "a funded host wants more than the level")
    }
  }

  test("surplus budget funds everyone; result is partitioning-invariant") {
    val stats = (0L until 30L).map(i => (s"h$i", i + 1, 1000L))
    val full = alloc(stats, 100000L)
    assert(full.values.forall { case (w, _, a) => a == w })
    val b = 200L
    assert(alloc(stats, b, parts = 1) == alloc(stats, b, parts = 13))
  }
}
