package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Adaptive recrawl scheduling: change-rate estimation from capture
  * history, integer-exact, clamped to the politeness window.
  */
class RecrawlSpec extends AnyFunSuite with SparkSuite {
  private def run(rows: Seq[(String, Long, String)], min: Long, max: Long) = {
    val ss = spark; import ss.implicits._
    Crawl.recrawlSchedule(rows.toDF("url", "ts", "digest"), min, max)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
  }

  test("a page that changes every capture revisits at the estimated interval") {
    // 3 captures 100s apart, every one a change: span 200 / 2 changes = 100
    val got = run(Seq(("u", 0L, "a"), ("u", 100L, "b"), ("u", 200L, "c")), 10L, 100000L)
    assert(got == Seq(("u", 3L, 2L, 300L)))
  }

  test("a static page backs off to the ceiling; a hot page clamps to the floor") {
    val rows = Seq(
      ("static", 0L, "x"), ("static", 100L, "x"), ("static", 200L, "x"),
      ("hot", 0L, "a"), ("hot", 1L, "b"), ("hot", 2L, "c"))
    val got = run(rows, 10L, 50L)
    // static: 0 changes -> interval span/1=200, clamped to 50 -> 250
    // hot: 2 changes over span 2 -> interval 1, clamped up to 10 -> 12
    assert(got == Seq(("hot", 3L, 2L, 12L), ("static", 3L, 0L, 250L)))
  }

  test("a single capture schedules at the floor... of the ceiling backoff") {
    // span 0, 0 changes -> interval 0 clamped up to min
    assert(run(Seq(("u", 500L, "a")), 60L, 3600L) == Seq(("u", 1L, 0L, 560L)))
  }

  test("one url-keyed exchange shared by the lag window and the aggregation") {
    val ss = spark; import ss.implicits._
    val caps = (0 until 1000).map(i => (s"u${i % 50}", i.toLong, s"d${i % 3}"))
      .toDF("url", "ts", "digest")
    val df = Crawl.recrawlSchedule(caps, 10L, 1000L)
    val plan = df.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size <= 1, plan)
    assert(df.count() == 50)
  }

  test("bad clamp parameters refuse") {
    val ss = spark; import ss.implicits._
    val df = Seq(("u", 1L, "a")).toDF("url", "ts", "digest")
    intercept[IllegalArgumentException](Crawl.recrawlSchedule(df, 0L, 10L))
    intercept[IllegalArgumentException](Crawl.recrawlSchedule(df, 10L, 5L))
  }
}
