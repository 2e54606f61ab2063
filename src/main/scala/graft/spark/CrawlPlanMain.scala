package graft.spark

import org.apache.spark.sql.functions._

/** The CRAWL-PLANNING loop as a spark-submit surface — the composition a
  * continuous crawl runs between drops, from link discovery to a
  * politeness-correct fetch timetable:
  *
  *   1. frontier: one extraction pass over the current corpus → distinct
  *      outlink urls (the discovery channel);
  *   2. compliance: per-host robots.txt through the RFC 9309 gate — only
  *      allowed urls carry demand;
  *   3. capacity: per-host politeness cap = window ÷ crawl-delay (a host
  *      that allows one fetch per 7 s simply cannot absorb more);
  *   4. allocation: the EXACT water-filling split of the global fetch
  *      budget (max-min fair, Σ == min(Σwant, B));
  *   5. selection + timetable: each host's first `alloc` urls slotted at
  *      `slot · delay` through the politeness scheduler.
  *
  * The run then PROVES its own plan before publishing it (hard requires,
  * exit 1): the schedule contains exactly Σalloc fetches, no scheduled
  * url is robots-disallowed, no host exceeds its allocation or its cap,
  * and every fetch time is its slot × the host's delay. Outputs land as
  * parquet (`plan/` timetable, `hosts/` allocations) for the fetcher
  * fleet to consume.
  *
  * Usage: runMain graft.spark.CrawlPlanMain [sfDir] [outDir] [budget]
  * (budget < 0 → Σwant div 2, the self-scaling default)
  */
object CrawlPlanMain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "/tmp/graft_crawlplan"
    val budgetArg = if (args.length > 2) args(2).toLong else -1L
    val spark = graft.Sessions.fromEnv()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val outP = java.nio.file.Paths.get(out)
    if (java.nio.file.Files.exists(outP))
      java.nio.file.Files.walk(outP).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))

    val t0 = System.nanoTime()
    val n = spark.sparkContext.defaultParallelism

    // 1. frontier from the link graph
    val frontier = ExtractJob.extract(Pages.synthesizeGraphPages(spark, sfDir), "plan", n)
      .toDF().selectExpr("explode(links) AS url").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nFrontier = frontier.count()

    // 2. robots compliance (RFC 9309, the corpus's per-host policies)
    val robots = spark.range(11).as[Long]
      .map(h => (s"site$h.example.com", Pages.renderRobots(h.toInt)))
      .toDF("host", "robots_txt")
    val gated = graft.operators.Robots.robotsFilter(frontier, robots, "graftbot")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val allowedUrls = gated.where("allowed = 1").select("url", "host")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nAllowed = allowedUrls.count()

    // 3. per-host demand + politeness capacity (600 s window ÷ delay) —
    // the delay comes from the hosts' OWN robots.txt (agent-selected
    // Crawl-delay), so the policy table derives from the same fetch that
    // gated compliance
    val policies = graft.operators.Robots.crawlDelays(robots, "graftbot")
    val stats = allowedUrls.groupBy("host").agg(count(lit(1)).as("demand"))
      .join(policies, Seq("host"))
      // greatest(...,1): a host declaring `Crawl-delay: 0` (legal, common)
      // caps at one fetch/second — never a NULL cap from div-by-zero that
      // would NPE inside crawlBudget's (String, Long) encoder
      .selectExpr("host", "demand", "600 div greatest(crawl_delay_s, 1L) AS cap")

    // 4. exact water-filling allocation
    val alloc = graft.operators.Crawl.crawlBudget(stats, budgetArg)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val budgetSpent = alloc.agg(sum("alloc")).collect()(0).getLong(0)

    // 5. per-host selection (first `alloc` urls) + politeness timetable
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("host").orderBy("url")
    val selected = allowedUrls
      .withColumn("__rn", row_number().over(w).cast("long"))
      .join(alloc.select("host", "alloc"), Seq("host"))
      .where("__rn <= alloc").select("host", "url")
    val plan = graft.operators.Crawl.fetchSchedule(selected, policies)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nScheduled = plan.count()

    // ---- prove the plan BEFORE publishing it (a violating plan must
    // never land where a fetcher fleet could pick it up) ------------------
    // exactly the allocated volume was scheduled
    require(nScheduled == budgetSpent,
      s"scheduled $nScheduled != allocated $budgetSpent")
    // nothing disallowed slipped through
    val bad = plan.join(gated.where("allowed = 0").select("url"), Seq("url")).count()
    require(bad == 0L, s"$bad robots-disallowed urls in the plan")
    // no host over its allocation or its cap; fetch times are slot × delay
    val overAlloc = plan.groupBy("host").agg(count(lit(1)).as("f"))
      .join(alloc, Seq("host")).join(stats.select("host", "cap"), Seq("host"))
      .where("f > alloc OR f > cap").count()
    require(overAlloc == 0L, s"$overAlloc hosts exceed their allocation/cap")
    val badTime = plan.join(policies, Seq("host"))
      .where("fetch_at_s <> slot * crawl_delay_s").count()
    require(badTime == 0L, s"$badTime fetches off the politeness grid")

    // only a PROVEN plan is published
    plan.write.parquet(s"$out/plan")
    alloc.write.parquet(s"$out/hosts")

    val wall = (System.nanoTime() - t0) / 1e9
    val nHosts = alloc.count()
    println(f"""{"metric":"crawl_plan","frontier":$nFrontier,"allowed":$nAllowed,"hosts":$nHosts,"budget_spent":$budgetSpent,"scheduled":$nScheduled,"ok":true,"wall_sec":$wall%.2f}""")
    spark.stop()
  }
}
