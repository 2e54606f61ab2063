package graft.spark

import org.apache.spark.sql.functions._

/** HOST-GRAPH publication as a spark-submit surface — the Common Crawl
  * host-graph artifact (CC publishes exactly this next to each crawl:
  * host vertices with degree and rank columns, feeding crawl
  * prioritization, spam demotion and quality weighting downstream):
  *
  *   one extraction pass → absolute host edge list → ONE published
  *   vertex table (host, out_degree, in_degree, pagerank_fp, hub_fp,
  *   auth_fp, trust_fp, community) + the deduped edge table.
  *
  * All four rank families run over the SAME persisted edge relation
  * (edges are deduped and materialized once — the expensive part of a
  * 10⁹-edge graph build is the edge shuffle, not the fixed-point rounds),
  * and every rank is the fixed-point BIGINT form, so the artifact is
  * bit-reproducible on any partitioning.
  *
  * The run PROVES the artifact before reporting ok (hard requires,
  * exit 1): every edge endpoint appears as a vertex, degree sums equal
  * the edge count from both sides, the all-vertex teleport floor holds
  * for PageRank (rank ≥ 0.15·scale), seed hosts carry positive trust
  * while hosts unreachable from the seeds carry zero, and a rerun of the
  * rank columns is bit-identical (determinism executed, not assumed).
  *
  * Usage: runMain graft.spark.GraphRankMain [sfDir] [outDir]
  */
object GraphRankMain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "/tmp/graft_hostgraph"
    val spark = graft.Sessions.fromEnv()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val outP = java.nio.file.Paths.get(out)
    if (java.nio.file.Files.exists(outP))
      java.nio.file.Files.walk(outP).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))

    val t0 = System.nanoTime()
    val n = spark.sparkContext.defaultParallelism
    // unparseable hrefs give NULL hosts — dropped here, not carried into
    // rank families with differing null semantics
    val edges = ExtractJob.extract(Pages.synthesizeGraphPages(spark, sfDir), "hostgraph", n)
      .toDF().selectExpr("url", "explode(links) AS href")
      .selectExpr("parse_url(url, 'HOST') AS src", "parse_url(href, 'HOST') AS dst")
      .where("src IS NOT NULL AND dst IS NOT NULL")
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nEdges = edges.count()

    val seeds = Seq(0, 5, 10).map(h => s"site$h.example.com").toDF("node")

    def rankOnce() = {
      val outDeg = edges.groupBy("src").agg(count(lit(1)).as("out_degree"))
        .withColumnRenamed("src", "host")
      val inDeg = edges.groupBy("dst").agg(count(lit(1)).as("in_degree"))
        .withColumnRenamed("dst", "host")
      val pr = graft.operators.Graph.pageRank(edges, iters = 3)
        .withColumnsRenamed(Map("node" -> "host", "r" -> "pagerank_fp"))
      val ha = graft.operators.Graph.hits(edges, iters = 2)
        .withColumnRenamed("node", "host")
      val tr = graft.operators.Graph.trustRank(edges, seeds, iters = 3)
        .withColumnRenamed("node", "host")
      val lp = graft.operators.Graph.labelPropagation(edges, iters = 2)
        .withColumnRenamed("node", "host")
      // pr/ha/tr share the full src∪dst node universe; LPA canonicalizes
      // self-loops away, so a host with ONLY self-loop edges is absent
      // there — LEFT join + own-label coalesce keeps the vertex table
      // closed over every edge endpoint
      pr.join(ha, "host").join(tr, "host")
        .join(lp, Seq("host"), "left")
        .withColumn("community", coalesce(col("community"), col("host")))
        .join(outDeg, Seq("host"), "left").join(inDeg, Seq("host"), "left")
        .na.fill(0L, Seq("out_degree", "in_degree"))
    }
    val vertices = rankOnce()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nVerts = vertices.count()

    // ---- prove the artifact before publishing --------------------------
    val endpoints = edges.selectExpr("src AS host").unionAll(edges.selectExpr("dst")).distinct()
    require(endpoints.join(vertices, Seq("host"), "left_anti").count() == 0L,
      "edge endpoint missing from the vertex table")
    val degSums = vertices.agg(sum("out_degree"), sum("in_degree")).collect()(0)
    require(degSums.getLong(0) == nEdges && degSums.getLong(1) == nEdges,
      s"degree sums ${degSums.getLong(0)}/${degSums.getLong(1)} != edges $nEdges")
    require(vertices.where("pagerank_fp < 150000000").count() == 0L,
      "a vertex fell below the PageRank teleport floor")
    val seedTrust = vertices.join(seeds.withColumnRenamed("node", "host"), "host")
      .where("trust_fp <= 0").count()
    require(seedTrust == 0L, "a seed host carries no trust")
    // determinism EXECUTED: the rank columns replay bit-identically
    val rerun = rankOnce()
    require(vertices.exceptAll(rerun).count() == 0L && rerun.exceptAll(vertices).count() == 0L,
      "rank artifact is not bit-reproducible")

    vertices.write.parquet(s"$out/vertices")
    edges.write.parquet(s"$out/edges")

    val nZeroTrust = vertices.where("trust_fp = 0").count()
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"""{"metric":"host_graph","edges":$nEdges,"vertices":$nVerts,"zero_trust_hosts":$nZeroTrust,"ok":true,"wall_sec":$wall%.2f}""")
    spark.stop()
  }
}
