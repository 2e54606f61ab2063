package graft.spark

/** The production job entrypoint (spark-submit target):
  *
  *   spark-submit --class graft.spark.ExtractMain app.jar \
  *     <sfDir> <outDir> <runId> [chunks=4] [partitionsPerChunk=32] [variants=1]
  *
  * Synthesizes (or at a real deployment: scans) the pages table, runs the
  * chunked resumable extraction, commits each chunk's data + lineage, then
  * commits the final snapshot into the ParquetSnapshotCatalog. Re-running
  * with the same runId resumes: completed chunks (those with lineage rows)
  * are skipped.
  */
object ExtractMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val runId = args(2)
    val chunks = if (args.length > 3) args(3).toInt else 4
    val parts = if (args.length > 4) args(4).toInt else 32
    val variants = if (args.length > 5) args(5).toInt else 1
    val spark = graft.Sessions.fromEnv()
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.currentTimeMillis()
    // Materialize the pages table ONCE, hash-partitioned by chunk, so each
    // resume chunk reads only its own partition directory (partition
    // pruning) instead of rescanning/re-synthesizing the whole corpus.
    import org.apache.spark.sql.functions._
    val pagesDir = s"$outDir/pages"
    if (!new java.io.File(s"$pagesDir/_SUCCESS").exists()) {
      Pages.synthesize(spark, sfDir, variants).toDF()
        .withColumn("chunk", pmod(xxhash64(col("url")), lit(chunks)))
        .write.mode("overwrite").partitionBy("chunk").parquet(pagesDir)
    }
    val t1 = System.currentTimeMillis()
    def chunkOf(c: Int) = spark.read.parquet(pagesDir)
      .where(col("chunk") === c)
      .select("url", "warc_ts", "html", "text", "lang")
    // optional per-task byte cap (north star "per-partition size caps")
    val maxTaskBytes = sys.env.get("SPARK_GRAFT_MAX_TASK_BYTES").map(_.toLong).getOrElse(Long.MaxValue)
    // SPARK_GRAFT_LEAN=1 drops full_text from the output rows (2x smaller)
    val lean = sys.env.get("SPARK_GRAFT_LEAN").contains("1")
    ExtractJob.runChunkedFrom(spark, chunkOf, outDir, runId, chunks, parts, maxTaskBytes, lean)
    // Iceberg-style metadata-only commit: manifest over the chunk files in
    // place; docs/bytes come from the lineage table — no full re-read.
    val cat = new ParquetSnapshotCatalog(outDir)
    val dataFiles = {
      val base = java.nio.file.Paths.get(s"$outDir/data")
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      scala.util.Using.resource(java.nio.file.Files.walk(base)) { s =>
        s.forEach { p =>
          if (p.toString.endsWith(".parquet")) out += p.toAbsolutePath.toString
        }
      }
      out.toSeq
    }
    val snap = cat.commitFiles(dataFiles, "extracted")
    val lineage = spark.read.parquet(s"$outDir/lineage").where(col("run_id") === runId)
    val stats = lineage.selectExpr("sum(docs)", "sum(bytes)").collect()(0)
    val docs = stats.getLong(0)
    val bytes = stats.getLong(1)
    val ms = System.currentTimeMillis() - t0
    val extractMs = System.currentTimeMillis() - t1
    println(f"EXTRACT_MAIN done runId=$runId snapshot=$snap docs=$docs bytes=$bytes wall_ms=$ms synth_ms=${t1 - t0} extract_ms=$extractMs docs_per_sec=${docs * 1000.0 / extractMs}%.1f mb_per_sec=${bytes / 1048576.0 * 1000.0 / extractMs}%.2f")
    spark.stop()
  }
}
