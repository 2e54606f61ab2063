package graft.spark


/** The continuous-curation composition as a spark-submit surface: crawl
  * drops arrive as micro-batches through the REAL streaming NEAR-DUP
  * ADMISSION sink (foreachBatch → appendNearDeduped on the RAW catalog
  * table — every batch is MinHash-gated against the signature companion of
  * everything previously committed, the curate-while-crawling gate), and
  * the incremental curation loop runs after every batch — changelog window
  * in, integer-exact gates, digest-companion-deduped append to CURATED,
  * crash-replayable watermark. Each drop after the first carries PLANTED
  * near-mutants of the previous drop's longest docs (doc_id + 1,000,000,
  * last two words trimmed); the run hard-requires, before reporting
  * success, that every genuine doc landed and every planted mutant was
  * rejected at ingest (exit 1 otherwise). One JSON line per drop plus a
  * final summary.
  *
  * Usage: runMain graft.spark.IncrementalCurateMain [sfDir] [rootDir] [drops]
  */
object IncrementalCurateMain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val root = if (args.length > 1) args(1) else "/tmp/graft_inccur_main"
    val nDrops = if (args.length > 2) args(2).toInt else 3
    val spark = graft.Sessions.fromEnv()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val rootP = java.nio.file.Paths.get(root)
    if (java.nio.file.Files.exists(rootP))
      java.nio.file.Files.walk(rootP).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    val cat = new ParquetSnapshotCatalog(root)
    // drops collected once up front: the drive simulates a crawl feed, so
    // each batch must be a literal row set, not a re-planned query
    val drops = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("doc_id", "text", s"doc_id % $nDrops AS drop")
      .as[(Long, String, Long)].collect().groupBy(_._3)
    // planted cross-drop near-mutants: for drop d>0, the 5 lowest-id docs
    // of drop d-1 with >= 20 words, last two words trimmed (>= 12/16
    // signature components vs their originals) — must be REJECTED by the
    // admission gate, proving the curate-while-crawling loop is closed
    val mutants: Map[Long, Seq[(Long, String)]] = (1 until nDrops).map { d =>
      d.toLong -> drops(d.toLong - 1).toSeq.sortBy(_._1)
        .filter(_._2.split(' ').length >= 20).take(5)
        .map { case (id, text, _) =>
          (id + 1000000L, text.split(' ').dropRight(2).mkString(" "))
        }
    }.toMap
    val nPlanted = mutants.values.map(_.size).sum

    implicit val sq = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val t0 = System.nanoTime()
    (0 until nDrops).foreach { d =>
      mem.addData(drops(d.toLong).map(r => (r._1, r._2)).toSeq ++
        mutants.getOrElse(d.toLong, Nil): _*)
      // each drop is one AvailableNow run resuming the shared checkpoint —
      // the production "scheduled batch over a stream source" pattern; the
      // trigger terminates itself after draining the new offsets
      val sink = graft.streaming.ExtractStream.nearDedupSink(
        mem.toDF().toDF("doc_id", "text"), cat, "raw", s"$root/ckpt")
      sink.processAllAvailable()
      sink.stop()
      val (n, a) = IncrementalCurate.runOnce(spark, cat, "raw", "cur")
      println(s"""{"metric":"curate_drop","drop":$d,"window_rows":$n,"appended":$a}""")
    }
    val curated = cat.read(spark, "cur").count()
    val raw = cat.read(spark, "raw").count()
    val corpus = drops.values.map(_.length).sum
    // admission proof BEFORE reporting success: every planted near-mutant
    // was rejected at ingest, and every GENUINE doc the gate rejected is
    // JUSTIFIED — its signature shares >= 12/16 components with a doc that
    // DID land, verified by a full pairwise compare WITHOUT the LSH band
    // shortcut (so band pruning can never hide a wrongful rejection); the
    // corpus legitimately contains near-dup pairs, so raw < corpus is
    // correct exactly when every miss is justified
    val landedMutants = cat.read(spark, "raw").where("doc_id >= 1000000").count()
    require(landedMutants == 0L,
      s"$landedMutants planted near-mutants slipped through the admission gate")
    val allDocs = spark.createDataFrame(
      drops.values.flatten.map(r => (r._1, r._2)).toSeq).toDF("doc_id", "text")
    val missing = allDocs.join(cat.read(spark, "raw").select("doc_id"),
      Seq("doc_id"), "left_anti").persist()
    val nMissing = missing.count()
    val missSigs = IncrementalIngest.mdSignatures(missing)
    val compSigs = cat.read(spark, "raw__minhash")
      .select((0 until IncrementalIngest.minhashK).map(i =>
        org.apache.spark.sql.functions.col(s"m$i").as(s"t_m$i")): _*)
    val matchCnt = (0 until IncrementalIngest.minhashK)
      .map(i => org.apache.spark.sql.functions
        .when(org.apache.spark.sql.functions.col(s"m$i") ===
          org.apache.spark.sql.functions.col(s"t_m$i"), 1).otherwise(0))
      .reduce(_ + _)
    val justified = org.apache.spark.sql.functions.broadcast(missSigs)
      .crossJoin(compSigs).where(matchCnt >= 12)
      .select("doc_id").distinct().count()
    missing.unpersist()
    require(justified == nMissing,
      s"${nMissing - justified} genuine docs rejected WITHOUT a >=12/16 committed neighbor")
    require(raw + nMissing == corpus.toLong,
      s"raw $raw + rejected $nMissing != corpus $corpus")
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"""{"metric":"incremental_curate","drops":$nDrops,"raw_docs":$raw,"curated_docs":$curated,"mutants_planted":$nPlanted,"mutants_rejected":$nPlanted,"genuine_neardup_rejected":$nMissing,"raw_snapshots":${cat.snapshots("raw").size},"wall_sec":$wall%.2f}""")
    spark.stop()
  }
}
