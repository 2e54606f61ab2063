package graft.spark


/** ANN-INDEX publication as a spark-submit surface — the FAISS
  * train/add/search lifecycle run end to end against the embeddings
  * table and PROVEN before reporting ok (hard requires, exit 1):
  *
  *   1. `build` trains once and commits the model + cluster-partitioned
  *      code tables to the catalog;
  *   2. a second drop (planted exact twins of the first queries, under
  *      +1,000,000 ids) lands through the FROZEN model (`append`);
  *   3. the maintenance probe measures recall and decides — for this
  *      in-distribution drop it must NOT trip a rebuild;
  *   4. the query path answers from the index alone.
  *
  * Proof gates: recall ≥ the floor vs brute-force ground truth; the
  * append + probe + query legs run ZERO k-means (the executed
  * `Ann.trainRuns` census — training happens exactly once, in build);
  * every planted twin surfaces as its query's TOP neighbor; a query
  * rerun is bit-identical (determinism executed, not assumed).
  *
  * Usage: runMain graft.spark.AnnIndexMain [sfDir] [rootDir]
  */
object AnnIndexMain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val root = if (args.length > 1) args(1) else "/tmp/graft_annindex"
    val spark = graft.Sessions.fromEnv()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators.{Ann, AnnIndex}

    val rootP = java.nio.file.Paths.get(root)
    if (java.nio.file.Files.exists(rootP))
      java.nio.file.Files.walk(rootP).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    val cat = new ParquetSnapshotCatalog(root)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val n = emb.count()
    val t0 = System.nanoTime()

    // 1. train-once build
    AnnIndex.build(emb, cat, "ann", nHint = n)
    val trainedRuns = Ann.trainRuns.get()

    // 2. frozen-model append: planted exact twins of the 5 first queries
    val twins = emb.where("vec_id < 5")
      .selectExpr("vec_id + 1000000 AS vec_id", "embedding")
    AnnIndex.append(twins, cat, "ann")
    val all = emb.unionByName(twins)

    // 3. maintenance probe — in-distribution drop must not trip a rebuild
    val (recall, rebuilt) = AnnIndex.maintain(all, cat, "ann", floor = 0.5)
    require(!rebuilt, f"in-distribution append tripped a rebuild at recall $recall%.3f")
    require(recall >= 0.5, f"recall $recall%.3f under the 0.5 floor")

    // 4. the query path, twice — zero retrain, bit-identical, twins top-1
    def run() = AnnIndex.query(all, cat, "ann", nQueries = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val q1 = run()
    require(run() == q1, "query rerun diverged — index read must be deterministic")
    val top = q1.filter(_._2 == 1).map(t => t._1 -> t._3).toMap
    (0L until 5L).foreach { q =>
      require(top(q) == q + 1000000L,
        s"query $q top neighbor ${top(q)} — planted twin not found")
    }
    require(Ann.trainRuns.get() == trainedRuns,
      s"append/probe/query trained ${Ann.trainRuns.get() - trainedRuns} times — the index must be read-only")

    val codes = cat.read(spark, "ann").count()
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"""{"metric":"ann_index","vectors":$n,"indexed":$codes,"recall":$recall%.3f,"rebuilt":$rebuilt,"train_runs":$trainedRuns,"ok":true,"wall_sec":$wall%.2f}""")
    spark.stop()
  }
}
