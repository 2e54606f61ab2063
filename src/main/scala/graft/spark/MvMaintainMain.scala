package graft.spark


/** Continuous materialized-view maintenance as a spark-submit surface: crawl
  * drops arrive as micro-batches through the REAL exactly-once streaming
  * sink (foreachBatch → appendBatch on the source catalog table), and the
  * per-language COUNT/SUM/approx-DISTINCT rollup refreshes incrementally
  * after every batch — O(batch) refresh cost by construction, with the view
  * verified against a from-scratch recompute at the end (the
  * self-maintainability proof, executed). One JSON line per drop plus a
  * final summary with `ok` carrying the equality check.
  *
  * Usage: runMain graft.spark.MvMaintainMain [sfDir] [rootDir] [drops]
  */
object MvMaintainMain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val root = if (args.length > 1) args(1) else "/tmp/graft_mv_main"
    val nDrops = if (args.length > 2) args(2).toInt else 3
    val spark = graft.Sessions.fromEnv()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val rootP = java.nio.file.Paths.get(root)
    if (java.nio.file.Files.exists(rootP))
      java.nio.file.Files.walk(rootP).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    val cat = new ParquetSnapshotCatalog(root)
    val drops = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("doc_id", "lang", "source", "CAST(length(text) AS BIGINT) AS chars",
        s"doc_id % $nDrops AS drop")
      .as[(Long, String, String, Long, Long)].collect().groupBy(_._5)

    implicit val sq = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String, Long)]
    val t0 = System.nanoTime()
    (0 until nDrops).foreach { d =>
      mem.addData(drops(d.toLong).map(r => (r._1, r._2, r._3, r._4)).toSeq: _*)
      val sink = graft.streaming.ExtractStream.catalogSink(
        mem.toDF().toDF("doc_id", "lang", "source", "chars"),
        cat, "src", s"$root/ckpt")
      sink.processAllAvailable()
      sink.stop()
      val r =
        if (d == 0) {
          val vs = MaterializedView.create(spark, cat, "src", "mv",
            Seq("lang"), Seq("chars"), Seq.empty, Seq("source"))
          MaterializedView.RefreshResult("create", -1L, vs, vs)
        } else MaterializedView.refresh(spark, cat, "mv")
      println(s"""{"metric":"mv_drop","drop":$d,"mode":"${r.mode}","view_snapshot":${r.viewSnap}}""")
    }
    // the executed self-maintainability proof: maintained state ==
    // from-scratch recompute over the source as it now stands
    val got = cat.read(spark, "mv")
      .selectExpr("lang", "mv_count", "sum_chars", "distinct_source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    MaterializedView.refresh(spark, cat, "mv") // noop — already current
    val tmp = new ParquetSnapshotCatalog(s"$root/check")
    tmp.commit(cat.read(spark, "src"), "src2")
    MaterializedView.create(spark, tmp, "src2", "mv2",
      Seq("lang"), Seq("chars"), Seq.empty, Seq("source"))
    val want = tmp.read(spark, "mv2")
      .selectExpr("lang", "mv_count", "sum_chars", "distinct_source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"""{"metric":"mv_maintain","drops":$nDrops,"groups":${got.size},"ok":${got == want},"wall_sec":$wall%.2f}""")
    spark.stop()
    if (got != want) sys.exit(1)
  }
}
