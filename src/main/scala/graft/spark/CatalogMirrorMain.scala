package graft.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

/** Catalog-to-catalog CDC replication — the spark-submit surface composing
  * the round's two change feeds end to end:
  *
  *   - INSERTS stream through the DSv2 catalog source (offsets = snapshot
  *     ids, O(delta) planning) into the mirror via the exactly-once
  *     appendBatch sink — one shared checkpoint, so each crawl drop is one
  *     AvailableNow run and a crashed run replays into an idempotent no-op;
  *   - DELETES propagate through the metadata-only delete feed
  *     (`deletedInWindow`): a takedown on the primary becomes the same
  *     equality tombstone on the mirror — zero data read on either side.
  *
  * This is the cross-region-replica / downstream-materialized-copy shape: a
  * mirror that is bit-identical to the primary after any sequence of drops
  * and takedowns, having only ever read the deltas. Usage:
  *
  *   runMain graft.spark.CatalogMirrorMain <sfDir> <workDir> <nDrops>
  */
object CatalogMirrorMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val workDir = args(1)
    val nDrops = if (args.length > 2) args(2).toInt else 3

    val spark = graft.Sessions.fromEnv()
    spark.sparkContext.setLogLevel("ERROR")

    val cat = new ParquetSnapshotCatalog(workDir)
    val cp = s"$workDir/_mirror_checkpoint"

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr(
        "concat('https://example.com/', lang, '/', source, '/doc', doc_id) AS url",
        "doc_id", "text")

    def mirrorOnce(): Unit = {
      val q = spark.readStream.format("graft-catalog")
        .option("root", workDir).option("table", "raw").load()
        .writeStream
        .foreachBatch { (b: DataFrame, batchId: Long) =>
          cat.appendBatch(b, "mirror", batchId)
          ()
        }
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    // ---- drops: primary append → one AvailableNow replication run -------
    (0 until nDrops).foreach { i =>
      val drop = docs.where(s"doc_id % $nDrops = $i")
      if (cat.currentSnapshot("raw").isEmpty) cat.commit(drop, "raw")
      else cat.append(drop, "raw")
      mirrorOnce()
      val (r, m) = (cat.read(spark, "raw").count(), cat.read(spark, "mirror").count())
      println(s"""{"metric":"mirror_drop","drop":$i,"raw_rows":$r,"mirror_rows":$m}""")
    }

    // ---- takedown propagation through the metadata-only delete feed -----
    val before = cat.currentSnapshot("raw").get
    val takedown = docs.where("doc_id % 10 = 3").select("url")
      .collect().map(_.getString(0)).toSeq
    cat.deleteWhere("raw", "url", takedown)
    val dels = cat.deletedInWindow(spark, "raw", before).collect()
      .groupBy(_.getString(0)).map { case (c, rows) => c -> rows.map(_.getString(1)).toSeq }
    dels.foreach { case (column, keys) => cat.deleteWhere("mirror", column, keys) }
    mirrorOnce() // delete-only window: zero inserts, replayed as a no-op

    // ---- verification: mirror equals primary bit-for-bit ----------------
    val rawT = cat.read(spark, "raw").selectExpr("url", "doc_id", "md5(text) AS h")
    val mirT = cat.read(spark, "mirror").selectExpr("url", "doc_id", "md5(text) AS h")
    val diff = rawT.exceptAll(mirT).count() + mirT.exceptAll(rawT).count()
    val rows = rawT.count()
    println(s"""{"metric":"catalog_mirror","drops":$nDrops,"rows":$rows,""" +
      s""""deleted_keys":${takedown.size},"diff_rows":$diff,"ok":${diff == 0L}}""")
    require(diff == 0L, "mirror diverged from primary")
    spark.stop()
  }
}
