package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer

import graft.spark.ParquetSnapshotCatalog

/** The DSv2 streaming read of the snapshot catalog: offsets are snapshot
  * ids, each micro-batch is the O(delta) incremental window, deletes apply
  * by the sequence rule inside the reader, and the checkpoint makes the
  * feed exactly-once across restarts.
  */
class CatalogSourceSpec extends AnyFunSuite with SparkSuite {
  private def tmp(): String = {
    val d = Files.createTempDirectory("graftcatsrc").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def readStreamDf(root: String, extra: (String, String)*): DataFrame = {
    var r = spark.readStream.format("graft-catalog")
      .option("root", root).option("table", "t")
    extra.foreach { case (k, v) => r = r.option(k, v) }
    r.load()
  }

  /** Drain the stream with AvailableNow into a driver-side buffer; returns
    * the per-batch row sets in batch order.
    */
  private def drain(df: DataFrame, cp: String): Seq[Set[(String, Long)]] = {
    val batches = ArrayBuffer.empty[Set[(String, Long)]]
    val q = df.writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.collect().map(r => (r.getString(0), r.getLong(1))).toSet
        batches.synchronized { batches += rows }
        ()
      }
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    batches.toSeq.filter(_.nonEmpty)
  }

  test("batch read parity: format('graft-catalog') equals catalog.read after commit/append/takedown/upsert") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    cat.commit(Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v"), "t")
    cat.append(Seq(("d", 4L), ("e", 5L)).toDF("k", "v"), "t")
    cat.deleteWhere("t", "k", Seq("c"))
    cat.upsertByKey(Seq(("b", 20L)).toDF("k", "v"), "t", "k")

    val viaCat = cat.read(spark, "t").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val viaSrc = spark.read.format("graft-catalog").option("root", root).option("table", "t")
      .load().collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(viaCat == Set(("a", 1L), ("b", 20L), ("d", 4L), ("e", 5L)))
    assert(viaSrc == viaCat)

    // column pruning still applies the tombstones (the pruned scan decodes
    // the delete-key column internally, emits only `v`)
    val vOnly = spark.read.format("graft-catalog").option("root", root).option("table", "t")
      .load().select("v").collect().map(_.getLong(0)).toSet
    assert(vOnly == Set(1L, 20L, 4L, 5L))
  }

  test("streaming: bootstrap batch is the full snapshot; restart emits only the new windows exactly once") {
    val root = tmp()
    val cp = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    cat.commit(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), "t")

    val run1 = drain(readStreamDf(root), cp)
    assert(run1 == Seq(Set(("a", 1L), ("b", 2L))))

    // idle restart: nothing new → no batches
    assert(drain(readStreamDf(root), cp).isEmpty)

    // drop 2 + an upsert: the restart must emit ONLY the window — the new
    // rows and the upsert's fresh capture, never a re-emission of a/b@v1
    cat.append(Seq(("c", 3L)).toDF("k", "v"), "t")
    cat.upsertByKey(Seq(("b", 20L)).toDF("k", "v"), "t", "k")
    val run2 = drain(readStreamDf(root), cp)
    assert(run2.map(_.toSeq).flatten.toSet == Set(("c", 3L), ("b", 20L)))
  }

  test("maxSnapshotsPerBatch=1: a 3-snapshot backlog drains as one window per micro-batch") {
    val root = tmp()
    val cp = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    cat.commit(Seq(("a", 1L)).toDF("k", "v"), "t")
    cat.append(Seq(("b", 2L)).toDF("k", "v"), "t")
    cat.append(Seq(("c", 3L)).toDF("k", "v"), "t")

    val runs = drain(readStreamDf(root, "maxSnapshotsPerBatch" -> "1"), cp)
    assert(runs == Seq(Set(("a", 1L)), Set(("b", 2L)), Set(("c", 3L))))
  }

  test("sequence rule in-stream: an in-window insert+takedown nets out; the takedown never retracts earlier emissions") {
    val root = tmp()
    val cp = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    cat.commit(Seq(("a", 1L)).toDF("k", "v"), "t")
    assert(drain(readStreamDf(root), cp) == Seq(Set(("a", 1L))))

    // window: +x +y, then takedown of x AND a (a was emitted in batch 0)
    cat.append(Seq(("x", 10L), ("y", 11L)).toDF("k", "v"), "t")
    cat.deleteWhere("t", "k", Seq("x", "a"))
    val run2 = drain(readStreamDf(root), cp)
    // x netted out inside the window; y flows; a's takedown is the
    // changelog's delete side, not an insert-feed retraction
    assert(run2.map(_.toSeq).flatten.toSet == Set(("y", 11L)))
    // the TABLE, of course, has both deletes applied
    assert(cat.read(spark, "t").collect().map(_.getString(0)).toSet == Set("y"))
  }

  test("a window crossing a compaction fails the stream loudly instead of re-emitting the table") {
    val root = tmp()
    val cp = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    cat.commit(Seq(("a", 1L)).toDF("k", "v"), "t")
    assert(drain(readStreamDf(root), cp) == Seq(Set(("a", 1L))))

    cat.compact(spark, "t")
    cat.append(Seq(("b", 2L)).toDF("k", "v"), "t")
    val ex = intercept[Exception] { drain(readStreamDf(root), cp) }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(_.getMessage != null) &&
      causes(ex).exists(c => Option(c.getMessage).exists(_.contains("crosses a rewrite"))))
  }

  test("typed round-trip: timestamp (INT96), binary and null columns survive the non-Spark reader") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val df = spark.sql(
      """SELECT 'https://example.com/p1' AS url,
        |       timestamp'2024-03-01 12:34:56.789' AS warc_ts,
        |       CAST('<html>x</html>' AS BINARY) AS html,
        |       CAST(NULL AS STRING) AS lang
        |UNION ALL
        |SELECT 'https://example.com/p2', timestamp'2024-03-02 00:00:00',
        |       CAST('' AS BINARY), 'en'""".stripMargin)
    cat.commit(df, "t")
    val got = spark.read.format("graft-catalog").option("root", root).option("table", "t")
      .load().orderBy("url").collect()
    val want = cat.read(spark, "t").orderBy("url").collect()
    assert(got.length == 2)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getString(0) == w.getString(0))
      assert(g.getTimestamp(1) == w.getTimestamp(1))
      assert(g.getAs[Array[Byte]](2).toSeq == w.getAs[Array[Byte]](2).toSeq)
      assert(g.isNullAt(3) == w.isNullAt(3))
      if (!g.isNullAt(3)) assert(g.getString(3) == w.getString(3))
    }
  }

  test("a time-travel scan reports its own snapshot's row count to the planner") {
    val cat = new ParquetSnapshotCatalog(tmp())
    val a = cat.commitWithStats(spark.range(30).repartition(3).selectExpr("id"), "t", Seq("id"))
    cat.append(spark.range(30, 34).repartition(2).selectExpr("id"), "t")
    // the compaction rewrites every file of `a`: CURRENT shares none of them
    cat.compactSmallFiles(spark, "t", targetBytes = 64L << 20)
    assert(cat.filesWithAddOrder("t", a).map(_._1).toSet
      .intersect(cat.filesWithAddOrder("t", cat.currentSnapshot("t").get).map(_._1).toSet).isEmpty)
    val old = cat.readSnapshot(spark, "t", a)
    assert(old.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(30)))
    assert(old.count() == 30L)
  }
}
