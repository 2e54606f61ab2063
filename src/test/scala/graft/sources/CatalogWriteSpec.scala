package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

import graft.spark.ParquetSnapshotCatalog

/** The DSv2 WRITE path: batch append, typed round-trip through the
  * parquet-hadoop writer, exactly-once streaming epochs, and the pure-
  * connector catalog-to-catalog pipeline (readStream → writeStream with no
  * foreachBatch anywhere).
  */
class CatalogWriteSpec extends AnyFunSuite with SparkSuite {
  private def tmp(): String = {
    val d = Files.createTempDirectory("graftcatw").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("batch write appends one atomic snapshot; reads see the union") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    cat.commit(Seq(("a", 1L)).toDF("k", "v"), "t")
    Seq(("b", 2L), ("c", 3L)).toDF("k", "v")
      .write.format("graft-catalog").option("root", root).option("table", "t")
      .mode("append").save()
    assert(cat.snapshots("t").size == 2)
    assert(cat.read(spark, "t").collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 1L), ("b", 2L), ("c", 3L)))
    // and the DSv2 read path agrees
    assert(spark.read.format("graft-catalog").option("root", root).option("table", "t")
      .load().count() == 3)
  }

  test("typed round-trip through the task writer: timestamp/binary/null survive") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val seed = spark.sql(
      """SELECT 'u0' AS url, timestamp'2024-01-01 00:00:00' AS warc_ts,
        |CAST('seed' AS BINARY) AS html, 'en' AS lang""".stripMargin)
    cat.commit(seed, "t")
    spark.sql(
      """SELECT 'u1' AS url, timestamp'2024-03-01 12:34:56.789' AS warc_ts,
        |       CAST('<html>x</html>' AS BINARY) AS html, CAST(NULL AS STRING) AS lang""".stripMargin)
      .write.format("graft-catalog").option("root", root).option("table", "t")
      .mode("append").save()
    val r = cat.read(spark, "t").where("url = 'u1'").collect().head
    assert(r.getTimestamp(1).toString == "2024-03-01 12:34:56.789")
    assert(new String(r.getAs[Array[Byte]](2), "UTF-8") == "<html>x</html>")
    assert(r.isNullAt(3))
  }

  test("streaming write: epochs commit exactly once across restarts") {
    val root = tmp()
    val cp = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    cat.commit(Seq(("seed", 0L)).toDF("k", "v"), "t")

    val mem = MemoryStream[(String, Long)](spark)
    def drain(): Unit = {
      val q = mem.toDF().toDF("k", "v").writeStream
        .format("graft-catalog").option("root", root).option("table", "t")
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    mem.addData(("a", 1L), ("b", 2L))
    drain()
    mem.addData(("c", 3L))
    drain()
    // idle restart commits nothing new
    drain()
    assert(cat.read(spark, "t").collect().map(_.getString(0)).toSet ==
      Set("seed", "a", "b", "c"))
    // a manual replay of an already-committed epoch is skipped and its
    // duplicate outputs are not referenced
    val before = cat.snapshots("t").size
    assert(!cat.appendFilesAsBatch(Seq("/nonexistent.parquet"), "t", 0L))
    assert(cat.snapshots("t").size == before)
  }

  test("pure-connector pipeline: readStream(graft-catalog) → writeStream(graft-catalog), no foreachBatch") {
    val rootA = tmp()
    val rootB = tmp()
    val cp = tmp()
    val catA = new ParquetSnapshotCatalog(rootA)
    val catB = new ParquetSnapshotCatalog(rootB)
    val ss = spark; import ss.implicits._
    catA.commit(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), "src")
    catB.commit(Seq.empty[(String, Long)].toDF("k", "v").limit(0), "dst")

    def replicate(): Unit = {
      val q = spark.readStream.format("graft-catalog")
        .option("root", rootA).option("table", "src").load()
        .writeStream.format("graft-catalog")
        .option("root", rootB).option("table", "dst")
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    replicate()
    catA.append(Seq(("c", 3L)).toDF("k", "v"), "src")
    replicate()
    assert(catB.read(spark, "dst").collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 1L), ("b", 2L), ("c", 3L)))
  }
}
