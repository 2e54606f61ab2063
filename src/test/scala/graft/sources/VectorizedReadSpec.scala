package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import java.nio.file.Files

import graft.spark.ParquetSnapshotCatalog

/** Every scan reads COLUMNAR through Spark's own
  * `VectorizedParquetRecordReader` (batched ColumnarBatch decoding — the
  * engine's production parquet machinery): clean snapshots, and also
  * pending deletes, `_file`/`_pos` and renames, which the reader applies to
  * each decoded batch. The Iceberg rule: one vectorized decoder, never a
  * changed answer.
  */
class VectorizedReadSpec extends AnyFunSuite with SparkSuite {
  private var root: String = _
  private def cat = new ParquetSnapshotCatalog(root)

  override def beforeAll(): Unit = {
    root = Files.createTempDirectory("graftvec").toFile.getAbsolutePath
    super.beforeAll()
  }

  private def read(t: String): DataFrame =
    spark.read.format("graft-catalog").option("root", root).option("table", t).load()

  /** Whether the EXECUTED (AQE-final) plan read this frame columnar. */
  private def ranColumnar(df: DataFrame): Boolean = {
    df.collect()
    df.queryExecution.executedPlan.toString.contains("ColumnarToRow")
  }

  test("clean snapshot reads COLUMNAR; values across all atomic types match the written frame") {
    val ss = spark; import ss.implicits._
    val src = (0 until 500).map { i =>
      (i.toLong, i, s"s$i", i * 0.5, i % 2 == 0,
        new java.sql.Timestamp(1700000000000L + i * 1000L))
    }.toDF("l", "i", "s", "d", "b", "ts")
    cat.commit(src.repartition(4), "clean")
    val df = read("clean")
    assert(ranColumnar(df.select("l", "i", "s", "d", "b", "ts")), "expected a columnar scan")
    val got = df.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3), r.getBoolean(4),
        r.getTimestamp(5))).toSet
    val want = src.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3), r.getBoolean(4),
        r.getTimestamp(5))).toSet
    assert(got == want)
  }

  test("a pending equality delete stays columnar and the tombstone applies") {
    val ss = spark; import ss.implicits._
    cat.commit((0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v"), "del")
    cat.deleteWhere("del", "id", Seq("7", "42"))
    val df = read("del")
    assert(ranColumnar(df), "a delete-carrying snapshot reads columnar")
    assert(df.collect().map(_.getLong(0)).toSet == (0 until 100).map(_.toLong).toSet - 7L - 42L)
  }

  test("compaction materializes the delete; the table turns columnar again") {
    cat.compact(spark, "del")
    val df = read("del")
    assert(ranColumnar(df), "compacted (clean) snapshot should vectorize again")
    assert(df.collect().map(_.getLong(0)).toSet == (0 until 100).map(_.toLong).toSet - 7L - 42L)
  }

  test("_file/_pos metadata projection reads columnar with correct ordinals") {
    val df = read("clean").selectExpr("l", "_pos")
    assert(ranColumnar(df), "metadata columns are reader-made vectors")
    // per-file ordinals are dense from 0
    val byFile = read("clean").selectExpr("_file", "_pos").collect()
      .groupBy(_.getString(0)).values
    byFile.foreach { rows =>
      assert(rows.map(_.getLong(1)).sorted.toSeq == (0L until rows.length.toLong))
    }
  }

  test("ADD-column evolution stays columnar: the old file null-fills the new column") {
    val ss = spark; import ss.implicits._
    cat.commit(Seq(("u1", "t1"), ("u2", "t2")).toDF("url", "text"), "evo")
    cat.append(Seq(("u3", "t3", "en")).toDF("url", "text", "lang"), "evo")
    val df = read("evo").select("url", "lang")
    assert(ranColumnar(df), "ADD-column evolution needs no row fallback")
    assert(df.collect().map(r => (r.getString(0), Option(r.getString(1)))).toSet ==
      Set(("u1", None), ("u2", None), ("u3", Some("en"))))
  }

  test("a RENAME reads columnar (per-file physical resolution) and still answers right") {
    val ss = spark; import ss.implicits._
    cat.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "olds"), "ren")
    cat.renameColumn("ren", "olds", "news")
    val df = read("ren").select("id", "news")
    assert(ranColumnar(df), "rename history resolves per file, columnar")
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b")))
  }

  test("columnar and row paths agree bit-for-bit on the same snapshot (pushed filter + pruning)") {
    val ss = spark; import ss.implicits._
    val src = (0 until 1000).map(i => (i.toLong, s"p$i", i % 7)).toDF("id", "p", "m")
    cat.commitWithStats(src.repartitionByRange(8, org.apache.spark.sql.functions.col("id")),
      "agree", Seq("id"))
    val cDf = read("agree").where("id >= 250 AND id < 500").selectExpr("id", "p", "m")
    assert(ranColumnar(cDf))
    val viaCat = cDf.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    // the reference is the written rows themselves: `cat.read` is this scan too
    val viaApi = src.where("id >= 250 AND id < 500")
      .selectExpr("id", "p", "m").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(viaCat == viaApi && viaCat.size == 250)
  }
}
