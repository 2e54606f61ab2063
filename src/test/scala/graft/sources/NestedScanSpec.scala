package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import java.nio.file.Files

import graft.spark.ParquetSnapshotCatalog

/** Nested columns through the `graft-catalog` scan: an `array<float>` and a
  * struct column read columnar under an equality delete, positional
  * tombstones, a deletion vector and a rename, and every answer equals
  * `cat.read` (the `readWithDeletes` reference). `_file`/`_pos` name each
  * surviving row's physical coordinates.
  */
class NestedScanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Documents `from until to`: some arrays empty or null, some structs null. */
  private def docs(from: Long, to: Long): DataFrame =
    spark.range(from, to).selectExpr(
      "id AS doc_id",
      "concat('u', id) AS url",
      "IF(id % 11 = 0, NULL, transform(array_repeat(0, CAST(id % 5 AS INT)), " +
        "(x, j) -> CAST(id * 0.5 + j AS FLOAT))) AS vec",
      "IF(id % 7 = 0, NULL, named_struct('lang', IF(id % 2 = 0, 'en', 'de'), " +
        "'score', id / 3.0, 'tags', array(concat('t', id % 3)))) AS meta")

  private def assertSame(cat: ParquetSnapshotCatalog, t: String, step: String): Unit = {
    val scan = cat.scan(spark, t)
    val ref = cat.read(spark, t)
    assert(scan.schema == ref.schema, step)
    assert(rows(scan) == rows(ref), step)
    val cols = ref.columns.filter(_ != "doc_id").map(col)
    assert(rows(scan.select(cols: _*)) == rows(ref.select(cols: _*)), s"$step (pruned)")
    val plan = { val q = scan.select(cols: _*); q.collect(); q.queryExecution.executedPlan.toString }
    assert(plan.contains("ColumnarToRow"), s"$step: expected a columnar scan")
  }

  /** Each surviving row's `_file`/`_pos` are its file and physical row
    * index, read back through Spark's own `_metadata` columns. */
  private def assertCoordinates(cat: ParquetSnapshotCatalog, t: String): Unit = {
    val files = cat.filesWithAddOrder(t, cat.currentSnapshot(t).get).map(_._1)
    val physical = spark.read.parquet(files: _*)
      .selectExpr("doc_id", "_metadata.file_path", "_metadata.row_index").collect()
      .map(r => r.getLong(0) -> (cat.normFile(r.getString(1)), r.getLong(2))).toMap
    val got = cat.scan(spark, t).selectExpr("doc_id", "_file", "_pos").collect()
    assert(got.length == cat.read(spark, t).count())
    got.foreach { r =>
      assert((cat.normFile(r.getString(1)), r.getLong(2)) == physical(r.getLong(0)),
        s"doc ${r.getLong(0)}")
    }
  }

  test("array<float> and struct columns read through the scan under every delete kind and a rename") {
    val root = Files.createTempDirectory("graftnested").toFile.getAbsolutePath
    val cat = new ParquetSnapshotCatalog(root)
    // one 9,000-row file: its ordinals run across three decoded batches
    cat.commit(docs(0, 9000).coalesce(1), "t")
    cat.append(docs(9000, 12000), "t")
    assertSame(cat, "t", "clean")

    cat.deleteWhere("t", "url", Seq("u3", "u4100", "u7777"))
    assertSame(cat, "t", "equality delete")

    cat.deleteMatching(spark, "t", "doc_id % 13 = 4")
    assertSame(cat, "t", "positional delete")
    assertCoordinates(cat, "t")

    cat.rewritePositionDeletes("t")
    assert(cat.deletionVectorIndex("t", cat.currentSnapshot("t").get).nonEmpty)
    cat.deleteMatching(spark, "t", "doc_id % 17 = 2")
    assertSame(cat, "t", "deletion vector + positional delete")

    cat.renameColumn("t", "meta", "info")
    cat.append(docs(12000, 12100).withColumnRenamed("meta", "info"), "t")
    assertSame(cat, "t", "rename")
    assertCoordinates(cat, "t")
    assert(cat.scan(spark, "t").where("doc_id = 9054").selectExpr("info.tags[0]", "vec[2]")
      .collect().map(r => (r.getString(0), r.getFloat(1))).toSeq == Seq(("t0", 4529.0f)))
  }
}
