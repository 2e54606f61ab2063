package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import java.nio.file.Files

import graft.spark.ParquetSnapshotCatalog

/** Nested columns through the `graft-catalog` scan: an `array<float>` and a
  * struct column read columnar under an equality delete, positional
  * tombstones, a deletion vector and a rename. Every answer equals the
  * generated documents filtered by the same deletes in plain Spark, under a
  * literal schema and literal row counts; `_file`/`_pos` name each
  * surviving row's physical coordinates.
  */
class NestedScanSpec extends AnyFunSuite with SparkSuite {
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

  private def schema(meta: String): StructType = StructType.fromDDL("doc_id BIGINT, url STRING, " +
    s"vec ARRAY<FLOAT>, $meta STRUCT<lang: STRING, score: DECIMAL(27,6), tags: ARRAY<STRING>>")

  /** The scan holds exactly `ref` (the documents the deletes leave), under
    * `want`, in `n` rows. */
  private def assertSame(cat: ParquetSnapshotCatalog, t: String, ref: DataFrame,
                         want: StructType, n: Long, step: String): Unit = {
    val scan = cat.scan(spark, t)
    assert(scan.schema == want, step)
    assert(scan.count() == n, step)
    assert(rows(scan) == rows(ref), step)
    val cols = want.fieldNames.filter(_ != "doc_id").map(col)
    assert(rows(scan.select(cols: _*)) == rows(ref.select(cols: _*)), s"$step (pruned)")
    val plan = { val q = scan.select(cols: _*); q.collect(); q.queryExecution.executedPlan.toString }
    assert(plan.contains("ColumnarToRow"), s"$step: expected a columnar scan")
  }

  /** Each surviving row's `_file`/`_pos` are its file and physical row
    * index, read back through Spark's own `_metadata` columns. */
  private def assertCoordinates(cat: ParquetSnapshotCatalog, t: String, n: Long): Unit = {
    import ParquetSnapshotCatalog.normFile
    val files = cat.filesWithAddOrder(t, cat.currentSnapshot(t).get).map(_._1)
    val physical = spark.read.parquet(files: _*)
      .selectExpr("doc_id", "_metadata.file_path", "_metadata.row_index").collect()
      .map(r => r.getLong(0) -> ((normFile(r.getString(1)), r.getLong(2)))).toMap
    val got = cat.scan(spark, t).selectExpr("doc_id", "_file", "_pos").collect()
    assert(got.length == n)
    got.foreach { r =>
      assert((normFile(r.getString(1)), r.getLong(2)) == physical(r.getLong(0)),
        s"doc ${r.getLong(0)}")
    }
  }

  test("array<float> and struct columns read through the scan under every delete kind and a rename") {
    val root = Files.createTempDirectory("graftnested").toFile.getAbsolutePath
    val cat = new ParquetSnapshotCatalog(root)
    // one 9,000-row file: its ordinals run across three decoded batches
    cat.commit(docs(0, 9000).coalesce(1), "t")
    cat.append(docs(9000, 12000), "t")
    var ref = docs(0, 12000)
    assertSame(cat, "t", ref, schema("meta"), 12000L, "clean")

    cat.deleteWhere("t", "url", Seq("u3", "u4100", "u7777"))
    ref = ref.where("url NOT IN ('u3', 'u4100', 'u7777')")
    assertSame(cat, "t", ref, schema("meta"), 11997L, "equality delete")

    assert(cat.deleteMatching(spark, "t", "doc_id % 13 = 4")._2 == 923L)
    ref = ref.where("doc_id % 13 != 4")
    assertSame(cat, "t", ref, schema("meta"), 11074L, "positional delete")
    assertCoordinates(cat, "t", 11074L)

    cat.rewritePositionDeletes("t")
    assert(cat.deletionVectorIndex("t", cat.currentSnapshot("t").get).nonEmpty)
    cat.deleteMatching(spark, "t", "doc_id % 17 = 2")
    ref = ref.where("doc_id % 17 != 2")
    assertSame(cat, "t", ref, schema("meta"), 10422L, "deletion vector + positional delete")

    cat.renameColumn("t", "meta", "info")
    cat.append(docs(12000, 12100).withColumnRenamed("meta", "info"), "t")
    ref = ref.withColumnRenamed("meta", "info").union(docs(12000, 12100))
    assertSame(cat, "t", ref, schema("info"), 10522L, "rename")
    assertCoordinates(cat, "t", 10522L)
    val pinned = cat.scan(spark, "t").where("doc_id IN (9009, 9054)").orderBy("doc_id")
      .selectExpr("url", "vec", "info.lang", "CAST(info.score AS STRING)", "info.tags").collect()
      .map(r => (0 until r.length).map(i => if (r.isNullAt(i)) null else r.get(i))).toSeq
    assert(pinned == Seq(
      Seq("u9009", null, null, null, null),
      Seq("u9054", Seq(4527.0f, 4528.0f, 4529.0f, 4530.0f), "en", "3018.000000", Seq("t0"))))
  }
}
