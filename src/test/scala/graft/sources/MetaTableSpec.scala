package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import java.nio.file.Files

import graft.spark.ParquetSnapshotCatalog

/** SQL metadata tables (`SELECT * FROM cat.t.files/snapshots/refs`) — the
  * Iceberg inspection-table shape. Rows come from the catalog's own
  * metadata APIs at scan planning, zero data files opened.
  */
class MetaTableSpec extends AnyFunSuite with SparkSuite {
  private var root: String = _
  private def cat = new ParquetSnapshotCatalog(root)

  override def beforeAll(): Unit = {
    root = Files.createTempDirectory("graftmeta").toFile.getAbsolutePath
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.gm", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gm.root", root)

    val ss = spark; import ss.implicits._
    (0 until 30).map(i => (i.toLong, s"t$i")).toDF("id", "text")
      .createOrReplaceTempView("src")
    spark.sql("CREATE TABLE gm.d AS SELECT /*+ REPARTITION(1) */ * FROM src WHERE id < 10")
    spark.sql("INSERT INTO gm.d SELECT /*+ REPARTITION(1) */ * FROM src WHERE id >= 10 AND id < 30")
    spark.sql("DELETE FROM gm.d WHERE id = 3")
    cat.tagSnapshot("d", "audit", 2L)
  }

  test("t.files: one row per data file with add_snapshot and sidecar row counts, zero data opened") {
    val before = CatalogPartitionReader.opened.get()
    val rows = spark.sql(
      "SELECT add_snapshot, n_rows FROM gm.d.files ORDER BY add_snapshot").collect()
    assert(CatalogPartitionReader.opened.get() == before, "metadata table opened data files")
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 10L), (2L, 20L)))
  }

  test("t.snapshots: one row per retained snapshot; the DELETE shows as a delete-file commit") {
    val rows = spark.sql(
      """SELECT snapshot, n_data_files, n_delete_files, is_current
        |FROM gm.d.snapshots ORDER BY snapshot""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.toSeq == Seq((1L, 1L, 0L, false), (2L, 2L, 0L, false), (3L, 2L, 1L, true)))
  }

  test("t.refs: CURRENT plus tags, joinable against snapshots in plain SQL") {
    val refs = spark.sql("SELECT name, kind, snapshot FROM gm.d.refs ORDER BY name").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(refs.toSeq == Seq(("CURRENT", "current", 3L), ("audit", "tag", 2L)))
    val joined = spark.sql(
      """SELECT r.name, s.n_data_files FROM gm.d.refs r
        |JOIN gm.d.snapshots s ON r.snapshot = s.snapshot WHERE r.kind = 'tag'""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(joined.toSeq == Seq(("audit", 2L)))
  }

  test("t.history: one row per CURRENT swap; a rollback shows as a re-pointing entry") {
    val ss = spark; import ss.implicits._
    spark.sql("CREATE TABLE gm.h AS SELECT * FROM src WHERE id < 5")
    spark.sql("INSERT INTO gm.h SELECT * FROM src WHERE id >= 5 AND id < 10")
    cat.rollbackTo("h", 1L)
    val h = spark.sql(
      "SELECT snapshot, is_current FROM gm.h.history ORDER BY made_current_at, snapshot")
      .collect().map(r => (r.getLong(0), r.getBoolean(1)))
    assert(h.map(_._1).toSeq == Seq(1L, 2L, 1L),
      s"expected commit, commit, rollback-re-point; got ${h.mkString(",")}")
    assert(h.count(_._2) == 1 && h.last == ((1L, true)))
    // the log is bounded: a long swap chain retains only the newest K
    (0 until graft.spark.ParquetSnapshotCatalog.HistoryMax + 7)
      .foreach(_ => cat.rollbackTo("h", 1L))
    assert(cat.history("h").length == graft.spark.ParquetSnapshotCatalog.HistoryMax)
  }

  test("a metadata table of a missing base table fails loudly; writes are refused") {
    intercept[Exception](spark.sql("SELECT * FROM gm.nope.files").collect())
    intercept[Exception](
      spark.sql("INSERT INTO gm.d.files VALUES ('x', 1, 1, 1)"))
  }

  test("a top-level table NAMED like a meta kind still resolves as a table") {
    val ss = spark; import ss.implicits._
    spark.sql("CREATE TABLE gm.files (k BIGINT)")
    spark.sql("INSERT INTO gm.files VALUES (7)")
    assert(spark.sql("SELECT k FROM gm.files").collect().map(_.getLong(0)).toSeq == Seq(7L))
  }
}
