package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.spark.ParquetSnapshotCatalog

/** Metadata-only aggregate pushdown: global COUNT(*)/MIN/MAX through the
  * DSv2 scan answered from the stats sidecars with ZERO data files opened —
  * proven by deleting the parquet files and aggregating anyway. Every
  * refusal path (WHERE residue, tombstones, missing stats, doubles, time
  * travel) must fall back to a correct row scan, never a wrong answer.
  */
class AggPushdownSpec extends AnyFunSuite with SparkSuite {
  private var root: String = _
  private def cat = new ParquetSnapshotCatalog(root)

  override def beforeAll(): Unit = {
    root = Files.createTempDirectory("graftaggpush").toFile.getAbsolutePath
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.gagg", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gagg.root", root)
  }

  private def docs(n: Int) = {
    val ss = spark; import ss.implicits._
    (0 until n).map(i => (i.toLong, s"doc ${"%04d".format(i)}")).toDF("id", "text")
  }

  private def deleteDataFiles(t: String): Unit =
    cat.filesWithAddOrder(t, cat.currentSnapshot(t).get)
      .foreach { case (f, _) => Files.delete(Paths.get(f)) }

  test("COUNT(*)/MIN/MAX answer from metadata: data files deleted, SQL still answers") {
    // SQL CREATE records the schema so the table resolves even with the
    // data gone; the stats-bearing snapshot comes from the catalog API
    spark.sql("CREATE TABLE gagg.a (id BIGINT, text STRING)")
    cat.commitWithStats(docs(50), "a", Seq("id", "text"))
    deleteDataFiles("a")
    val r = spark.sql(
      "SELECT count(*) AS n, min(id) AS lo, max(id) AS hi, min(text) AS t0, max(text) AS t1 FROM gagg.a")
      .head()
    assert(r.getLong(0) == 50 && r.getLong(1) == 0 && r.getLong(2) == 49 &&
      r.getString(3) == "doc 0000" && r.getString(4) == "doc 0049")
    // the physical plan carries the metadata-only scan, not a file scan
    val plan = spark.sql("SELECT count(*) FROM gagg.a").queryExecution.executedPlan.toString
    assert(plan.contains("GraftCatalogAggScan"), plan)
  }

  test("zero-column scans (df.count() shape) serve synthetic rows from __count metadata") {
    spark.sql("CREATE TABLE gagg.z (id BIGINT, text STRING)")
    cat.commitWithStats(docs(25), "z", Seq("id"))
    deleteDataFiles("z")
    // .count() prunes the relation to zero columns — HashAggregate([]) over
    // the scan; the files are gone, so the 25 can only be metadata
    assert(spark.sql("SELECT * FROM gagg.z").count() == 25)
    assert(spark.sql("SELECT count(*), min(id), max(id) FROM gagg.z").count() == 1)
  }

  test("pure-SQL-written tables get __count sidecars: COUNT(*) metadata-only after CTAS+INSERT") {
    docs(30).createOrReplaceTempView("agg_src")
    spark.sql("CREATE TABLE gagg.b AS SELECT * FROM agg_src")
    spark.sql("INSERT INTO gagg.b SELECT id + 100, text FROM agg_src")
    deleteDataFiles("b")
    assert(spark.sql("SELECT count(*) FROM gagg.b").head().getLong(0) == 60)
    // min/max need COLUMN stats the DSv2 writer doesn't collect — the scan
    // must refuse the pushdown (and here fail on the deleted files) rather
    // than invent bounds
    intercept[Exception](spark.sql("SELECT min(id) FROM gagg.b").collect())
  }

  test("WHERE clause blocks the pushdown and the row scan stays correct") {
    cat.commitWithStats(docs(20), "c", Seq("id"))
    val r = spark.sql("SELECT count(*), max(id) FROM gagg.c WHERE id < 7").head()
    assert(r.getLong(0) == 7 && r.getLong(1) == 6)
  }

  test("delete tombstones (equality or positional) force the fallback; values stay post-delete") {
    spark.sql("CREATE TABLE gagg.d (id BIGINT, text STRING)")
    cat.commitWithStats(docs(10), "d", Seq("id"))
    cat.deleteWhere("d", "id", Seq("9"))
    val r = spark.sql("SELECT count(*), max(id) FROM gagg.d").head()
    assert(r.getLong(0) == 9 && r.getLong(1) == 8)
    cat.deleteMatching(spark, "d", "id = 0")
    val r2 = spark.sql("SELECT count(*), min(id) FROM gagg.d").head()
    assert(r2.getLong(0) == 8 && r2.getLong(1) == 1)
    // compaction materializes + restores the sidecar -> metadata path again
    cat.compactSorted(spark, "d", Seq("id"))
    deleteDataFiles("d")
    val r3 = spark.sql("SELECT count(*), min(id), max(id) FROM gagg.d").head()
    assert(r3.getLong(0) == 8 && r3.getLong(1) == 1 && r3.getLong(2) == 8)
  }

  test("DOUBLE min/max is never answered from formatted stat strings (fallback)") {
    val ss = spark; import ss.implicits._
    cat.commitWithStats(Seq((1L, 0.1 + 0.2), (2L, 1e-30)).toDF("id", "v"), "e", Seq("id", "v"))
    val r = spark.sql("SELECT min(v), max(v) FROM gagg.e").head()
    assert(r.getDouble(0) == 1e-30 && r.getDouble(1) == (0.1 + 0.2)) // exact doubles via row scan
  }

  test("GROUP BY and time travel are never pushed") {
    cat.commitWithStats(docs(12), "f", Seq("id"))
    val snap = cat.currentSnapshot("f").get
    assert(spark.sql("SELECT count(*) FROM gagg.f GROUP BY id % 2")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(6L, 6L))
    assert(spark.sql(s"SELECT count(*) FROM gagg.f VERSION AS OF $snap").head().getLong(0) == 12)
    val plan = spark.sql(s"SELECT count(*) FROM gagg.f VERSION AS OF $snap")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("GraftCatalogAggScan"), plan)
  }
}
