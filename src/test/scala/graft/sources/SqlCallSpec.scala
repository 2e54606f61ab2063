package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import java.nio.file.Files

import graft.spark.ParquetSnapshotCatalog

/** SQL `CALL` maintenance procedures: parser → custom logical Command →
  * injected strategy → custom physical node, executing eagerly like DDL.
  * The whole catalog lifecycle — write, delete, compact, tag, time-travel,
  * expire, rollback — drivable from pure SQL.
  */
class SqlCallSpec extends AnyFunSuite with SparkSuite {
  private var root: String = _
  private def cat = new ParquetSnapshotCatalog(root)

  override def beforeAll(): Unit = {
    root = Files.createTempDirectory("graftcall").toFile.getAbsolutePath
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.gc", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gc.root", root)
    val ss = spark; import ss.implicits._
    (0 until 200).map(i => (i.toLong, s"t$i")).toDF("id", "text")
      .createOrReplaceTempView("src")
    spark.sql("CREATE TABLE gc.d AS SELECT /*+ REPARTITION(4) */ * FROM src WHERE id < 100")
    spark.sql("INSERT INTO gc.d SELECT /*+ REPARTITION(4) */ * FROM src WHERE id >= 100")
  }

  test("CALL compact materializes a pending DELETE and shrinks the file count") {
    spark.sql("DELETE FROM gc.d WHERE id = 7")
    val before = cat.filesWithAddOrder("d", cat.currentSnapshot("d").get).size
    val out = spark.sql("CALL gc.compact('d')").collect()
    assert(out.length == 1 && out(0).getString(0) == "snapshot")
    val snap = cat.currentSnapshot("d").get
    assert(cat.filesWithAddOrder("d", snap).size < before)
    val ids = spark.sql("SELECT id FROM gc.d").collect().map(_.getLong(0)).toSet
    assert(ids == (0 until 200).map(_.toLong).toSet - 7L)
  }

  test("CALL tag + VERSION AS OF the tag; drop_tag releases it") {
    val snap = cat.currentSnapshot("d").get
    spark.sql(s"CALL gc.tag('d', 'rel', $snap)")
    assert(spark.sql("SELECT count(*) FROM gc.d VERSION AS OF 'rel'")
      .collect()(0).getLong(0) == 199)
    spark.sql("CALL gc.drop_tag('d', 'rel')")
    intercept[Exception](
      spark.sql("SELECT count(*) FROM gc.d VERSION AS OF 'rel'").collect())
  }

  test("CALL expire_snapshots reports expired ids; retained history still reads") {
    val out = spark.sql("CALL gc.expire_snapshots('d', 1)").collect()
    assert(out.forall(_.getString(0) == "expired"))
    assert(spark.sql("SELECT count(*) FROM gc.d").collect()(0).getLong(0) == 199)
  }

  test("CALL rollback moves CURRENT to an older snapshot") {
    val ss = spark; import ss.implicits._
    val before = cat.currentSnapshot("d").get
    spark.sql("INSERT INTO gc.d VALUES (9999, 'extra')")
    assert(spark.sql("SELECT count(*) FROM gc.d").collect()(0).getLong(0) == 200)
    spark.sql(s"CALL gc.rollback('d', $before)")
    assert(spark.sql("SELECT count(*) FROM gc.d").collect()(0).getLong(0) == 199)
  }

  test("CALL create_mv + refresh_mv maintain a count+sum rollup from pure SQL") {
    spark.sql("CREATE TABLE gc.mvsrc AS SELECT /*+ REPARTITION(4) */ id, " +
      "CAST(id % 3 AS STRING) AS g, id AS v FROM src WHERE id < 150")
    val c = spark.sql("CALL gc.create_mv('mvsrc', 'mv1', 'g', 'v')").collect()
    assert(c.length == 1 && c(0).getString(0) == "snapshot")
    // DML window: an append + an equality-keyed DELETE (metadata-only
    // tombstone — the shape the incremental changelog can replay)
    spark.sql("INSERT INTO gc.mvsrc VALUES (1000, '9', 50)")
    spark.sql("DELETE FROM gc.mvsrc WHERE id IN (0, 3)")
    val r = spark.sql("CALL gc.refresh_mv('mv1')").collect()
      .map(x => (x.getString(0), x.getString(1))).toMap
    assert(r("mode") == "incremental", s"got $r")
    val got = spark.sql("SELECT g, mv_count, sum_v FROM gc.mv1 ORDER BY g")
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    val want = spark.sql(
      "SELECT g, count(*) AS c, coalesce(sum(v), 0L) AS s FROM gc.mvsrc GROUP BY g ORDER BY g")
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    assert(got.sameElements(want))
    assert(got.exists(_._1 == "9")) // the appended group materialized
  }

  test("unknown procedure / wrong catalog / non-CALL statements behave") {
    intercept[Exception](spark.sql("CALL gc.nope('d')").collect())
    intercept[Exception](spark.sql("CALL spark_catalog.compact('d')").collect())
    // the delegating parser leaves ordinary SQL untouched
    assert(spark.sql("SELECT 1 + 1 AS two").collect()(0).getInt(0) == 2)
  }
}
