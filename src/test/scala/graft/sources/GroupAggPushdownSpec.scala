package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import java.nio.file.{Files, Paths}

import graft.spark.ParquetSnapshotCatalog

/** Metadata-only GROUP BY <partition column> COUNT(*): per-group counts
  * summed from the __count sidecar over value-pinned files — the
  * per-language census over 100 TB with zero data files opened (proven by
  * deletion). Every refusal (non-partition column, deletes pending, extra
  * aggregates, unpinned layout) falls back to the row scan, never a wrong
  * answer.
  */
class GroupAggPushdownSpec extends AnyFunSuite with SparkSuite {
  private var root: String = _
  private def cat = new ParquetSnapshotCatalog(root)

  override def beforeAll(): Unit = {
    root = Files.createTempDirectory("graftgagg").toFile.getAbsolutePath
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.gg", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gg.root", root)
    val ss = spark; import ss.implicits._
    val langs = Seq("en", "de", "fr", "ja")
    (0 until 400).map(i => (i.toLong, langs(i % 4))).toDF("id", "lang")
      .createOrReplaceTempView("src")
    spark.sql("CREATE TABLE gg.d (id BIGINT, lang STRING) PARTITIONED BY (lang)")
    spark.sql("INSERT INTO gg.d SELECT * FROM src")
  }

  test("GROUP BY lang COUNT(*) answers from metadata: data deleted, SQL still answers") {
    cat.filesWithAddOrder("d", cat.currentSnapshot("d").get)
      .foreach { case (f, _) => Files.delete(Paths.get(f)) }
    val q = spark.sql("SELECT lang, count(*) AS n FROM gg.d GROUP BY lang")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GraftCatalogAggScan"), plan)
    assert(q.collect().map(r => (r.getString(0), r.getLong(1))).toMap ==
      Map("en" -> 100L, "de" -> 100L, "fr" -> 100L, "ja" -> 100L))
  }

  test("COUNT(DISTINCT part) / COUNT(part) answer from the pins: data stays deleted") {
    // runs after the deletion test — gg.d has NO data files left
    val q = spark.sql(
      "SELECT count(DISTINCT lang) AS d, count(lang) AS c, count(*) AS n FROM gg.d")
    assert(q.queryExecution.executedPlan.toString.contains("GraftCatalogAggScan"))
    val r = q.collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 400L, 400L)))
  }

  test("COUNT(DISTINCT) refusals: non-partition column, null pins counted right") {
    val ss = spark; import ss.implicits._
    // distinct on a NON-partition column: row scan
    val q1 = spark.sql("SELECT count(DISTINCT id) FROM gg.d")
    assert(!q1.queryExecution.executedPlan.toString.contains("GraftCatalogAggScan"))
    // a table with NULL partition values: count(lang) excludes them,
    // count(DISTINCT lang) excludes them, count(*) includes them
    Seq((1L, "en"), (2L, null), (3L, "en"), (4L, null))
      .toDF("id", "lang").createOrReplaceTempView("nsrc")
    val cat2 = cat
    cat2.commitPartitionedExact(spark.table("nsrc"), "nulled",
      graft.spark.IdentityTransform("lang"))
    val q2 = spark.sql(
      "SELECT count(DISTINCT lang) AS d, count(lang) AS c, count(*) AS n FROM gg.nulled")
    assert(q2.queryExecution.executedPlan.toString.contains("GraftCatalogAggScan"),
      q2.queryExecution.executedPlan.toString)
    val r = q2.collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((1L, 2L, 4L)))
  }

  test("refusals fall back to the row scan: non-partition column, extra agg, pending delete") {
    val ss = spark; import ss.implicits._
    spark.sql("CREATE TABLE gg.e (id BIGINT, lang STRING) PARTITIONED BY (lang)")
    spark.sql("INSERT INTO gg.e SELECT * FROM src")
    def planOf(sql: String) = spark.sql(sql).queryExecution.executedPlan.toString
    // group by a NON-partition column: row scan
    assert(!planOf("SELECT id % 2, count(*) FROM gg.e GROUP BY id % 2")
      .contains("GraftCatalogAggScan"))
    // an aggregate the sidecar can't answer: row scan
    assert(!planOf("SELECT lang, sum(id) FROM gg.e GROUP BY lang")
      .contains("GraftCatalogAggScan"))
    // correct values via the fallback
    assert(spark.sql("SELECT lang, count(*) AS n FROM gg.e WHERE id < 8 GROUP BY lang")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap.values.toSet == Set(2L))
    // a pending tombstone disables the metadata answer AND the fallback stays right
    spark.sql("DELETE FROM gg.e WHERE id = 0")
    val q = spark.sql("SELECT lang, count(*) AS n FROM gg.e GROUP BY lang")
    assert(!q.queryExecution.executedPlan.toString.contains("GraftCatalogAggScan"))
    assert(q.collect().map(r => (r.getString(0), r.getLong(1))).toMap ==
      Map("en" -> 99L, "de" -> 100L, "fr" -> 100L, "ja" -> 100L))
  }
}
