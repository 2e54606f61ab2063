package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.AnalysisException
import java.nio.file.Files

import graft.spark.ParquetSnapshotCatalog

/** SQL VIEWS over the graft catalog (Iceberg-views shape: parser-intercepted
  * DDL + injected resolution rule, metadata-only storage under `__views__`).
  */
class SqlViewSpec extends AnyFunSuite with SparkSuite {
  private var root: String = _
  private def cat = new ParquetSnapshotCatalog(root)

  override def beforeAll(): Unit = {
    root = Files.createTempDirectory("graftview").toFile.getAbsolutePath
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.gv", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gv.root", root)
    val ss = spark; import ss.implicits._
    (0 until 100).map(i => (i.toLong, s"doc $i", if (i % 2 == 0) "en" else "de"))
      .toDF("id", "text", "lang").createOrReplaceTempView("src")
    spark.sql("CREATE TABLE gv.docs AS SELECT * FROM src")
  }

  test("CREATE VIEW -> SELECT matches the underlying query; re-analyzed per read (sees new inserts)") {
    spark.sql("CREATE VIEW gv.en_docs AS SELECT id, text FROM gv.docs WHERE lang = 'en' ")
    assert(spark.sql("SELECT count(*) FROM gv.en_docs").head().getLong(0) == 50L)
    assert(spark.sql("SELECT * FROM gv.en_docs").schema.fieldNames.toSeq == Seq("id", "text"))
    // the view is the stored SQL, not a materialization: a new insert shows up
    spark.sql("INSERT INTO gv.docs VALUES (1000, 'late doc', 'en')")
    assert(spark.sql("SELECT count(*) FROM gv.en_docs").head().getLong(0) == 51L)
    // storage is metadata-only: one KV under the reserved __views__ dir
    assert(cat.getMeta("__views__", "view.en_docs").isDefined)
  }

  test("view composes into bigger SQL (joins, aggregates) like any relation") {
    val n = spark.sql(
      "SELECT v.id FROM gv.en_docs v JOIN gv.docs d ON v.id = d.id WHERE d.id < 10")
      .collect().map(_.getLong(0)).toSet
    assert(n == (0 until 10 by 2).map(_.toLong).toSet)
  }

  test("OR REPLACE swaps the definition; plain CREATE refuses a duplicate") {
    spark.sql("CREATE VIEW gv.v_counts AS SELECT lang, count(*) AS n FROM gv.docs GROUP BY lang")
    val e = intercept[AnalysisException] {
      spark.sql("CREATE VIEW gv.v_counts AS SELECT 1 AS one")
    }
    assert(e.getMessage.contains("already exists") || e.getCondition != null)
    spark.sql("CREATE OR REPLACE VIEW gv.v_counts AS SELECT count(*) AS n FROM gv.docs")
    assert(spark.sql("SELECT * FROM gv.v_counts").schema.fieldNames.toSeq == Seq("n"))
  }

  test("view over view resolves; a cycle refuses loudly instead of hanging the analyzer") {
    spark.sql("CREATE VIEW gv.a AS SELECT id FROM gv.docs WHERE id < 20")
    spark.sql("CREATE VIEW gv.b AS SELECT id FROM gv.a WHERE id >= 10")
    assert(spark.sql("SELECT count(*) FROM gv.b").head().getLong(0) == 10L)
    // CREATE OR REPLACE a -> references b (which references the OLD a: fine
    // at create time) -> reading a afterwards walks a -> b -> a: cycle
    spark.sql("CREATE OR REPLACE VIEW gv.a AS SELECT id FROM gv.b")
    val e = intercept[AnalysisException] { spark.sql("SELECT * FROM gv.a").collect() }
    assert(e.getMessage.toLowerCase.contains("recursive"))
    spark.sql("DROP VIEW gv.a"); spark.sql("DROP VIEW gv.b")
  }

  test("name collisions refuse both directions: view over an existing table, table over an existing view") {
    val e1 = intercept[AnalysisException] {
      spark.sql("CREATE VIEW gv.docs AS SELECT 1 AS one")
    }
    assert(e1.getMessage.contains("already exists"))
    spark.sql("CREATE VIEW gv.claimed AS SELECT 1 AS one")
    val e2 = intercept[Exception] {
      spark.sql("CREATE TABLE gv.claimed (id BIGINT)")
    }
    assert(e2.getMessage.contains("already exists") || e2.getMessage.contains("claimed"))
    spark.sql("DROP VIEW gv.claimed")
  }

  test("SHOW VIEWS lists; DROP VIEW removes (IF EXISTS tolerates absence); SHOW TABLES never lists the view store") {
    spark.sql("CREATE OR REPLACE VIEW gv.listed AS SELECT 1 AS one")
    val views = spark.sql("SHOW VIEWS IN gv").collect().map(_.getString(1)).toSet
    assert(views.contains("listed"))
    spark.sql("DROP VIEW gv.listed")
    assert(!spark.sql("SHOW VIEWS IN gv").collect().map(_.getString(1)).contains("listed"))
    intercept[AnalysisException] { spark.sql("DROP VIEW gv.listed") }
    spark.sql("DROP VIEW IF EXISTS gv.listed") // no throw
    val tables = spark.sql("SHOW TABLES IN gv").collect().map(_.getString(1)).toSet
    assert(tables.contains("docs") && !tables.exists(_.startsWith("__")))
  }

  test("session-catalog views are untouched: TEMP VIEW and unqualified names still route to Spark") {
    spark.sql("CREATE TEMPORARY VIEW plainview AS SELECT 42 AS x")
    assert(spark.sql("SELECT x FROM plainview").head().getInt(0) == 42)
    spark.sql("DROP VIEW plainview")
  }

  test("create-time analysis catches bad SQL; nothing is stored") {
    intercept[Exception] {
      spark.sql("CREATE VIEW gv.broken AS SELECT no_such_col FROM gv.docs")
    }
    assert(cat.getMeta("__views__", "view.broken").isEmpty)
  }
}
