package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import java.nio.file.Files

import graft.spark.ParquetSnapshotCatalog

/** The scan's schema is folded from the data files' footers
  * (`ParquetSnapshotCatalog.schemaAt`) instead of planning a whole
  * `cat.read`; it must equal `cat.read(spark, t).schema` exactly — column
  * order, types, nullability — through add-column, rename, drop and nested
  * evolution.
  */
class CatalogSchemaSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private def catalog(): ParquetSnapshotCatalog =
    new ParquetSnapshotCatalog(Files.createTempDirectory("graftschema").toFile.getAbsolutePath)

  private def assertSchema(cat: ParquetSnapshotCatalog, t: String): Unit = {
    val want = cat.read(spark, t).schema
    assert(cat.schemaAt(spark, t, cat.currentSnapshot(t).get) == want)
    assert(cat.scan(spark, t).schema == want)
  }

  test("add-column: a later file's new column joins at the end, old files read it as null") {
    val cat = catalog()
    cat.commit(spark.range(5).selectExpr("id", "CAST(id AS STRING) AS text"), "t")
    cat.append(spark.range(5, 8).selectExpr("id", "CAST(id AS STRING) AS text", "'en' AS lang"), "t")
    // spark.range's id is non-nullable on write; every read is nullable
    assert(cat.scan(spark, "t").schema.forall(_.nullable))
    assertSchema(cat, "t")
  }

  test("rename: both generations fold, with and without a delete between them") {
    val cat = catalog()
    cat.commit(spark.range(4).selectExpr("id", "id * 10 AS v", "'x' AS s"), "t")
    cat.renameColumn("t", "v", "score")
    cat.append(spark.range(4, 6).selectExpr("id", "'y' AS s", "id * 10 AS score"), "t")
    assertSchema(cat, "t")
    // a delete between generations splits the read into two file groups
    cat.deleteWhere("t", "id", Seq("1"))
    cat.renameColumn("t", "s", "tag")
    cat.append(spark.range(6, 8).selectExpr("id * 10 AS score", "'z' AS tag", "id"), "t")
    assertSchema(cat, "t")
  }

  test("drop: a dropped column leaves every generation's schema, renamed or not") {
    val cat = catalog()
    cat.commit(spark.range(4).selectExpr("id", "id AS x", "id AS y"), "t")
    cat.renameColumn("t", "x", "x2")
    cat.dropColumn("t", "x2")
    cat.dropColumn("t", "id")
    cat.append(spark.range(4, 6).selectExpr("id AS y"), "t")
    assertSchema(cat, "t")
    assert(cat.scan(spark, "t").schema.fieldNames.toSeq == Seq("y"))
  }

  test("nested: arrays, maps and structs, with a struct gaining a field") {
    val cat = catalog()
    cat.commit(spark.range(3).selectExpr("id",
      "array(CAST(id AS FLOAT)) AS vec",
      "map('k', id) AS m",
      "named_struct('lang', 'en') AS meta"), "t")
    cat.append(spark.range(3, 5).selectExpr("id",
      "array(CAST(id AS FLOAT)) AS vec",
      "map('k', id) AS m",
      "named_struct('lang', 'de', 'score', CAST(id AS DOUBLE)) AS meta"), "t")
    assertSchema(cat, "t")
    assert(cat.scan(spark, "t").selectExpr("meta.score").collect().count(!_.isNullAt(0)) == 2)
  }
}
