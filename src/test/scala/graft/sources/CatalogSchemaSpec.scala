package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.types.StructType
import java.nio.file.Files

import graft.spark.ParquetSnapshotCatalog

/** The scan's schema is folded from the data files' footers
  * (`ParquetSnapshotCatalog.schemaAt`); `schemaAt`, `cat.scan` and
  * `cat.read` all give the literal schema each case pins — column order,
  * types, nullability — through add-column, rename, drop and nested
  * evolution. A snapshot whose files disagree on a column's type fails the
  * read.
  */
class CatalogSchemaSpec extends AnyFunSuite with SparkSuite {
  private def catalog(): ParquetSnapshotCatalog =
    new ParquetSnapshotCatalog(Files.createTempDirectory("graftschema").toFile.getAbsolutePath)

  /** Every level of `ddl` reads nullable, as `StructType.fromDDL` makes it. */
  private def assertSchema(cat: ParquetSnapshotCatalog, t: String, ddl: String): Unit = {
    val want = StructType.fromDDL(ddl)
    assert(cat.schemaAt(spark, t, cat.currentSnapshot(t).get) == want)
    assert(cat.scan(spark, t).schema == want)
    assert(cat.read(spark, t).schema == want)
  }

  test("add-column: a later file's new column joins at the end, old files read it as null") {
    val cat = catalog()
    cat.commit(spark.range(5).selectExpr("id", "CAST(id AS STRING) AS text"), "t")
    cat.append(spark.range(5, 8).selectExpr("id", "CAST(id AS STRING) AS text", "'en' AS lang"), "t")
    // spark.range's id is non-nullable on write; every read is nullable
    assert(cat.scan(spark, "t").schema.forall(_.nullable))
    assertSchema(cat, "t", "id BIGINT, text STRING, lang STRING")
  }

  test("rename: both generations fold, with and without a delete between them") {
    val cat = catalog()
    cat.commit(spark.range(4).selectExpr("id", "id * 10 AS v", "'x' AS s"), "t")
    cat.renameColumn("t", "v", "score")
    cat.append(spark.range(4, 6).selectExpr("id", "'y' AS s", "id * 10 AS score"), "t")
    // both generations in one group: the new name keeps its own position
    assertSchema(cat, "t", "id BIGINT, s STRING, score BIGINT")
    // a delete between generations splits the files into two groups
    cat.deleteWhere("t", "id", Seq("1"))
    cat.renameColumn("t", "s", "tag")
    cat.append(spark.range(6, 8).selectExpr("id * 10 AS score", "'z' AS tag", "id"), "t")
    assertSchema(cat, "t", "id BIGINT, tag STRING, score BIGINT")
    assert(cat.scan(spark, "t").orderBy("id").collect().map(_.toString).toSeq ==
      Seq("[0,x,0]", "[2,x,20]", "[3,x,30]", "[4,y,40]", "[5,y,50]", "[6,z,60]", "[7,z,70]"))
  }

  test("drop: a dropped column leaves every generation's schema, renamed or not") {
    val cat = catalog()
    cat.commit(spark.range(4).selectExpr("id", "id AS x", "id AS y"), "t")
    cat.renameColumn("t", "x", "x2")
    cat.dropColumn("t", "x2")
    cat.dropColumn("t", "id")
    cat.append(spark.range(4, 6).selectExpr("id AS y"), "t")
    assertSchema(cat, "t", "y BIGINT")
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
    assertSchema(cat, "t",
      "id BIGINT, vec ARRAY<FLOAT>, m MAP<STRING, BIGINT>, meta STRUCT<lang: STRING, score: DOUBLE>")
    assert(cat.scan(spark, "t").selectExpr("meta.score").collect().count(!_.isNullAt(0)) == 2)
  }

  test("files disagreeing on a column's type fail the read with that error") {
    val cat = catalog()
    cat.commit(spark.range(3).selectExpr("id", "CAST(id AS STRING) AS v"), "t")
    cat.append(spark.range(3, 5).selectExpr("id", "id AS v"), "t")
    val e = intercept[Exception](cat.scan(spark, "t").collect())
    assert(e.getMessage.contains("incompatible column types"), e.getMessage)
    assert(intercept[Exception](cat.read(spark, "t").collect()).getMessage
      .contains("incompatible column types"))
  }
}
