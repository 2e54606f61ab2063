package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import java.nio.file.Files

/** Metadata-only RENAME and DROP: old files keep their on-disk names, every
  * read maps them forward; renames chain; takedowns survive both ops.
  */
class SchemaEvolutionSpec extends AnyFunSuite with SparkSuite {
  private def tmp(): String = {
    val d = Files.createTempDirectory("graftevo").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("rename maps old files forward; new files write the new name; both generations fold") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    cat.commit(Seq(("a", 1L), ("b", 2L)).toDF("url", "v"), "t")
    cat.renameColumn("t", "v", "score")
    cat.append(Seq(("c", 3L)).toDF("url", "score"), "t")

    val got = cat.read(spark, "t")
    assert(got.schema.fieldNames.toSeq == Seq("url", "score"))
    assert(got.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 1L), ("b", 2L), ("c", 3L)))
    // time travel reads with the CURRENT schema (the Iceberg behavior)
    val old = cat.readSnapshot(spark, "t", cat.snapshots("t").head)
    assert(old.schema.fieldNames.contains("score") && !old.schema.fieldNames.contains("v"))
  }

  test("renames chain transitively: a→b then b→c") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    cat.commit(Seq(("x", 7L)).toDF("url", "a"), "t")
    cat.renameColumn("t", "a", "b")
    cat.append(Seq(("y", 8L)).toDF("url", "b"), "t")
    cat.renameColumn("t", "b", "c")
    cat.append(Seq(("z", 9L)).toDF("url", "c"), "t")
    val got = cat.read(spark, "t")
    assert(got.schema.fieldNames.toSeq == Seq("url", "c"))
    assert(got.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("x", 7L), ("y", 8L), ("z", 9L)))
  }

  test("takedowns survive a rename in either direction") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    cat.commit(Seq(("u1", 1L), ("u2", 2L)).toDF("link", "v"), "t")
    // tombstone BEFORE the rename, keyed on the old name
    cat.deleteWhere("t", "link", Seq("u1"))
    cat.renameColumn("t", "link", "url")
    assert(cat.read(spark, "t").collect().map(_.getString(0)).toSet == Set("u2"))
    // tombstone AFTER the rename, keyed on the new name, hits OLD files
    cat.deleteWhere("t", "url", Seq("u2"))
    assert(cat.read(spark, "t").count() == 0)
  }

  test("drop projects the column away for old and new files; deletes on it still apply") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    cat.commit(Seq(("u1", "tmp1", 1L), ("u2", "tmp2", 2L)).toDF("url", "scratch", "v"), "t")
    cat.deleteWhere("t", "scratch", Seq("tmp1"))
    cat.dropColumn("t", "scratch")
    val got = cat.read(spark, "t")
    assert(got.schema.fieldNames.toSeq == Seq("url", "v"))
    // the pre-drop tombstone applied before the projection
    assert(got.collect().map(_.getString(0)).toSet == Set("u2"))
    // appends without the dropped column compose (ADD-style missing-column null)
    cat.append(Seq(("u3", 3L)).toDF("url", "v"), "t")
    assert(cat.read(spark, "t").count() == 2)
  }

  test("an equality delete keyed on a later-dropped column applies through the scan") {
    val cat = new ParquetSnapshotCatalog(tmp())
    cat.commit(spark.range(100).selectExpr("id", "concat('s', id % 7) AS s").repartition(3), "t")
    cat.deleteWhere("t", "s", Seq("s3"))
    cat.dropColumn("t", "s")
    val scan = cat.scan(spark, "t")
    assert(scan.schema.fieldNames.toSeq == Seq("id"))
    assert(scan.count() == 86L && cat.read(spark, "t").count() == 86L)
    assert(scan.where("id % 7 = 3").count() == 0L)
    // the key column is decoded for the delete even when only `id` is read
    assert(scan.selectExpr("sum(id)").head().getLong(0) == (0 until 100).filter(_ % 7 != 3).sum)
    // the delete applies only to the files added before it
    cat.append(spark.range(100, 107).selectExpr("id", "concat('s', id % 7) AS s"), "t")
    assert(cat.scan(spark, "t").count() == 93L)
  }

  test("the changelog emits pre-images of a delete keyed on a column dropped since") {
    val cat = new ParquetSnapshotCatalog(tmp())
    val first = cat.commit(
      spark.range(100).selectExpr("id", "concat('s', id % 7) AS s").repartition(3), "t")
    cat.deleteWhere("t", "s", Seq("s3"))
    cat.dropColumn("t", "s")
    val log = cat.readChangelog(spark, "t", first)
    val deletes = log.where("op = 'delete'")
    assert(!deletes.columns.contains("s"))
    assert(deletes.count() ==
      cat.scan(spark, "t", snapshot = first).count() - cat.scan(spark, "t").count())
    assert(deletes.collect().map(_.getAs[Long]("id")).toSet == (0L until 100L).filter(_ % 7 == 3).toSet)
    assert(log.where("op = 'insert'").count() == 0L)
  }

  test("an equality delete on a key type the scan cannot replay is refused at commit") {
    val cat = new ParquetSnapshotCatalog(tmp())
    val ss = spark; import ss.implicits._
    val snap = cat.commit(Seq((1L, 1.5), (2L, 2.5)).toDF("id", "score"), "t")
    val e = intercept[IllegalArgumentException](cat.deleteWhere("t", "score", Seq("1.5")))
    assert(e.getMessage.contains("string, long or int"), e.getMessage)
    intercept[IllegalArgumentException](
      cat.upsertByKey(Seq((3L, 1.5)).toDF("id", "score"), "t", "score"))
    intercept[IllegalArgumentException](cat.deleteWhere("t", "nope", Seq("1")))
    assert(cat.currentSnapshot("t").contains(snap))
    assert(cat.read(spark, "t").count() == 2L && cat.scan(spark, "t").count() == 2L)
  }
}
