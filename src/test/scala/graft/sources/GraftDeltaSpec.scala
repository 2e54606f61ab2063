package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import java.nio.file.Files

import graft.spark.ParquetSnapshotCatalog

/** Row-level SQL DML through `SupportsRowLevelOperations` + `SupportsDelta`
  * (Iceberg's merge-on-read position-delta shape): `UPDATE`, `MERGE INTO`,
  * and the `DELETE`s the metadata-only paths can't take, each committing
  * task-staged positional tombstones + one appended delta as ONE atomic
  * snapshot with zero existing data rewritten.
  */
class GraftDeltaSpec extends AnyFunSuite with SparkSuite {
  private var root: String = _
  private def cat = new ParquetSnapshotCatalog(root)

  override def beforeAll(): Unit = {
    root = Files.createTempDirectory("graftdelta").toFile.getAbsolutePath
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.gd", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gd.root", root)
  }

  private def docs(n: Int, off: Int = 0) = {
    val ss = spark; import ss.implicits._
    (0 until n).map(i => ((i + off).toLong, s"doc number ${i + off}")).toDF("id", "text")
  }

  private def rows(t: String): Map[Long, String] =
    spark.sql(s"SELECT id, text FROM gd.$t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap

  test("SQL UPDATE = positional tombstone + replacement delta in ONE atomic snapshot") {
    docs(20).createOrReplaceTempView("du1")
    spark.sql("CREATE TABLE gd.u1 AS SELECT * FROM du1")
    val pre = cat.currentSnapshot("u1").get
    val filesBefore = cat.filesWithAddOrder("u1", pre).map(_._1).toSet

    spark.sql("UPDATE gd.u1 SET text = concat(text, ' [rev]') WHERE id >= 15")

    val snap = cat.currentSnapshot("u1").get
    assert(snap == pre + 1, "UPDATE must be exactly one new snapshot")
    val got = rows("u1")
    assert(got.size == 20)
    (0 until 20).foreach { i =>
      val want = if (i >= 15) s"doc number $i [rev]" else s"doc number $i"
      assert(got(i.toLong) == want, s"id=$i")
    }
    // merge-on-read: every pre-update data file still referenced untouched,
    // the update = p-refs + one new delta manifest
    val filesAfter = cat.filesWithAddOrder("u1", snap).map(_._1).toSet
    assert(filesBefore.subsetOf(filesAfter) && filesAfter.size > filesBefore.size)
    assert(cat.positionalDeletes("u1", snap).size == 5)
    // time travel to the pre-update snapshot reads the original values
    val back = spark.sql(s"SELECT id, text FROM gd.u1 VERSION AS OF $pre").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(back(17L) == "doc number 17")
    // SQL read path == catalog API read path (the API reader applies the
    // same multi-file p-refs)
    val viaApi = cat.read(spark, "u1").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(viaApi == got)
  }

  test("MERGE INTO: matched UPDATE + matched DELETE + NOT MATCHED INSERT, one snapshot") {
    docs(10).createOrReplaceTempView("dm_t")
    spark.sql("CREATE TABLE gd.m1 AS SELECT * FROM dm_t")
    val ss = spark; import ss.implicits._
    // source: ids 5..14 → 5..9 matched (5,6 deleted, 7,8,9 updated), 10..14 inserted
    (5 until 15).map(i => (i.toLong, s"src text $i")).toDF("id", "text")
      .createOrReplaceTempView("dm_s")
    val pre = cat.currentSnapshot("m1").get

    spark.sql("""MERGE INTO gd.m1 t USING dm_s s ON t.id = s.id
                |WHEN MATCHED AND s.id < 7 THEN DELETE
                |WHEN MATCHED THEN UPDATE SET text = s.text
                |WHEN NOT MATCHED THEN INSERT (id, text) VALUES (s.id, s.text)
                |""".stripMargin)

    assert(cat.currentSnapshot("m1").get == pre + 1, "MERGE must be one snapshot")
    val got = rows("m1")
    val want = ((0 until 5).map(i => i.toLong -> s"doc number $i") ++
      (7 until 15).map(i => i.toLong -> s"src text $i")).toMap
    assert(got == want)
  }

  test("MERGE INTO with NOT MATCHED BY SOURCE DELETE (the full-sync mirror shape)") {
    docs(10).createOrReplaceTempView("dm3_t")
    spark.sql("CREATE TABLE gd.m3 AS SELECT * FROM dm3_t")
    val ss = spark; import ss.implicits._
    // source carries only ids 4..11 → target rows 0..3 vanish, 4..9 update,
    // 10..11 insert: the table converges to exactly the source
    (4 until 12).map(i => (i.toLong, s"sync $i")).toDF("id", "text")
      .createOrReplaceTempView("dm3_s")
    val pre = cat.currentSnapshot("m3").get
    spark.sql("""MERGE INTO gd.m3 t USING dm3_s s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET text = s.text
                |WHEN NOT MATCHED THEN INSERT (id, text) VALUES (s.id, s.text)
                |WHEN NOT MATCHED BY SOURCE THEN DELETE
                |""".stripMargin)
    assert(cat.currentSnapshot("m3").get == pre + 1)
    assert(rows("m3") == (4 until 12).map(i => i.toLong -> s"sync $i").toMap)
  }

  test("MERGE INTO a CREATEd-empty table: pure NOT MATCHED INSERT becomes the first snapshot") {
    spark.sql("CREATE TABLE gd.m2 (id BIGINT, text STRING)")
    docs(4).createOrReplaceTempView("dm2_s")
    spark.sql("""MERGE INTO gd.m2 t USING dm2_s s ON t.id = s.id
                |WHEN NOT MATCHED THEN INSERT (id, text) VALUES (s.id, s.text)
                |""".stripMargin)
    assert(rows("m2").keySet == (0 until 4).map(_.toLong).toSet)
    assert(cat.positionalDeletes("m2", cat.currentSnapshot("m2").get).isEmpty)
  }

  test("DELETE the metadata paths refuse (non-ANSI arithmetic) now runs row-level") {
    docs(12).createOrReplaceTempView("dd1")
    spark.sql("CREATE TABLE gd.d1 AS SELECT * FROM dd1")
    // non-ANSI `%` is untranslatable to a V2 predicate, so the metadata-only
    // optimization can't fire — the row-level delta path takes it instead
    spark.sql("DELETE FROM gd.d1 WHERE id % 4 = 1")
    assert(rows("d1").keySet == (0 until 12).map(_.toLong).filterNot(_ % 4 == 1).toSet)
    val snap = cat.currentSnapshot("d1").get
    assert(cat.positionalDeletes("d1", snap).size == 3)
    assert(cat.equalityDeletes("d1", snap).isEmpty)
  }

  test("translatable DELETE still collapses to the METADATA-ONLY tombstone (no delta scan job)") {
    docs(10).createOrReplaceTempView("dd2")
    spark.sql("CREATE TABLE gd.d2 AS SELECT * FROM dd2")
    spark.sql("DELETE FROM gd.d2 WHERE id IN (2, 4)")
    val snap = cat.currentSnapshot("d2").get
    // equality d-ref, not a positional p-ref: proof the SupportsDeleteV2
    // optimization still wins over the row-level plan when it can
    assert(cat.equalityDeletes("d2", snap).size == 1)
    assert(cat.positionalDeletes("d2", snap).isEmpty)
    assert(rows("d2").keySet == (0 until 10).map(_.toLong).toSet -- Set(2L, 4L))
  }

  test("a zero-match UPDATE commits nothing (no empty snapshot)") {
    docs(5).createOrReplaceTempView("dz1")
    spark.sql("CREATE TABLE gd.z1 AS SELECT * FROM dz1")
    val pre = cat.currentSnapshot("z1").get
    spark.sql("UPDATE gd.z1 SET text = 'x' WHERE id > 1000")
    assert(cat.currentSnapshot("z1").get == pre)
  }

  test("UPDATE on a time-travel read refuses") {
    docs(3).createOrReplaceTempView("dt1")
    spark.sql("CREATE TABLE gd.tt1 AS SELECT * FROM dt1")
    val s1 = cat.currentSnapshot("tt1").get
    val e = intercept[Exception](
      spark.sql(s"UPDATE gd.tt1 VERSION AS OF $s1 SET text = 'x' WHERE id = 1"))
    assert(e != null)
  }

  test("commitRowDelta validates tombstoned files against the CURRENT snapshot (concurrent rewrite conflict)") {
    docs(6).createOrReplaceTempView("dc1")
    spark.sql("CREATE TABLE gd.c1 AS SELECT * FROM dc1")
    // stage a tombstone naming a file the snapshot does not contain — the
    // shape a concurrent compaction leaves behind
    val staged = java.nio.file.Paths.get(root, "c1", "data", "staged-del.tsv")
    Files.createDirectories(staged.getParent)
    Files.writeString(staged, "/nonexistent/file.parquet\t0\n")
    val e = intercept[IllegalArgumentException](
      cat.commitRowDelta("c1", Seq(staged.toString),
        Seq("/nonexistent/file.parquet"), Nil))
    assert(e.getMessage.contains("conflict"))
  }

  test("_file/_pos metadata columns are directly SELECTable (lineage) and match tombstone coordinates") {
    docs(8).createOrReplaceTempView("dl1")
    spark.sql("CREATE TABLE gd.l1 AS SELECT * FROM dl1")
    val meta = spark.sql("SELECT id, _file, _pos FROM gd.l1").collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2)))).toMap
    assert(meta.size == 8 && meta.values.map(_._1).forall(_.endsWith(".parquet")))
    spark.sql("DELETE FROM gd.l1 WHERE id % 3 = 2") // row-level (non-ANSI %)
    val snap = cat.currentSnapshot("l1").get
    val tomb = cat.positionalDeletes("l1", snap).toSet
    val expected = meta.filter(_._1 % 3 == 2).values
      .map { case (f, p) => (ParquetSnapshotCatalog.normFile(f), p) }.toSet
    assert(tomb == expected)
  }
}
