package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import java.nio.file.Files

import graft.spark.ParquetSnapshotCatalog

/** The SQL `TableCatalog` plugin: every catalog capability reachable from
  * pure SQL — DDL (CREATE/CTAS/ALTER/DROP), DML (INSERT INTO/OVERWRITE,
  * DELETE as metadata-only tombstones), time travel (VERSION/TIMESTAMP AS
  * OF, tags), and reads that agree bit-for-bit with the catalog API's own
  * read path.
  */
class GraftCatalogSpec extends AnyFunSuite with SparkSuite {
  private var root: String = _
  private def cat = new ParquetSnapshotCatalog(root)

  override def beforeAll(): Unit = {
    root = Files.createTempDirectory("graftsqlcat").toFile.getAbsolutePath
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.gsql", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsql.root", root)
  }

  private def docs(n: Int, off: Int = 0) = {
    val ss = spark; import ss.implicits._
    (0 until n).map(i => ((i + off).toLong, s"doc number ${i + off}")).toDF("id", "text")
  }

  private def sqlIds(t: String): Set[Long] =
    spark.sql(s"SELECT id FROM gsql.$t").collect().map(_.getLong(0)).toSet

  test("CREATE TABLE -> empty SELECT with the declared schema -> INSERT INTO -> SELECT") {
    spark.sql("CREATE TABLE gsql.t1 (id BIGINT, text STRING)")
    val empty = spark.sql("SELECT * FROM gsql.t1")
    assert(empty.schema.fieldNames.toSeq == Seq("id", "text") && empty.count() == 0)
    docs(5).createOrReplaceTempView("src1")
    spark.sql("INSERT INTO gsql.t1 SELECT * FROM src1")
    assert(sqlIds("t1") == (0 until 5).map(_.toLong).toSet)
    spark.sql("INSERT INTO gsql.t1 SELECT id + 10, text FROM src1") // fast-append
    assert(sqlIds("t1") == ((0 until 5) ++ (10 until 15)).map(_.toLong).toSet)
    assert(spark.sql("SHOW TABLES IN gsql").collect().map(_.getString(1)).contains("t1"))
  }

  test("CTAS, INSERT OVERWRITE is an atomic replace snapshot, pre-overwrite still time-travels") {
    docs(8).createOrReplaceTempView("src2")
    spark.sql("CREATE TABLE gsql.t2 AS SELECT * FROM src2")
    assert(sqlIds("t2") == (0 until 8).map(_.toLong).toSet)
    val pre = cat.currentSnapshot("t2").get
    spark.sql("INSERT OVERWRITE gsql.t2 SELECT id + 100, text FROM src2")
    assert(sqlIds("t2") == (100 until 108).map(_.toLong).toSet)
    val back = spark.sql(s"SELECT id FROM gsql.t2 VERSION AS OF $pre")
      .collect().map(_.getLong(0)).toSet
    assert(back == (0 until 8).map(_.toLong).toSet)
  }

  test("DELETE FROM with key predicates commits EQUALITY tombstones (same data files, d-ref)") {
    docs(10).createOrReplaceTempView("src3")
    spark.sql("CREATE TABLE gsql.t3 AS SELECT * FROM src3")
    val filesBefore = cat.filesWithAddOrder("t3", cat.currentSnapshot("t3").get).map(_._1).toSet
    spark.sql("DELETE FROM gsql.t3 WHERE id = 3")
    spark.sql("DELETE FROM gsql.t3 WHERE id IN (5, 6)")
    assert(sqlIds("t3") == (0 until 10).map(_.toLong).toSet -- Set(3L, 5L, 6L))
    val snap = cat.currentSnapshot("t3").get
    assert(cat.filesWithAddOrder("t3", snap).map(_._1).toSet == filesBefore) // metadata-only
    assert(cat.equalityDeletes("t3", snap).size == 2 &&
      cat.positionalDeletes("t3", snap).isEmpty)
  }

  test("DELETE FROM with a non-key predicate commits a POSITIONAL tombstone; re-inserts survive") {
    docs(20).createOrReplaceTempView("src4")
    spark.sql("CREATE TABLE gsql.t4 AS SELECT * FROM src4")
    spark.sql("DELETE FROM gsql.t4 WHERE startswith(text, 'doc number 1') AND id > 4")
    assert(sqlIds("t4") == (0 until 10).map(_.toLong).toSet)
    val snap = cat.currentSnapshot("t4").get
    assert(cat.positionalDeletes("t4", snap).nonEmpty)
    // file-scoped sequence rule through SQL: re-inserting a matching row
    // lands in a new file the tombstone cannot name
    spark.sql("INSERT INTO gsql.t4 VALUES (15, 'doc number 15')")
    assert(sqlIds("t4").contains(15L))
  }

  test("DELETE without translatable predicate / TRUNCATE-shaped delete fails loudly") {
    docs(4).createOrReplaceTempView("src5")
    spark.sql("CREATE TABLE gsql.t5 AS SELECT * FROM src5")
    val e = intercept[Exception](spark.sql("DELETE FROM gsql.t5"))
    assert(e.getMessage.toLowerCase.contains("truncate") ||
      e.getMessage.toLowerCase.contains("delete"), e.getMessage)
    assert(sqlIds("t5").size == 4) // nothing happened
  }

  test("VERSION AS OF accepts tags; TIMESTAMP AS OF resolves commit mtimes") {
    docs(3).createOrReplaceTempView("src6")
    spark.sql("CREATE TABLE gsql.t6 AS SELECT * FROM src6")
    val s1 = cat.currentSnapshot("t6").get
    cat.tagSnapshot("t6", "release", s1)
    spark.sql("INSERT INTO gsql.t6 SELECT id + 50, text FROM src6")
    assert(spark.sql("SELECT * FROM gsql.t6 VERSION AS OF 'release'").count() == 3)
    assert(spark.sql("SELECT * FROM gsql.t6").count() == 6)
    val now = java.sql.Timestamp.valueOf(java.time.LocalDateTime.now().plusMinutes(1))
    assert(spark.sql(s"SELECT * FROM gsql.t6 TIMESTAMP AS OF '$now'").count() == 6)
  }

  test("ALTER TABLE RENAME COLUMN is metadata-only and old files resolve through the rename") {
    docs(6).createOrReplaceTempView("src7")
    spark.sql("CREATE TABLE gsql.t7 AS SELECT * FROM src7")
    spark.sql("ALTER TABLE gsql.t7 RENAME COLUMN text TO body")
    assert(spark.sql("SELECT body FROM gsql.t7 WHERE id = 2").head().getString(0)
      == "doc number 2")
    // files written AFTER the rename carry the new physical name; both
    // generations read under the current spelling
    spark.sql("INSERT INTO gsql.t7 VALUES (99, 'fresh row')")
    val all = spark.sql("SELECT id, body FROM gsql.t7").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(all(99L) == "fresh row" && all(3L) == "doc number 3" && all.size == 7)
    // the rename reaches the catalog API read path too (shared metadata)
    assert(cat.read(spark, "t7").columns.toSeq == Seq("id", "body"))
  }

  test("ALTER TABLE DROP COLUMN; SELECT of remaining columns") {
    docs(4).createOrReplaceTempView("src8")
    spark.sql("CREATE TABLE gsql.t8 AS SELECT * FROM src8")
    spark.sql("ALTER TABLE gsql.t8 DROP COLUMN text")
    assert(spark.sql("SELECT * FROM gsql.t8").schema.fieldNames.toSeq == Seq("id"))
    assert(sqlIds("t8").size == 4)
  }

  test("DROP TABLE removes data+metadata; SELECT then fails; RENAME TABLE refuses") {
    docs(2).createOrReplaceTempView("src9")
    spark.sql("CREATE TABLE gsql.t9 AS SELECT * FROM src9")
    assert(spark.sql("SHOW TABLES IN gsql").collect().map(_.getString(1)).contains("t9"))
    spark.sql("DROP TABLE gsql.t9")
    assert(!spark.sql("SHOW TABLES IN gsql").collect().map(_.getString(1)).contains("t9"))
    intercept[Exception](spark.sql("SELECT * FROM gsql.t9").collect())
    intercept[Exception](spark.sql("ALTER TABLE gsql.t2 RENAME TO t2b"))
  }

  test("SQL read path == catalog API read path after mixed DML (parity)") {
    docs(40).createOrReplaceTempView("src10")
    spark.sql("CREATE TABLE gsql.t10 AS SELECT * FROM src10")
    spark.sql("INSERT INTO gsql.t10 SELECT id + 200, text FROM src10")
    spark.sql("DELETE FROM gsql.t10 WHERE id IN (3, 204)")
    spark.sql("DELETE FROM gsql.t10 WHERE contains(text, 'number 2') AND id < 100")
    val viaSql = sqlIds("t10")
    val viaApi = cat.read(spark, "t10").select("id").collect().map(_.getLong(0)).toSet
    assert(viaSql == viaApi && viaSql.nonEmpty)
  }

  test("arithmetic DELETE predicates: ANSI translates to the metadata-only path, non-ANSI falls back to the row-level delta (both positional, both correct)") {
    docs(12).createOrReplaceTempView("src12")
    spark.sql("CREATE TABLE gsql.t12 AS SELECT * FROM src12")
    // non-ANSI: Spark refuses to hand `%` to a source (wrapping semantics
    // are not portable), so the metadata-only optimization can't fire — the
    // SupportsDelta row-level plan takes it instead (pre-round-4-delta this
    // statement FAILED outright)
    spark.sql("DELETE FROM gsql.t12 WHERE id % 4 = 1")
    assert(sqlIds("t12") == (0 until 12).map(_.toLong).filterNot(_ % 4 == 1).toSet)
    assert(cat.positionalDeletes("t12", cat.currentSnapshot("t12").get).size == 3)
    // ANSI: translatable → the metadata-only deleteMatching path (one
    // _metadata scan, no delta write job) commits the tombstone
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try spark.sql("DELETE FROM gsql.t12 WHERE id % 4 = 2")
    finally spark.conf.set("spark.sql.ansi.enabled", "false")
    assert(sqlIds("t12") == (0 until 12).map(_.toLong)
      .filterNot(i => i % 4 == 1 || i % 4 == 2).toSet)
  }

  test("SELECT on a table whose files have incompatible column types fails like cat.scan") {
    val ss = spark; import ss.implicits._
    spark.sql("CREATE TABLE gsql.tbad (id BIGINT, text STRING)")
    cat.commit(Seq((1L, "a")).toDF("id", "text"), "tbad")
    cat.append(Seq(("x", "b")).toDF("id", "text"), "tbad")
    val viaScan = intercept[IllegalStateException](cat.scan(spark, "tbad").collect())
    assert(viaScan.getMessage.contains("incompatible column types"), viaScan.getMessage)
    val viaSql = intercept[Exception](spark.sql("SELECT * FROM gsql.tbad").collect())
    assert(viaSql.getMessage.contains(viaScan.getMessage), viaSql.getMessage)
  }

  test("pushed filters still prune through the SQL path (pruned read stays correct)") {
    val ss = spark; import ss.implicits._
    (0 until 100).map(i => (i.toLong, s"d$i")).toDF("id", "text")
      .createOrReplaceTempView("src11")
    spark.sql("CREATE TABLE gsql.t11 AS SELECT * FROM src11")
    spark.sql("INSERT INTO gsql.t11 SELECT id + 1000, text FROM src11")
    val got = spark.sql("SELECT id FROM gsql.t11 WHERE id >= 1050")
      .collect().map(_.getLong(0)).toSet
    assert(got == (1050 until 1100).map(_.toLong).toSet)
  }
}
