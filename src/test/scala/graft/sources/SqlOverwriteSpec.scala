package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.SparkSession
import java.nio.file.Files

import graft.spark.ParquetSnapshotCatalog

/** Iceberg-shape partition overwrite through the SQL catalog: dynamic mode
  * replaces exactly the partitions the new data touches (untouched files
  * survive BYTE-IDENTICALLY — the 100 TB stays where it is), the static
  * `PARTITION (col=v)` clause swaps the named partition even when the new
  * data is empty, and every unprovable shape refuses loudly instead of
  * silently truncating the table.
  */
class SqlOverwriteSpec extends AnyFunSuite with SparkSuite {
  private var root: String = _
  private def cat = new ParquetSnapshotCatalog(root)

  /** `s` with the `go` catalog over this suite's root. */
  private def withCatalog(s: SparkSession): SparkSession = {
    s.conf.set("spark.sql.catalog.go", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.go.root", root)
    s
  }

  override def beforeAll(): Unit = {
    root = Files.createTempDirectory("graftsqlow").toFile.getAbsolutePath
    super.beforeAll()
    withCatalog(spark)
    val ss = spark; import ss.implicits._
    val langs = Seq("en", "de", "fr", "ja")
    (0 until 400).map(i => (i.toLong, langs(i % 4), s"text $i"))
      .toDF("id", "lang", "text").createOrReplaceTempView("src")
  }

  private def dynSession(): SparkSession = {
    val s = withCatalog(spark.newSession())
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val ss = s; import ss.implicits._
    val langs = Seq("en", "de", "fr", "ja")
    (0 until 400).map(i => (i.toLong, langs(i % 4), s"text $i"))
      .toDF("id", "lang", "text").createOrReplaceTempView("src")
    s
  }

  test("dynamic INSERT OVERWRITE replaces touched partitions, keeps the rest byte-identically") {
    spark.sql("CREATE TABLE go.a (id BIGINT, lang STRING, text STRING) PARTITIONED BY (lang)")
    spark.sql("INSERT INTO go.a SELECT * FROM src")
    val pre = cat.currentSnapshot("a").get
    val preFiles = cat.filesWithAddOrder("a", pre).map(_._1).toSet

    val s = dynSession()
    s.sql("INSERT OVERWRITE go.a SELECT id + 1000, lang, 'fresh' FROM src WHERE lang = 'en'")

    val post = cat.currentSnapshot("a").get
    val postFiles = cat.filesWithAddOrder("a", post).map(_._1).toSet
    // untouched partitions: the SAME physical files, not rewritten copies
    val kept = preFiles intersect postFiles
    assert(kept.nonEmpty, "de/fr/ja files must survive the dynamic overwrite untouched")
    assert(cat.partitionValuesAt("a", pre).get
      .collect { case (f, Some(v)) if v != "en" => f }.toSet == kept)

    val rows = spark.sql("SELECT lang, count(*) n, min(id) lo FROM go.a GROUP BY lang ORDER BY lang")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq(("de", 100L, 1L), ("en", 100L, 1000L), ("fr", 100L, 2L), ("ja", 100L, 3L)))
    // time travel to the pre-overwrite snapshot reads the ORIGINAL en rows
    assert(spark.sql(s"SELECT count(*) FROM go.a VERSION AS OF $pre WHERE id < 400")
      .collect()(0).getLong(0) == 400)
  }

  test("kept files carry their stats sidecars: metadata-only COUNT(*) and pins survive") {
    // every file of the new snapshot still pinned + counted
    val snap = cat.currentSnapshot("a").get
    assert(cat.partitionValuesAt("a", snap).isDefined,
      "overwrite must carry kept pins forward (SPJ/census layouts survive)")
    assert(cat.countStar("a").contains(400L),
      "overwrite must carry kept __count lines forward (metadata-only COUNT(*) survives)")
  }

  test("static PARTITION (lang='de') overwrite swaps exactly that partition") {
    spark.sql("INSERT OVERWRITE go.a PARTITION (lang = 'de') SELECT id + 5000, 'swapped' " +
      "FROM src WHERE lang = 'de' AND id < 200")
    val rows = spark.sql("SELECT lang, count(*) n, min(id) lo FROM go.a GROUP BY lang ORDER BY lang")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq(("de", 50L, 5001L), ("en", 100L, 1000L), ("fr", 100L, 2L), ("ja", 100L, 3L)))
  }

  test("static PARTITION clause with an empty source CLEARS the named partition") {
    spark.sql("INSERT OVERWRITE go.a PARTITION (lang = 'ja') SELECT id, text FROM src WHERE false")
    assert(spark.sql("SELECT count(*) FROM go.a WHERE lang = 'ja'").collect()(0).getLong(0) == 0)
    assert(spark.sql("SELECT count(*) FROM go.a").collect()(0).getLong(0) == 250)
  }

  test("dynamic overwrite with zero rows is a no-op, not a truncate") {
    val pre = cat.currentSnapshot("a").get
    dynSession().sql("INSERT OVERWRITE go.a SELECT * FROM src WHERE false")
    assert(cat.currentSnapshot("a").contains(pre), "no snapshot must be committed")
    assert(spark.sql("SELECT count(*) FROM go.a").collect()(0).getLong(0) == 250)
  }

  test("static INSERT OVERWRITE without a PARTITION clause still replaces the whole table") {
    spark.sql("CREATE TABLE go.w (id BIGINT, lang STRING, text STRING) PARTITIONED BY (lang)")
    spark.sql("INSERT INTO go.w SELECT * FROM src")
    spark.sql("INSERT OVERWRITE go.w SELECT id, lang, text FROM src WHERE lang = 'fr'")
    assert(spark.sql("SELECT count(*) FROM go.w").collect()(0).getLong(0) == 100)
  }

  test("pending delete tombstone refuses the partition swap (compact first)") {
    spark.sql("CREATE TABLE go.t (id BIGINT, lang STRING, text STRING) PARTITIONED BY (lang)")
    spark.sql("INSERT INTO go.t SELECT * FROM src")
    spark.sql("DELETE FROM go.t WHERE id = 7")
    val e = intercept[Exception] {
      dynSession().sql("INSERT OVERWRITE go.t SELECT * FROM src WHERE lang = 'en'")
    }
    assert(e.getMessage != null && e.getMessage.contains("tombstone"),
      s"got: ${e.getMessage}")
    // the failed overwrite must not have committed anything
    assert(spark.sql("SELECT count(*) FROM go.t").collect()(0).getLong(0) == 399)
  }

  test("mixed (unpinned) layout refuses the partition swap (compactSorted first)") {
    spark.sql("CREATE TABLE go.m (id BIGINT, lang STRING, text STRING) PARTITIONED BY (lang)")
    spark.sql("INSERT INTO go.m SELECT * FROM src")
    // a plain catalog-API append lands files WITHOUT pinned transform bounds
    cat.append(spark.sql("SELECT id, lang, text FROM src LIMIT 8"), "m")
    val e = intercept[Exception] {
      dynSession().sql("INSERT OVERWRITE go.m SELECT * FROM src WHERE lang = 'en'")
    }
    assert(e.getMessage != null && e.getMessage.contains("pinned"), s"got: ${e.getMessage}")
  }

  test("non-partition-aligned overwrite condition refuses (never a silent truncate)") {
    intercept[Exception] {
      val ss = spark; import ss.implicits._
      (0 until 10).map(i => (i.toLong, "en", "x")).toDF("id", "lang", "text")
        .writeTo("go.a").overwrite(org.apache.spark.sql.functions.expr("id > 5"))
    }
    assert(spark.sql("SELECT count(*) FROM go.a").collect()(0).getLong(0) == 250,
      "table content must be untouched after the refused overwrite")
  }
}
