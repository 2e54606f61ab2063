package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.SparkSession
import java.nio.file.Files

import graft.spark.{IdentityTransform, ParquetSnapshotCatalog, TruncateTransform}

/** `PARTITIONED BY` from pure SQL: CREATE declares the hidden transform,
  * INSERTs cluster+sort on the source column (write distribution/ordering)
  * and the value-rolling writer pins ONE transform value per data file —
  * the layout storage-partitioned joins and partition pruning consume, with
  * zero Scala.
  */
class SqlPartitionSpec extends AnyFunSuite with SparkSuite {
  private var root: String = _
  private def cat = new ParquetSnapshotCatalog(root)

  /** `s` with the `gp` catalog over this suite's root. */
  private def withCatalog(s: SparkSession): SparkSession = {
    s.conf.set("spark.sql.catalog.gp", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gp.root", root)
    s
  }

  override def beforeAll(): Unit = {
    root = Files.createTempDirectory("graftsqlpart").toFile.getAbsolutePath
    super.beforeAll()
    withCatalog(spark)
    val ss = spark; import ss.implicits._
    val langs = Seq("en", "de", "fr", "ja")
    (0 until 400).map(i => (i.toLong, langs(i % 4), s"text $i"))
      .toDF("id", "lang", "text").createOrReplaceTempView("src")
  }

  test("CREATE PARTITIONED BY (lang) + INSERT pins ONE transform value per data file") {
    spark.sql("CREATE TABLE gp.a (id BIGINT, lang STRING, text STRING) PARTITIONED BY (lang)")
    assert(cat.partitionSpec("a").contains(IdentityTransform("lang")))
    spark.sql("INSERT INTO gp.a SELECT * FROM src")
    val snap = cat.currentSnapshot("a").get
    val vals = cat.partitionValuesAt("a", snap)
    assert(vals.isDefined, "every file must carry pinned (lo == hi) transform bounds")
    assert(vals.get.map(_._2.get).toSet == Set("en", "de", "fr", "ja"))
    assert(spark.sql("SELECT count(*) FROM gp.a WHERE lang = 'de'").collect()(0).getLong(0) == 100)
  }

  test("two SQL-created partitioned tables join with ZERO exchange (storage-partitioned join)") {
    val s2 = withCatalog(spark.newSession())
    s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s2.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.sql("CREATE TABLE gp.b (lang STRING, boost BIGINT) PARTITIONED BY (lang)")
    s2.sql("INSERT INTO gp.b VALUES ('en', 1), ('de', 2), ('fr', 3), ('ja', 4)")
    val j = s2.sql("SELECT a.id, a.lang, b.boost FROM gp.a a JOIN gp.b b ON a.lang = b.lang")
    val nEx = j.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange"))
    assert(nEx == 0, j.queryExecution.executedPlan.toString)
    assert(j.collect().length == 400)
  }

  test("equality filter on the partition column PRUNES files (opened-files proof)") {
    val snap = cat.currentSnapshot("a").get
    val total = cat.filesWithAddOrder("a", snap).size
    val deFiles = cat.pruneFilesAt("a", snap, IdentityTransform("lang").statName, "de", "de").size
    assert(deFiles < total)
    val before = CatalogPartitionReader.opened.get()
    val n = spark.sql("SELECT count(id) FROM gp.a WHERE lang = 'de'").collect()(0).getLong(0)
    val opened = CatalogPartitionReader.opened.get() - before
    assert(n == 100 && opened <= deFiles, s"opened $opened, candidates $deFiles of $total")
  }

  test("truncate(w, col) partitioning from SQL: prefix files pinned, range pruning works") {
    spark.sql("CREATE TABLE gp.t (host STRING, n BIGINT) PARTITIONED BY (truncate(2, host))")
    assert(cat.partitionSpec("t").contains(TruncateTransform(2, "host")))
    spark.sql("INSERT INTO gp.t VALUES ('aa.example', 1), ('ab.example', 2), ('zz.example', 3)")
    val vals = cat.partitionValuesAt("t", cat.currentSnapshot("t").get)
    assert(vals.get.map(_._2.get).toSet == Set("aa", "ab", "zz"))
    assert(spark.sql("SELECT sum(n) FROM gp.t WHERE host = 'ab.example'")
      .collect()(0).getLong(0) == 2)
  }

  test("INSERT OVERWRITE keeps the partitioned layout; NULL partition values fail loudly") {
    spark.sql("INSERT OVERWRITE gp.b VALUES ('en', 10), ('de', 20)")
    val vals = cat.partitionValuesAt("b", cat.currentSnapshot("b").get)
    assert(vals.get.map(_._2.get).toSet == Set("en", "de"))
    val e = intercept[Exception](
      spark.sql("INSERT INTO gp.b VALUES (NULL, 99)"))
    assert(e.getMessage != null)
    // the failed insert must not have committed anything
    assert(spark.sql("SELECT count(*) FROM gp.b").collect()(0).getLong(0) == 2)
  }

  test("write.target-file-size byte-rolls INSIDE a value pin; SPJ survives the roll") {
    val s2 = withCatalog(spark.newSession())
    s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s2.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.sql("CREATE TABLE gp.r (id BIGINT, lang STRING, text STRING) PARTITIONED BY (lang) " +
      "TBLPROPERTIES ('write.target-file-size'='4000')")
    val ss = s2; import ss.implicits._
    val big = (0 until 4000).map(i => (i.toLong, if (i % 2 == 0) "en" else "de",
      s"text $i ${"y" * 30}"))
    big.toDF("id", "lang", "text").createOrReplaceTempView("bigsrc")
    s2.sql("INSERT INTO gp.r SELECT * FROM bigsrc")
    val snap = cat.currentSnapshot("r").get
    val vals = cat.partitionValuesAt("r", snap)
    assert(vals.isDefined, "rolled files must stay value-pinned")
    val perValue = vals.get.groupBy(_._2.get).view.mapValues(_.size).toMap
    assert(perValue.values.exists(_ > 1),
      s"expected byte-rolling to split a value's output: $perValue")
    // SPJ across the roll: multi-file key groups still join with zero exchange
    val j = s2.sql("SELECT r.id, b.boost FROM gp.r r JOIN gp.b b ON r.lang = b.lang")
    val nEx = j.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange"))
    assert(nEx == 0, j.queryExecution.executedPlan.toString)
    assert(j.count() == 4000)
    assert(s2.sql("SELECT count(*) FROM gp.r WHERE lang = 'de'").collect()(0).getLong(0) == 2000)
  }

  test("unsupported transforms and bad columns are refused at CREATE") {
    // bucket and days are first-class now (SqlBucketSpec / SqlDaysSpec)
    intercept[Exception](spark.sql(
      "CREATE TABLE gp.x (ts TIMESTAMP) PARTITIONED BY (years(ts))"))
    intercept[Exception](spark.sql(
      "CREATE TABLE gp.y (u STRING) PARTITIONED BY (nope)"))
    intercept[Exception](spark.sql(
      "CREATE TABLE gp.z (d DOUBLE) PARTITIONED BY (d)"))
    // days on a non-timestamp column is refused
    intercept[Exception](spark.sql(
      "CREATE TABLE gp.w (u STRING) PARTITIONED BY (days(u))"))
  }
}
