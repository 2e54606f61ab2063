package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.SparkSession
import java.nio.file.Files

import graft.spark.{BucketTransform, ParquetSnapshotCatalog}

/** SQL `PARTITIONED BY (bucket(n, col))` end-to-end through the catalog's
  * FunctionCatalog: Spark resolves the bucket transform to
  * [[GraftBucketFunction]] for the write's distribution/ordering (whole
  * buckets per task → one file per bucket), the value-rolling writer pins
  * one bucket id per file, point lookups prune through the transform, and
  * two same-bucketed tables storage-partition-join with ZERO exchange.
  */
class SqlBucketSpec extends AnyFunSuite with SparkSuite {
  private var root: String = _
  private def cat = new ParquetSnapshotCatalog(root)

  /** `s` with the `gb` catalog over this suite's root. */
  private def withCatalog(s: SparkSession): SparkSession = {
    s.conf.set("spark.sql.catalog.gb", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gb.root", root)
    s
  }

  override def beforeAll(): Unit = {
    root = Files.createTempDirectory("graftbkt").toFile.getAbsolutePath
    super.beforeAll()
    withCatalog(spark)
    val ss = spark; import ss.implicits._
    (0 until 400).map(i => (s"u$i", i.toLong)).toDF("url", "score")
      .createOrReplaceTempView("src")
  }

  test("CREATE PARTITIONED BY (bucket(4, url)) + INSERT pins ONE bucket id per file") {
    spark.sql("CREATE TABLE gb.a (url STRING, score BIGINT) PARTITIONED BY (bucket(4, url))")
    assert(cat.partitionSpec("a").contains(BucketTransform(4, "url")))
    spark.sql("INSERT INTO gb.a SELECT * FROM src")
    val snap = cat.currentSnapshot("a").get
    val vals = cat.partitionValuesAt("a", snap)
    assert(vals.isDefined, "every file must be pinned to one bucket id")
    val pins = vals.get.map(_._2.get)
    assert(pins.toSet.subsetOf(Set("0", "1", "2", "3")))
    // bucket-clustered distribution: one file per present bucket
    assert(pins.size == pins.toSet.size,
      s"expected one file per bucket, got pins $pins")
    assert(spark.sql("SELECT count(*) FROM gb.a").collect()(0).getLong(0) == 400)
  }

  test("point lookup on the raw column prunes through the bucket transform") {
    val snap = cat.currentSnapshot("a").get
    val total = cat.filesWithAddOrder("a", snap).size
    val spec = BucketTransform(4, "url")
    val t = spec.literal("u7")
    val cand = cat.pruneFilesAt("a", snap, spec.statName, t, t).size
    assert(cand < total, s"bucket pruning must engage: $cand of $total")
    val before = CatalogPartitionReader.opened.get()
    val n = spark.sql("SELECT count(score) FROM gb.a WHERE url = 'u7'").collect()(0).getLong(0)
    val opened = CatalogPartitionReader.opened.get() - before
    assert(n == 1 && opened <= cand, s"opened $opened, candidates $cand of $total")
  }

  test("two bucket(4) tables storage-partition-join with ZERO exchange") {
    val s2 = withCatalog(spark.newSession())
    s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s2.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val ss = s2; import ss.implicits._
    (0 until 400).map(i => (s"u$i", i.toLong)).toDF("url", "score")
      .createOrReplaceTempView("src2")
    s2.sql("CREATE TABLE gb.b (url STRING, rank BIGINT) PARTITIONED BY (bucket(4, url))")
    s2.sql("INSERT INTO gb.b SELECT url, score * 10 FROM src2 WHERE score % 2 = 0")
    val j = s2.sql("SELECT a.url, a.score, b.rank FROM gb.a a JOIN gb.b b ON a.url = b.url")
    val plan = j.queryExecution.executedPlan.toString
    val nEx = plan.linesIterator.count(_.contains("Exchange"))
    assert(nEx == 0, plan)
    assert(j.collect().length == 200)
  }

  test("bucket(8) does NOT zero-exchange-join bucket(4) (incompatible partitionings)") {
    val s2 = withCatalog(spark.newSession())
    s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s2.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val ss = s2; import ss.implicits._
    (0 until 400).map(i => (s"u$i", i.toLong)).toDF("url", "score")
      .createOrReplaceTempView("src3")
    s2.sql("CREATE TABLE gb.c (url STRING, w BIGINT) PARTITIONED BY (bucket(8, url))")
    s2.sql("INSERT INTO gb.c SELECT url, score FROM src3 WHERE score < 100")
    val j = s2.sql("SELECT a.url FROM gb.a a JOIN gb.c c ON a.url = c.url")
    val nEx = j.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange"))
    assert(nEx > 0, "mismatched bucket counts must shuffle, not silently mis-join")
    assert(j.collect().length == 100)
  }

  test("NULL bucket keys are refused by the writer with nothing committed") {
    val before = cat.currentSnapshot("a")
    intercept[Exception](spark.sql("INSERT INTO gb.a VALUES (NULL, 1)"))
    assert(cat.currentSnapshot("a") == before)
    assert(spark.sql("SELECT count(*) FROM gb.a").collect()(0).getLong(0) == 400)
  }

  test("the bucket function itself is SQL-callable through the catalog") {
    val r = spark.sql("SELECT gb.bucket(4, 'u7') AS b").collect()(0).getInt(0)
    assert(r == BucketTransform(4, "url").literal("u7").toInt)
  }
}
