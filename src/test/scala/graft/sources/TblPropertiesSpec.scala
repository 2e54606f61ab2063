package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import java.nio.file.Files

import graft.spark.ParquetSnapshotCatalog

/** Table properties: CREATE ... TBLPROPERTIES / ALTER TABLE SET/UNSET
  * TBLPROPERTIES / SHOW TBLPROPERTIES round-trip through the prop.*
  * metadata keys, and the read.split.target-size property actually
  * governs the scan's bin-packing (a behavior knob, not an inert tag).
  */
class TblPropertiesSpec extends AnyFunSuite with SparkSuite {
  private var root: String = _
  private def cat = new ParquetSnapshotCatalog(root)

  override def beforeAll(): Unit = {
    root = Files.createTempDirectory("graftprop").toFile.getAbsolutePath
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.gp", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gp.root", root)
  }

  private def props(t: String): Map[String, String] =
    spark.sql(s"SHOW TBLPROPERTIES gp.$t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  test("CREATE TBLPROPERTIES persists; SET adds/overwrites; UNSET removes") {
    spark.sql("CREATE TABLE gp.t (id BIGINT, v STRING) TBLPROPERTIES ('owner.team'='crawl', 'retention'='90d')")
    assert(props("t") == Map("owner.team" -> "crawl", "retention" -> "90d"))
    spark.sql("ALTER TABLE gp.t SET TBLPROPERTIES ('retention'='30d', 'tier'='hot')")
    assert(props("t") == Map("owner.team" -> "crawl", "retention" -> "30d", "tier" -> "hot"))
    spark.sql("ALTER TABLE gp.t UNSET TBLPROPERTIES ('owner.team')")
    assert(props("t") == Map("retention" -> "30d", "tier" -> "hot"))
    // idempotent unset of an absent key
    spark.sql("ALTER TABLE gp.t UNSET TBLPROPERTIES IF EXISTS ('nope')")
    assert(props("t").size == 2)
  }

  test("read.split.target-size governs bin-packing: tiny target = one partition per file") {
    val ss = spark; import ss.implicits._
    spark.sql("CREATE TABLE gp.s (id BIGINT, v STRING)")
    (1 to 4).foreach { i =>
      (0 until 50).map(j => ((i * 100 + j).toLong, s"v$j")).toDF("id", "v")
        .createOrReplaceTempView("srcp")
      spark.sql("INSERT INTO gp.s SELECT /*+ REPARTITION(2) */ * FROM srcp")
    }
    val nFiles = cat.filesWithAddOrder("s", cat.currentSnapshot("s").get).size
    assert(nFiles >= 8)
    // default conf (128 MB bins): tiny files coalesce into few partitions
    val coalesced = spark.sql("SELECT * FROM gp.s").rdd.getNumPartitions
    assert(coalesced < nFiles, s"expected coalescing: $coalesced vs $nFiles files")
    // a 1-byte target defeats packing: every file its own partition
    spark.sql("ALTER TABLE gp.s SET TBLPROPERTIES ('read.split.target-size'='1')")
    val perFile = spark.sql("SELECT * FROM gp.s").rdd.getNumPartitions
    assert(perFile == nFiles, s"expected one partition per file: $perFile vs $nFiles")
    // unset restores the conf-driven packing
    spark.sql("ALTER TABLE gp.s UNSET TBLPROPERTIES ('read.split.target-size')")
    assert(spark.sql("SELECT * FROM gp.s").rdd.getNumPartitions == coalesced)
    // rows unaffected throughout
    assert(spark.sql("SELECT count(*) FROM gp.s").collect()(0).getLong(0) == 200L)
  }

  test("cat.t.properties inspection table mirrors SHOW TBLPROPERTIES") {
    spark.sql("CREATE TABLE gp.p (id BIGINT) TBLPROPERTIES ('a'='1', 'b'='2')")
    val rows = spark.sql("SELECT key, value FROM gp.p.properties").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows == Map("a" -> "1", "b" -> "2"))
  }

  test("SHOW CREATE TABLE reports the hidden transform and the properties") {
    spark.sql("CREATE TABLE gp.w (id BIGINT, lang STRING) PARTITIONED BY (lang) " +
      "TBLPROPERTIES ('retention'='7d')")
    val ddl = spark.sql("SHOW CREATE TABLE gp.w").collect()(0).getString(0)
    assert(ddl.contains("PARTITIONED BY") && ddl.contains("lang"), ddl)
    assert(ddl.contains("retention"), ddl)
  }

  test("write.sort-order property drives compactSorted's default sort") {
    val ss = spark; import ss.implicits._
    spark.sql("CREATE TABLE gp.o (id BIGINT, v STRING) TBLPROPERTIES ('write.sort-order'='id')")
    (0 until 100).map(i => ((i * 37 % 100).toLong, s"v$i")).toDF("id", "v")
      .createOrReplaceTempView("osrc")
    spark.sql("INSERT INTO gp.o SELECT /*+ REPARTITION(4) */ * FROM osrc")
    // no explicit cols: the property supplies them; zone maps restored
    cat.compactSorted(spark, "o")
    val snap = cat.currentSnapshot("o").get
    val kept = cat.pruneFilesAt("o", snap, "id", "0", "10")
    assert(kept.size < cat.filesWithAddOrder("o", snap).size,
      s"sorted compaction must leave id zone maps that prune: ${kept.size}")
    // an unsorted table with neither spec nor property still refuses
    spark.sql("CREATE TABLE gp.o2 (id BIGINT)")
    spark.sql("INSERT INTO gp.o2 VALUES (1), (2)")
    intercept[IllegalArgumentException](cat.compactSorted(spark, "o2"))
  }

  test("write.sort-order makes SQL INSERTs range-sorted with zone-map sidecars: pruning from pure SQL") {
    val ss = spark; import ss.implicits._
    spark.sql("CREATE TABLE gp.zm (id BIGINT, v STRING) TBLPROPERTIES ('write.sort-order'='id')")
    (0 until 1000).map(i => ((i * 617 % 1000).toLong, s"v$i")).toDF("id", "v")
      .createOrReplaceTempView("zmsrc")
    // AQE would coalesce this tiny ordered shuffle into one task/file;
    // hold it open so the range layout is observable at test scale
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try spark.sql("INSERT INTO gp.zm SELECT * FROM zmsrc")
    finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    val cat2 = cat
    val snap = cat2.currentSnapshot("zm").get
    val total = cat2.filesWithAddOrder("zm", snap).size
    assert(total >= 2)
    // the ordered distribution made files cover DISJOINT id ranges
    val cand = cat2.pruneFilesAt("zm", snap, "id", "0", "10").size
    assert(cand < total, s"sorted SQL write must leave prunable zone maps: $cand of $total")
    // and the SQL point read opens only the candidates
    val before = CatalogPartitionReader.opened.get()
    val n = spark.sql("SELECT count(v) FROM gp.zm WHERE id = 7").collect()(0).getLong(0)
    val opened = CatalogPartitionReader.opened.get() - before
    assert(n == 1 && opened <= cand, s"opened $opened, candidates $cand of $total")
    // the metadata-only MIN/MAX aggregate answers from the writer stats
    assert(cat2.statsAgg("zm", "id").contains((Some("0"), Some("999"), 1000L)))
  }

  test("write.target-file-size rolls files mid-task; rolled files keep per-file stats") {
    val ss = spark; import ss.implicits._
    spark.sql("CREATE TABLE gp.roll (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('write.target-file-size'='4000', 'write.sort-order'='id')")
    (0 until 5000).map(i => (i.toLong, s"value-$i-${"x" * 20}")).toDF("id", "v")
      .createOrReplaceTempView("rollsrc")
    // single writer task: only byte-rolling can produce >1 file
    spark.sql("INSERT INTO gp.roll SELECT /*+ REPARTITION(1) */ * FROM rollsrc")
    val snap = cat.currentSnapshot("roll").get
    val nFiles = cat.filesWithAddOrder("roll", snap).size
    assert(nFiles > 1, s"expected byte-rolling to split the task output: $nFiles file(s)")
    // rolled files carry their own stats rows: ranges are disjoint, pruning works
    val cand = cat.pruneFilesAt("roll", snap, "id", "0", "10").size
    assert(cand < nFiles, s"rolled files must keep per-file zone maps: $cand of $nFiles")
    assert(spark.sql("SELECT count(*) FROM gp.roll").collect()(0).getLong(0) == 5000L)
    assert(cat.statsAgg("roll", "id").contains((Some("0"), Some("4999"), 5000L)))
  }

  test("cat.t.partitions census on a pinned table; zero rows when unpinned") {
    val ss = spark; import ss.implicits._
    spark.sql("CREATE TABLE gp.c (id BIGINT, lang STRING) PARTITIONED BY (lang)")
    Seq((1L, "en"), (2L, "de"), (3L, "en"), (4L, "en"))
      .toDF("id", "lang").createOrReplaceTempView("csrc")
    spark.sql("INSERT INTO gp.c SELECT * FROM csrc")
    val census = spark.sql("SELECT value, n_rows FROM gp.c.partitions").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(census == Map("en" -> 3L, "de" -> 1L))
    // the unpartitioned table answers zero rows, not a wrong census
    assert(spark.sql("SELECT * FROM gp.s.partitions").collect().isEmpty)
  }
}
