package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions.col
import graft.sources.CatalogPartitionReader
import java.nio.file.Files

/** PARTITION SPEC EVOLUTION: changing the table's transform is a
  * metadata-only flip — old files keep pruning under the spec they were
  * written with, new appends cluster under the new spec, point reads
  * intersect the per-spec keep-sets, pinned-layout surfaces (SPJ, the
  * metadata group census) refuse on the mixed table, and compactSorted
  * re-unifies everything under the current spec.
  */
class SpecEvolutionSpec extends AnyFunSuite with SparkSuite {
  private var root: String = _
  private def cat = new ParquetSnapshotCatalog(root)

  private val oldSpec = IdentityTransform("lang")
  private val newSpec = TruncateTransform(1, "lang")

  override def beforeAll(): Unit = {
    root = Files.createTempDirectory("graftevo").toFile.getAbsolutePath
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.gev", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gev.root", root)
    val ss = spark; import ss.implicits._
    val langs = Seq("aa", "ab", "ba", "bb")
    // era 1: exact-pinned under identity(lang)
    cat.commitPartitionedExact(
      (0 until 200).map(i => (i.toLong, langs(i % 4))).toDF("id", "lang"),
      "t", oldSpec, nTasks = 4)
    cat.evolveSpec("t", newSpec)
    // era 2: appended under truncate(1, lang)
    cat.appendPartitioned(
      (200 until 400).map(i => (i.toLong, langs(i % 4))).toDF("id", "lang"),
      "t", nFiles = 4)
  }

  test("point read prunes EACH era by its own spec; intersection beats current-spec-only") {
    val snap = cat.currentSnapshot("t").get
    val all = cat.filesWithAddOrder("t", snap).map(_._1).toSet
    val byOld = cat.pruneFilesAt("t", snap, oldSpec.statName, "ab", "ab").toSet
    val byNew = cat.pruneFilesAt("t", snap, newSpec.statName, "a", "a").toSet
    val kept = byOld intersect byNew
    // the old spec prunes era-1 files the new spec must keep (no truncate
    // stats on them), and vice versa — the intersection is strictly tighter
    assert(kept.size < byNew.size, s"old-spec bounds pruned nothing: $kept vs $byNew")
    assert(kept.size < all.size)
    val before = CatalogPartitionReader.opened.get()
    val rows = cat.scan(spark, "t").where(col("lang") === "ab").collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq ==
      (0 until 400).filter(_ % 4 == 1).map(_.toLong))
    assert(rows.map(_.getString(1)).toSet == Set("ab"))
    // the read opened at most the intersection: era-1 'ab' pins + era-2 'a' files
    val opened = CatalogPartitionReader.opened.get() - before
    assert(opened <= kept.size, s"opened $opened files, keep-set ${kept.size}")
  }

  test("mixed layout refuses pinned-only surfaces; census falls back correct") {
    assert(cat.partitionValuesAt("t", cat.currentSnapshot("t").get).isEmpty)
    assert(cat.partitionGroupCounts("t").isEmpty)
    val q = spark.sql("SELECT lang, count(*) AS n FROM gev.t GROUP BY lang")
    assert(!q.queryExecution.executedPlan.toString.contains("GraftCatalogAggScan"))
    assert(q.collect().map(r => (r.getString(0), r.getLong(1))).toMap
      .values.toSet == Set(100L))
  }

  test("compactSorted re-unifies under the current spec; new-spec pruning covers all files") {
    cat.compactSorted(spark, "t", nFiles = 4)
    val snap = cat.currentSnapshot("t").get
    val all = cat.filesWithAddOrder("t", snap).map(_._1).toSet
    val byNew = cat.pruneFilesAt("t", snap, newSpec.statName, "a", "a").toSet
    assert(byNew.size < all.size, "post-compact truncate bounds prune nothing")
    val byNewBa = cat.pruneFilesAt("t", snap, newSpec.statName, "b", "b")
    val before = CatalogPartitionReader.opened.get()
    val rows = cat.scan(spark, "t").where(col("lang") === "ba").collect()
    assert(rows.length == 100 && rows.map(_.getString(1)).toSet == Set("ba"))
    assert(CatalogPartitionReader.opened.get() - before <= byNewBa.size)
  }

  test("CALL evolve_spec parses a quoted comma arg; CALL zorder rewrites") {
    val ss = spark; import ss.implicits._
    spark.sql("CREATE TABLE gev.z (a BIGINT, b BIGINT) PARTITIONED BY (a)")
    (0 until 100).map(i => (i.toLong, (i * 7 % 100).toLong)).toDF("a", "b")
      .createOrReplaceTempView("zsrc")
    spark.sql("INSERT INTO gev.z SELECT * FROM zsrc")
    val out = spark.sql("CALL gev.evolve_spec('z', 'truncate(2,a)')").collect()
    assert(out(0).getString(1) == "truncate(2,a)")
    assert(cat.partitionSpec("z").map(_.render).contains("truncate(2,a)"))
    assert(cat.specHistory("z").map(_.render) == Seq("identity(a)"))
    val zo = spark.sql("CALL gev.zorder('z', 'a', 'b', 4)").collect()
    assert(zo(0).getString(0) == "snapshot")
    assert(spark.sql("SELECT count(*) FROM gev.z").collect()(0).getLong(0) == 100)
  }

  test("evolveSpec refuses a no-op and an unpartitioned table") {
    intercept[IllegalArgumentException](cat.evolveSpec("t", newSpec))
    intercept[IllegalStateException](cat.evolveSpec("nosuch", newSpec))
  }
}
