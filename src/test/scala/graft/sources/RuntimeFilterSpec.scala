package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.expressions.filter.Predicate
import java.nio.file.Files

import graft.spark.{IdentityTransform, ParquetSnapshotCatalog}

/** RUNTIME file pruning (`SupportsRuntimeV2Filtering` — Iceberg's dynamic
  * file filtering): Spark's dynamic-partition-pruning rule runs the join's
  * broadcast side first and hands the collected join-key values to the scan
  * as an IN predicate; the scan drops every data file whose zone map, bloom
  * sidecar, or partition transform proves it cannot hold any of the values.
  * The observable is [[CatalogPartitionReader.opened]] — a pruned file is
  * never opened. Pruning must never be load-bearing: files without stats
  * are kept and Spark re-applies the join row-level.
  */
class RuntimeFilterSpec extends AnyFunSuite with SparkSuite {
  private var root: String = _
  private def cat = new ParquetSnapshotCatalog(root)

  override def beforeAll(): Unit = {
    root = Files.createTempDirectory("graftrtf").toFile.getAbsolutePath
    super.beforeAll()
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    // fact clustered on id: 8 files, each a disjoint id range, zone-mapped
    val ss = spark; import ss.implicits._
    val fact = (0 until 1000).map(i => (i.toLong, s"text $i")).toDF("id", "text")
      .repartitionByRange(8, col("id"))
    cat.commitWithStats(fact, "zf", Seq("id"))
    // dim: the two ids we will join to, plus decoys under a selective filter
    val dim = Seq((5L, 1), (900L, 1), (17L, 0), (450L, 0)).toDF("id", "keep")
    cat.commit(dim, "dim")
    // lang-partitioned fact (one identity-transform value per file)
    val langs = Seq("en", "de", "fr", "ja")
    val byLang = (0 until 400).map(i => (i.toLong, langs(i % 4))).toDF("doc", "lang")
    cat.commitPartitionedExact(byLang, "pl", IdentityTransform("lang"))
    cat.commit(langs.map(l => (l, if (l == "de") 1 else 0)).toDF("lang", "keep"), "langs")
  }

  private def read(t: String): DataFrame =
    spark.read.format("graft-catalog").option("root", root).option("table", t).load()

  private def scanOf(t: String): CatalogScan =
    new CatalogScan(read(t).schema, read(t).schema, root, t, Int.MaxValue, 0L)

  private def nFiles(t: String): Int =
    cat.filesWithAddOrder(t, cat.currentSnapshot(t).get).size

  /** Files across planned partitions (bin-packing may coalesce several
    * small files into one partition — the pruning contract is on FILES). */
  private def plannedFiles(parts: Array[org.apache.spark.sql.connector.read.InputPartition])
      : Set[String] = parts.flatMap {
    case f: CatalogFilePartition => Seq(f.file)
    case g: CatalogFileGroupPartition => g.files.map(_.file)
    case other => throw new IllegalStateException(other.toString)
  }.toSet

  test("direct filter(): a runtime IN on a zone-mapped column drops non-overlapping files") {
    val s = scanOf("zf")
    assert(plannedFiles(s.planInputPartitions()).size == nFiles("zf"))
    assert(s.filterAttributes().map(_.fieldNames()(0)).toSet.contains("id"))
    s.filter(Array(new Predicate("IN",
      Array(Expressions.column("id"), Expressions.literal(5L), Expressions.literal(900L)))))
    val kept = plannedFiles(s.planInputPartitions())
    assert(kept.size <= 2 && kept.nonEmpty, s"kept ${kept.size} of ${nFiles("zf")}")
    // the surviving files are exactly the zone-map candidates
    val expect = (cat.pruneFilesAt("zf", cat.currentSnapshot("zf").get, "id", "5", "5") ++
      cat.pruneFilesAt("zf", cat.currentSnapshot("zf").get, "id", "900", "900")).toSet
    assert(kept == expect)
  }

  test("direct filter(): a column without any stats prunes NOTHING (conservative) and is not advertised") {
    val s = scanOf("zf")
    assert(!s.filterAttributes().map(_.fieldNames()(0)).contains("text"))
    s.filter(Array(new Predicate("IN",
      Array(Expressions.column("text"), Expressions.literal("text 5")))))
    assert(plannedFiles(s.planInputPartitions()).size == nFiles("zf"))
  }

  test("direct filter(): non-literal / unsupported predicate shapes are ignored whole") {
    val s = scanOf("zf")
    s.filter(Array(new Predicate("IS_NOT_NULL", Array(Expressions.column("id")))))
    assert(plannedFiles(s.planInputPartitions()).size == nFiles("zf"))
  }

  test("broadcast join injects a DPP runtime filter; pruned fact files are never OPENED") {
    val j = read("zf").join(broadcast(read("dim").where("keep = 1")), "id")
      .selectExpr("id", "text")
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"), plan)
    val before = CatalogPartitionReader.opened.get()
    val rows = j.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val openedNow = CatalogPartitionReader.opened.get() - before
    assert(rows == Set((5L, "text 5"), (900L, "text 900")))
    // dim's files + at most the 2 matching fact files — strictly fewer than
    // a full fact scan would open
    assert(openedNow < nFiles("zf") + nFiles("dim"),
      s"opened $openedNow files; fact=${nFiles("zf")} dim=${nFiles("dim")}")
    assert(openedNow <= nFiles("dim") + 2)
  }

  test("identity-partitioned table: DPP drops whole key groups (one lang survives)") {
    val j = read("pl").join(broadcast(read("langs").where("keep = 1")), "lang")
      .selectExpr("doc", "lang")
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"), plan)
    val before = CatalogPartitionReader.opened.get()
    val rows = j.collect()
    val openedNow = CatalogPartitionReader.opened.get() - before
    assert(rows.length == 100 && rows.forall(_.getString(1) == "de"))
    val deFiles = cat.pruneFilesAt("pl", cat.currentSnapshot("pl").get,
      IdentityTransform("lang").statName, "de", "de").size
    assert(openedNow <= nFiles("langs") + deFiles,
      s"opened $openedNow; expected <= ${nFiles("langs")} + $deFiles")
  }

  test("bloom sidecars prune runtime point lookups on a non-clustered column") {
    val ss = spark; import ss.implicits._
    val urls = (0 until 800).map(i => (s"https://example.com/p$i", i.toLong))
      .toDF("url", "hits").repartition(8)
    cat.commitWithBloom(urls, "bl", "url", bits = 1 << 16)
    val s = scanOf("bl")
    assert(s.filterAttributes().map(_.fieldNames()(0)).toSet.contains("url"))
    s.filter(Array(new Predicate("IN", Array(Expressions.column("url"),
      Expressions.literal("https://example.com/p77")))))
    val kept = plannedFiles(s.planInputPartitions()).size
    val bloomCand = cat.pruneFilesByBloom("bl", "url", "https://example.com/p77").size
    assert(kept == bloomCand && kept < nFiles("bl"),
      s"kept $kept, bloom candidates $bloomCand of ${nFiles("bl")}")
  }

  test("runtime pruning composes with pending deletes: pruned read still applies tombstones") {
    val ss = spark; import ss.implicits._
    val fact = (0 until 300).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartitionByRange(6, col("id"))
    cat.commitWithStats(fact, "zd", Seq("id"))
    cat.deleteWhere("zd", "id", Seq("150"))
    val dim = Seq((150L, 1), (151L, 1)).toDF("id", "keep")
    cat.commit(dim, "dimzd")
    val j = read("zd").join(broadcast(read("dimzd").where("keep = 1")), "id")
    val rows = j.collect().map(_.getLong(0)).toSet
    assert(rows == Set(151L), s"deleted id resurfaced or lost: $rows")
  }
}
