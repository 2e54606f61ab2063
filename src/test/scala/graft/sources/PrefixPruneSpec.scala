package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions.col
import graft.spark.ParquetSnapshotCatalog
import java.nio.file.Files

/** Planning-time StringStartsWith (LIKE 'prefix%') and In file pruning:
  * opened-file bounds on sorted tables, boundary inclusiveness, the
  * byte-wise tier pin that stops numeric-looking prefixes from
  * over-pruning string stats, the all-maximal-prefix edge, and the In cap
  * fallback.
  */
class PrefixPruneSpec extends AnyFunSuite with SparkSuite {
  private var dir: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    dir = Files.createTempDirectory("graft_pfx_spec").toString
  }

  private var n = 0
  private def freshCat(): (ParquetSnapshotCatalog, String) = {
    n += 1
    (new ParquetSnapshotCatalog(s"$dir/c$n"), s"$dir/c$n")
  }

  private def rd(root: String, table: String) =
    spark.read.format("graft-catalog")
      .option("root", root).option("table", table).load()

  private def opened[T](body: => T): (T, Long) = {
    val before = CatalogPartitionReader.opened.get()
    val r = body
    (r, CatalogPartitionReader.opened.get() - before)
  }

  test("LIKE 'prefix%' opens only the prefix's files on a url-sorted table") {
    val (cat, root) = freshCat()
    val ss = spark; import ss.implicits._
    val urls = (0 until 400).map(i => (s"https://h${i % 8}.example.com/p/$i", i.toLong))
    cat.commitWithStats(urls.toDF("url", "id").repartitionByRange(8, col("url")),
      "t", Seq("url"))
    val total = cat.filesWithAddOrder("t", cat.currentSnapshot("t").get).size
    val (rows, op) = opened(
      rd(root, "t").where("url LIKE 'https://h3.example.com/%'").collect())
    assert(rows.map(_.getLong(1)).toSet == (0 until 400).filter(_ % 8 == 3).map(_.toLong).toSet)
    assert(op < total, s"opened $op of $total")
  }

  test("boundary rows survive: a value equal to the prefix itself and the nextPrefix edge") {
    val (cat, root) = freshCat()
    val ss = spark; import ss.implicits._
    // one file per range; 'c' itself matches LIKE 'c%', 'd' does not
    cat.commitWithStats(Seq(("a", 1L), ("c", 2L), ("cz", 3L), ("d", 4L))
      .toDF("k", "id").repartitionByRange(4, col("k")), "t", Seq("k"))
    val rows = rd(root, "t").where("k LIKE 'c%'").collect()
    assert(rows.map(_.getLong(1)).toSet == Set(2L, 3L))
  }

  test("numeric-looking prefix on a string column does NOT over-prune (tier pin)") {
    val (cat, root) = freshCat()
    val ss = spark; import ss.implicits._
    // stats min='10', max='95' parse as longs; prefix '1' would land a
    // numeric-tier compare (min 10 <= hi 2 → false → file wrongly dropped)
    // if the tier were not pinned byte-wise. '1x' must come back.
    cat.commitWithStats(Seq(("10", 1L), ("1x", 2L), ("95", 3L))
      .toDF("k", "id").coalesce(1), "t", Seq("k"))
    val rows = rd(root, "t").where("k LIKE '1%'").collect()
    assert(rows.map(_.getLong(1)).toSet == Set(1L, 2L))
  }

  test("all-maximal prefix has no upper bound and still answers correctly") {
    assert(CatalogScan.nextPrefix("￿￿").isEmpty)
    assert(CatalogScan.nextPrefix("ab").contains("ac"))
    assert(CatalogScan.nextPrefix("a￿").contains("b"))
    val (cat, root) = freshCat()
    val ss = spark; import ss.implicits._
    cat.commitWithStats(Seq(("￿￿x", 1L), ("zz", 2L))
      .toDF("k", "id").coalesce(1), "t", Seq("k"))
    val rows = rd(root, "t").where("k LIKE '￿￿%'").collect()
    assert(rows.map(_.getLong(1)).toSet == Set(1L))
  }

  test("OR of two disjoint ranges prunes to the union; AND with an unanswerable side still prunes") {
    val (cat, root) = freshCat()
    val ss = spark; import ss.implicits._
    cat.commitWithStats((0 until 400).map(i => (i.toLong, f"s$i%04d"))
      .toDF("id", "s").repartitionByRange(8, col("id")), "t", Seq("id"))
    val total = cat.filesWithAddOrder("t", cat.currentSnapshot("t").get).size
    val (rows, op) = opened(
      rd(root, "t").where("id < 10 OR id > 390").collect())
    assert(rows.map(_.getLong(0)).toSet ==
      ((0L until 10L) ++ (391L until 400L)).toSet)
    assert(op < total, s"OR pruned nothing: $op of $total")
    // AND(range, unanswerable contains) — the answerable side prunes alone
    val (rows2, op2) = opened(
      rd(root, "t").where("id < 10 AND s LIKE '%003%'").collect())
    assert(rows2.map(_.getLong(0)).toSet == Set(3L))
    assert(op2 < total, s"AND pruned nothing: $op2 of $total")
  }

  test("IN prunes to the union of its values' files; an over-cap list falls back to a full scan") {
    val (cat, root) = freshCat()
    val ss = spark; import ss.implicits._
    val urls = (0 until 400).map(i => (f"k$i%04d", i.toLong))
    cat.commitWithStats(urls.toDF("k", "id").repartitionByRange(8, col("k")),
      "t", Seq("k"))
    val total = cat.filesWithAddOrder("t", cat.currentSnapshot("t").get).size
    val (rows, op) = opened(
      rd(root, "t").where("k IN ('k0003', 'k0397')").collect())
    assert(rows.map(_.getLong(1)).toSet == Set(3L, 397L))
    assert(op < total, s"opened $op of $total")
    // one value past the pushdown cap: conservative full scan, same rows —
    // every value sits in k0003's file, so a pruned list would open ~1 file
    val inList = (0 to CatalogScan.MaxInValues)
      .map(i => if (i == 0) "'k0003'" else f"'k0003-$i%04d'").mkString(",")
    val (rows2, op2) = opened(
      rd(root, "t").where(s"k IN ($inList)").collect())
    assert(rows2.map(_.getLong(1)).toSet == Set(3L))
    assert(op2 == total, s"expected full scan, opened $op2 of $total")
  }

  test("SURT-keyed table: a registrant slice is a LIKE-prefix scan opening only the slice's files") {
    // the composition SURT exists for: keys range-cluster by reversed host,
    // so "everything under example.com (incl. subdomains)" is ONE
    // contiguous LIKE prefix — on a surt-sorted catalog table the scan
    // opens the slice's files, not the crawl's
    val (cat, root) = freshCat()
    val ss = spark; import ss.implicits._
    val hosts = (0 until 40).map(i => s"h$i.dom${i % 10}.com")
    val urls = hosts.flatMap(h => (0 until 10).map(p => (s"https://$h/p$p", s"$h/$p")))
    val df = urls.toDF("url", "id")
      .selectExpr("url", "id", graft.operators.UrlOps.surtKeyExpr("url") + " AS surt")
      .repartitionByRange(8, col("surt"))
    cat.commitWithStats(df, "t", Seq("surt"))
    val total = cat.filesWithAddOrder("t", cat.currentSnapshot("t").get).size
    val (rows, op) = opened(
      rd(root, "t").where("surt LIKE 'com,dom3,%'").collect())
    // exactly dom3's subdomains (h3, h13, h23, h33 × 10 pages)
    assert(rows.length == 40, s"got ${rows.length}")
    assert(rows.forall(_.getString(0).contains(".dom3.com/")))
    assert(op < total, s"registrant slice opened $op of $total files")
  }
}
