package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import graft.sources.CatalogPartitionReader
import java.nio.file.Files

/** Per-file Bloom-filter sidecars: point lookups on a NON-clustered column
  * open ~1 file instead of the table, with prune-proofs by deletion and the
  * absent-key case opening ZERO files.
  */
class BloomSidecarSpec extends AnyFunSuite with SparkSuite {
  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.shuffle.partitions", "8")
  }

  private def tmp(): String = {
    val d = Files.createTempDirectory("graftbloom").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  /** `url = value` through the DSv2 scan, asserting the read opened no
    * more data files than the bloom sidecars keep for `value`. */
  private def urlEq(cat: ParquetSnapshotCatalog, value: String): Array[Row] = {
    val keep = cat.pruneFilesByBloom("t", "url", value)
    val before = CatalogPartitionReader.opened.get()
    val rows = cat.scan(spark, "t").where(col("url") === value).collect()
    val opened = CatalogPartitionReader.opened.get() - before
    assert(opened <= keep.size, s"url = $value opened $opened files, bloom keeps ${keep.size}")
    rows
  }

  private def urls(from: Int, until: Int) = {
    val ss = spark; import ss.implicits._
    (from until until).map(i => (s"https://example.com/doc$i", i.toLong)).toDF("url", "v")
      .repartition(8) // urls scattered arbitrarily across files — the bloom's whole point
  }

  test("lookup on a non-clustered column: bloom keeps ~1 of 8 files — prune-proof by deleting the rest") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    cat.commitWithBloom(urls(0, 400), "t", "url", bits = 8192)

    val target = "https://example.com/doc123"
    val all = cat.filesWithAddOrder("t", cat.currentSnapshot("t").get).map(_._1)
    val kept = cat.pruneFilesByBloom("t", "url", target)
    assert(kept.size < all.size, s"bloom kept ${kept.size} of ${all.size}")

    val hit = urlEq(cat, target)
    assert(hit.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq((target, 123L)))

    all.filterNot(kept.toSet).foreach(f => Files.delete(java.nio.file.Paths.get(f)))
    val hit2 = urlEq(cat, target)
    assert(hit2.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq((target, 123L)))
  }

  test("absent key: every file pruned, the lookup answers empty from metadata alone") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    cat.commitWithBloom(urls(0, 400), "t", "url", bits = 8192)
    val kept = cat.pruneFilesByBloom("t", "url", "https://example.com/never-crawled")
    assert(kept.isEmpty, s"expected zero candidate files, got ${kept.size}")
    assert(urlEq(cat, "https://example.com/never-crawled").isEmpty)
  }

  test("appendWithBloom carries filters forward: lookups from both drops, each drop pays only its files") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    cat.commitWithBloom(urls(0, 200), "t", "url", bits = 8192)
    cat.appendWithBloom(urls(200, 400), "t", "url", bits = 8192)

    Seq(("https://example.com/doc42", 42L), ("https://example.com/doc357", 357L)).foreach {
      case (u, v) =>
        val got = urlEq(cat, u)
        assert(got.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq((u, v)))
        val all = cat.filesWithAddOrder("t", cat.currentSnapshot("t").get).map(_._1)
        assert(cat.pruneFilesByBloom("t", "url", u).size < all.size)
    }
  }

  test("time travel past a compaction: the equality pruner tests the pinned snapshot's blooms") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val old = cat.commitWithBloom(urls(0, 100), "t", "url", bits = 8192)
    cat.compact(spark, "t") // CURRENT: new files, no bloom sidecar
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.gb", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gb.root", root)
    val n = s.sql(s"SELECT count(*) FROM gb.t VERSION AS OF $old " +
      "WHERE url = 'https://example.com/doc5'").collect()(0).getLong(0)
    assert(n == 1)
  }

  test("no sidecar → conservative keep; takedowns apply through the bloom-pruned read") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    cat.commit(urls(0, 100), "t") // plain commit, no bloom
    val all = cat.filesWithAddOrder("t", cat.currentSnapshot("t").get).map(_._1)
    assert(cat.pruneFilesByBloom("t", "url", "https://example.com/doc5").toSet == all.toSet)

    val root2 = tmp()
    val cat2 = new ParquetSnapshotCatalog(root2)
    cat2.commitWithBloom(urls(0, 100), "t", "url", bits = 8192)
    cat2.deleteWhere("t", "url", Seq("https://example.com/doc5"))
    assert(urlEq(cat2, "https://example.com/doc5").isEmpty)
    assert(urlEq(cat2, "https://example.com/doc6").length == 1)
  }
}
