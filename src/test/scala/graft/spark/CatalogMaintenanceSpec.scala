package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.SaveMode
import java.nio.file.Files

/** Maintenance that preserves the read path: sorted/partitioned compaction
  * (zone maps, partition bounds and blooms survive the rewrite), orphan-
  * file cleanup (crash debris collected, time travel intact), and the
  * files/snapshots/refs metadata tables.
  */
class CatalogMaintenanceSpec extends AnyFunSuite with SparkSuite {
  private def tmp(): String = {
    val d = Files.createTempDirectory("graftmaint").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def urlCount(cat: ParquetSnapshotCatalog, value: String): Long =
    cat.scan(spark, "t").where(org.apache.spark.sql.functions.col("url") === value).count()

  private def urls(from: Int, until: Int) = {
    val ss = spark; import ss.implicits._
    (from until until).map(i => (s"https://example.com/doc$i", i.toLong)).toDF("url", "v")
  }

  test("compactSorted keeps hidden partitioning alive; plain compact degrades it — both exact") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    cat.commitPartitioned(urls(0, 200), "t", BucketTransform(8, "url"))
    cat.appendPartitioned(urls(200, 400), "t")
    cat.deleteWhere("t", "url", Seq("https://example.com/doc123"))

    val snap = cat.compactSorted(spark, "t", nFiles = 8)
    val spec = cat.partitionSpec("t").get
    // tombstone materialized: no delete refs, row gone
    assert(urlCount(cat, "https://example.com/doc123") == 0)
    assert(urlCount(cat, "https://example.com/doc42") == 1)
    // pruning STILL engages on the rewritten files — prune-proof by deletion
    val all = cat.filesWithAddOrder("t", snap).map(_._1)
    val tv = spec.literal("https://example.com/doc42")
    val kept = cat.pruneFiles("t", spec.statName, tv, tv)
    assert(kept.size < all.size)
    all.filterNot(kept.toSet).foreach(f => Files.delete(java.nio.file.Paths.get(f)))
    assert(urlCount(cat, "https://example.com/doc42") == 1)

    // contrast: PLAIN compact leaves no sidecar — pruning conservative-keeps all
    val root2 = tmp()
    val cat2 = new ParquetSnapshotCatalog(root2)
    cat2.commitPartitioned(urls(0, 200), "t", BucketTransform(8, "url"))
    cat2.compact(spark, "t")
    val all2 = cat2.filesWithAddOrder("t", cat2.currentSnapshot("t").get).map(_._1)
    assert(cat2.pruneFiles("t", cat2.partitionSpec("t").get.statName, tv, tv).toSet == all2.toSet)
  }

  test("compactSorted rebuilds bloom sidecars at their original size") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    cat.commitWithBloom(urls(0, 200).repartition(8), "t", "url", bits = 8192)
    cat.appendWithBloom(urls(200, 400).repartition(8), "t", "url", bits = 8192)
    cat.compactSorted(spark, "t", sortCols = Seq("url"), nFiles = 8)

    assert(urlCount(cat, "https://example.com/doc357") == 1)
    // absent key still answers from metadata alone post-compaction
    assert(cat.pruneFilesByBloom("t", "url", "https://example.com/never").isEmpty)
    // and the sorted rewrite makes zone maps on the sort column usable too
    val all = cat.filesWithAddOrder("t", cat.currentSnapshot("t").get).map(_._1)
    val kept = cat.pruneFiles("t", "url", "https://example.com/doc357", "https://example.com/doc357")
    assert(kept.size < all.size)
  }

  test("removeOrphanFiles collects crash debris, never a retained snapshot's files") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    cat.commit(urls(0, 50), "t")
    cat.append(urls(50, 100), "t") // old snapshot stays retained (time travel)

    // mid-append crash: data landed, manifest never committed
    urls(900, 950).write.mode(SaveMode.Overwrite).parquet(s"$root/t/data/batch-99")
    val before = cat.read(spark, "t").count()

    // fresh debris survives the grace window
    assert(cat.removeOrphanFiles("t", graceMs = 3600 * 1000).isEmpty)
    // past the grace window it is collected
    val gone = cat.removeOrphanFiles("t", graceMs = 0)
    assert(gone.nonEmpty && gone.forall(_.contains("/batch-99/")))
    assert(cat.read(spark, "t").count() == before)
    // both snapshots still read complete — nothing referenced was touched
    val snaps = cat.snapshots("t")
    assert(cat.readSnapshot(spark, "t", snaps.head).count() == 50)
    assert(cat.readSnapshot(spark, "t", snaps.last).count() == 100)
    // second pass finds nothing
    assert(cat.removeOrphanFiles("t", graceMs = 0).isEmpty)
  }

  test("metadata tables: files/snapshots/refs reflect the commit history") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    cat.commitWithStats(urls(0, 100), "t", Seq("v"))
    cat.append(urls(100, 150), "t")
    cat.deleteWhere("t", "url", Seq("https://example.com/doc7"))
    cat.tagSnapshot("t", "v1", cat.snapshots("t").head)
    cat.createBranch("t", "staging")

    val snapsRows = cat.snapshotsDF(spark, "t").orderBy("snapshot").collect()
    assert(snapsRows.length == 3)
    assert(snapsRows.map(_.getLong(3)).toSeq == Seq(0L, 0L, 1L)) // delete files
    assert(snapsRows.map(_.getBoolean(4)).toSeq == Seq(false, false, true))
    assert(snapsRows.forall(_.getTimestamp(1) != null))

    val files = cat.filesDF(spark, "t").collect()
    assert(files.nonEmpty && files.forall(_.getLong(2) > 0L)) // bytes
    // n_rows only where the stats sidecar covered the file (snapshot 1's
    // files under commitWithStats; the plain append has no sidecar at CURRENT)
    assert(files.forall(_.isNullAt(3)) || files.exists(!_.isNullAt(3)))

    val refs = cat.refsDF(spark, "t").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(refs == Set(("CURRENT", "current"), ("v1", "tag"), ("staging", "branch")))
  }
}
