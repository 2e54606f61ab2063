package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import java.nio.file.Files

/** Z-order clustering rewrite: multi-dimensional zone-map pruning. The
  * load-bearing claims, each proven destructively or by contrast:
  *   - after compactZOrder(x, y) a range probe on EITHER raw column opens
  *     a strict minority of the files;
  *   - compactSorted(x) by contrast leaves y completely unprunable (every
  *     file overlaps every y range) — the gap z-ordering exists to close;
  *   - pruning is genuinely load-bearing: deleting every non-candidate
  *     file leaves the probe answer intact (the files were never opened);
  *   - bloom sidecars survive the rewrite (maintenance must not degrade
  *     the read path it doesn't own);
  *   - rank-based buckets keep the OTHER column prunable under extreme
  *     one-column skew (where linear min/max scaling would collapse).
  */
class ZOrderSpec extends AnyFunSuite with SparkSuite {
  private def tmp(): String = {
    val d = Files.createTempDirectory("graftzorder").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  /** 64×64 uniform grid — every (x, y) pair once. */
  private def grid() = {
    val ss = spark; import ss.implicits._
    (0 until 64).flatMap(x => (0 until 64).map(y => (x.toLong, y.toLong, x * 64L + y)))
      .toDF("x", "y", "payload")
  }

  test("both columns prune after z-order; sorted contrast leaves y unprunable") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    cat.commit(grid(), "tz")
    cat.compactZOrder(spark, "tz", Seq("x", "y"), nFiles = 16)
    val all = cat.pruneFiles("tz", "x", "-1000000", "1000000")
    assert(all.size >= 8, s"expected >=8 rewritten files, got ${all.size}")
    val keptX = cat.pruneFiles("tz", "x", "0", "15")
    val keptY = cat.pruneFiles("tz", "y", "0", "15")
    assert(keptX.size * 2 < all.size, s"x probe kept ${keptX.size}/${all.size}")
    assert(keptY.size * 2 < all.size, s"y probe kept ${keptY.size}/${all.size}")

    // contrast: a single-column sort makes x tight and y useless
    val root2 = tmp()
    val cat2 = new ParquetSnapshotCatalog(root2)
    cat2.commit(grid(), "ts")
    cat2.compactSorted(spark, "ts", sortCols = Seq("x"), nFiles = 16)
    val all2 = cat2.pruneFiles("ts", "x", "-1000000", "1000000")
    assert(cat2.pruneFiles("ts", "x", "0", "15").size * 2 < all2.size)
    assert(cat2.pruneFiles("ts", "y", "0", "15").size == all2.size,
      "y ranges must be unprunable on an x-sorted table — else the contrast is vacuous")
  }

  test("prune-proof by deletion: the probe answer survives losing every non-candidate file") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    cat.commit(grid(), "t")
    cat.compactZOrder(spark, "t", Seq("x", "y"), nFiles = 16)

    // y probe FIRST (its candidate files may die in the x deletion below)
    val yRows = cat.scan(spark, "t").where("y BETWEEN 10 AND 12").count()
    assert(yRows == 3 * 64)

    val all = cat.pruneFiles("t", "x", "-1000000", "1000000").toSet
    val keep = cat.pruneFiles("t", "x", "20", "27").toSet
    (all -- keep).foreach(f => Files.delete(java.nio.file.Paths.get(f)))
    val got = cat.scan(spark, "t").where("x BETWEEN 20 AND 27").count()
    assert(got == 8 * 64, s"expected ${8 * 64} rows after deletion proof, got $got")
  }

  test("bloom sidecars survive the z-order rewrite") {
    val ss = spark; import ss.implicits._
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val df = (0 until 2048).map(i => (i.toLong % 64, i.toLong / 64, s"k$i")).toDF("x", "y", "key")
    cat.commitWithBloom(df, "t", "key", bits = 1 << 16)
    cat.compactZOrder(spark, "t", Seq("x", "y"), nFiles = 16)
    val all = cat.pruneFiles("t", "x", "-1000000", "1000000")
    val cand = cat.pruneFilesByBloom("t", "key", "k777")
    assert(cand.nonEmpty && cand.size < all.size,
      s"bloom lookup kept ${cand.size}/${all.size} after rewrite")
    assert(cat.scan(spark, "t").where("key = 'k777'").count() == 1)
    assert(cat.pruneFilesByBloom("t", "key", "ghost-key").isEmpty)
  }

  test("rank buckets: extreme skew on x does not destroy y's prunability") {
    val ss = spark; import ss.implicits._
    // 99% of x mass at one value + a huge outlier: linear scaling would put
    // all rows in x-bucket 0 and the interleave would degenerate to y-only
    // on HALF its bits; rank buckets spread the duplicates and keep y tight
    val rows = (0 until 4096).map { i =>
      val x = if (i % 100 == 0) 1000000L else 7L
      (x, (i % 64).toLong, i.toLong)
    }
    val df = rows.toDF("x", "y", "payload")
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    cat.commit(df, "t")
    cat.compactZOrder(spark, "t", Seq("x", "y"), nFiles = 16)
    val all = cat.pruneFiles("t", "y", "-1000000", "1000000")
    val kept = cat.pruneFiles("t", "y", "0", "15")
    assert(kept.size * 2 < all.size, s"y probe kept ${kept.size}/${all.size} under x skew")
    val got = cat.scan(spark, "t").where("y BETWEEN 0 AND 15").count()
    assert(got == 4096 / 4)
  }
}
