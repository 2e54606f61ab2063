package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import java.nio.file.Files

/** Iceberg-style cherrypick_snapshot: the WAP publish that still works
  * after main diverged — the staged fast-append's delta is re-committed
  * onto CURRENT metadata-only (fastForward correctly refuses the same
  * state), with the picked files taking the NEW commit's position in the
  * delete-sequence rule.
  */
class CherryPickSpec extends AnyFunSuite with SparkSuite {
  private var sqlRoot: String = _

  override def beforeAll(): Unit = {
    sqlRoot = Files.createTempDirectory("graftpicksql").toFile.getAbsolutePath
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.gcp", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcp.root", sqlRoot)
  }

  private def tmp(): String =
    Files.createTempDirectory("graftpick").toFile.getAbsolutePath

  private def ks(cat: ParquetSnapshotCatalog, table: String): Set[String] =
    cat.read(spark, table).collect().map(_.getString(0)).toSet

  test("publish after divergence: fastForward refuses, cherryPick applies the staged delta") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    cat.commit(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), "t")
    cat.createBranch("t", "audit")
    cat.appendToBranch(Seq(("c", 3L)).toDF("k", "v"), "t", "audit")
    // main DIVERGES after the fork
    cat.append(Seq(("d", 4L)).toDF("k", "v"), "t")
    intercept[IllegalStateException] { cat.fastForward("t", "audit") }

    val head = cat.branchHead("t", "audit").get
    val pre = cat.currentSnapshot("t").get
    val picked = cat.cherryPick("t", head)
    assert(picked > head)
    assert(ks(cat, "t") == Set("a", "b", "c", "d"))
    // metadata-only: the pick referenced the staged data files in place
    assert(cat.filesWithAddOrder("t", picked).map(_._1).toSet
      .intersect(cat.filesWithAddOrder("t", head).map(_._1).toSet).nonEmpty)
    // time travel to pre-pick main intact
    assert(cat.readSnapshot(spark, "t", pre).collect().map(_.getString(0)).toSet ==
      Set("a", "b", "d"))
  }

  test("double-publish refuses: the same delta cannot be picked twice") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    cat.commit(Seq(("a", 1L)).toDF("k", "v"), "t")
    cat.createBranch("t", "b1")
    val staged = cat.appendToBranch(Seq(("c", 3L)).toDF("k", "v"), "t", "b1")
    cat.append(Seq(("d", 4L)).toDF("k", "v"), "t")
    cat.cherryPick("t", staged)
    val e = intercept[IllegalArgumentException] { cat.cherryPick("t", staged) }
    assert(e.getMessage.contains("already"))
    // fast-forwarding the now-published branch also refuses (divergence)
    intercept[IllegalStateException] { cat.fastForward("t", "b1") }
  }

  test("replace snapshots are not pickable (would duplicate the table)") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    cat.commit(Seq(("a", 1L)).toDF("k", "v"), "t")
    cat.append(Seq(("b", 2L)).toDF("k", "v"), "t")
    val rewritten = cat.compact(spark, "t")
    cat.append(Seq(("c", 3L)).toDF("k", "v"), "t")
    val e = intercept[IllegalArgumentException] { cat.cherryPick("t", rewritten) }
    assert(e.getMessage.contains("fast-append"))
  }

  test("a takedown committed on main BEFORE the pick does not swallow the picked rows") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    cat.commit(Seq(("a", 1L), ("x", 9L)).toDF("k", "v"), "t")
    cat.createBranch("t", "b1")
    // the staged drop RE-ADDS key x (fresh capture of a previously taken-down url)
    val staged = cat.appendToBranch(Seq(("x", 10L)).toDF("k", "v"), "t", "b1")
    // meanwhile main takes down key x (applies to files added before it)
    cat.deleteWhere("t", "k", Seq("x"))
    assert(ks(cat, "t") == Set("a"))
    cat.cherryPick("t", staged)
    // the picked rows carry the NEW add order: the old tombstone must not apply
    val rows = cat.read(spark, "t").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rows == Set(("a", 1L), ("x", 10L)))
  }

  test("an upsert snapshot (delta + its own tombstone) refuses — half a commit never applies") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    cat.commit(Seq(("a", 1L), ("x", 9L)).toDF("k", "v"), "t")
    val up = cat.upsertByKey(Seq(("x", 10L)).toDF("k", "v"), "t", "k")
    val e = intercept[IllegalArgumentException] { cat.cherryPick("t", up) }
    assert(e.getMessage.contains("tombstone"), e.getMessage)
  }

  test("picked data survives dropping the branch and expiring its snapshots (ref-counted GC)") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    cat.commit(Seq(("a", 1L)).toDF("k", "v"), "t")
    cat.createBranch("t", "b1")
    val staged = cat.appendToBranch(Seq(("c", 3L)).toDF("k", "v"), "t", "b1")
    cat.append(Seq(("d", 4L)).toDF("k", "v"), "t")
    cat.cherryPick("t", staged)
    cat.dropBranch("t", "b1")
    // expire everything but the published snapshot: the staged snapshot and
    // its original delta manifest go away, but the picked COPY references
    // the same data files and must keep them alive
    cat.expireSnapshots("t", 1)
    assert(ks(cat, "t") == Set("a", "c", "d"))
  }

  test("CALL cherrypick publishes a branch head from SQL (by name or by snapshot id)") {
    val cat = new ParquetSnapshotCatalog(sqlRoot)
    val ss = spark; import ss.implicits._
    cat.commit(Seq(("a", 1L)).toDF("k", "v"), "t")
    cat.createBranch("t", "audit")
    cat.appendToBranch(Seq(("c", 3L)).toDF("k", "v"), "t", "audit")
    cat.append(Seq(("d", 4L)).toDF("k", "v"), "t")
    val out = spark.sql("CALL gcp.cherrypick('t', 'audit')").collect()
    assert(out.length == 1 && out(0).getString(0) == "snapshot")
    assert(ks(cat, "t") == Set("a", "c", "d"))
    assert(cat.currentSnapshot("t").contains(out(0).getString(1).toLong))
  }
}
