package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import java.nio.file.Files

/** Write-audit-publish branches: staged crawl drops land on a writable
  * branch invisible to CURRENT readers; a passing audit publishes by
  * fast-forwarding (one atomic pointer swap, zero data movement); a
  * diverged main refuses the publish instead of discarding its commits.
  */
class WapBranchSpec extends AnyFunSuite with SparkSuite {
  private def tmp(): String = {
    val d = Files.createTempDirectory("graftwap").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def ks(cat: ParquetSnapshotCatalog, table: String): Set[String] =
    cat.read(spark, table).collect().map(_.getString(0)).toSet

  test("WAP happy path: staged drops invisible to main; fast-forward publishes atomically") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    cat.commit(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), "t")
    cat.createBranch("t", "audit")

    cat.appendToBranch(Seq(("c", 3L)).toDF("k", "v"), "t", "audit")
    cat.appendToBranch(Seq(("d", 4L)).toDF("k", "v"), "t", "audit")

    // production readers see NOTHING of the staged drops
    assert(ks(cat, "t") == Set("a", "b"))
    // the audit reads the branch head
    assert(cat.readBranch(spark, "t", "audit").collect().map(_.getString(0)).toSet ==
      Set("a", "b", "c", "d"))

    // audit passes → publish
    val head = cat.branchHead("t", "audit").get
    assert(cat.fastForward("t", "audit") == head)
    assert(ks(cat, "t") == Set("a", "b", "c", "d"))
    // idempotent when already at the head
    assert(cat.fastForward("t", "audit") == head)
  }

  test("diverged main refuses the publish and keeps its own commits") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    cat.commit(Seq(("a", 1L)).toDF("k", "v"), "t")
    cat.createBranch("t", "audit")
    cat.appendToBranch(Seq(("staged", 9L)).toDF("k", "v"), "t", "audit")
    // main moves after the fork
    cat.append(Seq(("hotfix", 2L)).toDF("k", "v"), "t")

    val ex = intercept[IllegalStateException] { cat.fastForward("t", "audit") }
    assert(ex.getMessage.contains("diverged"))
    // nothing lost on either side
    assert(ks(cat, "t") == Set("a", "hotfix"))
    assert(cat.readBranch(spark, "t", "audit").collect().map(_.getString(0)).toSet ==
      Set("a", "staged"))
  }

  test("failing audit: dropBranch discards the staging; expiry collects the orphaned snapshots") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    cat.commit(Seq(("a", 1L)).toDF("k", "v"), "t")
    cat.createBranch("t", "audit")
    val staged = cat.appendToBranch(Seq(("junk", 0L)).toDF("k", "v"), "t", "audit")

    // branch heads are load-bearing against maintenance while they live
    cat.append(Seq(("b", 2L)).toDF("k", "v"), "t")
    cat.append(Seq(("c", 3L)).toDF("k", "v"), "t")
    val expired1 = cat.expireSnapshots("t", keepLast = 1)
    assert(!expired1.contains(staged))
    assert(cat.readBranch(spark, "t", "audit").collect().map(_.getString(0)).toSet ==
      Set("a", "junk"))

    // audit fails → drop; the next expiry collects the staged snapshot
    cat.dropBranch("t", "audit")
    val expired2 = cat.expireSnapshots("t", keepLast = 1)
    assert(expired2.contains(staged))
    assert(ks(cat, "t") == Set("a", "b", "c"))
  }

  test("publish-then-continue: the branch keeps working after a fast-forward") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    cat.commit(Seq(("a", 1L)).toDF("k", "v"), "t")
    cat.createBranch("t", "staging")
    cat.appendToBranch(Seq(("b", 2L)).toDF("k", "v"), "t", "staging")
    cat.fastForward("t", "staging")
    cat.appendToBranch(Seq(("c", 3L)).toDF("k", "v"), "t", "staging")
    assert(ks(cat, "t") == Set("a", "b"))
    cat.fastForward("t", "staging")
    assert(ks(cat, "t") == Set("a", "b", "c"))
  }
}
