package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** rewrite_manifests (metadata-only manifest consolidation): delta
  * manifests merge within each equality-delete gap, so reads parse
  * O(deletes+1) manifests instead of O(appends) — with the sequence rule,
  * time travel, stats/bloom sidecars and ref-counted expiry all intact.
  */
class RewriteManifestsSpec extends AnyFunSuite with SparkSuite {
  private def tmp(): String = {
    val d = Files.createTempDirectory("graftrwm").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def manifestNames(root: String, table: String): Seq[String] = {
    val dir = Paths.get(root, table, "_manifests")
    if (!Files.exists(dir)) Nil
    else scala.util.Using.resource(Files.list(dir)) {
      _.iterator().asScala.map(_.getFileName.toString).toSeq
    }
  }

  private def entryRefs(root: String, table: String, snap: Long): Seq[String] =
    Files.readString(Paths.get(root, table, "_manifests", s"v$snap.json"))
      .split('\n').map(_.trim.stripPrefix("\"").stripSuffix(",").stripSuffix("\""))
      .filter(_.startsWith("@")).toSeq

  test("consolidation: 6 appends collapse to ONE manifest, rows identical, old snapshots travel") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    cat.commit(Seq((0L, "a0")).toDF("id", "s"), "t")
    (1 to 5).foreach(i => cat.append(Seq((i.toLong, s"a$i")).toDF("id", "s"), "t"))
    val pre = cat.currentSnapshot("t").get
    val before = cat.read(spark, "t").as[(Long, String)].collect().sortBy(_._1)
    val rw = cat.rewriteManifests("t")
    assert(rw > pre)
    // ONE consolidated entry at the new snapshot; the digits prefix is the
    // group's smallest add order (the first commit's id)
    val refs = entryRefs(root, "t", rw)
    assert(refs.size === 1, s"expected one merged ref, got $refs")
    assert(refs.head.matches("@m\\d+-\\d+\\.json"), refs.head)
    assert(cat.read(spark, "t").as[(Long, String)].collect().sortBy(_._1) === before)
    // pre-rewrite snapshots still time-travel complete
    assert(cat.readSnapshot(spark, "t", pre).count() === 6)
    // a second rewrite is a no-op (nothing left to merge)
    assert(cat.rewriteManifests("t") === rw)
  }

  test("sequence rule preserved: deletes keep applying to pre-delete files only") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    cat.commit(Seq((1L, "old1"), (2L, "old2")).toDF("id", "s"), "t")
    cat.append(Seq((3L, "old3")).toDF("id", "s"), "t")
    cat.deleteWhere("t", "id", Seq("1", "3"))
    cat.append(Seq((1L, "new1")).toDF("id", "s"), "t") // post-delete fact: survives
    cat.append(Seq((4L, "new4")).toDF("id", "s"), "t")
    val expected = Array((1L, "new1"), (2L, "old2"), (4L, "new4"))
    assert(cat.read(spark, "t").as[(Long, String)].collect().sortBy(_._1) === expected)
    val rw = cat.rewriteManifests("t")
    // two gaps around the one delete → exactly two consolidated/kept refs
    val refs = entryRefs(root, "t", rw)
    assert(refs.size === 2, s"expected two refs (one per delete gap), got $refs")
    assert(cat.read(spark, "t").as[(Long, String)].collect().sortBy(_._1) === expected)
    // a FUTURE delete still applies to the merged pre-delete files
    cat.deleteWhere("t", "id", Seq("2"))
    assert(cat.read(spark, "t").as[(Long, String)].collect().sortBy(_._1) ===
      Array((1L, "new1"), (4L, "new4")))
  }

  test("bloom sidecars merge under the consolidated id: lookups prune, ghosts stay empty") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    val s0 = cat.commitWithBloom(Seq((1L, "u1"), (2L, "u2")).toDF("id", "url"), "t", "url", 1 << 10)
    assert(s0 > 0)
    cat.appendWithBloom(Seq((10L, "u10"), (11L, "u11")).toDF("id", "url"), "t", "url", 1 << 10)
    cat.appendWithBloom(Seq((20L, "u20"), (21L, "u21")).toDF("id", "url"), "t", "url", 1 << 10)
    val rw = cat.rewriteManifests("t")
    assert(entryRefs(root, "t", rw).size === 1)
    val all = cat.filesDF(spark, "t").select("file").as[String].collect()
    // present key: a strict subset of candidate files, and they suffice
    val post = cat.pruneFilesByBloom("t", "url", "u20")
    assert(post.nonEmpty && post.size < all.length,
      s"bloom no longer prunes after rewrite: ${post.size} of ${all.length}")
    assert(spark.read.parquet(post: _*).where("url = 'u20'").count() === 1)
    // absent key: the merged filters reject it everywhere
    assert(cat.pruneFilesByBloom("t", "url", "ghost").isEmpty)
  }

  test("expire after rewrite: superseded deltas + sidecars GC, consolidated survives") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    cat.commitWithStats(Seq((1L, "a")).toDF("id", "s"), "t", Seq("id"))
    (2 to 4).foreach(i => cat.append(Seq((i.toLong, s"s$i")).toDF("id", "s"), "t"))
    val rw = cat.rewriteManifests("t")
    cat.expireSnapshots("t", 1)
    val names = manifestNames(root, "t")
    // only the consolidated manifest remains as a data ref
    val deltas = names.filter(n => n.startsWith("m") && n.endsWith(".json"))
    assert(deltas.size === 1 && deltas.head.contains("-"), deltas.toString)
    // its merged stats sidecar survives with it; the superseded per-delta
    // sidecars went with their manifests
    val stats = names.filter(n => n.startsWith("m") && n.endsWith(".stats.tsv"))
    assert(stats.forall(_.contains("-")), stats.toString)
    assert(cat.read(spark, "t").count() === 4)
    assert(cat.currentSnapshot("t").contains(rw))
    // metadata-only count still answers from the merged sidecar lines
    // (coverage gate: only the first commit carried stats, so statsAgg
    // refuses — uncovered appends — exactly as before the rewrite)
    assert(cat.statsAgg("t", "id").isEmpty)
  }

  test("incremental windows crossing a manifest rewrite refuse loudly") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    val s1 = cat.commit(Seq((1L, "a")).toDF("id", "s"), "t")
    cat.append(Seq((2L, "b")).toDF("id", "s"), "t")
    val rw = cat.rewriteManifests("t")
    val e = intercept[IllegalStateException] {
      cat.readIncremental(spark, "t", s1, rw).count()
    }
    assert(e.getMessage.contains("rewrite"))
    // but a window STARTING at the rewrite works (fresh appends only)
    cat.append(Seq((3L, "c")).toDF("id", "s"), "t")
    assert(cat.readIncremental(spark, "t", rw).as[(Long, String)].collect() ===
      Array((3L, "c")))
  }
}
