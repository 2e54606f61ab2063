package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Positional deletes (Iceberg v2's second delete-file type): row-level
  * deletes by (file, row ordinal) for predicates that do NOT reduce to
  * equality keys — committed metadata-only, applied at read as a broadcast
  * anti-join on the `_metadata` columns, materialized by compaction. Plus
  * the statsAgg delete gate (the metadata-only aggregate must refuse, not
  * overcount, while any tombstone is pending).
  */
class PositionalDeleteSpec extends AnyFunSuite with SparkSuite {
  private def tmp(): String = {
    val d = Files.createTempDirectory("graftpos").toFile
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

  private def docs(n: Int) = {
    val ss = spark; import ss.implicits._
    (0 until n).map(i => (i.toLong, s"doc number $i " + ("x" * (i % 5)))).toDF("id", "text")
  }

  private def ids(cat: ParquetSnapshotCatalog, t: String = "t"): Set[Long] =
    cat.read(spark, t).select("id").collect().map(_.getLong(0)).toSet

  test("deleteMatching: arbitrary-predicate takedown is metadata-only, survivors exact, time travel complete") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val pre = cat.commit(docs(40), "t")
    val filesBefore = cat.filesWithAddOrder("t", pre).map(_._1).toSet
    val (snap, n) = cat.deleteMatching(spark, "t", "length(text) % 5 = 2")
    val expectGone = (0 until 40).filter(i => s"doc number $i ${"x" * (i % 5)}".length % 5 == 2)
    assert(n == expectGone.size && n > 0)
    assert(ids(cat) == (0 until 40).map(_.toLong).toSet -- expectGone.map(_.toLong))
    // metadata-only: the delete snapshot references the SAME data files
    assert(cat.filesWithAddOrder("t", snap).map(_._1).toSet == filesBefore)
    // pre-delete snapshot still reads complete
    assert(cat.readSnapshot(spark, "t", pre).count() == 40)
  }

  test("file-scoped semantics: re-appending rows matching the predicate AFTER the delete survives") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    cat.commit(Seq((1L, "kill me now"), (2L, "keep this row")).toDF("id", "text"), "t")
    val (_, n) = cat.deleteMatching(spark, "t", "text LIKE 'kill%'")
    assert(n == 1 && ids(cat) == Set(2L))
    // the same physical content re-lands in a NEW file — a positional
    // tombstone names files, so the re-add is a new fact that survives
    cat.append(Seq((3L, "kill me now")).toDF("id", "text"), "t")
    assert(ids(cat) == Set(2L, 3L))
  }

  test("positional + equality deletes compose on one read") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    cat.commit(docs(20), "t")
    cat.deleteMatching(spark, "t", "id IN (3, 4)")
    cat.deleteWhere("t", "id", Seq("7", "8"))
    assert(ids(cat) == (0 until 20).map(_.toLong).toSet -- Set(3L, 4L, 7L, 8L))
  }

  test("deleteAtPositions accepts manifest-form paths (normalization covers both spellings)") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val snap = cat.commit(docs(10).coalesce(1), "t")
    val file = cat.filesWithAddOrder("t", snap).map(_._1).head
    cat.deleteAtPositions("t", Seq((file, 0L), (file, 3L)))
    assert(cat.read(spark, "t").count() == 8)
    val est = cat.positionalDeletes("t", cat.currentSnapshot("t").get)
    assert(est.size == 2 && est.forall(!_._1.contains(":")))
  }

  test("statsAgg refuses while ANY tombstone is pending, answers post-delete counts after compactSorted") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    cat.commitWithStats(docs(30), "t", Seq("id"))
    assert(cat.statsAgg("t", "id") === Some((Some("0"), Some("29"), 30L)))
    cat.deleteMatching(spark, "t", "id >= 25")
    // the sidecar still counts the 5 tombstoned rows — answering would
    // overcount, so the metadata path must refuse
    assert(cat.statsAgg("t", "id").isEmpty)
    cat.deleteWhere("t", "id", Seq("0"))
    assert(cat.statsAgg("t", "id").isEmpty)
    cat.compactSorted(spark, "t", Seq("id"))
    assert(cat.statsAgg("t", "id") === Some((Some("1"), Some("24"), 24L)))
  }

  test("compaction materializes positional tombstones; expire then GCs the p*.tsv file") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    cat.commit(docs(12), "t")
    cat.deleteMatching(spark, "t", "id % 3 = 0")
    assert(manifestNames(root, "t").exists(n => n.startsWith("p") && n.endsWith(".tsv")))
    cat.compact(spark, "t")
    val cur = cat.currentSnapshot("t").get
    assert(cat.positionalDeletes("t", cur).isEmpty, "rewritten snapshot carries no tombstones")
    assert(ids(cat) == (0 until 12).map(_.toLong).filter(_ % 3 != 0).toSet)
    cat.expireSnapshots("t", 1)
    assert(!manifestNames(root, "t").exists(n => n.startsWith("p") && n.endsWith(".tsv")),
      "expired positional tombstone must be GC'd")
  }

  test("rewriteManifests consolidates across positional refs (they are add-order-immune) and keeps them applying") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    cat.commit(Seq((1L, "a")).toDF("id", "text"), "t")
    cat.append(Seq((2L, "b")).toDF("id", "text"), "t")
    cat.deleteMatching(spark, "t", "id = 1")
    cat.append(Seq((3L, "c")).toDF("id", "text"), "t")
    cat.append(Seq((4L, "d")).toDF("id", "text"), "t")
    val snap = cat.rewriteManifests("t")
    assert(snap != 0L)
    // all four delta manifests merge into ONE group: no equality delete
    // exists to split them, and the positional ref passes through
    val entries = cat.filesWithAddOrder("t", snap)
    assert(entries.size == 4)
    assert(ids(cat) == Set(2L, 3L, 4L))
    assert(cat.positionalDeletes("t", snap).size == 1)
  }

  test("DSv2 connector applies positional deletes (per-file ordinal skip == cat.read)") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    cat.commit(docs(30), "t")
    cat.append(docs(30).selectExpr("id + 100 AS id", "text"), "t")
    cat.deleteMatching(spark, "t", "id % 7 = 2")
    cat.deleteWhere("t", "id", Seq("5", "105")) // equality composes on the same scan
    val viaConnector = spark.read.format("graft-catalog")
      .option("root", root).option("table", "t").load()
      .select("id").collect().map(_.getLong(0)).toSet
    val viaCatalog = ids(cat)
    assert(viaConnector == viaCatalog && !viaConnector.exists(i => i % 7 == 2) &&
      !viaConnector(5L) && !viaConnector(105L))
    // column-pruned connector read (text only) must still skip the ordinals
    val texts = spark.read.format("graft-catalog")
      .option("root", root).option("table", "t").load()
      .select("text").count()
    assert(texts == viaCatalog.size)
  }

  test("deletedInWindow refuses a window containing positional deletes (mirrors cannot apply ordinals)") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val s1 = cat.commit(docs(6), "t")
    cat.deleteMatching(spark, "t", "id = 4")
    val e = intercept[IllegalArgumentException] {
      cat.deletedInWindow(spark, "t", s1).collect()
    }
    assert(e.getMessage.contains("positional"))
    // equality-only windows keep working after compaction clears the ordinal
    cat.compact(spark, "t")
    val s2 = cat.currentSnapshot("t").get
    cat.deleteWhere("t", "id", Seq("5"))
    val keys = cat.deletedInWindow(spark, "t", s2).collect().map(r => (r.getString(0), r.getString(1)))
    assert(keys.toSeq == Seq(("id", "5")))
  }

  test("pruned scans apply positional deletes") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    cat.commitWithStats(docs(30).repartition(3), "t", Seq("id"))
    cat.deleteMatching(spark, "t", "id = 10 OR id = 20")
    val got = cat.scan(spark, "t").where("id BETWEEN 5 AND 25")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(!got.contains(10L) && !got.contains(20L))
    assert(got.contains(15L))
  }
}
