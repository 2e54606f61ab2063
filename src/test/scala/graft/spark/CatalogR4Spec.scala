package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Round-4 catalog surface: Hadoop-FS I/O (file:// roots), the two-level
  * manifest-list metadata layer (O(delta) appends), O(1) exactly-once batch
  * markers with self-heal, claim GC, equality deletes (takedown), the
  * pruneFiles DOUBLE compare tier, and the appendWithHll written-files fix.
  */
class CatalogR4Spec extends AnyFunSuite with SparkSuite {
  /** The data files snapshot `snap` of table `t` reads. */
  private def filesAt(cat: ParquetSnapshotCatalog, snap: Long): Seq[String] =
    cat.filesWithAddOrder("t", snap).map(_._1)

  private def tmp(): String = {
    val d = Files.createTempDirectory("graftcat4").toFile
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

  /** Instrumented catalog: counts manifest-list expansions so O(1) claims
    * about the metadata path are assertable, not aspirational. */
  private class CountingCatalog(root: String) extends ParquetSnapshotCatalog(root) {
    var manifestReads = 0
    override protected def manifestFiles(table: String, snap: Long): Seq[String] = {
      manifestReads += 1
      super.manifestFiles(table, snap)
    }
  }

  test("explicit file:// root: full commit/append/time-travel cycle through the Hadoop FS layer") {
    val root = "file:" + tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    val s1 = cat.commit(Seq(("a", 1), ("b", 2)).toDF("k", "v"), "t")
    val s2 = cat.append(Seq(("c", 3)).toDF("k", "v"), "t")
    assert(cat.read(spark, "t").count() === 3)
    assert(cat.readSnapshot(spark, "t", s1).count() === 2)
    cat.rollbackTo("t", s1)
    assert(cat.read(spark, "t").count() === 2)
    cat.rollbackTo("t", s2)
    assert(cat.read(spark, "t").as[(String, Int)].collect().sortBy(_._1) ===
      Array(("a", 1), ("b", 2), ("c", 3)))
  }

  test("manifest-list layer: appends write O(delta) metadata, never the table's file list") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    // seed: a 20-file snapshot
    cat.commit(spark.range(200).select($"id", ($"id" * 2).as("v")).repartition(20), "t")
    val seedBytes = Files.size(Paths.get(root, "t", "_manifests", "m1.json"))
    // 12 single-file drops
    val appendSnaps = (1 to 12).map { i =>
      cat.append(Seq((1000L + i, 0L)).toDF("id", "v").coalesce(1), "t")
    }
    assert(cat.read(spark, "t").count() === 212)
    // each append's DELTA manifest lists only its own files — tiny and flat,
    // independent of the 20-file seed (the round-3 full-list manifest grew
    // by seedBytes per append)
    for (s <- appendSnaps) {
      val mBytes = Files.size(Paths.get(root, "t", "_manifests", s"m$s.json"))
      assert(mBytes < seedBytes / 4, s"delta manifest m$s.json is not O(delta): $mBytes bytes")
    }
    // the manifest LIST carries one small ref per manifest, not file paths
    val lastList = Files.readString(Paths.get(root, "t", "_manifests", s"v${appendSnaps.last}.json"))
    assert(lastList.linesIterator.count(_.contains("@m")) === 13)
    assert(!lastList.contains(".parquet"), "manifest list must hold refs, not data paths")
    // time travel through the list layer still works mid-history
    assert(cat.readSnapshot(spark, "t", appendSnaps(5)).count() === 206)
  }

  test("batchCommitted is O(1) after the marker lands, with manifest-scan self-heal fallback") {
    val root = tmp()
    val cat = new CountingCatalog(root)
    val ss = spark; import ss.implicits._
    for (b <- 0L until 8L)
      assert(cat.appendBatch(Seq((b, s"row$b")).toDF("id", "s"), "t", b))
    assert(cat.read(spark, "t").count() === 8)
    // steady state: the check reads ONE marker file, zero manifests
    cat.manifestReads = 0
    assert(cat.batchCommitted("t", 5L))
    assert(cat.manifestReads === 0, "marker path must not scan manifests")
    assert(!cat.appendBatch(Seq((5L, "dup")).toDF("id", "s"), "t", 5L))
    // migration fallback: a pre-marker table (marker deleted) still detects
    // the batch via the manifest scan AND backfills the marker
    val marker = Paths.get(root, "t", "_manifests", "batch-5.committed")
    Files.delete(marker)
    cat.manifestReads = 0
    assert(cat.batchCommitted("t", 5L))
    assert(cat.manifestReads > 0, "fallback must have scanned")
    assert(Files.exists(marker), "fallback hit must self-heal the marker")
    cat.manifestReads = 0
    assert(cat.batchCommitted("t", 5L))
    assert(cat.manifestReads === 0, "self-healed marker must restore O(1)")
    // an orphan (data dir without commit) is still NOT committed
    assert(!cat.batchCommitted("t", 99L))
  }

  test("duplicate manifest entries are read-once: a double-committed delta cannot double rows") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    cat.commit(Seq((1, "x"), (2, "y")).toDF("id", "s"), "t")
    val files = filesAt(cat, cat.currentSnapshot("t").get).map(f => "/" + f.stripPrefix("file:").dropWhile(_ == '/')).toSeq
    // zombie-writer shape: the same files committed twice in one manifest
    cat.commitFiles(files ++ files, "t")
    assert(cat.read(spark, "t").count() === 2, "duplicated file refs must scan once")
  }

  test("claim GC: commits leave no .claim-v files behind") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    for (i <- 1 to 10) cat.append(Seq((i, i)).toDF("a", "b"), "t")
    val claims = manifestNames(root, "t").filter(_.startsWith(".claim-v"))
    assert(claims.isEmpty, s"stale claims: $claims")
    assert(cat.snapshots("t").size === 10)
  }

  test("appendWithHll computes registers from the WRITTEN files: a non-deterministic input cannot diverge sidecar from data") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    // rand() without a seed: re-evaluating the plan yields different rows,
    // so registers computed from the input plan (the round-3 shape) would
    // describe rows that were never written
    val nondet = spark.range(2000)
      .select((rand() * 300).cast("long").cast("string").as("v"))
    cat.appendWithHll(nondet, "t", "v")
    cat.appendWithHll(nondet, "t", "v")
    val sidecarEst = cat.hllDistinctStat("t", "v").get
    val tableEst = graft.operators.Sketch.hllEstimate(
      graft.operators.Sketch.hllRegistersOf(cat.read(spark, "t"), "v"))
    assert(sidecarEst === tableEst,
      "sidecar registers must equal registers over the table as written")
  }

  test("pruneFiles compares DOUBLE bounds numerically, never lexicographically") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    // one file per value-band; the [9.5, 10.5] file overlaps query [10.0,
    // 10.2] numerically but "9.5" > "10.2" byte-wise — the round-3 fallback
    // dropped it (silently missing rows)
    val bands = Seq(Seq(9.5, 10.5), Seq(1.5, 2.5), Seq(100.25, 200.75))
    val df = bands.zipWithIndex.map { case (vs, i) =>
      vs.toDF("score").withColumn("band", lit(i)).repartition(1)
    }.reduce(_ union _).repartition(3, col("band")).sortWithinPartitions("score")
    cat.commitWithStats(df, "t", Seq("score"))
    val hit = cat.pruneFiles("t", "score", "10.0", "10.2")
    assert(hit.nonEmpty, "the [9.5,10.5] file must survive pruning")
    val rows = cat.scan(spark, "t").where(col("score") >= 10.0 && col("score") <= 10.2)
    assert(rows.count() === 0) // no rows in-range, but the FILE had to be kept
    val wide = cat.scan(spark, "t").where(col("score") >= 9.0 && col("score") <= 11.0)
    assert(wide.collect().map(_.getDouble(0)).sorted === Array(9.5, 10.5))
    // long bounds still prune exactly (regression guard for the long tier)
    val ints = (1 to 100).map(_.toLong).toDF("v").repartition(4)
    cat.commitWithStats(ints, "t2", Seq("v"))
    assert(cat.pruneFiles("t2", "v", "1000", "2000").isEmpty)
  }

  test("TIMESTAMP zone maps: ISO-T query bounds compare as time, and statsAgg answers warc_ts exactly") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    // the north-star table shape: one file per hour band of warc_ts
    val df = Seq(
      ("2026-01-01 10:00:00", 0), ("2026-01-01 12:00:00", 0),
      ("2026-01-01 00:00:00", 1), ("2026-01-01 02:00:00", 1),
      ("2026-01-02 08:00:00", 2), ("2026-01-02 09:00:00", 2))
      .toDF("ts", "band")
      .selectExpr("CAST(ts AS TIMESTAMP) AS warc_ts", "band")
      .repartition(3, col("band")).sortWithinPartitions("warc_ts")
    cat.commitWithStats(df, "t", Seq("warc_ts"))
    // the sidecar stores Spark's space-separated canonical strings; a caller
    // passing ISO-8601 'T' bounds would byte-compare ' ' < 'T' and drop the
    // overlapping [10:00, 12:00] file — the timestamp tier must keep it
    val hit = cat.pruneFiles("t", "warc_ts", "2026-01-01T11:00:00", "2026-01-01T11:30:00")
    assert(hit.size === 1, s"exactly the [10:00,12:00] file must survive, got ${hit.size}")
    // and prune exactly with canonical bounds too: only the jan-2 file
    val jan2 = cat.pruneFiles("t", "warc_ts", "2026-01-02 00:00:00", "2026-01-02 23:00:00")
    assert(jan2.size === 1)
    val got = cat.scan(spark, "t")
      .where(col("warc_ts").between("2026-01-02 00:00:00", "2026-01-02 23:00:00"))
    assert(got.count() === 2)
    // metadata-only min/max/count over the TIMESTAMP column matches the scan
    val (mn, mx, n) = cat.statsAgg("t", "warc_ts").get
    assert(n === 6)
    assert(mn.get === "2026-01-01 00:00:00" && mx.get === "2026-01-02 09:00:00")
  }

  test("equality delete (takedown): zero rewrite, anti-joined reads, complete time travel, compaction materializes") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    val docs = (1 to 100).map(i => (s"https://example.com/d$i", s"text$i")).toDF("url", "text")
    val s1 = cat.commit(docs, "t")
    val dataFiles = filesAt(cat, cat.currentSnapshot("t").get).toSet
    val sDel = cat.deleteWhere("t", "url",
      Seq("https://example.com/d7", "https://example.com/d42"))
    // zero data rewritten: same physical files, tombstone applied at read
    assert(filesAt(cat, cat.currentSnapshot("t").get).toSet === dataFiles)
    val after = cat.read(spark, "t").select("url").as[String].collect().toSet
    assert(after.size === 98)
    assert(!after.contains("https://example.com/d7") && !after.contains("https://example.com/d42"))
    // pre-delete snapshot still time-travels COMPLETE
    assert(cat.readSnapshot(spark, "t", s1).count() === 100)
    // deletes compose: a second takedown stacks its tombstone
    cat.deleteWhere("t", "url", Seq("https://example.com/d99"))
    assert(cat.read(spark, "t").count() === 97)
    // appending after a delete keeps the tombstones in force
    cat.append(Seq(("https://example.com/new1", "t")).toDF("url", "text"), "t")
    assert(cat.read(spark, "t").count() === 98)
    // a pruned read never resurrects taken-down rows (no stats sidecar
    // here → all files kept, deletes still applied)
    assert(cat.scan(spark, "t").where(col("url").between("a", "z")).count() === 98)
    // compaction materializes: rewritten snapshot carries no tombstones and
    // byte-identical surviving rows
    val preCompact = cat.read(spark, "t").as[(String, String)].collect().sortBy(_._1)
    val sC = cat.compact(spark, "t")
    val manifest = Files.readString(Paths.get(root, "t", "_manifests", s"v$sC.json"))
    assert(!manifest.contains("!d"), "compacted snapshot must carry no delete refs")
    assert(cat.read(spark, "t").as[(String, String)].collect().sortBy(_._1) === preCompact)
    // expiring history GCs tombstone files referenced only by expired snapshots
    cat.expireSnapshots("t", keepLast = 1)
    val leftover = manifestNames(root, "t").filter(_.startsWith("d"))
    assert(leftover.isEmpty, s"orphan tombstones: $leftover")
    assert(cat.read(spark, "t").count() === 98)
  }

  test("sequence-aware deletes: a row re-appended AFTER its takedown is a new fact, not a resurrection") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    cat.commit(Seq(("u1", "old1"), ("u2", "old2"), ("u3", "old3")).toDF("url", "text"), "t")
    cat.deleteWhere("t", "url", Seq("u1", "u2"))
    assert(cat.read(spark, "t").select("url").as[String].collect().toSet === Set("u3"))
    // re-append u1 with fresh content: the delete was committed BEFORE this
    // file was added, so it must NOT apply (Iceberg's sequence rule)
    cat.append(Seq(("u1", "new1")).toDF("url", "text"), "t")
    val after = cat.read(spark, "t").as[(String, String)].collect().toSet
    assert(after === Set(("u3", "old3"), ("u1", "new1")),
      "the post-delete append must survive; the pre-delete u1 must stay deleted")
    // a LATER delete still reaches the re-appended file
    cat.deleteWhere("t", "url", Seq("u1"))
    assert(cat.read(spark, "t").select("url").as[String].collect().toSet === Set("u3"))
  }

  test("upsertByKey: metadata-only MERGE — fresh captures replace, untouched rows keep their files") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    val base = (1 to 50).map(i => (s"https://example.com/d$i", s"v0-$i")).toDF("url", "text")
    val s1 = cat.commit(base, "t")
    val baseFiles = filesAt(cat, s1).toSet
    val fresh = (1 to 50 by 5).map(i => (s"https://example.com/d$i", s"v1-$i")).toDF("url", "text")
    val preSnaps = cat.snapshots("t").size
    cat.upsertByKey(fresh, "t", "url")
    // ATOMIC: one snapshot carries both the tombstone and the delta — no
    // intermediate state where the keys are deleted but not yet replaced
    assert(cat.snapshots("t").size === preSnaps + 1,
      "upsert must be one atomic snapshot, not delete-then-append")
    val got = cat.read(spark, "t").as[(String, String)].collect().toMap
    assert(got.size === 50)
    (1 to 50).foreach { i =>
      val want = if ((i - 1) % 5 == 0) s"v1-$i" else s"v0-$i"
      assert(got(s"https://example.com/d$i") === want, s"d$i")
    }
    // zero rewrite: every base file is still referenced (the old captures
    // are masked by the tombstone, not rewritten away)
    assert(baseFiles.subsetOf(filesAt(cat, cat.currentSnapshot("t").get).toSet))
    // pre-upsert snapshot still time-travels to the old captures
    assert(cat.readSnapshot(spark, "t", s1).as[(String, String)].collect()
      .toMap.forall(_._2.startsWith("v0-")))
    // upserting the same keys again keeps latest-capture semantics
    cat.upsertByKey((1 to 50 by 5).map(i => (s"https://example.com/d$i", s"v2-$i"))
      .toDF("url", "text"), "t", "url")
    val got2 = cat.read(spark, "t").as[(String, String)].collect().toMap
    assert(got2("https://example.com/d1") === "v2-1" && got2("https://example.com/d2") === "v0-2")
    // compaction materializes: same rows, no tombstones left in the manifest
    val pre = cat.read(spark, "t").as[(String, String)].collect().sortBy(_._1)
    val sC = cat.compact(spark, "t")
    assert(!Files.readString(Paths.get(root, "t", "_manifests", s"v$sC.json")).contains("!d"))
    assert(cat.read(spark, "t").as[(String, String)].collect().sortBy(_._1) === pre)
  }

  test("incremental scan: exact append windows, delete application, rewrite refusal") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    val s1 = cat.commit((1 to 10).map(i => (i, s"a$i")).toDF("id", "t"), "t")
    val s2 = cat.append((11 to 20).map(i => (i, s"b$i")).toDF("id", "t"), "t")
    val s3 = cat.append((21 to 30).map(i => (i, s"c$i")).toDF("id", "t"), "t")
    // each window is exactly its drop; a two-drop window is their union
    assert(cat.readIncremental(spark, "t", s1, s2).select("id").as[Int].collect().sorted
      === (11 to 20).toArray)
    assert(cat.readIncremental(spark, "t", s2, s3).select("id").as[Int].collect().sorted
      === (21 to 30).toArray)
    assert(cat.readIncremental(spark, "t", s1, s3).count() === 20)
    // bootstrap (fromSnap <= 0) reads the full snapshot
    assert(cat.readIncremental(spark, "t", 0L, s3).count() === 30)
    // a takedown inside the window applies to rows added in the window —
    // the changelog can never resurface a deleted row
    val sDel = cat.deleteWhere("t", "id", Seq("25"))
    assert(cat.readIncremental(spark, "t", s2, sDel).select("id").as[Int].collect().sorted
      === (21 to 30).filterNot(_ == 25).toArray)
    // a delete-only window yields zero rows
    assert(cat.readIncremental(spark, "t", s3, sDel).count() === 0)
    // but rows added BEFORE the window's start are not re-emitted by it
    assert(cat.readIncremental(spark, "t", s3).count() === 0)
    // a compaction rewrites the entry list: windows crossing it must refuse
    cat.compact(spark, "t")
    val e = intercept[IllegalStateException] {
      cat.readIncremental(spark, "t", s3).count()
    }
    assert(e.getMessage.contains("crosses a rewrite"))
  }

  test("DDSketch sidecar: incremental quantiles equal the whole-table sketch, chain poison refuses, zero data opened") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    // three disjoint drops over 1..3000 (the q_dd_quantiles value-shape)
    val all = (1L to 3000L)
    cat.appendWithDd(all.filter(_ % 3 == 0).toDF("v"), "t", "v")
    cat.appendWithDd(all.filter(_ % 3 == 1).toDF("v"), "t", "v")
    cat.appendWithDd(all.filter(_ % 3 == 2).toDF("v"), "t", "v")
    val got = cat.ddQuantileStat("t", "v", Seq(500, 900, 990)).get
    // oracle: the same bucket collapse over the WHOLE value set, driver-side
    def rep(v: Long): Long = {
      val s = math.max(64 - java.lang.Long.numberOfLeadingZeros(v) - 4, 0)
      (v >> s) << s
    }
    val hist = all.groupBy(rep).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
    val n = all.size.toLong
    def want(q: Int): Long = {
      val rank = (q * n + 999L) / 1000L
      var cum = 0L
      hist.find { case (_, c) => { cum += c; cum >= rank } }.get._1
    }
    assert(got === Seq(want(500), want(900), want(990)))
    // the answer needs ZERO data files: delete them all and ask again
    filesAt(cat, cat.currentSnapshot("t").get).foreach(f =>
      Files.delete(Paths.get(new java.net.URI(f).getPath)))
    assert(cat.ddQuantileStat("t", "v", Seq(500)).get === Seq(want(500)))
    // chain poison: a plain append bypassing the histogram path makes every
    // later estimate refuse — including after a subsequent appendWithDd
    cat.append(Seq(9999L).toDF("v"), "t")
    assert(cat.ddQuantileStat("t", "v", Seq(500)).isEmpty)
    cat.appendWithDd(Seq(10000L).toDF("v"), "t", "v")
    assert(cat.ddQuantileStat("t", "v", Seq(500)).isEmpty, "no silent self-heal")
    // NULL values never enter the histogram (SQL aggregate semantics) and
    // never crash the delta pass
    val cat2 = new ParquetSnapshotCatalog(tmp())
    cat2.appendWithDd(Seq(Some(1L), Some(2L), None, Some(3L), None)
      .toDF("v"), "t", "v")
    assert(cat2.ddQuantileStat("t", "v", Seq(500)).get === Seq(2L))
  }

  test("DDSketch sidecar: drops of only NULLs leave an empty histogram, and the quantile refuses (None)") {
    val cat = new ParquetSnapshotCatalog(tmp())
    val ss = spark; import ss.implicits._
    cat.appendWithDd(Seq[Option[Long]](None, None).toDF("v"), "t", "v")
    assert(cat.ddQuantileStat("t", "v", Seq(500)) === None)
    cat.appendWithDd(Seq[Option[Long]](None).toDF("v"), "t", "v")
    assert(cat.ddQuantileStat("t", "v", Seq(500, 990)) === None)
    cat.appendWithDd(Seq[Option[Long]](Some(7L), None).toDF("v"), "t", "v")
    assert(cat.ddQuantileStat("t", "v", Seq(500)) === Some(Seq(7L)))
  }

  test("expiry deletes an expired snapshot's hll and dd sidecars; the current sketches answer the same") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    val all = 1L to 3000L
    (0 until 3).foreach { r =>
      cat.appendWithDd(all.filter(_ % 3 == r).toDF("v"), "d", "v")
      cat.appendWithHll(all.filter(_ % 3 == r).toDF("v"), "h", "v")
    }
    val quantiles = cat.ddQuantileStat("d", "v", Seq(500, 900, 990))
    val distinct = cat.hllDistinctStat("h", "v")
    assert(quantiles.isDefined && distinct.isDefined)
    for ((table, kind) <- Seq("d" -> "dd", "h" -> "hll")) {
      val expired = cat.expireSnapshots(table, keepLast = 1)
      assert(expired.nonEmpty)
      val names = manifestNames(root, table)
      val left = names.filter(n => expired.exists(s => n.startsWith(s"v$s.$kind.")))
      assert(left.isEmpty, s"expired $kind sidecars survived: $left")
      val cur = cat.currentSnapshot(table).get
      assert(names.exists(_.startsWith(s"v$cur.$kind.")), s"the current $kind sidecar went: $names")
    }
    assert(cat.ddQuantileStat("d", "v", Seq(500, 900, 990)) === quantiles)
    assert(cat.hllDistinctStat("h", "v") === distinct)
  }

  test("changelog delete feed: a downstream mirror replaying inserts + deletes converges to the table") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    val s1 = cat.commit((1 to 10).map(i => (s"u$i", s"v0-$i")).toDF("url", "text"), "t")
    val s2 = cat.deleteWhere("t", "url", Seq("u3"))
    val s3 = cat.append(Seq(("u11", "v0-11"), ("u12", "v0-12")).toDF("url", "text"), "t")
    val s4 = cat.upsertByKey(Seq(("u5", "v1-5")).toDF("url", "text"), "t", "url")
    // the delete feed per window: the takedown key, nothing, the upsert key
    def dels(a: Long, b: Long) = cat.deletedInWindow(spark, "t", a, b)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(dels(s1, s2) === Set(("url", "u3")))
    assert(dels(s2, s3) === Set.empty)
    assert(dels(s3, s4) === Set(("url", "u5")))
    // mirror replay: start from the bootstrap snapshot, then per window
    // apply deletes FIRST, inserts second
    var mirror = cat.readSnapshot(spark, "t", s1).as[(String, String)].collect().toMap
    for ((a, b) <- Seq((s1, s2), (s2, s3), (s3, s4))) {
      dels(a, b).foreach { case (_, k) => mirror -= k }
      mirror ++= cat.readIncremental(spark, "t", a, b).as[(String, String)].collect().toMap
    }
    val table = cat.read(spark, "t").as[(String, String)].collect().toMap
    assert(mirror === table, "the replayed mirror must equal the table")
    assert(table("u5") === "v1-5" && !table.contains("u3") && table.size === 11)
  }

  test("unified changelog: pre-image deletes + net inserts replay a mirror to the table; zone maps bound the pre-image scan") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions.{col, max => fmax}
    // 4 range-partitioned files over u01..u16 with a url stats sidecar, so
    // the pre-image side has zone maps to prune against
    val base = (1 to 16).map(i => (f"u$i%02d", s"v0-$i")).toDF("url", "text")
      .repartitionByRange(4, col("url"))
    val s1 = cat.commitWithStats(base, "t", Seq("url"))
    // window: fresh urls u17+u99, an upsert of u05 (delete + insert), a
    // takedown of u09 and of u99 (inserted AND deleted inside the window)
    cat.append(Seq(("u17", "v0-17"), ("u99", "v0-99")).toDF("url", "text"), "t")
    cat.upsertByKey(Seq(("u05", "v1-5")).toDF("url", "text"), "t", "url")
    val s4 = cat.deleteWhere("t", "url", Seq("u09", "u99"))
    val log = cat.readChangelog(spark, "t", s1, s4).as[(String, String, String)].collect()
    val ins = log.filter(_._3 == "insert").map(r => (r._1, r._2)).toSet
    val del = log.filter(_._3 == "delete").map(r => (r._1, r._2)).toSet
    assert(ins === Set(("u17", "v0-17"), ("u05", "v1-5")),
      "u99 was inserted and deleted inside the window — the net feed drops it")
    assert(del === Set(("u05", "v0-5"), ("u09", "v0-9")),
      "pre-images carry the OLD captures; u99 has no pre-image")
    // mirror replay: deletes by key first, then inserts → exactly the table
    var mirror = cat.readSnapshot(spark, "t", s1).as[(String, String)].collect().toMap
    del.foreach { case (k, _) => mirror -= k }
    mirror ++= ins
    assert(mirror === cat.read(spark, "t").as[(String, String)].collect().toMap)
    // bootstrap window is insert-only (the mirror starts empty)
    assert(cat.readChangelog(spark, "t", 0L, s1)
      .select("op").distinct().as[String].collect().toSeq === Seq("insert"))
    // pruning proof by deletion: every fromSnap file whose url range lies
    // entirely below the deleted-key range [u05, u99] can never hold a
    // pre-image — remove its bytes and the changelog must still answer
    val outOfRange = cat.readSnapshot(spark, "t", s1)
      .groupBy(col("_file").as("f")).agg(fmax("url").as("mx"))
      .where("mx < 'u05'").select("f").as[String].collect()
    assert(outOfRange.nonEmpty, "the range layout must give a prunable file")
    outOfRange.foreach(f => Files.delete(Paths.get(new java.net.URI(f).getPath)))
    val again = cat.readChangelog(spark, "t", s1, s4).as[(String, String, String)].collect()
    assert(again.filter(_._3 == "delete").map(r => (r._1, r._2)).toSet === del,
      "the pre-image scan must never open files outside the tombstone key range")
  }

  test("concurrent appenders never lose a commit (the lost-update window is closed)") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    // 4 writers × 8 single-row appends each, racing on one table: without
    // the commit lock, two writers reading the same parent manifest would
    // orphan each other's delta (the later CURRENT swap wins) — every one
    // of the 32 rows must survive
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futures = (0 until 4).map { w =>
      scala.concurrent.Future {
        (0 until 8).foreach { i =>
          cat.append(Seq((w * 100 + i, s"w$w-$i")).toDF("id", "t"), "t")
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures), scala.concurrent.duration.Duration("120s"))
    pool.shutdown()
    val ids = cat.read(spark, "t").select("id").as[Int].collect().sorted
    assert(ids.length === 32, s"lost commits: ${32 - ids.length} rows missing")
    assert(ids.toSet === (for (w <- 0 until 4; i <- 0 until 8) yield w * 100 + i).toSet)
    // and the commit lock never leaks: no lock file left behind
    assert(!manifestNames(root, "t").contains(".commit.lock"))
  }

  test("sequence-grouped deletes compose with ADD-column evolution: old file groups null-fill the new column") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    // epoch 1: (url, text); a delete splits later files into their own group
    cat.commit(Seq(("u1", "t1"), ("u2", "t2"), ("u3", "t3")).toDF("url", "text"), "t")
    cat.deleteWhere("t", "url", Seq("u2"))
    // epoch 2 (post-delete group): schema gains a lang column
    cat.append(Seq(("u4", "t4", "en")).toDF("url", "text", "lang"), "t")
    val got = cat.read(spark, "t").select("url", "text", "lang")
      .as[(String, String, Option[String])].collect().toSet
    assert(got === Set(("u1", "t1", None), ("u3", "t3", None), ("u4", "t4", Some("en"))),
      "old group must null-fill lang; u2 stays deleted; the post-delete file keeps its column")
  }

  test("tags are load-bearing refs: a tagged snapshot survives expiry; dropping the tag releases it") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    val s1 = cat.commit(Seq((1, "a")).toDF("id", "t"), "t")
    cat.tagSnapshot("t", "prod", s1)
    cat.append(Seq((2, "b")).toDF("id", "t"), "t")
    cat.append(Seq((3, "c")).toDF("id", "t"), "t")
    val expired1 = cat.expireSnapshots("t", keepLast = 1)
    assert(!expired1.contains(s1), "the tagged snapshot must survive keepLast=1")
    // the tag still reads the pinned state, bit-exactly
    assert(cat.readTag(spark, "t", "prod").as[(Int, String)].collect() === Array((1, "a")))
    assert(cat.tags("t") === Map("prod" -> s1))
    // retarget = atomic swap; drop releases the snapshot to the next expiry
    cat.dropTag("t", "prod")
    val expired2 = cat.expireSnapshots("t", keepLast = 1)
    assert(expired2.contains(s1), "dropping the tag must release the snapshot")
    intercept[IllegalArgumentException] { cat.readTag(spark, "t", "prod") }
    assert(cat.read(spark, "t").count() === 3)
  }

  test("expire GCs delta manifests referenced only by expired snapshots, keeps shared ones") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark; import ss.implicits._
    cat.commit(Seq((1, 1)).toDF("a", "b"), "t")        // v1 → m1
    cat.append(Seq((2, 2)).toDF("a", "b"), "t")        // v2 → m1, m2
    cat.append(Seq((3, 3)).toDF("a", "b"), "t")        // v3 → m1, m2, m3
    cat.expireSnapshots("t", keepLast = 1)             // v1, v2 expire
    val names = manifestNames(root, "t")
    // m1 and m2 are still referenced by the LIVE v3 list — must survive
    assert(names.contains("m1.json") && names.contains("m2.json") && names.contains("m3.json"))
    assert(!names.contains("v1.json") && !names.contains("v2.json"))
    assert(cat.read(spark, "t").count() === 3)
    // a compaction snapshot then strands m1–m3; expiry collects them
    cat.compact(spark, "t")
    cat.expireSnapshots("t", keepLast = 1)
    val after = manifestNames(root, "t")
    assert(!after.contains("m1.json") && !after.contains("m2.json") && !after.contains("m3.json"),
      s"stranded delta manifests survived: $after")
    assert(cat.read(spark, "t").count() === 3)
  }
}
