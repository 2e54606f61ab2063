package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import java.nio.file.Files

/** Incremental bin-pack compaction (compactSmallFiles): only undersized
  * files rewrite — large files stay byte-identical on disk; kept files keep
  * their add order so equality tombstones keep applying (partial-manifest
  * surgery pinned); deletes materialize into the merged files; positional
  * tombstones refuse; sub-threshold inputs no-op; time travel intact.
  */
class CompactSmallSpec extends AnyFunSuite with SparkSuite {
  private var dir: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    dir = Files.createTempDirectory("graft_csml").toString
  }

  private var n = 0
  private def freshCat(): ParquetSnapshotCatalog = {
    n += 1
    new ParquetSnapshotCatalog(s"$dir/c$n")
  }

  private def df(rows: Seq[(Long, String)], parts: Int = 1): DataFrame =
    spark.createDataFrame(rows).toDF("id", "v").repartition(parts)

  private def ids(cat: ParquetSnapshotCatalog, t: String): Set[Long] =
    cat.read(spark, t).collect().map(_.getLong(0)).toSet

  /** Incompressible per-row payload — constant pads RLE away in parquet
    * and silently drop a "large" file under the small-file threshold. */
  private def blob(i: Long, rep: Int): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(i.toString.getBytes("UTF-8"))
    md.map("%02x".format(_)).mkString * rep
  }

  test("small streaming appends merge; the large file survives byte-identical at its old path") {
    val cat = freshCat()
    // one LARGE file (1 MB threshold, ~2 MB of rows) + 6 tiny appends
    val big = (0L until 20000L).map(i => (i, blob(i, 10)))
    cat.commit(df(big), "t")
    val bigFile = cat.filesWithAddOrder("t", cat.currentSnapshot("t").get).map(_._1)
    assert(bigFile.size == 1)
    val bigBytes = Files.readAllBytes(java.nio.file.Paths.get(bigFile.head))
    (0 until 6).foreach(k => cat.append(df(Seq((100000L + k, "tiny"))), "t"))
    val before = cat.filesWithAddOrder("t", cat.currentSnapshot("t").get).size
    val snap = cat.compactSmallFiles(spark, "t", targetBytes = 1L << 20)
    assert(snap > 0 && cat.currentSnapshot("t").contains(snap))
    val after = cat.filesWithAddOrder("t", snap)
    assert(after.size < before, s"no shrink: $before -> ${after.size}")
    // the large file was not rewritten: same path, same bytes
    assert(after.map(_._1).contains(bigFile.head))
    assert(java.util.Arrays.equals(bigBytes,
      Files.readAllBytes(java.nio.file.Paths.get(bigFile.head))))
    assert(ids(cat, "t") == (0L until 20000L).toSet ++ (0 until 6).map(100000L + _))
  }

  test("the rewrite reads only its rewrite set: the large file is never opened") {
    val cat = freshCat()
    cat.commit(df((0L until 20000L).map(i => (i, blob(i, 10)))), "t")
    (0 until 5).foreach(k => cat.append(df(Seq((100000L + k, "tiny"))), "t"))
    cat.deleteWhere("t", "id", Seq("100002"))
    val before = graft.sources.CatalogPartitionReader.opened.get()
    cat.compactSmallFiles(spark, "t", targetBytes = 1L << 20)
    assert(graft.sources.CatalogPartitionReader.opened.get() - before == 5L)
    assert(ids(cat, "t") == (0L until 20000L).toSet ++ Seq(100000L, 100001L, 100003L, 100004L))
  }

  test("pre-compaction equality deletes stay applied; post-compaction deletes hit kept AND merged rows") {
    val cat = freshCat()
    cat.append(df(Seq((1L, "a"), (2L, "b"))), "t")
    cat.append(df(Seq((3L, "c"))), "t")
    cat.append(df(Seq((4L, "d"))), "t")
    cat.deleteWhere("t", "id", Seq("2"))
    val preRead = ids(cat, "t")
    assert(preRead == Set(1L, 3L, 4L))
    val snap = cat.compactSmallFiles(spark, "t", targetBytes = 1L << 20)
    assert(cat.currentSnapshot("t").contains(snap))
    // the delete was materialized into the merged file — row 2 stays gone
    assert(ids(cat, "t") == Set(1L, 3L, 4L))
    // a NEW delete still applies (merged files precede it)
    cat.deleteWhere("t", "id", Seq("3"))
    assert(ids(cat, "t") == Set(1L, 4L))
  }

  test("partial-manifest surgery keeps a kept file's ADD ORDER: an old tombstone still applies to it") {
    val cat = freshCat()
    // ONE delta manifest holding a small file and a large file (2 parts)
    val mixed = (0L until 15000L).map(i => (i, blob(i, 10))) :+ (99999L, "small")
    val ss = spark
    cat.append(ss.createDataFrame(mixed.take(15000)).toDF("id", "v").coalesce(1), "t")
    cat.append(df(Seq((99999L, "small"))), "t")
    // tombstone AFTER those adds: applies to both files
    cat.deleteWhere("t", "id", Seq("7", "99999"))
    assert(!ids(cat, "t").contains(7L) && !ids(cat, "t").contains(99999L))
    // now small appends so compaction has work; the kept bulk file's
    // manifest loses its sibling if packed — add order must survive
    (0 until 4).foreach(k => cat.append(df(Seq((200000L + k, "z"))), "t"))
    cat.compactSmallFiles(spark, "t", targetBytes = 1L << 20)
    val got = ids(cat, "t")
    assert(!got.contains(7L), "old tombstone stopped applying to the kept file")
    assert(!got.contains(99999L), "old tombstone stopped applying to merged rows")
    assert(got.contains(200000L))
  }

  test("no-op below minInput; positional deletes refuse") {
    val cat = freshCat()
    cat.commit(df(Seq((1L, "a"))), "t")
    val before = cat.currentSnapshot("t").get
    assert(cat.compactSmallFiles(spark, "t") == before) // 1 small file < minInput 2
    cat.append(df(Seq((2L, "bb"))), "t")
    cat.deleteMatching(spark, "t", "v = 'bb'") // positional tombstone
    val e = intercept[IllegalArgumentException](cat.compactSmallFiles(spark, "t"))
    assert(e.getMessage.contains("positional"))
  }

  test("time travel to the pre-compaction snapshot still reads complete") {
    val cat = freshCat()
    (0 until 5).foreach(k => cat.append(df(Seq((k.toLong, s"v$k"))), "t"))
    val pre = cat.currentSnapshot("t").get
    val snap = cat.compactSmallFiles(spark, "t")
    assert(snap != pre)
    assert(cat.readSnapshot(spark, "t", pre).collect().map(_.getLong(0)).toSet ==
      (0L until 5L).toSet)
    assert(ids(cat, "t") == (0L until 5L).toSet)
  }

  test("stats sidecars for kept files carry forward (zone-map pruning still answers)") {
    val cat = freshCat()
    val ss = spark
    import org.apache.spark.sql.functions.col
    cat.commitWithStats(ss.range(0, 10000)
      .selectExpr("id", "CAST(id AS STRING) AS v", "md5(CAST(id AS STRING)) AS pad")
      .repartitionByRange(4, col("id")), "t", Seq("id"))
    (0 until 3).foreach(k => cat.append(df(Seq((1000000L + k, "tiny"))), "t"))
    // threshold below the ranged files' size: only the tiny appends merge
    cat.compactSmallFiles(spark, "t", targetBytes = 1L << 17)
    val snap = cat.currentSnapshot("t").get
    val all = cat.filesWithAddOrder("t", snap).map(_._1)
    val pruned = cat.pruneFilesAt("t", snap, "id", "0", "5")
    assert(pruned.size < all.size, s"stats lost: ${pruned.size} of ${all.size}")
  }

  test("expire after incremental compaction: merged-away files GC, kept files and results survive") {
    val cat = freshCat()
    val big = (0L until 20000L).map(i => (i, blob(i, 10)))
    cat.commit(df(big), "t")
    val bulkFile = cat.filesWithAddOrder("t", cat.currentSnapshot("t").get).map(_._1).head
    (0 until 5).foreach(k => cat.append(df(Seq((300000L + k, "tiny"))), "t"))
    val smallFiles = cat.filesWithAddOrder("t", cat.currentSnapshot("t").get)
      .map(_._1).filterNot(_ == bulkFile)
    cat.compactSmallFiles(spark, "t", targetBytes = 1L << 20)
    cat.expireSnapshots("t", keepLast = 1)
    // superseded tail files are physically collected; the kept bulk is not
    smallFiles.foreach(f => assert(!Files.exists(java.nio.file.Paths.get(f)),
      s"merged-away file leaked: $f"))
    assert(Files.exists(java.nio.file.Paths.get(bulkFile)))
    assert(ids(cat, "t") == (0L until 20000L).toSet ++ (0 until 5).map(300000L + _))
  }

  test("CALL compact_small drives it from SQL") {
    val root = s"$dir/sqlroot"
    spark.conf.set("spark.sql.catalog.gsc", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsc.root", root)
    spark.sql("CREATE TABLE gsc.t AS SELECT 1L AS id, 'a' AS v")
    (0 until 4).foreach(k => spark.sql(s"INSERT INTO gsc.t VALUES (${k + 10}L, 'x')"))
    val cat = new ParquetSnapshotCatalog(root)
    val before = cat.filesWithAddOrder("t", cat.currentSnapshot("t").get).size
    val out = spark.sql("CALL gsc.compact_small('t')").collect()
    assert(out.length == 1 && out(0).getString(0) == "snapshot")
    val after = cat.filesWithAddOrder("t", cat.currentSnapshot("t").get).size
    assert(after < before)
    assert(spark.sql("SELECT count(*) FROM gsc.t").collect()(0).getLong(0) == 5L)
  }
}
