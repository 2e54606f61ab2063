package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** The incremental curation loop: windowed changelog reads, gate
  * composition, companion-backed exactly-once appends, and the
  * crash-replays-are-no-ops watermark contract.
  */
class IncrementalCurateSpec extends AnyFunSuite with SparkSuite {
  /** 60 distinct 6-char alpha-ish words — passes every gate. */
  private def goodText(id: Long): String =
    (0 until 60).map(w => f"w${id}%02dax$w%02d").mkString(" ")

  test("exactly-once incremental curation across drops, replays, and a watermark crash") {
    val s = spark; import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("inccur").toString
    val cat = new ParquetSnapshotCatalog(root)
    // drop 1: 10 passing docs + 2 that fail the token floor
    val drop1 = (1L to 10L).map(i => (i, goodText(i))) ++
      Seq((11L, "short doc"), (12L, "also short"))
    cat.append(drop1.toDF("doc_id", "text"), "raw")
    val rawSnap1 = cat.currentSnapshot("raw").get
    assert(IncrementalCurate.runOnce(spark, cat, "raw", "cur") === ((12L, 10L)))
    // drop 2: 10 fresh passing docs + an exact replay of doc 1's text
    // under a new id — the companion must reject it
    val drop2 = (21L to 30L).map(i => (i, goodText(i))) :+ (999L, goodText(1L))
    cat.append(drop2.toDF("doc_id", "text"), "raw")
    assert(IncrementalCurate.runOnce(spark, cat, "raw", "cur") === ((11L, 10L)),
      "only the window is processed; the replayed text is rejected")
    // nothing new → nothing read, nothing appended
    assert(IncrementalCurate.runOnce(spark, cat, "raw", "cur") === ((0L, 0L)))
    // crash-sim: the watermark write was lost (crash between append and
    // putMeta) — the whole drop-2 window replays and the digest companion
    // makes every row a no-op
    cat.putMeta("cur", IncrementalCurate.watermarkKey, rawSnap1.toString)
    assert(IncrementalCurate.runOnce(spark, cat, "raw", "cur") === ((11L, 0L)),
      "a replayed window must append nothing")
    // final table: the 20 passing docs exactly once, original ids
    val cur = cat.read(spark, "cur").select("doc_id").as[Long].collect().sorted
    assert(cur === ((1L to 10L) ++ (21L to 30L)).toArray)
    assert(cat.read(spark, "cur").select("text").distinct().count() === 20)
  }

  test("a raw-table compaction mid-loop self-heals: full reprocess, companion keeps the append exact") {
    val s = spark; import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("inccurcompact").toString
    val cat = new ParquetSnapshotCatalog(root)
    cat.append((1L to 10L).map(i => (i, goodText(i))).toDF("doc_id", "text"), "raw")
    assert(IncrementalCurate.runOnce(spark, cat, "raw", "cur") === ((10L, 10L)))
    // maintenance rewrites raw, then a fresh drop lands
    cat.compact(spark, "raw")
    cat.append((21L to 25L).map(i => (i, goodText(i))).toDF("doc_id", "text"), "raw")
    // the window crosses the rewrite → the loop reprocesses the FULL
    // snapshot (15 rows) and the companion rejects the 10 already curated
    assert(IncrementalCurate.runOnce(spark, cat, "raw", "cur") === ((15L, 5L)))
    val cur = cat.read(spark, "cur").select("doc_id").as[Long].collect().sorted
    assert(cur === ((1L to 10L) ++ (21L to 25L)).toArray)
  }

  test("readIncremental plans in O(delta) metadata: zero full-manifest expansions on two-level tables") {
    val s = spark; import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("incplan").toString
    class Counting(r: String) extends ParquetSnapshotCatalog(r) {
      var manifestReads = 0
      override protected def manifestFiles(table: String, snap: Long): Seq[String] = {
        manifestReads += 1
        super.manifestFiles(table, snap)
      }
    }
    val cat = new Counting(root)
    val s1 = cat.commit((1 to 50).map(i => (i, s"t$i")).toDF("id", "t"), "t")
    val s2 = cat.append((51 to 60).map(i => (i, s"t$i")).toDF("id", "t"), "t")
    cat.manifestReads = 0
    assert(cat.readIncremental(spark, "t", s1, s2).count() === 10)
    assert(cat.manifestReads === 0,
      "the changelog planner expanded a full snapshot file list — the O(delta) contract is broken")
  }

  test("training shards: files on disk match the manifest, assignment is pure and gzip-compressed") {
    val s = spark; import s.implicits._
    val docs = (1L to 200L).map(i => (i, goodText(i))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("shards").toString
    val manifest = graft.operators.TextOps.writeTrainingShards(docs, dir, nShards = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(manifest.keySet === Set(0L, 1L, 2L, 3L))
    assert(manifest.values.map(_._1).sum === 200L)
    // the files are the manifest: read each shard partition back and match
    val back = spark.read.json(s"$dir/shards")
      .selectExpr("CAST(shard AS BIGINT) AS shard")
    val byShard = back.groupBy("shard")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byShard === manifest.view.mapValues(_._1).toMap)
    // gzip on disk; assignment reproducible (pure function of doc_id)
    val files = new java.io.File(s"$dir/shards").listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).map(_.getName)
      .filter(n => n.contains("json") && !n.startsWith("."))
    assert(files.nonEmpty && files.forall(_.endsWith(".json.gz")), files.mkString(","))
    val again = graft.operators.TextOps.shardManifest(docs, nShards = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === manifest.view.mapValues(_._1).toMap)
  }

  test("streaming ingest composes with incremental curation: stream → raw → curated, exactly once") {
    val s = spark; import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("inccurstream").toString
    val cat = new ParquetSnapshotCatalog(root)
    implicit val sc = s.sqlContext
    // two micro-batches through the REAL exactly-once sink; batch 2 replays
    // batch 1's texts under fresh ids (cross-batch duplicates)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = graft.streaming.ExtractStream.catalogSink(
      mem.toDF().toDF("doc_id", "text"), cat, "raw", s"$root/ckpt")
    mem.addData((1L to 5L).map(i => (i, goodText(i))): _*)
    mem.addData(((6L to 8L).map(i => (i, goodText(i))) ++
      Seq((101L, goodText(1L)), (102L, "short"))): _*)
    q.processAllAvailable(); q.stop()
    // curate everything the stream landed, then re-run: idle no-op
    val (n1, a1) = IncrementalCurate.runOnce(spark, cat, "raw", "cur")
    assert(n1 === 10L && a1 === 8L,
      "8 fresh passing docs; the cross-batch replay and the short doc are rejected")
    assert(IncrementalCurate.runOnce(spark, cat, "raw", "cur") === ((0L, 0L)))
    val cur = cat.read(spark, "cur").select("doc_id").as[Long].collect().sorted
    assert(cur === (1L to 8L).toArray)
  }
}
