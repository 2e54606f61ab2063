package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** End-to-end Spark-pipeline checks against the driver testdata at sf0.001:
  * byte-identity per url, partition invariance, chunked resume, snapshot
  * catalog, and the dedup/ANN operators' planted-pair recall.
  */
class SparkJobSpec extends AnyFunSuite with SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"

  /** The data files snapshot `snap` of table `t` reads. */
  private def filesAt(cat: ParquetSnapshotCatalog, snap: Long): Seq[String] =
    cat.filesWithAddOrder("t", snap).map(_._1)

  private def tmp(): String = {
    val d = java.nio.file.Files.createTempDirectory("graftspec").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("PublishMain verification is driver-safe: the ONLY collect is the 5-row pointer probe") {
    // the WET digest round-trip proof must stay a distributed join — a
    // corpus-sized collect().toMap OOMs the driver at the scale this main
    // is pitched for; this guard pins max collected rows to the bounded
    // limit(5) index probe
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/spark/PublishMain.scala")), "UTF-8")
    val collects = src.linesIterator.filter(_.contains(".collect()")).toVector
    assert(collects.length == 1, s"unexpected collects: $collects")
    assert(collects.head.contains("limit(5)"), "the one collect must be the bounded probe")
    assert(!src.contains("collectAsList") && !src.contains(".toLocalIterator"))
  }

  test("extraction round-trip: main_text byte-identical to documents.text per url") {
    val ext = ExtractJob.extract(Pages.synthesize(spark, sfDir), "t", 5)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("concat('https://example.com/', lang, '/', source, '/doc', doc_id, '/v0') as url", "text")
    val joined = ext.toDF().join(docs, "url")
    assert(joined.count() === 500)
    assert(joined.where(col("main_text") =!= col("text")).count() === 0)
    assert(ext.toDF().where(col("truncated")).count() === 0)
    assert(ext.toDF().where(col("n_errors") > 0).count() === 0)
  }

  test("partition invariance: Spark(1 partition) == Spark(7 partitions)") {
    val pages = Pages.synthesize(spark, sfDir)
    def rows(n: Int) = ExtractJob.extract(pages, "t", n).toDF()
      .select("url", "main_text", "full_text", "n_tokens", "n_tags")
      .collect().map(_.toSeq).sortBy(_.head.toString)
    assert(rows(1).toSeq === rows(7).toSeq)
  }

  test("chunked resume recomputes only the lost chunk") {
    val out = tmp()
    val pages = Pages.synthesize(spark, sfDir)
    def chunkOf(c: Int) = pages.where(pmod(xxhash64(col("url")), lit(3)) === c).toDF()
    ExtractJob.runChunkedFrom(spark, chunkOf, out, "r1", chunks = 3, partitionsPerChunk = 4)
    val total = spark.read.parquet(s"$out/data").count()
    assert(total === 500)
    val lin1 = spark.read.parquet(s"$out/lineage").collect()
    // crash-sim: chunk 1 loses its data AND its lineage marker
    val keep = spark.read.parquet(s"$out/lineage").where(col("chunk") =!= 1).cache()
    keep.count()
    def rmrf(p: String): Unit = {
      val f = new java.io.File(p)
      if (f.isDirectory) f.listFiles().foreach(c => rmrf(c.getAbsolutePath))
      f.delete()
    }
    rmrf(s"$out/lineage")
    keep.write.parquet(s"$out/lineage")
    rmrf(s"$out/data/chunk=1")
    assert(spark.read.parquet(s"$out/data").count() < 500)
    ExtractJob.runChunkedFrom(spark, chunkOf, out, "r1", chunks = 3, partitionsPerChunk = 4)
    assert(spark.read.parquet(s"$out/data").count() === 500)
    val lin2 = spark.read.parquet(s"$out/lineage")
    // lineage bytes total unchanged vs the first complete run
    assert(lin2.agg(sum("bytes")).collect()(0).getLong(0) ===
      lin1.map(_.getAs[Long]("bytes")).sum)
    // second resume is a no-op: no new lineage rows
    val n2 = lin2.count()
    ExtractJob.runChunkedFrom(spark, chunkOf, out, "r1", chunks = 3, partitionsPerChunk = 4)
    assert(spark.read.parquet(s"$out/lineage").count() === n2)
  }

  /** The pages table `ExtractMain` materializes: sf0.001's pages
    * partitioned by `chunk = pmod(xxhash64(url), chunks)`. */
  private def chunkedPages(dir: String, chunks: Int): org.apache.spark.sql.DataFrame = {
    Pages.synthesize(spark, sfDir).toDF()
      .withColumn("chunk", pmod(xxhash64(col("url")), lit(chunks)))
      .write.mode("overwrite").partitionBy("chunk").parquet(dir)
    spark.read.parquet(dir)
  }

  private def exists(p: String): Boolean = new java.io.File(p).exists()

  /** Data files under `dir`, as (relative path, bytes). */
  private def filesUnder(dir: String): Seq[(String, Long)] = {
    val base = java.nio.file.Paths.get(dir)
    scala.util.Using.resource(java.nio.file.Files.walk(base)) { s =>
      s.filter(java.nio.file.Files.isRegularFile(_)).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
        .map(f => (base.relativize(f).toString, java.nio.file.Files.size(f))).sorted
    }
  }

  test("chunked write equals extractFiles: one job per chunk, one lineage row per partition") {
    val dir = tmp()
    val pages = chunkedPages(s"$dir/pages", 3)
    val cols = Seq("url", "warc_ts", "html", "text", "lang").map(col)
    // chunk 3 selects no page: it must still commit a readable empty chunk
    val byChunk = (0 until 4).map(c => pages.where(col("chunk") === c).select(cols: _*))
    val out = s"$dir/out"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      ExtractJob.runChunkedFrom(spark, byChunk, out, "eq", chunks = 4, partitionsPerChunk = 4)
      // listener events are async: wait for the expected jobs, then for strays
      val deadline = System.currentTimeMillis() + 10000
      while (jobs.get() < 4 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      Thread.sleep(500)
      assert(jobs.get() === 4, "one Spark job per chunk when lineage/ is absent")
    } finally spark.sparkContext.removeSparkListener(listener)

    val data = spark.read.parquet(s"$out/data")
    val got = data.drop("chunk")
    val want = ExtractJob.extractFiles(pages.select(cols: _*), "eq").toDF()
    assert(got.count() === 500)
    assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0)
    assert(got.schema.simpleString ===
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Extracted]().schema.simpleString)
    assert(exists(s"$out/data/chunk=3") && spark.read.parquet(s"$out/data/chunk=3").count() === 0)
    assert(!exists(s"$out/_staging"), "a committed run leaves no staging directory")

    val lineage = spark.read.parquet(s"$out/lineage").as[LineageRow](
      org.apache.spark.sql.Encoders.product[LineageRow]).collect()
    val nonEmpty = byChunk.map(_.rdd.mapPartitions(it => Iterator(if (it.hasNext) 1 else 0)).sum().toInt)
    for (c <- 0 until 4)
      assert(lineage.count(_.chunk == c) === nonEmpty(c), s"chunk $c: one lineage row per non-empty partition")
    assert(lineage.map(r => (r.chunk, r.partition_id)).distinct.length === lineage.length)
    assert(lineage.map(_.docs).sum === 500 && lineage.forall(_.docs > 0))
    assert(lineage.forall(_.input_file.contains("pages")))

    // the commit path runs no second write job and no accumulator
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/spark/ExtractJob.scala")), "UTF-8")
    assert(!src.contains(".write.") && !src.contains("collectionAccumulator"))
  }

  test("restart fails loudly on an unreadable lineage file and leaves the data in place") {
    val dir = tmp()
    val pages = chunkedPages(s"$dir/pages", 2)
    def chunkOf(c: Int) = pages.where(col("chunk") === c).select("url", "warc_ts", "html", "text", "lang")
    val out = s"$dir/out"
    ExtractJob.runChunkedFrom(spark, chunkOf, out, "r", chunks = 2, partitionsPerChunk = 4)
    val before = filesUnder(s"$out/data")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/lineage/part-corrupt.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    // read as "nothing done", the broken file would re-run and re-count every chunk
    intercept[Exception](ExtractJob.runChunkedFrom(spark, chunkOf, out, "r", chunks = 2, partitionsPerChunk = 4))
    assert(filesUnder(s"$out/data") === before)
    assert(spark.read.parquet(s"$out/data").count() === 500)
  }

  test("a failed chunk leaves nothing visible; the rerun clears its staging and completes") {
    val out = tmp()
    val pages = Pages.synthesize(spark, sfDir)
    val faulty = udf((u: String) => { if (PlantedFault.armed) throw new IllegalStateException("planted"); u })
    def slice(c: Int) = pages.where(pmod(xxhash64(col("url")), lit(3)) === c).toDF()
    def chunkOf(c: Int) = if (c == 1) slice(c).withColumn("url", faulty(col("url"))) else slice(c)
    PlantedFault.armed = true
    try intercept[Exception](ExtractJob.runChunkedFrom(spark, chunkOf, out, "f", chunks = 3, partitionsPerChunk = 4))
    finally PlantedFault.armed = false
    assert(!exists(s"$out/data/chunk=1"))
    assert(spark.read.parquet(s"$out/lineage").where(col("chunk") === 1).count() === 0)
    val data = spark.read.parquet(s"$out/data")
    assert(data.select("chunk").distinct().collect().map(_.getInt(0)).toSeq === Seq(0))
    assert(data.count() === slice(0).count())

    // a stale staged file (a killed attempt's) must not reach the rerun's
    // output, and a stale staged lineage file (a driver killed before its
    // rename) must not block the rerun's
    val stale = java.nio.file.Paths.get(s"$out/_staging/chunk=1/part-stale.parquet")
    java.nio.file.Files.createDirectories(stale.getParent)
    val chunk0File = java.nio.file.Paths.get(s"$out/data/chunk=0", filesUnder(s"$out/data/chunk=0")
      .map(_._1).find(_.endsWith(".parquet")).get)
    java.nio.file.Files.copy(chunk0File, stale)
    java.nio.file.Files.copy(chunk0File, java.nio.file.Paths.get(s"$out/_staging/lineage-1.parquet"))
    ExtractJob.runChunkedFrom(spark, chunkOf, out, "f", chunks = 3, partitionsPerChunk = 4)
    val all = spark.read.parquet(s"$out/data")
    assert(all.count() === 500 && all.select("url").distinct().count() === 500)
    val lineage = spark.read.parquet(s"$out/lineage").as[LineageRow](
      org.apache.spark.sql.Encoders.product[LineageRow]).collect()
    val nonEmpty = (0 until 3).map(c => slice(c).rdd.mapPartitions(it => Iterator(if (it.hasNext) 1 else 0)).sum().toInt)
    for (c <- 0 until 3) assert(lineage.count(_.chunk == c) === nonEmpty(c))
    assert(lineage.map(_.docs).sum === 500)
    assert(!exists(s"$out/_staging"))
  }

  test("snapshot catalog: atomic commit, latest-snapshot reads") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark
    import ss.implicits._
    assert(cat.currentSnapshot("t").isEmpty)
    val s1 = cat.commit(Seq((1, "a"), (2, "b")).toDF("id", "v"), "t")
    assert(s1 === 1 && cat.read(spark, "t").count() === 2)
    val s2 = cat.commit(Seq((9, "z")).toDF("id", "v"), "t")
    assert(s2 === 2 && cat.read(spark, "t").count() === 1)
    assert(cat.currentSnapshot("t").contains(2L))
    // time travel: every committed version stays addressable
    assert(cat.snapshots("t") === Seq(1L, 2L))
    assert(cat.readSnapshot(spark, "t", 1L).count() === 2)
    assert(cat.readSnapshot(spark, "t", 2L).count() === 1)
    // rollback is a metadata-only pointer swap; the rolled-back-over
    // snapshot remains readable via time travel
    cat.rollbackTo("t", 1L)
    assert(cat.currentSnapshot("t").contains(1L) && cat.read(spark, "t").count() === 2)
    assert(cat.readSnapshot(spark, "t", 2L).count() === 1)
    intercept[IllegalArgumentException](cat.rollbackTo("t", 99L))
    // concurrent committers can never collide on a snapshot id: the claim
    // marker is CREATE_NEW-atomic, so interleaved commits get distinct ids
    val ids = (1 to 4).map(i => cat.commitFiles(Seq.empty, "t2"))
    assert(ids.distinct.size === 4 && ids.toSeq === ids.sorted)
  }

  test("catalog maintenance: bin-pack compaction + reference-counted snapshot expiry") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark
    import ss.implicits._
    // a many-small-files snapshot (8 writer tasks for 100 rows)
    val s1 = cat.commit((1 to 100).map(i => (i, s"v$i")).toDF("id", "v").repartition(8), "t")
    val filesBefore = filesAt(cat, cat.currentSnapshot("t").get).length
    assert(filesBefore >= 8)
    // compaction: new snapshot, fewer files, identical rows; old snapshot
    // stays time-travelable
    val s2 = cat.compact(spark, "t", targetBytes = 1L << 30)
    assert(cat.currentSnapshot("t").contains(s2))
    assert(filesAt(cat, cat.currentSnapshot("t").get).length === 1)
    assert(cat.read(spark, "t").collect().map(_.getInt(0)).sorted.toSeq === (1 to 100))
    assert(cat.readSnapshot(spark, "t", s1).count() === 100)
    // a metadata-only snapshot SHARING the compacted files (commitFiles)
    val sharedFiles = filesAt(cat, cat.currentSnapshot("t").get).map(f => f.stripPrefix("file:")).toSeq
    val s3 = cat.commitFiles(sharedFiles, "t")
    // expire all but the last 2 (s2, s3): s1's private files die, but the
    // compacted files survive because live snapshots still reference them
    val expired = cat.expireSnapshots("t", keepLast = 2)
    assert(expired === Seq(s1))
    intercept[IllegalArgumentException](cat.readSnapshot(spark, "t", s1))
    assert(cat.read(spark, "t").count() === 100)
    assert(cat.readSnapshot(spark, "t", s3).count() === 100)
    assert(sharedFiles.forall(f => java.nio.file.Files.exists(java.nio.file.Paths.get(f))))
  }

  test("catalog zone maps: ranged reads open only overlapping files; stats-less snapshots keep all") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark
    import ss.implicits._
    // range-partitioned write → disjoint per-file doc_id ranges, so the
    // zone maps can actually skip
    val df = spark.range(0, 1000).selectExpr("id AS doc_id", "CAST(id AS STRING) AS t")
      .repartitionByRange(8, col("doc_id"))
    cat.commitWithStats(df, "t", Seq("doc_id"))
    val all = cat.pruneFiles("t", "doc_id", "-1", "10000")
    assert(all.size >= 8, s"expected >=8 files, got ${all.size}")
    val pruned = cat.pruneFiles("t", "doc_id", "100", "220")
    assert(pruned.nonEmpty && pruned.size <= 3,
      s"zone maps did not skip: ${pruned.size} of ${all.size} files")
    // the pruned read still returns exactly the filtered rows
    val n = cat.scan(spark, "t").where("doc_id BETWEEN 100 AND 220").count()
    assert(n === 121L)
    // an out-of-range scan opens nothing and reads empty
    assert(cat.pruneFiles("t", "doc_id", "5000", "6000").isEmpty)
    assert(cat.scan(spark, "t").where("doc_id BETWEEN 5000 AND 6000").count() === 0L)
    // a stats-less commit (plain commit) falls back to keeping every file
    cat.commit(df, "t")
    assert(cat.pruneFiles("t", "doc_id", "100", "220").size >= 8)
  }

  test("catalog metadata-only aggregation: answers after data deletion; refuses incomplete sidecars") {
    import java.nio.file.{Files, Paths}
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val df = spark.range(0, 1000).selectExpr("id + 5 AS doc_id",
      // one all-null file: ids 0..124 land in the first range partition
      "CASE WHEN id < 125 THEN CAST(NULL AS BIGINT) ELSE id END AS v")
      .repartitionByRange(8, col("doc_id"))
    cat.commitWithStats(df, "t", Seq("doc_id", "v"))
    // equality with the real scan while the data still exists
    assert(cat.statsAgg("t", "doc_id") === Some((Some("5"), Some("1004"), 1000L)))
    // min skips the all-null file (SQL min/max semantics) but count(*) keeps it
    assert(cat.statsAgg("t", "v") === Some((Some("125"), Some("999"), 1000L)))
    // the proof the path is metadata-only: delete every data file — the
    // sidecar must still answer, because it never opens them
    val dataFiles = filesAt(cat, cat.currentSnapshot("t").get).map(_.stripPrefix("file:"))
    dataFiles.foreach(f => Files.delete(Paths.get(f)))
    assert(cat.statsAgg("t", "doc_id") === Some((Some("5"), Some("1004"), 1000L)))
    // a stats-less append advances CURRENT without a sidecar → the catalog
    // refuses the metadata answer rather than returning stale totals
    val df2 = spark.range(2000, 2100).selectExpr("id AS doc_id", "id AS v")
    cat.append(df2, "t")
    assert(cat.statsAgg("t", "doc_id").isEmpty)
    intercept[IllegalStateException](cat.statsAggDF(spark, "t", "doc_id"))
  }

  test("catalog schema evolution: a metadata commit mixing old and new file schemas reads merged") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val ss = spark
    import ss.implicits._
    val s1 = cat.commit(Seq((1, "a"), (2, "b")).toDF("id", "v"), "t")
    val s2 = cat.commit(Seq((3, "c", 9L)).toDF("id", "v", "extra"), "t")
    val f1 = filesAt(cat, s1).map(_.stripPrefix("file:"))
    val f2 = filesAt(cat, s2).map(_.stripPrefix("file:"))
    cat.commitFiles((f1 ++ f2).toSeq, "t")
    val merged = cat.read(spark, "t")
    assert(merged.columns.sorted.toSeq === Seq("extra", "id", "v"))
    assert(merged.count() === 3)
    assert(merged.where(col("extra").isNull).count() === 2, "pre-widening rows surface nulls")
    assert(merged.where(col("extra") === 9L).count() === 1)
  }

  test("lineage rows cover every non-empty partition with positive throughput") {
    val acc = spark.sparkContext.collectionAccumulator[LineageRow]("lin-test")
    ExtractJob.extract(Pages.synthesize(spark, sfDir), "t", 6, acc).toDF().count()
    val rows = scala.jdk.CollectionConverters.ListHasAsScala(acc.value).asScala
    assert(rows.nonEmpty && rows.map(_.docs).sum === 500)
    assert(rows.forall(r => r.bytes_per_sec > 0 && r.state_histogram.nonEmpty))
  }

  test("SQL surface: html_main_text / html_text / html_tag_count expressions") {
    graft.functions.HtmlFunctions.register(spark)
    Pages.synthesize(spark, sfDir).toDF().createOrReplaceTempView("pages_v")
    val out = spark.sql(
      """SELECT p.url, html_main_text(p.html) AS m, html_text(p.html) AS f, html_tag_count(p.html) AS t
        |FROM pages_v p""".stripMargin)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("concat('https://example.com/', lang, '/', source, '/doc', doc_id, '/v0') as url", "text")
    val j = out.join(docs, "url")
    assert(j.count() === 500)
    assert(j.where(col("m") =!= col("text")).count() === 0)
    assert(j.where(col("t") <= 0).count() === 0)
    assert(j.where(length(col("f")) < length(col("m"))).count() === 0)
    // title metadata from pure SQL: render puts "Doc <id> - <source>" in head
    val ti = spark.sql("SELECT url, html_title(html) AS ti FROM pages_v")
      .join(spark.read.parquet(s"$sfDir/documents.parquet")
        .selectExpr("concat('https://example.com/', lang, '/', source, '/doc', doc_id, '/v0') as url",
          "concat('Doc ', doc_id, ' - ', source) AS want"), "url")
    assert(ti.where(col("ti") =!= col("want")).count() === 0)
    // the span/error arrays are reachable from pure SQL too
    val sp = spark.sql(
      """SELECT html_spans(html) AS sp, html_errors(html) AS er FROM pages_v""")
    assert(sp.where(size(col("sp")) =!= 1).count() === 0)
    assert(sp.where(size(col("er")) =!= 0).count() === 0)
    assert(sp.selectExpr("sp[0].path AS p").where(not(col("p").startsWith("/html/body/"))).count() === 0)
    // link + Open Graph captures from pure SQL: the media corpus plants an
    // og:title on every page and a pair of og:image on doc_id % 3 == 0
    Pages.synthesizeMediaPages(spark, sfDir).toDF().createOrReplaceTempView("media_v")
    val og = spark.sql(
      """SELECT url, html_og(html) AS og, html_links(html) AS lk FROM media_v""")
    assert(og.where(size(col("og")) < 1).count() === 0, "og:title missing somewhere")
    assert(og.selectExpr("og[0].prop AS p").where(col("p") =!= "og:title").count() === 0)
    assert(og.where(size(col("og")) === 3).count() > 0, "no page carries the og:image pair")
  }

  test("file-backed lineage records input files and row ranges") {
    val dir = tmp()
    Pages.synthesize(spark, sfDir).write.mode("overwrite").parquet(s"$dir/pages")
    val acc = spark.sparkContext.collectionAccumulator[LineageRow]("lin-files")
    ExtractJob.extractFiles(spark.read.parquet(s"$dir/pages"), "tf", acc).toDF().count()
    val rows = scala.jdk.CollectionConverters.ListHasAsScala(acc.value).asScala
    assert(rows.nonEmpty && rows.map(_.docs).sum === 500)
    assert(rows.forall(_.input_file.contains("pages")), "every partition names its parquet source")
    assert(rows.forall(r => r.row_range.hi - r.row_range.lo + 1 === r.docs))
    // ranges are disjoint across partitions (monotonic-id convention)
    val sorted = rows.toSeq.sortBy(_.row_range.lo)
    assert(sorted.sliding(2).forall {
      case Seq(a, b) => a.row_range.hi < b.row_range.lo
      case _ => true
    })
  }

  test("per-task byte cap bounds pathological splits with lineage-visible loss") {
    val ss = spark
    import ss.implicits._
    // one split of 64 x 256 KiB pages; cap the task at ~4 MiB
    val big = "x" * 262144
    val pages = ss.createDataset((0 until 64).map(i =>
      PageRow(s"https://big/$i", new java.sql.Timestamp(0L), s"<p>$big</p>".getBytes("UTF-8"), null, null)
    )).repartition(1)
    val acc = ss.sparkContext.collectionAccumulator[LineageRow]("lin-cap")
    val out = ExtractJob.extract(pages, "cap", 1, acc, maxTaskBytes = 4L << 20).collect()
    val rows = scala.jdk.CollectionConverters.ListHasAsScala(acc.value).asScala
    assert(out.length === 64)
    val capped = out.filter(_.errors.contains("TASK_BYTE_CAP"))
    assert(capped.nonEmpty, "cap fired")
    assert(capped.forall(e => e.main_text.isEmpty && e.truncated))
    // extraction work actually done stays within cap + one page
    val extractedBytes = out.filterNot(_.errors.contains("TASK_BYTE_CAP")).map(_.bytes_in).sum
    assert(extractedBytes <= (4L << 20) + 300000L)
    assert(rows.map(_.capped_rows).sum === capped.length.toLong)
  }

  test("minhash LSH finds planted near-dups with high recall") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val pairs = graft.operators.Dedup.minhashLsh(docs).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val planted = (0L until 500L by 10).map(id => (id, id + 1000000L)).toSet
    val recall = planted.count(pairs.contains).toDouble / planted.size
    assert(recall >= 0.8, s"recall=$recall")
  }

  test("simhash finds planted near-dups") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val pairs = graft.operators.Dedup.simhash(docs).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val planted = (0L until 500L by 10).map(id => (id, id + 1000000L)).toSet
    val recall = planted.count(pairs.contains).toDouble / planted.size
    assert(recall >= 0.6, s"recall=$recall")
  }

  test("LSH ANN recall against brute-force ground truth") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val exact = graft.operators.Ann.bruteForceTopK(emb).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nbr_id"))).toSet
    val approx = graft.operators.Ann.lshTopK(emb).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nbr_id"))).toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    // corpus-sized bucket count (autoBits) + multi-probe to hamming 2
    assert(recall >= 0.5, s"recall=$recall")
  }

  test("simhash caps degenerate buckets: mass-identical docs complete with bounded pairs") {
    val s = spark
    import s.implicits._
    // 1,000 identical docs = one signature = 4 hot buckets of 1,000 → an
    // uncapped self-join would emit ~500k pairs; the cap drops the bucket
    val hot = (0L until 1000L).map(i => (i, "the same exact sentence repeated verbatim every time"))
    val docs = hot.toDF("doc_id", "text")
    val out = graft.operators.Dedup.simhash(docs, maxBucket = 64)
    assert(out.count() === 0L)
  }

  test("cosineNearDups caps degenerate buckets and still finds planted dups elsewhere") {
    val s = spark
    import s.implicits._
    def vec(seed: Long): Array[Float] = {
      val m = new graft.spark.Mix(seed)
      Array.fill(64)((m.next() >>> 11).toFloat / (1L << 53).toFloat - 0.5f)
    }
    val hotVec = vec(1L)
    // 600 identical vectors on odd ids (never planted; one hot bucket whose
    // uncapped self-join would emit ~180k pairs) + 50 distinct vectors on
    // ids % 10 == 0 (each gets a planted +1,000,000 twin)
    val rows = (100001L until 101201L by 2).map(i => (i, hotVec)) ++
      (0L until 50L).map(i => (i * 10, vec(100 + i)))
    val emb = rows.toDF("vec_id", "embedding")
    val pairs = graft.operators.Ann.cosineNearDups(emb, maxBucket = 128).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val planted = (0L until 50L).map(i => (i * 10, i * 10 + 1000000L))
    // twins landing in the hot bucket are dropped with it; everything in the
    // other ~15 buckets must survive — expect well over half
    assert(planted.count(pairs.contains) >= 25, s"found=${planted.count(pairs.contains)}")
    assert(pairs.size < 5000, s"degenerate bucket not capped: ${pairs.size} pairs")
  }

  test("meta-blocking: CBS prune kills single-shared-block pairs, df purge kills unique blocks — hand-exact") {
    val s = spark
    import s.implicits._
    // doc1/doc2 share 3 shingles (abc, bcd, cde; def is df=1 → purged);
    // doc3 shares only abc with each → cbs 1 < 2 → pruned before comparison
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e"),
      (3L, "x y z w a b c")).toDF("doc_id", "text")
    val out = graft.operators.Dedup.metaBlockingPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq((1L, 2L, 3L, 3L)),
      "exactly the (1,2) pair with inter=3, uni=3 over the purged block sets")
  }

  test("semDedup: planted twins lose to min-id keepers, originals keep, deterministic, clusters bounded") {
    val s = spark
    import s.implicits._
    def vec(seed: Long): Array[Float] = {
      val m = new graft.spark.Mix(seed)
      Array.fill(64)((m.next() >>> 11).toFloat / (1L << 53).toFloat - 0.5f)
    }
    // 40 well-separated base vectors; every 4th gets an exact twin at
    // +1,000,000 — identical vectors share a nearest centroid, so every
    // twin must be killed and every original kept
    val rows = (0L until 40L).map(i => (i, vec(7 + i))) ++
      (0L until 40L by 4).map(i => (i + 1000000L, vec(7 + i)))
    val emb = rows.toDF("vec_id", "embedding")
    def run() = graft.operators.Ann.semDedup(emb, nlist = 8, nHint = 50L).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val out = run()
    assert(out.length === 50)
    val keep = out.map(r => r._1 -> r._3).toMap
    for (i <- 0L until 40L by 4) {
      assert(keep(i + 1000000L) === 0, s"twin of $i not killed")
      assert(keep(i) === 1, s"original $i wrongly killed")
    }
    // separated non-twin vectors all keep
    assert(out.count(_._3 == 1) === 40)
    // clusters bounded by nlist; rerun is bit-identical (deterministic k-means)
    assert(out.forall(r => r._2 >= 0 && r._2 < 8))
    assert(run().toSeq === out.toSeq)
  }

  test("semDedup multi-probe catches the cross-cluster boundary twin single-probe misses") {
    val s = spark
    import s.implicits._
    val dim = 64
    def unit(d: Int, scale: Float = 1f) = { val a = new Array[Float](dim); a(d) = scale; a }
    def plus(a: Array[Float], b: Array[Float]) =
      a.zip(b).map { case (x, y) => x + y }
    // two well-defined clusters around e0 and e1 (init = the 2 lowest ids,
    // so vec 0 / vec 1 seed them); intra-cluster jitter 0.4 on disjoint
    // dims keeps members mutually BELOW the 0.95 twin threshold
    // (cos = 1/(1+0.16) ≈ 0.86); the twins sit on the decision boundary
    // u = (e0+e1)/√2, nudged 0.1 toward opposite centroids — cos(t1,t2)
    // ≈ 0.99 ≥ thr, but their PRIMARY clusters differ
    val r = (1.0 / math.sqrt(2.0)).toFloat
    val u = plus(unit(0, r), unit(1, r))
    val t1 = plus(u, unit(0, 0.1f))
    val t2 = plus(u, unit(1, 0.1f))
    val rows = Seq((0L, unit(0)), (1L, unit(1))) ++
      (0 until 20).map(i => ((2 + i).toLong, plus(unit(0), unit(2 + i, 0.4f)))) ++
      (0 until 20).map(i => ((22 + i).toLong, plus(unit(1), unit(22 + i, 0.4f)))) ++
      Seq((100L, t1), (101L, t2))
    val emb = rows.toDF("vec_id", "embedding")
    def run(np: Int) = graft.operators.Ann
      .semDedup(emb, thr = 0.95, nlist = 2, nHint = 44L, nProbe = np)
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getInt(2)))
    val single = run(1)
    val sc = single.map(x => x._1 -> x._2).toMap
    val sk = single.map(x => x._1 -> x._3).toMap
    assert(sc(100L) !== sc(101L), "fixture must split the twins across primary clusters")
    assert(sk(100L) === 1 && sk(101L) === 1,
      "single-probe is blind to the boundary pair — the paper's documented trade")
    val multi = run(2)
    val mk = multi.map(x => x._1 -> x._3).toMap
    assert(mk(100L) === 1 && mk(101L) === 0, "multi-probe must kill the larger-id twin")
    // probing changes CANDIDATES only: primary assignments identical, no
    // other vector affected, rerun bit-identical; candidate volume is
    // nProbe × n by construction (each vector emits exactly min(nProbe,
    // nlist) probe rows)
    assert(multi.map(x => x._1 -> x._2).toMap === sc)
    assert(multi.count(_._3 == 0) === 1)
    assert(run(2).toSeq === multi.toSeq)
  }

  test("IVF-PQ ANN recall against brute-force ground truth, deterministic") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val exact = graft.operators.Ann.bruteForceTopK(emb).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nbr_id"))).toSet
    def run() = graft.operators.Ann.ivfPqTopK(emb).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nbr_id"))).toSet
    val approx = run()
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall")
    // quantization is deterministic end-to-end (sample init, fixed iters,
    // id tie-breaks): a rerun returns the identical neighbor set
    assert(run() === approx)
  }

  test("IVF ANN recall against brute-force ground truth") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val exact = graft.operators.Ann.bruteForceTopK(emb).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nbr_id"))).toSet
    val approx = graft.operators.Ann.ivfTopK(emb).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nbr_id"))).toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall")
  }

  test("IVF trainer: 90%-hot cluster trains via partial aggregation, no straggler materialization") {
    val s = spark
    import s.implicits._
    def vec(seed: Long): Array[Float] = {
      val m = new graft.spark.Mix(seed)
      Array.fill(64)((m.next() >>> 11).toFloat / (1L << 53).toFloat - 0.5f)
    }
    // adversarial skew: 90% of vectors identical (one giant cluster) — the
    // round-2 mapGroups update would buffer all of them in ONE task; the
    // partial-aggregation update reduces (cluster → sum,count) partials
    val hot = vec(7L)
    val rows = (0L until 4500L).map(i => (i + 100L, hot)) ++
      (0L until 500L).map(i => (i * 31 + 10000L, vec(i)))
    val emb = rows.toDF("vec_id", "embedding").repartition(8)
    val cents = graft.operators.Ann.ivfTrain(emb, nlist = 8, iters = 3)
    assert(cents.length === 8)
    assert(cents.forall(c => c.forall(x => !x.isNaN && !x.isInfinite)))
    // the hot point must be (numerically) one of the centroids
    val hotD = hot.map(_.toDouble)
    val best = cents.map(c => c.zip(hotD).map { case (a, b) => (a - b) * (a - b) }.sum).min
    assert(best < 1e-6, s"hot cluster centroid off by $best")
  }

  test("IVF sample-based training keeps recall on the real corpus") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val exact = graft.operators.Ann.bruteForceTopK(emb).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nbr_id"))).toSet
    val approx = graft.operators.Ann.ivfTopK(emb, trainFraction = 0.5).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nbr_id"))).toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall (trained on a 50% sample)")
  }

  test("as-of join: equal-ts snapshot matches, later snapshots don't, no-match rows drop") {
    val s = spark
    import s.implicits._
    val left = Seq(
      (1L, 100L, 10L), // before any snapshot → dropped
      (1L, 200L, 11L), // equal ts → snapshot 90 matches
      (1L, 250L, 12L), // between → still 90
      (1L, 300L, 13L), // equal to second snapshot → 91
      (2L, 500L, 20L)  // other key, after its snapshot → 95
    ).toDF("user_id", "ts_us", "event_id")
    val right = Seq(
      (1L, 200L, 90L), (1L, 300L, 91L), (1L, 400L, 92L), (2L, 450L, 95L)
    ).toDF("user_id", "ts_us", "snap_id")
    val out = graft.operators.AsOf.asOfJoin(left, right, "user_id", "ts_us", "event_id", "snap_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._2)
    assert(out.toSeq === Seq((1L, 11L, 90L), (1L, 12L, 90L), (1L, 13L, 91L), (2L, 20L, 95L)))
  }

  test("forward as-of join: equal-ts matches, earlier snapshots don't, trailing rows drop") {
    val s = spark
    import s.implicits._
    val left = Seq(
      (1L, 100L, 10L), // before first snapshot → 90 (the NEXT one)
      (1L, 200L, 11L), // equal ts → 90 matches (ties match forward too)
      (1L, 250L, 12L), // between → 91
      (1L, 450L, 13L), // after the last snapshot → dropped
      (2L, 400L, 20L)  // other key, before its snapshot → 95
    ).toDF("user_id", "ts_us", "event_id")
    val right = Seq(
      (1L, 200L, 90L), (1L, 300L, 91L), (1L, 400L, 92L), (2L, 450L, 95L)
    ).toDF("user_id", "ts_us", "snap_id")
    val out = graft.operators.AsOf.asOfJoinForward(left, right, "user_id", "ts_us", "event_id", "snap_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._2)
    assert(out.toSeq === Seq((1L, 10L, 90L), (1L, 11L, 90L), (1L, 12L, 91L), (2L, 20L, 95L)))
  }

  test("as-of ties: duplicate right rows at one (key, ts) resolve to the greatest id, any partitioning") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, 150L, 10L), (1L, 50L, 11L)).toDF("user_id", "ts_us", "event_id")
    val right = Seq((1L, 100L, 7L), (1L, 100L, 8L)).toDF("user_id", "ts_us", "snap_id")
    for (parts <- Seq(1, 7)) {
      val b = graft.operators.AsOf.asOfJoin(
        left.repartition(parts), right.repartition(parts), "user_id", "ts_us", "event_id", "snap_id")
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
      assert(b == Set((10L, 8L)), s"backward tie at parts=$parts: $b")
      val f = graft.operators.AsOf.asOfJoinForward(
        left.repartition(parts), right.repartition(parts), "user_id", "ts_us", "event_id", "snap_id")
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
      assert(f == Set((11L, 8L)), s"forward tie at parts=$parts: $f")
    }
  }

  test("range join: bounds inclusive, gap rows drop, later interval wins") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (1L, 99L, 10L),  // before first interval → drop
      (1L, 100L, 11L), // at start bound → s100
      (1L, 150L, 12L), // inside → s100
      (1L, 200L, 13L), // at end bound → s100
      (1L, 250L, 14L), // in the gap → drop
      (1L, 300L, 15L)  // second interval start → s300
    ).toDF("user_id", "ts_us", "event_id")
    val ivals = Seq((1L, 100L, 200L, 100L), (1L, 300L, 400L, 300L))
      .toDF("user_id", "session_start_us", "session_end_us", "sid")
    val out = graft.operators.AsOf.rangeJoinNonOverlapping(rows, ivals, "user_id",
      "ts_us", "session_start_us", "session_end_us", "event_id", "sid")
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(out.toSeq === Seq((11L, 100L), (12L, 100L), (13L, 100L), (15L, 300L)))
  }

  test("embedding near-dup pairs include every planted duplicate vector") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val pairs = graft.operators.Ann.cosineNearDups(emb).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val planted = (0L until 500L by 10).map(id => (id, id + 1000000L)).toSet
    assert(planted.subsetOf(pairs))
  }

  test("decontamination flags exactly the docs sharing an 8-gram with the eval slice") {
    val s = spark
    import s.implicits._
    // doc 0: eval (0 % 50 == 0). doc 7: a 10-word doc embedding doc 0's
    // words 1-8 → contaminated (3 shared 8-grams: offsets 0,1,2 of the
    // shared span... actually exactly the grams fully inside the copied
    // window). doc 8: disjoint vocabulary → clean.
    val evalWords = (0 until 12).map(i => s"e$i")
    val contam = ("x" +: evalWords.slice(1, 9)) :+ "y" // e1..e8 inside
    val clean = (0 until 10).map(i => s"c$i")
    val docs = Seq(
      (0L, evalWords.mkString(" ")),
      (7L, contam.mkString(" ")),
      (8L, clean.mkString(" "))
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.decontaminate(docs, n = 8, evalMod = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.contains(7L), s"contaminated doc not flagged: $out")
    assert(out(7L) == 1L, s"exactly one shared 8-gram (e1..e8): $out")
    assert(!out.contains(8L), "clean doc wrongly flagged")
    assert(!out.contains(0L), "eval docs are not training docs")
  }

  test("repetition stats: top word/bigram counts on a crafted repetitive doc") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "spam spam spam eggs spam"), // 5 words, 2 distinct, top word 4, top bigram "spam spam" ×2
      (2L, "one")                       // single word → no bigrams
    ).toDF("doc_id", "text")
    val out = graft.operators.TextOps.repetitionStats(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(out(1L) == ((5L, 2L, 4L, 2L, 0.8)))
    assert(out(2L) == ((1L, 1L, 1L, 0L, 1.0)))
  }

  test("gopher rules: bounds, symbol ratios and alpha fraction gate as a conjunction") {
    val s = spark
    import s.implicits._
    val good = (0 until 60).map(i => s"word${i % 7}").mkString(" ") // 60 words, all alpha, len 5-6
    val docs = Seq(
      (1L, good),                                        // passes every rule
      (2L, "too short to pass"),                         // n_words < 50
      (3L, good + " " + Seq.fill(10)("#").mkString(" ")), // 70 words, 10 '#' → ratio 1/7 ≥ 0.1
      (4L, good + " " + Seq.fill(10)("...").mkString(" ")), // ellipsis ratio ≥ 0.1
      (5L, (0 until 60).map(i => s"$i").mkString(" ")),  // digits only → alpha frac 0
      (6L, Seq.fill(60)("ab").mkString(" "))             // mean word len 2 < 3
    ).toDF("doc_id", "text")
    val out = graft.operators.TextOps.gopherRules(docs)
      .collect().map(r => r.getLong(0) -> r.getInt(6)).toMap
    assert(out == Map(1L -> 1, 2L -> 0, 3L -> 0, 4L -> 0, 5L -> 0, 6L -> 0), s"got $out")
    // spot-check the metric columns on the crafted doc
    val r1 = graft.operators.TextOps.gopherRules(docs.filter($"doc_id" === 3L)).collect()(0)
    assert(r1.getLong(1) == 70L, "n_words")
    assert(r1.getLong(3) == 10L, "n_hash")
    assert(r1.getLong(5) == 60L, "n_alpha_words")
  }

  test("line dedup: host-frequent lines drop, rare lines keep document order") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a", "NAV\nunique one\nFOOT"),
      (2L, "a", "NAV\nunique two\nFOOT"),
      (3L, "a", "NAV\nunique three\nFOOT\nNAV"), // repeated line in ONE doc counts once
      (4L, "b", "NAV\nother host"),              // df(NAV@b)=2 < 3 → kept
      (5L, "b", "NAV"),                          // all lines chrome? no — kept on host b
      (6L, "a", "NAV\nFOOT")                     // every line chrome → empty clean_text
    ).toDF("doc_id", "host", "text")
    val out = graft.operators.TextOps.removeBoilerplateLines(docs, minDocs = 3)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == (("unique one", 1L, 2L)))
    assert(out(2L) == (("unique two", 1L, 2L)))
    assert(out(3L) == (("unique three", 1L, 3L)), "within-doc repeat must count one doc, both copies dropped")
    assert(out(4L) == (("NAV\nother host", 2L, 0L)), "frequency is per host")
    assert(out(5L) == (("NAV", 1L, 0L)))
    assert(out(6L) == (("", 0L, 2L)), "all-chrome doc survives with empty text")
  }

  test("compression ratio separates repetitive boilerplate from diverse text") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(42)
    val docs = Seq(
      (1L, "spam " * 2000),                                       // boilerplate
      (2L, Seq.fill(2000)(rng.alphanumeric.take(5).mkString).mkString(" ")), // diverse
      (3L, "")                                                    // empty edge
    ).toDF("doc_id", "text")
    val out = graft.operators.TextOps.compressionRatio(docs)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(1L) < 0.05, s"repetitive text must compress hard: ${out(1L)}")
    assert(out(2L) > 0.3, s"diverse text must not: ${out(2L)}")
    assert(out(3L) == 1.0)
    // determinism: identical input → identical ratio across runs
    val again = graft.operators.TextOps.compressionRatio(docs)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(again == out)
  }

  test("oov rate: tokens outside the top-k vocab count as OOV") {
    val s = spark
    import s.implicits._
    // vocab (k=2) = {"aa" ×4, "bb" ×3}; "zz"/"qq" are OOV
    val docs = Seq(
      (1L, "aa aa bb zz"),
      (2L, "aa aa bb bb qq zz")
    ).toDF("doc_id", "text")
    val out = graft.operators.TextOps.oovRate(docs, vocabSize = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == ((4L, 3L, 0.25)))
    assert(out(2L) == ((6L, 4L, 2.0 / 6.0)))
  }

  test("sequence packing: per-source prefix sums, bin boundaries at ctxLen") {
    val s = spark
    import s.implicits._
    // source "a": docs of 100 tokens start at 0, 100, 200 → all bin 0
    // (ctx 256); source "b" restarts its own prefix sum and its second doc
    // starts at 300 → bin 1, offset 44
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    val docs = Seq(
      (1L, "a", words(100)), (2L, "a", words(100)), (3L, "a", words(100)),
      (10L, "b", words(300)), (11L, "b", words(10))
    ).toDF("doc_id", "source", "text")
    val out = graft.operators.TextOps.packSequences(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out(1L) == ((100L, 0L, 0L)))
    assert(out(2L) == ((200L, 0L, 100L)))
    assert(out(3L) == ((300L, 0L, 200L)))
    assert(out(10L) == ((300L, 0L, 0L)), "source b restarts")
    assert(out(11L) == ((310L, 1L, 44L)))
  }

  test("temperature sampling: rates flatten toward the smallest source, min source keeps all") {
    val s = spark
    import s.implicits._
    val docs = ((0L until 400L).map(i => (i, "big")) ++ (1000L until 1100L).map(i => (i, "small")))
      .toDF("doc_id", "source")
    val out = graft.operators.TextOps.temperatureSample(docs)
    val rates = out.select("source", "keep_rate").distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rates == Map("big" -> 50L, "small" -> 100L), s"got $rates") // floor(100*sqrt(100/400)) = 50
    val kept = out.groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("small") == 100L, "the smallest source must keep every doc")
    assert(kept("big") > 140 && kept("big") < 260, s"big-source keep count off: ${kept("big")}")
  }

  test("line dedup: one line repeated across 10^5 docs of a host stays an agg key") {
    val s = spark
    import s.implicits._
    val docs = (0L until 100000L).map(i => (i, "h", s"CHROME EVERYWHERE\nunique $i"))
      .toDF("doc_id", "host", "text")
    val out = graft.operators.TextOps.removeBoilerplateLines(docs, minDocs = 3)
    assert(out.count() == 100000L)
    val r = out.where(col("doc_id") === 42L).collect()(0)
    assert(r.getString(1) == "unique 42" && r.getLong(2) == 1L && r.getLong(3) == 1L)
  }

  test("dup fraction: covered-word share per doc, clean docs report zero") {
    val s = spark
    import s.implicits._
    val shared = (0 until 8).map(i => s"dup$i").mkString(" ")
    val docs = Seq(
      (1L, shared + " " + (0 until 8).map(i => s"a$i").mkString(" ")), // 16 words, 8 dup
      (2L, shared + " " + (0 until 8).map(i => s"b$i").mkString(" ")), // 16 words, 8 dup
      (3L, (0 until 16).map(i => s"c$i").mkString(" "))                // clean
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.dupFraction(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == ((16L, 8L, 0.5)))
    assert(out(2L) == ((16L, 8L, 0.5)))
    assert(out(3L) == ((16L, 0L, 0.0)))
  }

  test("script mix: per-script counts and dominant script with deterministic ties") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "abc де" + "中中中"),  // latin 3, cyr 2, cjk 3 → tie latin/cjk → latin
      (2L, "яяяя ab"),            // cyr 4 > latin 2
      (3L, "中中中 a")             // cjk 3 > latin 1
    ).toDF("doc_id", "text")
    val out = graft.operators.TextOps.scriptMix(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))).toMap
    assert(out(1L) == ((3L, 2L, 3L, "latin")))
    assert(out(2L) == ((2L, 4L, 0L, "cyrillic")))
    assert(out(3L) == ((1L, 0L, 3L, "cjk")))
  }

  test("winnow: selections cover every window, hashes verifiable, rightmost ties") {
    val s = spark
    import s.implicits._
    val k = 4; val w = 4
    // doc 1: 20 distinct words; doc 2: one word repeated (all gram hashes
    // equal -> every window's min is its RIGHTMOST position); doc 3: too short
    val docs = Seq(
      (1L, (0 until 20).map(i => s"w${i * 7 % 13}x$i").mkString(" ")),
      (2L, Array.fill(10)("same").mkString(" ")),
      (3L, "only three words")
    ).toDF("doc_id", "text")
    val sel = graft.operators.TextOps.winnow(docs, k, w)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(!sel.exists(_._1 == 3L))
    // recompute gram hashes the oracle way and check selected (pos, gh) pairs
    def gh32(g: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      java.lang.Long.parseLong(
        md.digest(g.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString, 16)
    }
    for ((id, text) <- Seq(1L -> (0 until 20).map(i => s"w${i * 7 % 13}x$i").mkString(" "),
                           2L -> Array.fill(10)("same").mkString(" "))) {
      val ws = text.split(' ')
      val grams = (0 to ws.length - k).map(i => ws.slice(i, i + k).mkString(" "))
      val keys = grams.zipWithIndex.map { case (g, p) =>
        gh32(g) * 2147483648L + (2147483647L - p)
      }
      val expect = (0 until grams.length).map { i =>
        keys.slice(i, math.min(i + w, keys.length)).min
      }.distinct.map(kk => (id, (2147483647L - kk % 2147483648L).toInt, kk / 2147483648L)).toSet
      val got = sel.filter(_._1 == id).toSet
      assert(got == expect, s"doc $id: $got vs $expect")
      // coverage: every full window of w gram positions holds a selection
      val ps = got.map(_._2)
      for (i <- 0 to grams.length - w)
        assert((i until i + w).exists(ps.contains), s"window $i uncovered")
    }
    // all-equal hashes -> rightmost of each window: positions w-1..n_grams-1
    assert(sel.filter(_._1 == 2L).map(_._2).sorted.toSeq == (k - 1 until 7).toSeq)
  }

  test("frontier: bloom split emits exactly the unseen urls, exact under forced FPs") {
    val s = spark
    import s.implicits._
    val seen = (0 until 300).map(i => s"u$i").toDF("url")
    val cand = ((0 until 300).map(i => s"u${i * 2}") ++ // half seen, half beyond
      (0 until 100).map(i => s"fresh$i") ++ (0 until 100).map(i => s"fresh$i")).toDF("url")
    // expectedSeen=8 drastically undersizes the bloom -> heavy false
    // positives; the exact verify join must keep the answer identical
    val out = graft.operators.Crawl.frontier(cand, seen, expectedSeen = 8, fpp = 0.5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = ((150 until 300).map(i => s"u${i * 2}" -> 1L) ++
      (0 until 100).map(i => s"fresh$i" -> 2L)).toMap
    assert(out == expect)
  }

  test("len quantiles: type-7 interpolation matches hand computation") {
    val s = spark
    import s.implicits._
    val docs = (1 to 5).map(n => (n.toLong, "en", "x" * n)) :+ ((6L, "de", "yy"))
    val out = graft.operators.TextOps.lenQuantiles(
      docs.toDF("doc_id", "lang", "text"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    // en lengths [1,2,3,4,5]; expected via the identical two-rounding
    // IEEE sequence: r=(n-1)*q, lo+(hi-lo)*(r-floor(r))
    def q7(vals: IndexedSeq[Long], q: Double): Double = {
      val r = (vals.length - 1L) * q
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, vals.length - 1)
      vals(lo) + (vals(hi) - vals(lo)) * (r - math.floor(r))
    }
    val en = IndexedSeq(1L, 2L, 3L, 4L, 5L)
    assert(out("en") == ((q7(en, 0.25), q7(en, 0.5), q7(en, 0.75), q7(en, 0.9), q7(en, 0.99))))
    assert(out("en")._2 == 3.0 && out("en")._1 == 2.0)
    val de = out("de")
    assert(de == ((2.0, 2.0, 2.0, 2.0, 2.0))) // single-value group: all quantiles = value
  }

  test("sentences: multi-delimiter split, pre-filter index, word counts") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "One two. Three! Four five six? Tail"),
      (2L, "no punctuation here"),
      (3L, "ends with bang! ")
    ).toDF("doc_id", "text")
    val out = graft.operators.TextOps.sentences(docs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3))).toSet
    assert(out == Set(
      (1L, 0, "One two", 2L), (1L, 1, "Three", 1L),
      (1L, 2, "Four five six", 3L), (1L, 3, "Tail", 1L),
      (2L, 0, "no punctuation here", 3L),
      (3L, 0, "ends with bang", 3L))) // trailing '! ' is a delimiter -> empty tail segment filtered
  }

  test("bucketed tables: roundtrip preserves rows, join result exact") {
    val s = spark
    import s.implicits._
    val left = (1L to 100L).map(i => (i, s"l$i")).toDF("doc_id", "lang")
    val right = (1L to 100L).map(i => (i, i * 2)).toDF("doc_id", "n_tokens")
    graft.spark.Bucketing.writeBucketed(left, "bt_l", "/tmp/graft_bucketed_spec/l", "doc_id", 4)
    graft.spark.Bucketing.writeBucketed(right, "bt_r", "/tmp/graft_bucketed_spec/r", "doc_id", 4)
    val joined = s.table("bt_l").join(s.table("bt_r"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(joined == (1L to 100L).map(i => (i, s"l$i", i * 2)).toSet)
    // overwrite is idempotent (the contract-query path rewrites per run)
    graft.spark.Bucketing.writeBucketed(left, "bt_l", "/tmp/graft_bucketed_spec/l", "doc_id", 4)
    assert(s.table("bt_l").count() == 100L)
  }

  test("crawl diff: added/removed/changed/unchanged classification") {
    val s = spark
    import s.implicits._
    val old = Seq(("u1", "same"), ("u2", "before"), ("u3", "gone")).toDF("url", "text")
    val neu = Seq(("u1", "same"), ("u2", "after"), ("u4", "fresh")).toDF("url", "text")
    val out = graft.operators.Crawl.crawlDiff(old, neu)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("u1" -> "unchanged", "u2" -> "changed", "u3" -> "removed", "u4" -> "added"))
  }

  test("fetch schedule: per-host slots by url order, delays from policy with default") {
    val s = spark
    import s.implicits._
    val frontier = Seq(("a", "u2"), ("a", "u1"), ("a", "u3"), ("b", "v1"), ("b", "v2"))
      .toDF("host", "url")
    val policies = Seq(("a", 5L)).toDF("host", "crawl_delay_s") // b falls back to 1s
    val out = graft.operators.Crawl.fetchSchedule(frontier, policies)
      .collect().map(r => r.getString(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out == Map(
      "u1" -> ((0L, 0L)), "u2" -> ((1L, 5L)), "u3" -> ((2L, 10L)),
      "v1" -> ((0L, 0L)), "v2" -> ((1L, 1L))), s"got $out")
  }

  test("recrawl dedup: newest capture per url wins, ties break on version id") {
    val s = spark
    import s.implicits._
    val pages = Seq(
      ("u1", 10L, 100L), ("u1", 11L, 300L), ("u1", 12L, 200L), // newest ts wins
      ("u2", 20L, 100L), ("u2", 21L, 100L),                    // ts tie → max version_id
      ("u3", 30L, 50L)                                         // single capture
    ).toDF("url", "version_id", "ts")
    val out = graft.operators.Dedup.latestVersion(pages)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out == Map(
      "u1" -> ((11L, 300L, 3L)),
      "u2" -> ((21L, 100L, 2L)),
      "u3" -> ((30L, 50L, 1L))), s"got $out")
  }

  test("connected components: chains collapse to one cluster, islands stay apart") {
    val s = spark
    import s.implicits._
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val cc = graft.operators.Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L),
      s"got $cc")
  }

  test("null html bodies become error rows, never NPE'd tasks") {
    val s = spark
    import s.implicits._
    val pages = Seq(
      PageRow("https://n/ok", new java.sql.Timestamp(0L),
        "<p>fine content long enough</p>".getBytes("UTF-8"), null, "en"),
      PageRow("https://n/null", new java.sql.Timestamp(0L), null, null, "en")
    ).toDS()
    val out = ExtractJob.extract(pages, "nulls", 2).collect().map(r => r.url -> r).toMap
    assert(out("https://n/ok").main_text == "fine content long enough")
    assert(out("https://n/null").main_text == "" &&
      out("https://n/null").errors == Seq("NULL_HTML"))
  }

  test("url canonicalization: case, ports, dot segments, query sort, fragments") {
    import graft.operators.UrlOps.canonicalize
    assert(canonicalize("HTTP://Ex.COM:80/a/b/../c/./d.html?b=2&a=1#x")
      == "http://ex.com/a/c/d.html?a=1&b=2")
    assert(canonicalize("https://h:8080/x/") == "https://h:8080/x/", "non-default port + trailing slash kept")
    assert(canonicalize("https://h/a/../../b") == "https://h/b", ".. never climbs past root")
    assert(canonicalize("https://H.example.org") == "https://h.example.org/", "bare authority gets /")
    assert(canonicalize("foo/bar?b=1") == "foo/bar?b=1", "relative urls pass through")
    assert(canonicalize("https://h/p?a=2&a=1&A=3") == "https://h/p?A=3&a=2&a=1",
      "duplicate keys keep stable order; sort is byte-wise")
  }

  test("blocklist gate: domain rule beats keyword beats keep; unknown hosts pass") {
    import org.apache.spark.sql.functions.col
    val urls = spark.createDataFrame(Seq(
      (1L, "https://a.bad.com/x/track/click"), // domain AND keyword → domain wins
      (2L, "https://b.bad.com/clean"),         // domain only
      (3L, "https://c.fine.org/x/track/y"),    // keyword only
      (4L, "https://d.fine.org/clean"),        // keep
      (5L, "https://sub.deep.fine.org/p")      // registrable domain = fine.org
    )).toDF("doc_id", "url")
    val rules = spark.createDataFrame(Seq(("bad.com", "ads"))).toDF("reg_domain", "category")
    val out = graft.operators.UrlOps
      .blocklistGate(urls, rules, Seq("/track/" -> "tracker"))
      .collect().map(r => r.getLong(0) -> (r.getString(2), r.getString(3))).toMap
    assert(out(1L) == ("bad.com", "ads"), "domain rule must beat keyword")
    assert(out(2L) == ("bad.com", "ads"))
    assert(out(3L) == ("fine.org", "tracker"))
    assert(out(4L) == ("fine.org", "keep"))
    assert(out(5L) == ("fine.org", "keep"), "subdomains collapse to the registrable domain")
  }

  test("token-budget selection: greedy fill with overshoot, boundary exact, partition-invariant") {
    import graft.operators.TextOps
    // scores force order d3 > d1 > d2 > d4; tokens 5,4,3,2
    val docs = spark.createDataFrame(Seq(
      (1L, 50L, 4L), (2L, 40L, 3L), (3L, 60L, 5L), (4L, 30L, 2L)
    )).toDF("doc_id", "score", "n_tokens")
    def run(budget: Long, parts: Int) =
      TextOps.selectByTokenBudget(docs, budget, parts).collect()
        .map(r => r.getLong(0) -> r.getLong(3)).toMap
    // budget 9: d3 fills 5, d1 fills 9 exactly; d2's cum-before=9 → dropped
    assert(run(9L, 3) == Map(3L -> 5L, 1L -> 9L))
    // budget 10: d2 starts below budget → kept with overshoot to 12
    assert(run(10L, 3) == Map(3L -> 5L, 1L -> 9L, 2L -> 12L))
    // partition-count must not change the selection or the running sums
    assert(run(10L, 1) == run(10L, 7))
    // budget larger than the corpus keeps everything
    assert(run(100L, 2).keySet == Set(1L, 2L, 3L, 4L))
  }

  test("bm25: hand-computed integer scores — discriminative terms, idf 0 for every-doc words") {
    import graft.operators.TextOps
    // N=4, avgdl_centi=400. df: x=2 (|2df-N|=0), y=1 (2), common=4 (4) —
    // all 3 selected; 'common' idf_bits=0 so it scores nothing.
    // idf_bits: x -> bitlen(2048/3+1)-1 = 9; y -> bitlen(1537)-1 = 10.
    // tf comp (dl=4): tf=1 -> 17.6e6/17600 = 1000; tf=2 -> 35.2e6/25600 = 1375.
    val docs = spark.createDataFrame(Seq(
      (1L, "x x common common"), (2L, "x common common common"),
      (3L, "common common common common"), (4L, "y common common common")
    )).toDF("doc_id", "text")
    val out = TextOps.bm25TopDocs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(out === Seq((1L, 12375L, 1), (4L, 10000L, 2), (2L, 9000L, 3), (3L, 0L, 4)))
    // partitioning must not move a single score
    val out13 = TextOps.bm25TopDocs(docs.repartition(13)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(out13 === out)
  }

  test("bpe merges: classic low/lower run — tie order, greedy re-merge, early stop") {
    import graft.operators.TextOps
    // words: low x2, lower x1. pairs: (l,o)=3 ties (o,w)=3 -> 'l'<'o' picks
    // (l,o). then (lo,w)=3. then (low,e)=1 ties (e,r)=1 -> 'e'<'low' picks
    // (e,r). then (low,er)=1. then NO pairs remain -> stops at 4 of k=5.
    val docs = spark.createDataFrame(Seq(
      (1L, "low low"), (2L, "lower")
    )).toDF("doc_id", "text")
    val out = TextOps.bpeMerges(docs, k = 5).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(out === Seq(
      (1, "l", "o", 3L), (2, "lo", "w", 3L), (3, "e", "r", 1L), (4, "low", "er", 1L)))
  }

  test("bpe encode: token counts under the learned merges") {
    import graft.operators.TextOps
    // k=3 merges on this corpus: (l,o), (lo,w), (e,r) — 'low' is 1 token,
    // 'lower' is [low, er] = 2 (the 4th merge would fuse it; stopping at 3
    // keeps the partial segmentation visible); '42' is outside the vocab
    val docs = spark.createDataFrame(Seq(
      (1L, "low low"), (2L, "lower low 42")
    )).toDF("doc_id", "text")
    val out = TextOps.bpeEncode(docs, k = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out === Map(1L -> ((2L, 2L)), 2L -> ((3L, 2L))))
  }

  test("bpe: back-to-back pair occurrences both merge (two-pass application)") {
    import graft.operators.TextOps
    // 'mama' = ·m·a·m·a·: a single-pass replace of (m,a) consumes the
    // separator the second occurrence needs and leaves [ma, m, a]; the
    // two-pass application yields BPE's true [ma, ma]
    val docs = spark.createDataFrame(Seq((1L, "mama mama"))).toDF("doc_id", "text")
    val enc = TextOps.bpeEncode(docs, k = 1).collect().head
    assert(enc.getLong(1) === 4L, "expected [ma, ma] per word (4 total), not [ma, m, a] (6)")
    // and the 2nd learned merge is then (ma, ma) -> whole-word 'mama'
    val merges = TextOps.bpeMerges(docs, k = 3).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges === Seq(("m", "a"), ("ma", "ma")))
  }

  test("stats sidecar: DOUBLE bounds compare numerically; 'null'-string and tab values survive") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    // 10.2 > 9.5 numerically but "10.2" < "9.5" byte-wise
    val dbl = spark.createDataFrame(Seq((1L, 9.5), (2L, 10.25), (3L, 0.5)))
      .toDF("id", "score").repartition(3)
    cat.commitWithStats(dbl, "d", Seq("score"))
    assert(cat.statsAgg("d", "score") === Some((Some("0.5"), Some("10.25"), 3L)))
    // a literal "null" string value must not be conflated with SQL NULL,
    // and a tab inside a value must not corrupt the TSV parse
    val str = spark.createDataFrame(Seq((1L, "null"), (2L, "zz"), (3L, "a\tb")))
      .toDF("id", "v").repartition(1)
    cat.commitWithStats(str, "s", Seq("v"))
    assert(cat.statsAgg("s", "v") === Some((Some("a\tb"), Some("zz"), 3L)))
  }

  test("catalog incremental HLL: cumulative sidecar == union registers; data-free; broken chain refuses") {
    import java.nio.file.{Files, Paths}
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    def drop(lo: Long, hi: Long) = spark.range(lo, hi).selectExpr("id", "concat('v', id) AS v")
    cat.appendWithHll(drop(0, 600), "t", "v")
    cat.appendWithHll(drop(400, 1000), "t", "v") // 200-value overlap
    // the rolled-forward sidecar must equal the registers of the union
    val direct = graft.operators.Sketch.hllEstimate(
      graft.operators.Sketch.hllRegistersOf(drop(0, 600).union(drop(400, 1000)), "v"))
    assert(cat.hllDistinctStat("t", "v") === Some(direct))
    // ~1000 true distinct: estimate in the raw regime, within 10%
    assert(math.abs(direct._1 - 1000.0) / 1000.0 < 0.10, s"est=${direct._1}")
    // zero data files opened: delete everything, the sidecar still answers
    filesAt(cat, cat.currentSnapshot("t").get).map(_.stripPrefix("file:"))
      .foreach(f => Files.delete(Paths.get(f)))
    assert(cat.hllDistinctStat("t", "v") === Some(direct))
    // an append that bypasses the HLL path poisons the chain: later
    // estimates refuse rather than understate
    cat.append(drop(2000, 2100), "t")
    assert(cat.hllDistinctStat("t", "v").isEmpty)
    cat.appendWithHll(drop(2100, 2200), "t", "v")
    assert(cat.hllDistinctStat("t", "v").isEmpty, "poisoned chain must not self-heal silently")
  }

  test("appendBatch idempotence marker survives compaction and snapshot expiry") {
    val root = tmp()
    val cat = new ParquetSnapshotCatalog(root)
    val b0 = spark.createDataFrame(Seq((1L, "a"), (2L, "b"))).toDF("id", "v")
    assert(cat.appendBatch(b0, "t", 0L))
    // compact rewrites data into snap-addressed files — the CURRENT
    // manifest no longer mentions batch-0, but older manifests do
    cat.compact(spark, "t")
    assert(cat.batchCommitted("t", 0L), "marker lost after compaction")
    assert(!cat.appendBatch(b0, "t", 0L), "replay after compaction must skip")
    assert(cat.read(spark, "t").count() === 2)
    // expire everything but the compacted snapshot: the deleted manifests'
    // batch ids move to the ledger and the marker still holds
    cat.expireSnapshots("t", keepLast = 1)
    assert(cat.expiredBatches("t") === Set(0L))
    assert(cat.batchCommitted("t", 0L), "marker lost after snapshot expiry")
    assert(!cat.appendBatch(b0, "t", 0L))
    assert(cat.read(spark, "t").count() === 2)
  }

  test("host split: a host never straddles the boundary; split is stable under corpus growth") {
    import graft.operators.UrlOps
    def corpus(n: Long) = spark.createDataFrame(
      (0L until n).map(i => (i, s"host${i % 20}.example.com"))).toDF("doc_id", "host")
    val out = UrlOps.hostSplit(corpus(200), valPermille = 300).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(3)))
    // host-disjoint: every host maps to exactly one split, both splits live
    val perHost = out.groupBy(_._2).map { case (h, rs) => h -> rs.map(_._3).toSet }
    assert(perHost.values.forall(_.size == 1), "a host straddles the split boundary")
    assert(out.map(_._3).toSet === Set("train", "val"))
    // stability: doubling the corpus must not move any host's split —
    // the property that keeps yesterday's validation set valid tomorrow
    val grown = UrlOps.hostSplit(corpus(400), valPermille = 300).collect()
      .map(r => (r.getString(1), r.getString(3))).toMap
    assert(perHost.forall { case (h, s) => grown(h) == s.head })
  }

  test("dd quantiles: deterministic bucket collapse, <=11.1% one-sided error, partition-invariant") {
    import graft.operators.TextOps
    // token counts 1..1000 per lang; ceil ranks 500/900/990 hit values
    // 500/900/990, whose top-4-bit bucket lower bounds are 480/896/960 —
    // the EXACT deterministic outputs (and each within the 8/9 bound)
    def corpus(parts: Int) = spark.createDataFrame(
      (1 to 1000).map(k => (k.toLong, "xx", Seq.fill(k)("w").mkString(" ")))
    ).toDF("doc_id", "lang", "text").repartition(parts)
    def run(parts: Int) = TextOps.ddQuantiles(corpus(parts)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val a = run(4)
    assert(a === Set(("xx", 480L, 896L, 960L)), s"got $a")
    assert(480.0 / 500 > 8.0 / 9 && 896.0 / 900 > 8.0 / 9 && 960.0 / 990 > 8.0 / 9)
    assert(run(1) === a && run(13) === a)
  }

  test("lm perplexity: hand-computed add-one bigram surprisal, pruned model, 1-word docs absent") {
    import graft.operators.TextOps
    // corpus bigrams: (a,b)x3, (b,a), (b,c), (b,x); prefixes a:3 b:3;
    // model at minCount=2 keeps only (a,b) and both prefixes; V = 5
    // distinct words {a,b,c,x,z}. Surprisal q = ((c1+V)<<20) div (c12+1):
    // (a,b) -> (8<<20)/4 = 2^21 -> 1 bit (true -log2(4/8));
    // unseen bigrams with prefix b -> (8<<20)/1 = 2^23 -> 3 bits (1/8).
    val docs = spark.createDataFrame(Seq(
      (1L, "a b a b c"), (2L, "a b x"), (3L, "z")
    )).toDF("doc_id", "text")
    val out = TextOps.lmPerplexity(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out == Map(
      1L -> ((4L, 8L, 2000L)),  // bits 1+3+1+3
      2L -> ((2L, 4L, 2000L))   // bits 1+3; doc 3 has no bigrams
    ))
  }

  test("content filter: leftmost blocked word, clean docs keep, guard rails reject unsafe lists") {
    import graft.operators.TextOps
    val docs = spark.createDataFrame(Seq(
      (1L, "a vector then merge later"), // leftmost = vector
      (2L, "all clean words here"),
      (3L, "merge at the start"),
      (4L, "vectors is not vector")      // 'vectors' must NOT match; bare 'vector' does
    )).toDF("doc_id", "text")
    val out = TextOps.contentFilter(docs, Seq("merge", "vector")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(out(1L) == ("vector", 0))
    assert(out(2L) == ("", 1))
    assert(out(3L) == ("merge", 0))
    assert(out(4L) == ("vector", 0), "space-padded boundary must skip 'vectors'")
    intercept[IllegalArgumentException] {
      TextOps.contentFilter(docs, Seq("vec", "vector")) // prefix pair breaks parity
    }
    intercept[IllegalArgumentException] {
      TextOps.contentFilter(docs, Seq("a.b")) // regex metachars rejected
    }
  }

  test("quality-model inference: hand-computed integer scores, per-lang weights, threshold gate") {
    import graft.operators.TextOps
    val docs = spark.createDataFrame(Seq(
      (1L, "en", "the a the"),     // tokens=3 chars=9 stop=2 → 100+9+9+100 = 218
      (2L, "de", "der kurze satz") // tokens=3 chars=14 stop=0 → 200+6+14+0 = 220
    )).toDF("doc_id", "lang", "text")
    val w = spark.createDataFrame(Seq(
      ("en", 100L, 3L, 1L, 50L), ("de", 200L, 2L, 1L, 40L)))
      .toDF("lang", "w_bias", "w_tokens", "w_chars", "w_stop")
    val out = TextOps.qualityModelScore(docs, w, threshold = 220L).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getInt(3))).toMap
    assert(out(1L) == (218L, 0), s"en doc: ${out(1L)}")
    assert(out(2L) == (220L, 1), s"de doc: ${out(2L)}")
  }

  test("dsir weights: target-aligned docs outscore disjoint docs; integer-exact and partition-independent") {
    import graft.operators.TextOps
    // buckets precomputed collision-free: 'a b'→77, 'b c'→253, 'x y'→146, 'y z'→45
    val raw = spark.createDataFrame(Seq(
      (1L, "a b c"),  // both bigrams in target → contrib (1e6·1)/1 each = 2e6
      (2L, "x y z"),  // no target bigram → 0
      (3L, "solo")    // 1 word → no bigrams → absent from output
    )).toDF("doc_id", "text")
    val target = spark.createDataFrame(Seq(Tuple1("a b c"))).toDF("text")
    val out = TextOps.dsirWeights(raw, target).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == (2L, 2000000L), s"aligned doc: ${out.get(1L)}")
    assert(out(2L) == (2L, 0L), "disjoint doc must score 0")
    assert(!out.contains(3L), "one-word doc has no bigrams")
    val repart = TextOps.dsirWeights(raw.repartition(7), target).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(repart == out, "partitioning must not change integer scores")
  }

  test("url resolution: absolute, scheme-relative, root-relative, path-relative, fragment") {
    import graft.operators.UrlOps.resolve
    val base = "https://h.example.org/a/b?q=1"
    assert(resolve(base, "https://x.com/p") == "https://x.com/p")
    assert(resolve(base, "//x.com/p") == "https://x.com/p")
    assert(resolve(base, "/root/p") == "https://h.example.org/root/p")
    assert(resolve(base, "c/d") == "https://h.example.org/a/c/d")
    assert(resolve(base, "../up") == "https://h.example.org/up")
    assert(resolve(base, "#frag") == "https://h.example.org/a/b?q=1")
    assert(resolve(base, "") == "https://h.example.org/a/b?q=1")
    assert(resolve(base, "?r=2") == "https://h.example.org/a/b?r=2",
      "query-only reference keeps the base path")
  }

  test("PII redaction: emails and phone shapes replaced, counts from the original text") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "mail a.b_c%d@sub.example.org and x@y.io plus 555-123-4567 twice 555-123-4567"),
      (2L, "no pii here at all")
    ).toDF("doc_id", "text")
    val out = graft.operators.TextOps.redactPii(docs)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L)._1 == "mail <EMAIL> and <EMAIL> plus <PHONE> twice <PHONE>")
    assert(out(1L)._2 == 2L && out(1L)._3 == 2L)
    assert(out(2L) == (("no pii here at all", 0L, 0L)))
  }

  test("decontamination survives a mega-doc (10^5 words) without driver/task blowup") {
    val s = spark
    import s.implicits._
    // one 100k-word doc → ~100k grams in one task; plus an eval doc sharing
    // a window so the hit path runs
    val big = (0 until 100000).map(i => s"w${i % 9973}").mkString(" ")
    val evalDoc = (0 until 12).map(i => s"w${(50000 + i) % 9973}").mkString(" ")
    val docs = Seq((50L, evalDoc), (7L, big)).toDF("doc_id", "text")
    val out = graft.operators.Dedup.decontaminate(docs, n = 8, evalMod = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.contains(7L) && out(7L) >= 1L, s"mega-doc contamination missed: $out")
  }

  test("repetition stats: one word repeated 10^5 times is a single hot key, partial-agged") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, Seq.fill(100000)("spam").mkString(" "))).toDF("doc_id", "text")
    val r = graft.operators.TextOps.repetitionStats(docs).collect()(0)
    assert(r.getLong(1) == 100000L && r.getLong(2) == 1L && r.getLong(3) == 100000L)
    assert(r.getLong(4) == 99999L && r.getDouble(5) == 1.0)
  }

  test("stratified sample: unknown languages take the default rate; empty input is empty") {
    val s = spark
    import s.implicits._
    val docs = (0L until 1000L).map(i => (i, if (i % 2 == 0) "xx" else "en")).toDF("doc_id", "lang")
    val kept = graft.operators.TextOps.stratifiedSample(docs)
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 500 docs per stratum: xx ~20% (default), en ~60% — loose binomial bounds
    assert(kept("xx") > 50 && kept("xx") < 160, s"default-rate stratum off: ${kept("xx")}")
    assert(kept("en") > 230 && kept("en") < 370, s"en stratum off: ${kept("en")}")
    assert(graft.operators.TextOps.stratifiedSample(docs.limit(0)).count() === 0L)
  }

  test("stratified sample: deterministic, respects per-lang rate ordering") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val a = graft.operators.TextOps.stratifiedSample(docs).collect().map(_.getLong(0)).sorted.toSeq
    val b = graft.operators.TextOps.stratifiedSample(docs).collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b, "sampling must be reproducible run-to-run")
    // rate sanity: en keeps ~60%, fallback langs ~20% — with 500 docs the
    // binomial bounds are loose but directional
    val kept = graft.operators.TextOps.stratifiedSample(docs)
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = docs.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val enRate = kept.getOrElse("en", 0L).toDouble / total("en")
    val zhRate = kept.getOrElse("zh", 0L).toDouble / total("zh")
    assert(enRate > 0.4 && enRate < 0.8, s"en rate off: $enRate")
    assert(zhRate < enRate, s"fallback stratum must keep less than en: $zhRate vs $enRate")
  }
}

/** Arms the planted task failure of SparkJobSpec's failed-chunk case (tasks
  * run in the test JVM under `local[4]`). */
object PlantedFault {
  @volatile var armed = false
}
