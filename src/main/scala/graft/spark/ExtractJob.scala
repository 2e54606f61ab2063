package graft.spark

import graft.core._
import graft.dom._
import graft.sources.{CatalogFileWrite, ParquetOutput, SessionHadoopConf}
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator

/** One extracted page (the engine's output row — SURVEY.md §1.2). `spans`
  * carries the north star's span offsets (UTF-16 offsets into `full_text`,
  * DOM path, block anchor, kept flag) and `errors` the reference's
  * parse-error codes — both computed by the kernel, surfaced whole.
  */
final case class Extracted(
    url: String,
    lang: String,
    main_text: String,
    full_text: String,
    title: String,
    spans: Seq[graft.dom.Span],
    links: Seq[String],
    anchors: Seq[String], // anchor text per link (parallel to links)
    img_srcs: Seq[String], // img src, document order
    img_alts: Seq[String], // img alt per src ("" absent; parallel to img_srcs)
    og_props: Seq[String], // og:* meta properties, document order (lowercased)
    og_vals: Seq[String], // og:* content per property (parallel)
    meta_robots: String,
    base_href: String,
    canonical: String, // first <link rel=canonical href> ("" absent) — crawl-dedup cluster key
    declared_lang: String, // first <html lang> ("" absent), lowercased — declared-vs-detected quality signal
    json_ld: Seq[String], // raw <script type=application/ld+json> blocks, document order — schema.org structured data
    errors: Seq[String],
    n_spans: Int,
    n_tokens: Long,
    n_tags: Long,
    n_errors: Int,
    truncated: Boolean,
    bytes_in: Long
)

/** Global row ordinals covered by a partition: lo = partition_id << 33 plus
  * the local index (the `monotonically_increasing_id` convention — unique
  * and sortable across partitions without a pre-pass count).
  */
final case class RowRange(lo: Long, hi: Long)

/** Per-partition lineage/metrics row (north star: "per-partition lineage rows
  * (partition id, input file, row range, tokenizer-state histogram,
  * bytes/sec) appended to a metrics table"). `input_file` is the
  * ';'-joined distinct source files the partition read (empty for synthetic
  * inputs); `capped_rows` counts rows skipped by the per-task byte cap.
  */
final case class LineageRow(
    run_id: String,
    chunk: Int,
    partition_id: Int,
    input_file: String,
    row_range: RowRange,
    docs: Long,
    bytes: Long,
    millis: Long,
    bytes_per_sec: Double,
    capped_rows: Long,
    state_histogram: Map[String, Long]
)

/** PageRow + its source file (file-backed scans; see ExtractJob.extractFiles). */
final case class PageRowF(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String,
    lang: String,
    input_file: String
)

/** The extraction pipeline: scan → mapPartitions(tokenizer+DOM kernel) →
  * extracted rows ‖ lineage rows.
  *
  * Scale design (the 100 TB / 10^12-doc story, tested at 32 local slots):
  *   - The kernel is a single typed mapPartitions: O(bytes) per page, zero
  *     driver involvement; rows never pass through the driver.
  *   - Lineage rows (one tiny row per partition, O(partitions) driver
  *     memory, not O(rows)) come back as the write tasks' results, exactly
  *     once per partition, and the driver commits them as one parquet file
  *     per chunk.
  *   - Resume: work is committed in `chunks` (hash-sliced by url); a chunk
  *     whose lineage rows exist for this run_id is skipped on restart —
  *     snapshot-checkpoint semantics per the north rule.
  */
object ExtractJob {

  /** Extraction kernel over the pages Dataset: a NARROW map. Extraction is
    * per-row, so no shuffle of the html corpus is ever justified —
    * parallelism comes from input splits (`spark.sql.files.maxPartitionBytes`
    * at a real table; the pre-partitioned synthesis here), and this is what
    * makes the job scale linearly with executors. Per-row cost outliers are
    * bounded by the tokenizer step budget, so a pathological page costs
    * O(64·bytes) at worst, not unbounded time. `numPartitions` does not
    * repartition: the pages' own partitioning is kept.
    */
  def extract(
      pages: Dataset[PageRow],
      runId: String,
      numPartitions: Int,
      lineage: CollectionAccumulator[LineageRow] = null,
      chunk: Int = 0,
      maxTaskBytes: Long = Long.MaxValue,
      lean: Boolean = false
  ): Dataset[Extracted] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.mapPartitions(it =>
      kernelIterator(it, () => "", runId, emitTo(lineage), chunk, maxTaskBytes, lean))
  }

  /** File-backed entry: same kernel, but each partition's lineage row records
    * the distinct source files it read (`input_file_name()` captured at the
    * scan, before any typed transform).
    */
  def extractFiles(
      pages: org.apache.spark.sql.DataFrame,
      runId: String,
      lineage: CollectionAccumulator[LineageRow] = null,
      chunk: Int = 0,
      maxTaskBytes: Long = Long.MaxValue,
      lean: Boolean = false
  ): Dataset[Extracted] = {
    val spark = pages.sparkSession
    import spark.implicits._
    withInputFile(pages).mapPartitions(it =>
      fileKernel(it, runId, emitTo(lineage), chunk, maxTaskBytes, lean))
  }

  /** `pages` with each row's source file, captured at the scan before any
    * typed transform. */
  private def withInputFile(pages: DataFrame): Dataset[PageRowF] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.withColumn("input_file", input_file_name()).as[PageRowF]
  }

  /** The kernel over file-backed pages: the lineage row's `input_file` is
    * the distinct source files the partition read. */
  private def fileKernel(
      it0: Iterator[PageRowF],
      runId: String,
      emit: LineageRow => Unit,
      chunk: Int,
      maxTaskBytes: Long,
      lean: Boolean
  ): Iterator[Extracted] = {
    val files = scala.collection.mutable.LinkedHashSet.empty[String]
    val it = it0.map { f =>
      if (f.input_file != null && f.input_file.nonEmpty) files += f.input_file
      PageRow(f.url, f.warc_ts, f.html, f.text, f.lang)
    }
    kernelIterator(it, () => files.mkString(";"), runId, emit, chunk, maxTaskBytes, lean)
  }

  private def emitTo(acc: CollectionAccumulator[LineageRow]): LineageRow => Unit =
    if (acc == null) null else acc.add

  /** The per-partition kernel: one reused sink, per-row oracle extraction,
    * O(1) lineage state, a single lineage row handed to `emit` (when not
    * null) after the last page.
    * `maxTaskBytes` bounds scheduler-visible task work on pathological
    * splits (north star "per-partition size caps"): once a task has pushed
    * that many html bytes through the tokenizer, remaining rows are emitted
    * as empty/truncated rows flagged TASK_BYTE_CAP and counted in lineage —
    * explicit, lineage-visible loss instead of an unbounded straggler.
    */
  private def kernelIterator(
      it: Iterator[PageRow],
      inputFiles: () => String,
      runId: String,
      emit: LineageRow => Unit,
      chunk: Int,
      maxTaskBytes: Long,
      lean: Boolean
  ): Iterator[Extracted] = {
    val t0 = System.currentTimeMillis()
    var docs = 0L
    var bytes = 0L
    var capped = 0L
    val hist = new Array[Long](82)
    val sink = new graft.dom.ExtractSink // reused across the partition's rows
    new Iterator[Extracted] {
      def hasNext: Boolean = {
        val h = it.hasNext
        if (!h && emit != null && docs > 0) {
          val ms = math.max(System.currentTimeMillis() - t0, 1L)
          val hm = Map.newBuilder[String, Long]
          var i = 0
          while (i < hist.length) { if (hist(i) > 0) hm += St.names(i) -> hist(i); i += 1 }
          val pid = TaskContext.getPartitionId()
          val lo = pid.toLong << 33
          emit(LineageRow(runId, chunk, pid, inputFiles(),
            RowRange(lo, lo + docs - 1), docs, bytes, ms, bytes * 1000.0 / ms,
            capped, hm.result()))
          docs = 0 // emit once
        }
        h
      }
      def next(): Extracted = {
        val p = it.next()
        docs += 1
        if (p.html == null) {
          // real crawl tables carry null bodies (fetch failures, truncated
          // records): an error row, never an NPE'd task at 100 TB
          errorRow(p, "NULL_HTML", truncated = false)
        } else if (bytes >= maxTaskBytes) {
          capped += 1
          bytes += p.html.length
          errorRow(p, "TASK_BYTE_CAP", truncated = true)
        } else {
          val r = Extractor.extractInto(p.html, sink)
          bytes += p.html.length
          var i = 0
          while (i < hist.length) { hist(i) += r.stateHits(i); i += 1 }
          row(p, r, lean)
        }
      }
    }
  }

  /** The one place a kernel result becomes an [[Extracted]] row. */
  private def row(p: PageRow, r: ExtractResult, lean: Boolean): Extracted =
    // lean production mode: drop full_text (2x output size; offsets in
    // spans still index it, and main_text == full_text on pages whose
    // spans are all kept) — schema stays contract-identical
    Extracted(p.url, p.lang, r.mainText, if (lean) "" else r.text,
      r.title, r.spans, r.links, r.anchors, r.imgSrcs, r.imgAlts, r.ogProps, r.ogVals, r.metaRobots, r.baseHref, r.canonical, r.declaredLang, r.jsonLd, r.errors, r.spans.length, r.nTokens, r.nTags,
      r.nErrors, r.truncated, p.html.length.toLong)

  /** A row the kernel never ran on: empty outputs, `code` its only error. */
  private def errorRow(p: PageRow, code: String, truncated: Boolean): Extracted =
    Extracted(p.url, p.lang, "", "", "", Nil, Nil, Nil, Nil, Nil, Nil, Nil, "", "", "", "", Nil, Seq(code),
      0, 0L, 0L, 1, truncated, if (p.html == null) 0L else p.html.length.toLong)

  /** Each executor thread's encoder of [[Extracted]] rows, built on first
    * use: generating the serializer's projection costs milliseconds of CPU,
    * paid once per thread instead of once per write task. */
  private val extractedSerializer = ThreadLocal.withInitial[ExpressionEncoder.Serializer[Extracted]](
    () => ExpressionEncoder[Extracted]().createSerializer())

  /** Chunked, resumable run: `chunkOf(c)` yields chunk c's pages. Use a
    * provider that PRUNES at the source (e.g. a pages table partitioned by
    * `chunk = pmod(xxhash64(url), chunks)` read with a partition filter), so
    * a chunk reads only its own pages.
    *
    * Each chunk is one Spark job: every task runs the kernel over its pages
    * and writes the encoded rows through the catalog's write task
    * ([[CatalogFileWrite.run]]) into `_staging/chunk=c`, then returns its
    * commit message and its partition's lineage row. The driver deletes any
    * staged file no message names (a killed or speculative attempt's),
    * moves the directory to `data/chunk=c`, and last writes the chunk's
    * lineage rows as one file in `_staging` and renames it into `lineage/`
    * — the commit marker. Uncommitted output lives only under `_staging`,
    * which a finished run deletes. On restart, chunks whose lineage rows
    * exist for `runId` are skipped; any other chunk is redone from a
    * cleared staging directory. A lineage directory that cannot be read
    * fails the run rather than re-doing (and re-counting) committed chunks.
    */
  def runChunkedFrom(
      spark: SparkSession,
      chunkOf: Int => DataFrame,
      outDir: String,
      runId: String,
      chunks: Int,
      partitionsPerChunk: Int,
      maxTaskBytes: Long = Long.MaxValue,
      lean: Boolean = false
  ): Unit = {
    import spark.implicits._
    val lineageDir = new Path(outDir, "lineage")
    val stagingDir = new Path(outDir, "_staging")
    val fs = lineageDir.getFileSystem(SessionHadoopConf(spark))
    val lineageEnc = ExpressionEncoder[LineageRow]()
    val done: Set[Int] =
      if (!fs.exists(lineageDir)) Set.empty
      else spark.read.schema(lineageEnc.schema).parquet(lineageDir.toString)
        .where($"run_id" === runId).select("chunk").distinct().as[Int].collect().toSet
    val dataWrite = CatalogFileWrite(spark, ExpressionEncoder[Extracted]().schema, stagingDir.toString, Nil)
    val lineageOut = ParquetOutput(spark, lineageEnc.schema)
    val lineageRow = lineageEnc.createSerializer()
    for (c <- 0 until chunks if !done.contains(c)) {
      val t0 = System.currentTimeMillis()
      val staged = new Path(stagingDir, s"chunk=$c")
      val stagedLineage = new Path(stagingDir, s"lineage-$c.parquet")
      fs.delete(staged, true)
      fs.delete(stagedLineage, false)
      val write = dataWrite.copy(dir = staged.toString)
      val pages = withInputFile(chunkOf(c)).rdd
      val results = (if (pages.getNumPartitions > 0) pages
          else spark.sparkContext.parallelize(Seq.empty[PageRowF], 1))
        .mapPartitionsWithIndex { (i, it) =>
          var lineage: LineageRow = null
          val toRow = extractedSerializer.get()
          val msg = write.run(i,
            fileKernel(it, runId, r => lineage = r, c, maxTaskBytes, lean).map(toRow))
          Iterator((msg, Option(lineage)))
        }.collect()
      val tW = System.currentTimeMillis()
      val named = results.flatMap(_._1.files).map(f => new Path(f.path).getName).toSet
      fs.listStatus(staged).filterNot(f => named(f.getPath.getName))
        .foreach(f => fs.delete(f.getPath, true))
      val target = new Path(outDir, s"data/chunk=$c")
      fs.delete(target, true)
      fs.mkdirs(target.getParent)
      if (!fs.rename(staged, target)) throw new java.io.IOException(s"cannot move $staged to $target")
      val rows = results.flatMap(_._2)
      val out = lineageOut.open(stagedLineage.toString)
      rows.foreach(r => out.write(lineageRow(r)))
      out.close()
      fs.mkdirs(lineageDir)
      if (!fs.rename(stagedLineage, new Path(lineageDir, s"chunk-$c-${java.util.UUID.randomUUID()}.parquet")))
        throw new java.io.IOException(s"cannot commit lineage file $stagedLineage")
      println(s"CHUNK $c done extract+write_ms=${tW - t0} lineage_ms=${System.currentTimeMillis() - tW} docs=${rows.map(_.docs).sum}")
    }
    fs.delete(stagingDir, true)
  }
}
