package graft.sources

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.spark.PageRow
import java.nio.charset.StandardCharsets.UTF_8

/** WARC/1.0 source + sink — Common Crawl's native container format, so the
  * engine can ingest real crawl archives without a conversion step.
  *
  * Read path: `binaryFile` datasource (one task per archive file — exactly
  * how production Common-Crawl jobs parallelize, since WARC members are
  * gzip-concatenated per file and not arbitrarily splittable; CC files are
  * ~1 GB, well under the datasource's 2 GB ceiling) → STREAMING per-file
  * record parse (executor memory stays O(record), never O(inflated file)):
  *
  *   - plain `.warc` and gzipped `.warc.gz` both supported; the CC layout
  *     (each record its own gzip member, members concatenated) decompresses
  *     transparently through `GZIPInputStream`, which continues across
  *     member boundaries;
  *   - only `WARC-Type: response` records yield pages (warcinfo / request /
  *     metadata records are skipped, as in real CC files);
  *   - a response block starting with `HTTP/` has its HTTP response headers
  *     stripped — the page html is the entity body, as CC stores it; the
  *     `Content-Type: ...; charset=` parameter is CAPTURED, not discarded;
  *   - the body is normalized to UTF-8 via [[CharsetSniff]] (BOM > HTTP
  *     charset > `<meta>` prescan > UTF-8-validates > windows-1252) so the
  *     kernel and every downstream stage see one encoding; already-UTF-8
  *     bodies pass through by reference;
  *   - header lines are bounded at 8 KB (a corrupt record without line
  *     terminators can no longer buffer the rest of the file), malformed
  *     Content-Length skips the record — never kills the task.
  *
  * Write path: Hadoop `FileSystem` with task-attempt temp files + rename, so
  * object stores (s3a/gs) and speculative execution / task retries are safe;
  * `.warc.gz` writes each record as its own gzip member (the CC layout) with
  * ONE `Deflater` reused across the partition — no per-record native-memory
  * churn (a `GZIPOutputStream` per record leaks its Deflater until GC).
  *
  * Record layout written (WARC/1.0 `response` records, CC-shaped):
  *
  *   WARC/1.0\r\n
  *   WARC-Type: response\r\n
  *   WARC-Target-URI: <url>\r\n
  *   WARC-Date: <ISO-8601>\r\n
  *   Content-Length: <n>\r\n          (length of the HTTP block)
  *   \r\n
  *   HTTP/1.1 200 OK\r\n ... \r\n\r\n <html bytes>
  *   \r\n\r\n
  */
object Warc {

  /** Header lines longer than this are malformed (real WARC headers are
    * well under 1 KB); the parser skims to the next newline and treats the
    * line as garbage instead of buffering unboundedly.
    */
  val maxHeaderLine = 8192

  /** Per-record body cap: a crafted Content-Length (or a genuine gzip
    * bomb) must never materialize gigabytes in one task — oversized
    * records are SKIPPED with the stream kept aligned (real CC records
    * are ~1 MB; 256 MB is far above any legitimate page).
    */
  val maxRecordBytes: Int = 256 << 20

  /** A record body of `len` declared bytes: read when within
    * [[maxRecordBytes]], else skipped WITHOUT materializing it, the stream
    * kept aligned on the next record (None). A truncated body reads short.
    */
  private def readBody(bin: java.io.InputStream, len: Long): Option[Array[Byte]] =
    if (len <= maxRecordBytes) Some(bin.readNBytes(len.toInt))
    else {
      var left = len
      while (left > 0) {
        val n = bin.skip(left)
        if (n <= 0) left = 0 else left -= n
      }
      None
    }

  /** One serialized record: url, timestamp, and the record block (HTTP
    * response block or raw body). Public — Dataset encoder payload.
    */
  final case class WarcRec(url: String, tsMillis: Long, block: Array[Byte])

  /** HTTP response wrapper around the page bytes (what a crawler stores).
    * `charset = null` omits the charset parameter (content-sniffing case).
    */
  def httpBlock(body: Array[Byte], charset: String = "UTF-8"): Array[Byte] = {
    val ct = if (charset == null) "text/html" else s"text/html; charset=$charset"
    val h = (s"HTTP/1.1 200 OK\r\nContent-Type: $ct\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes(UTF_8)
    val out = new Array[Byte](h.length + body.length)
    System.arraycopy(h, 0, out, 0, h.length)
    System.arraycopy(body, 0, out, h.length, body.length)
    out
  }

  /** Serialize one record. `http = true` wraps the body in an HTTP response
    * block (the Common-Crawl shape); `http = false` stores the raw body (the
    * round-1 fixture shape, still parsed).
    */
  def record(url: String, tsMillis: Long, body: Array[Byte], http: Boolean = false,
      warcType: String = "response"): Array[Byte] =
    recordBlock(url, tsMillis, if (http) httpBlock(body) else body, warcType)

  /** Serialize one record around an already-built block. */
  def recordBlock(url: String, tsMillis: Long, block: Array[Byte],
      warcType: String = "response",
      extraHeaders: Seq[(String, String)] = Nil): Array[Byte] = {
    val date = java.time.Instant.ofEpochMilli(tsMillis).toString
    val extra = extraHeaders.map { case (k, v) => s"$k: $v\r\n" }.mkString
    val header =
      s"WARC/1.0\r\nWARC-Type: $warcType\r\nWARC-Target-URI: $url\r\nWARC-Date: $date\r\n$extra" +
        s"Content-Length: ${block.length}\r\n\r\n"
    val h = header.getBytes(UTF_8)
    val out = new Array[Byte](h.length + block.length + 4)
    System.arraycopy(h, 0, out, 0, h.length)
    System.arraycopy(block, 0, out, h.length, block.length)
    out(out.length - 4) = '\r'; out(out.length - 3) = '\n'
    out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
    out
  }

  /** Writes consecutive gzip members to one underlying stream, reusing a
    * single Deflater + CRC32 across members: the CC layout (each record its
    * own member, independently decompressable) without per-record native
    * Deflater allocation. A GZIPOutputStream per record only releases its
    * zlib state when GC runs its Cleaner — tens of thousands of records per
    * partition would pool gigabytes of off-heap deflate buffers.
    */
  final class GzipMemberWriter(os: java.io.OutputStream) {
    private val deflater = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    private val crc = new java.util.zip.CRC32
    private val buf = new Array[Byte](1 << 16)
    // RFC 1952 member header: magic, CM=deflate, no flags, mtime 0, XFL 0, OS 255 (unknown)
    private val header = Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0xff.toByte)

    def writeMember(rec: Array[Byte]): Unit = {
      os.write(header)
      deflater.reset()
      deflater.setInput(rec)
      deflater.finish()
      while (!deflater.finished()) {
        val n = deflater.deflate(buf)
        if (n > 0) os.write(buf, 0, n)
      }
      crc.reset()
      crc.update(rec)
      writeIntLe(crc.getValue.toInt)
      writeIntLe(rec.length)
    }

    private def writeIntLe(v: Int): Unit = {
      os.write(v & 0xff); os.write((v >>> 8) & 0xff)
      os.write((v >>> 16) & 0xff); os.write((v >>> 24) & 0xff)
    }

    /** Releases the native zlib state (call once per partition). */
    def end(): Unit = deflater.end()
  }

  /** Write pages as .warc / .warc.gz files, one per partition. Records are
    * serialized INSIDE the task (no intermediate Dataset.map — an encoder
    * round over the html payloads costs ~2 extra full-corpus copies).
    */
  def write(pages: Dataset[PageRow], dir: String, gzip: Boolean = false, http: Boolean = false): Unit =
    writeFiles(pages, dir, gzip, zstd = false)(p =>
      record(p.url, p.warc_ts.getTime, p.html, http))

  /** Write serialized records through the Hadoop FileSystem API: each task
    * writes `.tmp-<nonce>-partNNNNN` then renames into place, so object
    * stores, task retries and speculative execution never expose partial
    * files (rename is the commit; both attempts produce identical bytes from
    * deterministic input, so last-rename-wins is safe). Stale part/temp
    * files from earlier runs are cleared first so a rerun with fewer
    * partitions cannot leave orphans that read() would re-ingest.
    */
  def writeRecords(recs: Dataset[WarcRec], dir: String, gzip: Boolean = false,
      zstd: Boolean = false): Unit =
    writeFiles(recs, dir, gzip, zstd)(r => recordBlock(r.url, r.tsMillis, r.block))

  /** WET write: the EXTRACTED text as `conversion` records — the Common-
    * Crawl WET layout (what text-only consumers stream instead of
    * re-parsing archives). Same per-partition writer, same gzip-member
    * layout, same tmp/rename commit.
    */
  def writeWet(recs: Dataset[WarcRec], dir: String, gzip: Boolean = true): Unit =
    writeFiles(recs, dir, gzip, zstd = false)(r =>
      recordBlock(r.url, r.tsMillis, r.block, warcType = "conversion"))

  /** DEDUP-AWARE archiving with `revisit` records (the Heritrix/Common
    * Crawl identical-payload-digest convention): the FIRST capture of each
    * payload (deterministic keeper: min (timestamp, url) per md5 digest)
    * writes as a full `response`; every later identical-payload capture
    * writes as a payload-LESS `revisit` record carrying
    * `WARC-Refers-To-Target-URI` (the original's url), `WARC-Payload-Digest`
    * and `WARC-Profile: identical-payload-digest` (production archives
    * spell the profile as its full registry URI) — so a re-crawl that
    * refetched 90% unchanged pages stores 90% headers, not 90% payloads.
    * One digest-keyed shuffle (16-byte keys) decides originals; rendering
    * is a narrow map; the same per-partition gzip-member writer and
    * tmp/rename commit. Plain `read` still returns exactly the distinct
    * payloads (revisits are type-filtered out by the response parser).
    */
  def writeWithRevisits(recs: Dataset[WarcRec], dir: String, gzip: Boolean = true): Unit =
    writeFiles(revisitRendered(recs), dir, gzip, zstd = false)(_.block)

  /** The rendered record stream behind [[writeWithRevisits]] — exposed so
    * the plan-shape spec can assert the hot-digest discipline below.
    */
  private[sources] def revisitRendered(recs: Dataset[WarcRec]): Dataset[WarcRec] = {
    val spark = recs.sparkSession
    import spark.implicits._
    revisitTagged(recs).map(t => WarcRec(t._1, t._2, t._3))
  }

  /** (url, ts, renderedRecordBytes, payloadDigest, isOriginal) — the
    * tagged form [[writeRevisitCdx]] needs (the CDX line carries the
    * payload digest and record type alongside the member pointer).
    */
  private def revisitTagged(recs: Dataset[WarcRec]): Dataset[(String, Long, Array[Byte], String, Boolean)] = {
    import org.apache.spark.sql.expressions.Window
    val spark = recs.sparkSession
    import spark.implicits._
    // keeper identity is the FULL (ts, url) capture, not the url: a
    // re-crawl of the SAME url with an unchanged payload (the feature's
    // headline case) must revisit its earlier capture. The keeper choice
    // is a PARTIAL-AGGREGATABLE min(struct(ts, url)) per digest — the
    // keepBest shape: a degenerate universal payload (empty page, parked
    // template) with 10⁹ captures collapses map-side to one candidate per
    // partition instead of one task sorting the whole digest under a
    // Window. The only row_number left partitions by the FULL capture
    // identity (digest, ts, url) — its groups are duplicate DELIVERIES of
    // one capture (an at-least-once upstream), so exactly one original
    // lands per digest and every duplicate becomes a (self-referential)
    // revisit; payload bytes are stored once.
    val tagged = recs.map(r => (r.url, r.tsMillis, r.block, md5hex(r.block)))
      .toDF("url", "ts", "block", "digest")
    val keepers = tagged.groupBy("digest")
      .agg(min(struct(col("ts"), col("url"))).as("k"))
      .select(col("digest"), col("k.ts").as("orig_ts"), col("k.url").as("orig_url"))
    val wDup = Window.partitionBy("digest", "ts", "url").orderBy("ts")
    val rendered = tagged
      .withColumn("rn", row_number().over(wDup))
      .join(keepers, Seq("digest"))
      .select("url", "ts", "block", "digest", "orig_url", "orig_ts", "rn")
      .as[(String, Long, Array[Byte], String, String, Long, Int)]
      .map { case (url, ts, block, digest, origUrl, origTs, rn) =>
        if (rn == 1 && ts == origTs && url == origUrl)
          (url, ts, recordBlock(url, ts, block), digest, true)
        else (url, ts, recordBlock(url, ts, Array.empty[Byte],
          warcType = "revisit",
          extraHeaders = Seq(
            "WARC-Refers-To-Target-URI" -> origUrl,
            "WARC-Refers-To-Date" -> java.time.Instant.ofEpochMilli(origTs).toString,
            "WARC-Payload-Digest" -> s"md5:$digest",
            "WARC-Profile" -> "identical-payload-digest")), digest, false)
      }
    rendered
  }

  /** The revisit records of an archive directory: (url, warc_ts,
    * refers_to, refers_ts, digest) — what a deduplicated-archive consumer
    * joins back to originals. `warc_ts` is the REVISIT's own capture time;
    * (`refers_to`, `refers_ts`) is the original's full capture identity.
    */
  def readRevisits(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(s"$dir/*.warc*")
      .select(col("content"))
      .as[Array[Byte]]
      .mapPartitions(_.flatMap(b =>
        parseRevisitStream(decompress(new java.io.ByteArrayInputStream(b)))))
      .toDF("url", "ts_ms", "refers_to", "refers_ms", "digest")
      .selectExpr("url", "timestamp_millis(ts_ms) AS warc_ts",
        "refers_to", "timestamp_millis(refers_ms) AS refers_ts", "digest")
  }

  /** The LOGICAL corpus of a deduplicated archive: responses as-is plus
    * every revisit RESOLVED to its original's (normalized) payload — what
    * a consumer that wants "all captures" reads instead of re-implementing
    * the refers-to join. The join key is the original's FULL (url, ts)
    * capture identity (`WARC-Refers-To-Date` rides the revisit record
    * exactly for this), so a url captured with several DIFFERENT payloads
    * over time can never fan a revisit out to the wrong generation; each
    * resolved row carries the REVISIT's own capture timestamp. Payload
    * bytes are stored and decoded once however many revisits point at
    * them; the join side is the tiny revisit headers. Revisits that CANNOT
    * be resolved (no Refers-To-Date + multi-generation target) are dropped;
    * [[unresolvableRevisits]] is the census of exactly those drops.
    */
  def readResolved(spark: SparkSession, dir: String): Dataset[PageRow] = {
    import spark.implicits._
    val resp = read(spark, dir)
    val revs = readRevisits(spark, dir)
      .select(col("url").as("rv_url"), col("warc_ts").as("rv_ts"),
        col("refers_to"), col("refers_ts"))
    val respK = resp.toDF()
      .withColumnRenamed("url", "refers_to")
      .withColumnRenamed("warc_ts", "refers_ts")
    val exact = revs.where("unix_millis(refers_ts) > 0")
      .join(respK, Seq("refers_to", "refers_ts"))
    // foreign/degraded archives without WARC-Refers-To-Date (refers_ts at
    // epoch) resolve by url ONLY when that url has a single response
    // generation — never a guess between generations; only (url) headers
    // shuffle for the census, the payloads ride one join
    val singleGen = resp.toDF().select(col("url").as("refers_to"))
      .groupBy("refers_to").agg(count(lit(1)).as("__g")).where("__g = 1")
      .select("refers_to")
    val fallback = revs.where("unix_millis(refers_ts) = 0")
      .join(singleGen, "refers_to")
      .join(respK.drop("refers_ts"), "refers_to")
    val resolved = exact.unionByName(fallback, allowMissingColumns = false)
      .select(col("rv_url").as("url"), col("rv_ts").as("warc_ts"),
        col("html"), col("text"), col("lang"))
      .as[PageRow]
    resp.unionAll(resolved)
  }

  /** Coverage-gap census for degraded archives: the revisit headers
    * [[readResolved]] CANNOT resolve — no `WARC-Refers-To-Date` (refers_ts
    * at epoch) while the target url has multiple response generations, so
    * any resolution would be a guess. Headers-only (url columns shuffle,
    * payloads never read); consumers of foreign archives run this once and
    * know exactly how much smaller the logical corpus is than the archive.
    */
  def unresolvableRevisits(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val resp = read(spark, dir)
    val multiGen = resp.toDF().select(col("url").as("refers_to"))
      .groupBy("refers_to").agg(count(lit(1)).as("generations"))
      .where("generations > 1")
    readRevisits(spark, dir)
      .where("unix_millis(refers_ts) = 0")
      .join(multiGen, "refers_to")
      .select(col("url"), col("warc_ts"), col("refers_to"), col("generations"))
  }

  /** Streaming revisit-record parse (line-bounded like [[parseStream]]);
    * bodies (empty by construction, but tolerated if present) are skipped
    * by Content-Length. The `md5:` digest prefix is stripped. Emits
    * (url, tsMillis, refersTo, refersTsMillis, digest).
    */
  def parseRevisitStream(in: java.io.InputStream): Iterator[(String, Long, String, Long, String)] =
    new Iterator[(String, Long, String, Long, String)] {
      private val bin = new java.io.BufferedInputStream(in, 1 << 16)
      private var nextRow: (String, Long, String, Long, String) = advance()

      private def line(): String = {
        val sb = new java.lang.StringBuilder(64)
        var c = bin.read()
        if (c < 0) return null
        var truncated = false
        while (c >= 0 && c != '\n') {
          if (c != '\r') {
            if (sb.length < maxHeaderLine) sb.append(c.toChar)
            else truncated = true
          }
          c = bin.read()
        }
        if (truncated) " overlong" else sb.toString
      }

      // -1 = corrupt: a record with an unparseable WARC-Date is SKIPPED
      // (a 1970 sentinel would silently mis-timestamp downstream as-of /
      // CDX consumers); a corrupt Refers-To-Date degrades to absent (0),
      // which readResolved's unambiguous-url fallback handles
      private def parseTs(v: String): Long =
        try java.time.Instant.parse(v).toEpochMilli catch { case _: Exception => -1L }

      private def advance(): (String, Long, String, Long, String) = {
        var l0 = line()
        while (l0 != null) {
          if (l0.startsWith("WARC/")) {
            var typ: String = null
            var url: String = null
            // -1 = ABSENT: a record with no WARC-Date at all must skip the
            // same way a corrupt one does (never emit at a silent epoch);
            // a genuine 1970-01-01 date parses to 0 and is kept
            var date = -1L
            var refers: String = null
            var refersDate = 0L
            var digest: String = null
            var len = -1L
            var h = line()
            while (h != null && h.nonEmpty) {
              val i = h.indexOf(':')
              if (i > 0) {
                val k = h.substring(0, i).trim
                val v = h.substring(i + 1).trim
                k match {
                  case "WARC-Type" => typ = v
                  case "WARC-Target-URI" => url = v
                  case "WARC-Date" => date = parseTs(v)
                  case "WARC-Refers-To-Target-URI" => refers = v
                  case "WARC-Refers-To-Date" => refersDate = math.max(parseTs(v), 0L)
                  case "WARC-Payload-Digest" =>
                    digest = if (v.startsWith("md5:")) v.substring(4) else v
                  case "Content-Length" => len = v.toLongOption.getOrElse(-1L)
                  case _ => ()
                }
              }
              h = line()
            }
            // the body is dropped (empty for our revisits); an oversized
            // declaration skips the record
            if (len >= 0 && readBody(bin, len).isDefined &&
                typ == "revisit" && url != null && refers != null && date >= 0)
              return (url, date, refers, refersDate, if (digest == null) "" else digest)
          }
          l0 = line()
        }
        null
      }

      def hasNext: Boolean = nextRow != null
      def next(): (String, Long, String, Long, String) = {
        val r = nextRow; nextRow = advance(); r
      }
    }

  /** WET read (file-per-partition, streaming decode like the DSv2 response
    * reader — WET files are sized for exactly this file-level parallelism).
    */
  def readWet(spark: SparkSession, dir: String): Dataset[PageRow] = {
    import spark.implicits._
    spark.read.format("binaryFile").load(s"$dir/*.warc*")
      .select(col("content"))
      .as[Array[Byte]]
      .mapPartitions(_.flatMap(b =>
        parseWetStream(decompress(new java.io.ByteArrayInputStream(b)))))
  }

  /** WAT JSON payload for one page — the Common-Crawl WAT envelope subset a
    * link-graph/metadata consumer actually reads (`Envelope →
    * Payload-Metadata → HTTP-Response-Metadata → HTML-Metadata`): head
    * Title/Base plus the outlink list with anchor text, hrefs RAW (WAT does
    * not resolve; resolution is the consumer's move, as in `q_link_resolve`).
    * Field order is fixed and every string goes through one escaper, so the
    * payload bytes are deterministic — task retries produce identical
    * members and the gate can hash them.
    */
  def watJson(url: String, title: String, baseHref: String,
              links: Seq[String], anchors: Seq[String]): String = {
    def q(s: String): String = {
      val sb = new java.lang.StringBuilder(s.length + 2)
      sb.append('"')
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"').toString
    }
    val linkObjs = links.zipAll(anchors, "", "").map { case (h, a) =>
      s"""{"path":"A@/href","url":${q(h)},"text":${q(a)}}"""
    }.mkString("[", ",", "]")
    val base = if (baseHref.nonEmpty) s""","Base":${q(baseHref)}""" else ""
    s"""{"Envelope":{"WARC-Header-Metadata":{"WARC-Target-URI":${q(url)},"WARC-Type":"metadata"},""" +
      s""""Payload-Metadata":{"HTTP-Response-Metadata":{"HTML-Metadata":""" +
      s"""{"Head":{"Title":${q(title)}$base},"Links":$linkObjs}}}}}"""
  }

  /** WAT write: per-page metadata records (`WARC-Type: metadata`, JSON
    * payload — see [[watJson]]), completing the CC WARC/WAT/WET trio. Same
    * per-partition gzip-member writer, same tmp/rename commit.
    */
  def writeWat(recs: Dataset[WarcRec], dir: String, gzip: Boolean = true): Unit =
    writeFiles(recs, dir, gzip, zstd = false)(r =>
      recordBlock(r.url, r.tsMillis, r.block, warcType = "metadata"))

  /** WAT read: metadata records back as (url, ts, json-bytes-in-html) rows —
    * the [[readWet]] shape; mixed streams skip non-metadata records. Parse
    * the payload with Spark's native `from_json` (codegen'd, no UDF).
    */
  def readWat(spark: SparkSession, dir: String): Dataset[PageRow] = {
    import spark.implicits._
    spark.read.format("binaryFile").load(s"$dir/*.warc*")
      .select(col("content"))
      .as[Array[Byte]]
      .mapPartitions(_.flatMap(b =>
        parseTyped(decompress(new java.io.ByteArrayInputStream(b)), "metadata")))
  }

  private def writeFiles[T](ds: Dataset[T], dir: String, gzip: Boolean, zstd: Boolean)(
      ser: T => Array[Byte]): Unit = {
    import org.apache.hadoop.fs.Path
    val conf = SessionHadoopConf.broadcast(ds.sparkSession)
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf.value.value)
    fs.mkdirs(dirPath)
    val stale = fs.listStatus(dirPath).filter { st =>
      val n = st.getPath.getName
      n.endsWith(".warc") || n.endsWith(".warc.gz") || n.endsWith(".warc.zst") ||
        n.startsWith(".tmp-")
    }
    stale.foreach(st => fs.delete(st.getPath, false))
    val ext = if (gzip) "warc.gz" else if (zstd) "warc.zst" else "warc"
    val nonce = java.util.UUID.randomUUID().toString.take(8) // driver-side, once per job
    ds.foreachPartition { (it: Iterator[T]) =>
      val tc = org.apache.spark.TaskContext.get()
      val pid = tc.partitionId()
      // executor side: the session's Hadoop conf (core-site.xml from the
      // classpath plus its spark.hadoop.* settings), where object-store
      // credentials/impl classes live on a real deployment
      val efs = new Path(dir).getFileSystem(conf.value.value)
      val tmp = new Path(dir, f".tmp-$nonce-${tc.taskAttemptId()}%d-part-$pid%05d.$ext")
      val dst = new Path(dir, f"part-$pid%05d.$ext")
      val os = new java.io.BufferedOutputStream(efs.create(tmp, true), 1 << 16)
      if (gzip) {
        val gz = new GzipMemberWriter(os)
        try it.foreach(r => gz.writeMember(ser(r)))
        finally { gz.end(); os.close() }
      } else if (zstd) {
        // CC .warc.zst layout: each record its OWN zstd frame (independently
        // decodable/seekable, like the gzip-member layout; CC additionally
        // ships a dictionary in a skippable frame — not emitted here, and
        // not needed for reading). One reused ZstdCompressCtx per partition,
        // no per-record native-context churn; the reader's continuous-mode
        // ZstdInputStream walks the concatenated frames.
        val ctx = new com.github.luben.zstd.ZstdCompressCtx()
        try it.foreach(r => os.write(ctx.compress(ser(r))))
        finally { ctx.close(); os.close() }
      } else {
        try it.foreach(r => os.write(ser(r)))
        finally os.close()
      }
      if (efs.exists(dst)) efs.delete(dst, false)
      if (!efs.rename(tmp, dst))
        throw new java.io.IOException(s"rename $tmp -> $dst failed")
    }
  }

  /** Streaming record parse; `in` must already be decompressed. Bodies are
    * charset-normalized to UTF-8 (see object doc).
    */
  def parseStream(in: java.io.InputStream): Iterator[PageRow] = parseTyped(in, "response")

  /** WET read: `conversion` records (extracted text) — the Common-Crawl
    * WET layout. Bodies are plain text, so no HTTP-header strip applies;
    * charset normalization still rides (WET is UTF-8 by convention, the
    * sniff is a no-op there).
    */
  def parseWetStream(in: java.io.InputStream): Iterator[PageRow] = parseTyped(in, "conversion")

  private def parseTyped(in: java.io.InputStream, wantType: String): Iterator[PageRow] = new Iterator[PageRow] {
    private val bin = new java.io.BufferedInputStream(in, 1 << 16)
    private var nextRow: PageRow = advance()

    /** Next CRLF-terminated line (terminator dropped), or null at EOF. A
      * line beyond maxHeaderLine is skimmed (not buffered) and replaced by a
      * marker that can never match a WARC magic or `key: value` header.
      */
    private def line(): String = {
      val sb = new java.lang.StringBuilder(64)
      var c = bin.read()
      if (c < 0) return null
      var truncated = false
      while (c >= 0 && c != '\n') {
        if (c != '\r') {
          if (sb.length < maxHeaderLine) sb.append(c.toChar)
          else truncated = true
        }
        c = bin.read()
      }
      if (truncated) " overlong" else sb.toString
    }

    private def advance(): PageRow = {
      var l0 = line()
      while (l0 != null) {
        if (l0.startsWith("WARC/")) {
          var typ: String = null
          var url: String = null
          var date: String = null
          var len = -1L
          var h = line()
          while (h != null && h.nonEmpty) {
            val i = h.indexOf(':')
            if (i > 0) {
              val k = h.substring(0, i).trim
              val v = h.substring(i + 1).trim
              k match {
                case "WARC-Type" => typ = v
                case "WARC-Target-URI" => url = v
                case "WARC-Date" => date = v
                // malformed length → skip the record, never kill the task;
                // a length past Int.MaxValue is legal and takes the
                // oversize skip below
                case "Content-Length" => len = v.toLongOption.getOrElse(-1L)
                case _ => ()
              }
            }
            h = line()
          }
          if (len >= 0) readBody(bin, len) match {
            case Some(block) if block.length == len &&
                (typ == null || typ == wantType) && url != null =>
              // conversion records carry plain text — no HTTP envelope
              val (raw, charset) =
                if (wantType == "response") stripHttpHeadersCs(block) else (block, null)
              val body = CharsetSniff.toUtf8(raw, charset)
              // a CORRUPT WARC-Date skips the record (the parseRevisitStream
              // rule — never a DateTimeParseException killing the task,
              // never a silent mis-stamp); an ABSENT date keeps the
              // legacy epoch stamp (fuzz-spec-pinned behavior)
              val tsMs =
                if (date == null) 0L
                else try java.time.Instant.parse(date).toEpochMilli
                     catch { case _: Exception => -1L }
              if (tsMs >= 0)
                return PageRow(url, new java.sql.Timestamp(tsMs), body, null, null)
            // an oversized declaration (zip-bomb / corrupt length) was
            // skipped unread; a truncated or unwanted record drops
            case _ => ()
          }
        }
        l0 = line()
      }
      null
    }

    def hasNext: Boolean = nextRow != null
    def next(): PageRow = { val r = nextRow; nextRow = advance(); r }
  }

  /** CC response blocks wrap the page in an HTTP response; the html is the
    * entity body after the header terminator, and the Content-Type header's
    * charset parameter (when present) is the transport-declared encoding.
    * Raw blocks pass through with a null charset.
    */
  def stripHttpHeadersCs(block: Array[Byte]): (Array[Byte], String) = {
    if (block.length < 5 || block(0) != 'H' || block(1) != 'T' || block(2) != 'T' ||
      block(3) != 'P' || block(4) != '/') return (block, null)
    var i = 0
    while (i + 3 < block.length) {
      if (block(i) == '\r' && block(i + 1) == '\n' && block(i + 2) == '\r' && block(i + 3) == '\n') {
        val body = java.util.Arrays.copyOfRange(block, i + 4, block.length)
        // header region is ASCII-compatible by RFC 9110; Latin-1 decode is safe
        val headers = new String(block, 0, i + 2, java.nio.charset.StandardCharsets.ISO_8859_1)
        var charset: String = null
        headers.split("\r\n").foreach { ln =>
          val c = ln.indexOf(':')
          if (c > 0 && ln.substring(0, c).trim.equalsIgnoreCase("content-type"))
            charset = CharsetSniff.charsetFromContentType(ln.substring(c + 1))
        }
        return (body, charset)
      }
      i += 1
    }
    (block, null)
  }

  /** Header-discarding strip (fixtures/back-compat). */
  def stripHttpHeaders(block: Array[Byte]): Array[Byte] = stripHttpHeadersCs(block)._1

  /** Legacy whole-array entry (fixtures); delegates to the stream parser. */
  def parse(bytes: Array[Byte]): Iterator[PageRow] =
    parseStream(new java.io.ByteArrayInputStream(bytes))

  /** Wrap a raw archive stream with the right decompressor by magic number:
    * gzip (1f 8b, multi-member) or zstd (28 b5 2f fd, continuous frames).
    */
  def decompress(raw: java.io.InputStream): java.io.InputStream = {
    val in = new java.io.BufferedInputStream(raw, 1 << 16)
    in.mark(4)
    val m = new Array[Byte](4)
    val n = in.readNBytes(m, 0, 4)
    in.reset()
    if (n >= 2 && (m(0) & 0xff) == 0x1f && (m(1) & 0xff) == 0x8b)
      new java.util.zip.GZIPInputStream(in, 1 << 16)
    else if (n >= 4 && (m(0) & 0xff) == 0x28 && (m(1) & 0xff) == 0xb5 &&
      (m(2) & 0xff) == 0x2f && (m(3) & 0xff) == 0xfd) {
      val z = new com.github.luben.zstd.ZstdInputStream(in)
      z.setContinuous(true) // concatenated frames (per-record-frame layouts)
      z
    } else in
  }

  /** Decompressing entry: magic-sniffing gzip / zstd / plain. */
  def parseFile(bytes: Array[Byte]): Iterator[PageRow] =
    parseStream(decompress(new java.io.ByteArrayInputStream(bytes)))

  /** Per-mode non-ASCII content prefixes for the mixed-charset fixture —
    * each exercises one sniffing path end-to-end (mode = doc_id % 6):
    * 0 utf-8 declared in HTTP; 1 windows-1252 declared in HTTP; 2 shift_jis
    * declared in HTTP; 3 utf-8 with BOM, nothing declared; 4 windows-1252
    * via `<meta charset>` prescan; 5 shift_jis via `<meta http-equiv>`
    * prescan. Public so the oracle CASE is generated from the same table.
    */
  val charsetPrefixes: IndexedSeq[String] = Vector(
    "héllo wörld ✓ ",
    "café—naïve «quoted» ",
    "日本語テスト ",
    "ßøm bom-marked ",
    "résumé déjà vu ",
    "カタカナ文字 ")

  /** Mixed-charset WARC fixture rows from the documents table: per-doc page
    * whose `<p>` content is `charsetPrefixes(doc_id % 6) + text`, encoded
    * and declared per mode. After Warc.read's charset normalization, the
    * extracted main text must equal that string byte-for-byte — the
    * oracle-checked charset contract (q_warc_charsets).
    */
  def charsetFixture(docs: org.apache.spark.sql.DataFrame): Dataset[WarcRec] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)].map { case (id, text) =>
      val mode = (id % 6).toInt
      val meta = mode match {
        case 4 => "<meta charset=\"windows-1252\">"
        case 5 => "<meta http-equiv=\"Content-Type\" content=\"text/html; charset=shift_jis\">"
        case _ => ""
      }
      val html = s"<html><head>$meta<title>cs</title></head><body><p>${charsetPrefixes(mode)}$text</p></body></html>"
      val bytes = mode match {
        case 1 | 4 => html.getBytes(java.nio.charset.Charset.forName("windows-1252"))
        case 2 | 5 => html.getBytes(java.nio.charset.Charset.forName("Shift_JIS"))
        case 3 =>
          val u = html.getBytes(UTF_8)
          val b = new Array[Byte](u.length + 3)
          b(0) = 0xef.toByte; b(1) = 0xbb.toByte; b(2) = 0xbf.toByte
          System.arraycopy(u, 0, b, 3, u.length)
          b
        case _ => html.getBytes(UTF_8)
      }
      val httpCharset = mode match {
        case 0 => "utf-8"
        case 1 => "windows-1252"
        case 2 => "shift_jis"
        case _ => null // modes 3-5: the transport declares nothing
      }
      WarcRec(s"https://example.com/cs/doc$id", 1609459200000L + id, httpBlock(bytes, httpCharset))
    }
  }

  /** Read a directory of .warc / .warc.gz files as the pages table, via the
    * streaming DataSourceV2 connector ([[WarcSource]]): one partition per
    * archive file, O(record) executor memory, column pruning when the
    * caller projects. `text`/`lang` are null (the crawl doesn't carry them).
    */
  def read(spark: SparkSession, dir: String): Dataset[PageRow] = {
    import spark.implicits._
    spark.read.format("warc").load(dir)
      .select(col("url"), col("warc_ts"), col("html"),
        lit(null).cast("string").as("text"), lit(null).cast("string").as("lang"))
      .as[PageRow]
  }

  /** Legacy whole-file read path (binaryFile + in-memory parse); kept for
    * comparison tests — prefer `read`.
    */
  def readViaBinaryFile(spark: SparkSession, dir: String): Dataset[PageRow] = {
    import spark.implicits._
    spark.read.format("binaryFile").load(s"$dir/*.warc*")
      .select(col("content"))
      .as[Array[Byte]]
      .mapPartitions(_.flatMap(parseFile))
  }

  // ------------------------------------------------------------------
  // CDX index emission + RANDOM-ACCESS reads — the Common-Crawl index
  // pattern: every gzip member's (offset, length) lands in a .cdx sidecar
  // at write time, so "fetch THIS url's capture" seeks and inflates ONE
  // member instead of scanning archives. At 100 TB this is the difference
  // between an O(bytes-of-one-record) lookup and an O(archive) scan — CC
  // publishes its index files for exactly this access path. (Simplified
  // vs pywb's CDXJ: the key is the exact url — SURT canonicalization is a
  // UrlOps.canonicalize away — and the digest is md5 of the record block,
  // used by the integrity check on random access.)
  // ------------------------------------------------------------------

  /** One bytes-counting layer so member offsets are sampled at the exact
    * compressed-byte position (beneath it sits plain buffering). */
  private final class CountingOs(os: java.io.OutputStream) extends java.io.OutputStream {
    var count = 0L
    override def write(b: Int): Unit = { os.write(b); count += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = { os.write(b, off, len); count += len }
    override def flush(): Unit = os.flush()
    override def close(): Unit = os.close()
  }

  private def md5hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b).map(x => f"$x%02x").mkString

  private val cdxTsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmss")
    .withZone(java.time.ZoneOffset.UTC)

  /** Write `.warc.gz` archives (one per partition, same tmp/rename commit
    * discipline as [[writeRecords]]) PLUS a `.cdx` sidecar per archive:
    * TSV lines `url  ts  digest  offset  length  filename`, one per gzip
    * member. Offsets/lengths are compressed-member-exact, so
    * [[readRecordAt]] can fetch any record with one ranged read.
    */
  def writeWithCdx(recs: Dataset[WarcRec], dir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val conf = SessionHadoopConf.broadcast(recs.sparkSession)
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf.value.value)
    fs.mkdirs(dirPath)
    fs.listStatus(dirPath).filter { st =>
      val n = st.getPath.getName
      n.endsWith(".warc.gz") || n.endsWith(".cdx") || n.startsWith(".tmp-")
    }.foreach(st => fs.delete(st.getPath, false))
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    recs.foreachPartition { (it: Iterator[WarcRec]) =>
      val tc = org.apache.spark.TaskContext.get()
      val pid = tc.partitionId()
      val efs = new Path(dir).getFileSystem(conf.value.value)
      val name = f"part-$pid%05d.warc.gz"
      val tmpW = new Path(dir, f".tmp-$nonce-${tc.taskAttemptId()}%d-$name")
      val tmpC = new Path(dir, f".tmp-$nonce-${tc.taskAttemptId()}%d-part-$pid%05d.cdx")
      val cos = new CountingOs(new java.io.BufferedOutputStream(efs.create(tmpW, true), 1 << 16))
      val cdx = new java.io.BufferedOutputStream(efs.create(tmpC, true), 1 << 16)
      val gz = new GzipMemberWriter(cos)
      try {
        it.foreach { r =>
          val block = recordBlock(r.url, r.tsMillis, r.block)
          val off = cos.count
          gz.writeMember(block)
          val line = s"${r.url}\t${cdxTsFmt.format(java.time.Instant.ofEpochMilli(r.tsMillis))}\t" +
            s"${md5hex(block)}\t$off\t${cos.count - off}\t$name\n"
          cdx.write(line.getBytes(UTF_8))
        }
      } finally { gz.end(); cos.close(); cdx.close() }
      def commit(tmp: Path, dstName: String): Unit = {
        val dst = new Path(dir, dstName)
        if (efs.exists(dst)) efs.delete(dst, false)
        if (!efs.rename(tmp, dst))
          throw new java.io.IOException(s"rename $tmp -> $dst failed")
      }
      commit(tmpW, name)
      commit(tmpC, f"part-$pid%05d.cdx")
    }
  }

  /** REVISIT-AWARE CDX publication — the OpenWayback/pywb deduplicated-
    * archive index convention: write the [[writeWithRevisits]] archive AND
    * a CDX sidecar carrying one line per capture (responses and revisits
    * alike), each with TWO digests — `rec_digest` (md5 of the member's
    * record bytes, the ranged-read integrity check) and `payload_digest`
    * (md5 of the ORIGINAL payload, identical for an original and all its
    * revisits — the identical-payload-digest resolution key) — plus the
    * record type. Playback then resolves a revisit line to its original's
    * member WITHOUT opening the archive: [[resolveRevisitCdx]].
    * TSV: url ts rec_digest payload_digest offset length filename type.
    */
  def writeRevisitCdx(recs: Dataset[WarcRec], dir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val conf = SessionHadoopConf.broadcast(recs.sparkSession)
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf.value.value)
    fs.mkdirs(dirPath)
    fs.listStatus(dirPath).filter { st =>
      val n = st.getPath.getName
      n.endsWith(".warc.gz") || n.endsWith(".cdx") || n.startsWith(".tmp-")
    }.foreach(st => fs.delete(st.getPath, false))
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    revisitTagged(recs).foreachPartition {
      (it: Iterator[(String, Long, Array[Byte], String, Boolean)]) =>
      val tc = org.apache.spark.TaskContext.get()
      val pid = tc.partitionId()
      val efs = new Path(dir).getFileSystem(conf.value.value)
      val name = f"part-$pid%05d.warc.gz"
      val tmpW = new Path(dir, f".tmp-$nonce-${tc.taskAttemptId()}%d-$name")
      val tmpC = new Path(dir, f".tmp-$nonce-${tc.taskAttemptId()}%d-part-$pid%05d.cdx")
      val cos = new CountingOs(new java.io.BufferedOutputStream(efs.create(tmpW, true), 1 << 16))
      val cdx = new java.io.BufferedOutputStream(efs.create(tmpC, true), 1 << 16)
      val gz = new GzipMemberWriter(cos)
      try {
        it.foreach { case (url, ts, block, payloadDigest, isOrig) =>
          val off = cos.count
          gz.writeMember(block)
          val typ = if (isOrig) "response" else "revisit"
          val line = s"$url\t${cdxTsFmt.format(java.time.Instant.ofEpochMilli(ts))}\t" +
            s"${md5hex(block)}\t$payloadDigest\t$off\t${cos.count - off}\t$name\t$typ\n"
          cdx.write(line.getBytes(UTF_8))
        }
      } finally { gz.end(); cos.close(); cdx.close() }
      def commit(tmp: Path, dstName: String): Unit = {
        val dst = new Path(dir, dstName)
        if (efs.exists(dst)) efs.delete(dst, false)
        if (!efs.rename(tmp, dst))
          throw new java.io.IOException(s"rename $tmp -> $dst failed")
      }
      commit(tmpW, name)
      commit(tmpC, f"part-$pid%05d.cdx")
    }
  }

  /** The revisit-aware CDX sidecars as a DataFrame (8 columns — see
    * [[writeRevisitCdx]]). */
  def readRevisitCdx(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    spark.read.text(s"$dir/*.cdx").selectExpr(
      "split(value, '\t')[0] AS url",
      "split(value, '\t')[1] AS cdx_ts",
      "split(value, '\t')[2] AS rec_digest",
      "split(value, '\t')[3] AS payload_digest",
      "CAST(split(value, '\t')[4] AS BIGINT) AS offset",
      "CAST(split(value, '\t')[5] AS BIGINT) AS length",
      "split(value, '\t')[6] AS filename",
      "split(value, '\t')[7] AS rtype")

  /** The PLAYBACK index of a deduplicated archive: every capture row with
    * its payload pointer RESOLVED — a response points at its own member, a
    * revisit at its ORIGINAL's member (joined on the payload digest, which
    * [[writeWithRevisits]] guarantees names exactly one original). Only
    * CDX lines shuffle (O(captures) small rows); the archive is never
    * opened — the Wayback resolution step as one index join.
    * Output: (url, cdx_ts, rtype, payload_digest, orig_url, offset,
    * length, filename, rec_digest) — pointer columns are the ORIGINAL's
    * for revisit rows.
    */
  def resolveRevisitCdx(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val cdx = readRevisitCdx(spark, dir)
    val orig = cdx.where("rtype = 'response'")
      .selectExpr("payload_digest", "url AS orig_url", "offset AS o_off",
        "length AS o_len", "filename AS o_file", "rec_digest AS o_rec")
    cdx.join(orig, Seq("payload_digest"))
      .selectExpr("url", "cdx_ts", "rtype", "payload_digest",
        "CASE WHEN rtype = 'response' THEN '' ELSE orig_url END AS orig_url",
        "o_off AS offset", "o_len AS length", "o_file AS filename",
        "o_rec AS rec_digest")
  }

  /** Coverage-gap census for the CDX path (mirrors [[unresolvableRevisits]]):
    * revisit CDX lines whose payload digest has NO response line — possible
    * only in foreign/degraded archives ([[writeWithRevisits]] always emits
    * the original first); [[resolveRevisitCdx]]'s join drops exactly these,
    * so consumers of such archives run this once and see the gap.
    */
  def unresolvableCdxRevisits(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val cdx = readRevisitCdx(spark, dir)
    cdx.where("rtype = 'revisit'")
      .join(cdx.where("rtype = 'response'").select("payload_digest"),
        Seq("payload_digest"), "left_anti")
      .select("url", "cdx_ts", "payload_digest")
  }

  /** The archive directory's CDX index as a DataFrame — what a lookup
    * service filters (url =) before issuing ranged reads. O(index) driver/
    * executor cost, never O(archive).
    */
  def readCdx(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    spark.read.text(s"$dir/*.cdx").selectExpr(
      "split(value, '\t')[0] AS url",
      "split(value, '\t')[1] AS cdx_ts",
      "split(value, '\t')[2] AS digest",
      "CAST(split(value, '\t')[3] AS BIGINT) AS offset",
      "CAST(split(value, '\t')[4] AS BIGINT) AS length",
      "split(value, '\t')[5] AS filename")

  /** The Common Crawl COLUMNAR INDEX shape (CC's `ccindex` parquet table,
    * the product behind "query the crawl with Athena/Spark SQL"): the CDX
    * sidecars lifted into a SURT-keyed DataFrame —
    * (surt, url, cdx_ts, digest, offset, length, filename, host,
    * registrable_domain) — and RANGE-CLUSTERED by the SURT key, so one
    * registrant's captures are a contiguous byte range across sorted
    * files: "everything under example.com" becomes a planning-time prefix
    * scan (the catalog's LIKE-prefix zone-map pruning shape) instead of an
    * index-wide filter. Index rows are O(captures) small TSV parses — the
    * archives themselves are never touched.
    */
  def cdxIndexTable(spark: SparkSession, dir: String, nFiles: Int = 4): org.apache.spark.sql.DataFrame = {
    import graft.operators.UrlOps
    readCdx(spark, dir)
      .selectExpr(
        s"${UrlOps.surtKeyExpr("url")} AS surt",
        "url", "cdx_ts", "digest", "offset", "length", "filename",
        "lower(parse_url(url, 'HOST')) AS host")
      .withColumn("registrable_domain", expr(UrlOps.registrableDomainExpr("host")))
      .repartitionByRange(nFiles, col("surt"))
      .sortWithinPartitions("surt")
  }

  /** Random access: seek to `offset`, read exactly `length` compressed
    * bytes, inflate the one gzip member, parse the one record — the CC
    * index fetch path. `verifyDigest` (from the index) makes corruption
    * loud. Same charset normalization as the bulk read.
    */
  def readRecordAt(dir: String, filename: String, offset: Long, length: Long,
                   verifyDigest: String = null): PageRow = {
    import org.apache.hadoop.fs.Path
    val p = new Path(dir, filename)
    val in = p.getFileSystem(SessionHadoopConf(SparkSession.active)).open(p)
    val slice = new Array[Byte](length.toInt)
    try { in.seek(offset); in.readFully(slice) } finally in.close()
    if (verifyDigest != null) {
      // the index digest is md5 of the full inflated record bytes — exactly
      // what the member contains
      val full = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(slice)).readAllBytes()
      require(md5hex(full) == verifyDigest,
        s"digest mismatch for $filename @ $offset")
    }
    val rows = parseStream(decompress(new java.io.ByteArrayInputStream(slice)))
    require(rows.hasNext, s"no record in $filename @ $offset+$length")
    rows.next()
  }
}
