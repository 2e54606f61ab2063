package perfbench

import graft.spark.{ExtractJob, PageRow}
import graft.sources.{CharsetSniff, Warc}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** A page of the single-threaded layer sample: `html` is the kernel's input
  * (after charset normalization for WARC pages), `raw` the stored bytes and
  * `declared` the charset the HTTP header declared (null when none).
  */
final case class SamplePage(url: String, html: Array[Byte], raw: Array[Byte], declared: String)

/** Result of a workload's output check. `expected`/`observed` are checksums. */
final case class CheckOut(checked: Long, failed: Long, truncated: Long, expected: Long, observed: Long)

/** One benchmark workload. Pass A is the headline pass at local[nproc] and
  * pass B the same path as one task over a quarter of the pages; `scan`,
  * `warcScan`, `kernel`, `kernelOne`, `full` and `sql` are the traced run's
  * variants (input scan only; `Warc.read` scan only; extraction without a
  * write at nproc and at one task; extraction committed to parquet by
  * `ExtractJob.runChunkedFrom`; the SQL functions over the same input).
  */
abstract class Workload(val o: Opts) {
  val parts: Int = 4 * o.cores
  def nPages: Long
  def multiscript: Boolean
  /** html bytes pass A reads (the bytes as stored) */
  var htmlBytes = 0L
  /** pages and html bytes pass B and `kernelOne` read (a quarter of the
    * pages where they run as one task, so they take about as long as an A
    * pass)
    */
  def nPagesB: Long
  var htmlBytesB = 0L

  def setup(spark: SparkSession): Unit
  def teardown(spark: SparkSession): Unit
  def passA(spark: SparkSession, k: Int): Pass
  def passB(spark: SparkSession, k: Int): Pass
  /** cores pass B may use */
  def slotsB: Int = 1
  def check(spark: SparkSession): CheckOut
  /** (rows, wrapping sum of per-page (url, html) hashes) of the input as the program reads it */
  def inputChecksum(spark: SparkSession): (Long, Long) = Check.fold(input(spark).select("url", "html"))
  /** The generator's own input checksum, where the program's read of the
    * input is not the generator's output itself (the WARC files).
    */
  def expectedInputSum: Option[Long] = None

  def scan(spark: SparkSession): Pass
  def kernel(spark: SparkSession): Pass
  def kernelOne(spark: SparkSession): Pass
  /** The traced variants that run pass A's and pass B's work. */
  def aKind: String = "kernel"
  def bKind: String = "kernel1"

  var writeBytes = 0L
  var lineageMs = 0.0

  /** Extraction committed to parquet through the production commit path. */
  def full(spark: SparkSession, k: Int): Pass = commit(spark, input(spark), s"full-$k", nPages)
  /** The workload's input as the pages table `ExtractJob` reads. */
  def input(spark: SparkSession): DataFrame

  protected def commit(spark: SparkSession, in: => DataFrame, tag: String, pages: Long): Pass = {
    val dir = s"${o.work}/out/$tag"
    val buf = new java.io.ByteArrayOutputStream
    Console.withOut(new java.io.PrintStream(buf)) {
      ExtractJob.runChunkedFrom(spark, _ => in, dir, tag, 1, parts)
    }
    () => {
      if (pages == nPages) { // the write figures are those of a commit of every page
        val m = "lineage_ms=(\\d+)".r.findFirstMatchIn(buf.toString)
        lineageMs = m.map(_.group(1).toDouble).getOrElse(Double.NaN)
        writeBytes = Files.size(s"$dir/data")
      }
      val rows = spark.read.parquet(s"$dir/data").count()
      if (!retain(tag, dir)) Files.rm(dir)
      (rows, rows == pages)
    }
  }
  /** Whether a committed pass output stays on disk for the check. */
  protected def retain(tag: String, dir: String): Boolean = false

  // ---- WARC files (warc-multiscript's input; a copy for every traced run) ----

  /** Directory of `.warc.gz` files holding this workload's pages. */
  def warcDir: String = s"${o.work}/warc-copy"
  /** Writes the traced run's WARC copy of the pages (no-op where the WARC
    * files are the input).
    */
  def prepareWarcScan(spark: SparkSession): Unit = writeWarc(warcDir, None)

  /** Writes the pages as `parts` `.warc.gz` files in `dir` (page i in file
    * i mod parts), copying the first quarter of the files to `copyB`.
    * Returns (html bytes, html bytes of the copied files, wrapping sum of
    * per-page (url, UTF-8 html) hashes): `Warc.read` hands the kernel UTF-8,
    * so legacy-charset pages hash as their UTF-8 form.
    */
  protected def writeWarc(dir: String, copyB: Option[String]): (Long, Long, Long) = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    copyB.foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(o.cores)
    try {
      val files = (0 until parts).map { f =>
        pool.submit(new java.util.concurrent.Callable[(Long, Long)] {
          def call(): (Long, Long) = {
            val ps = (f.toLong until nPages by parts.toLong).iterator
              .map(i => (Gen.page(o.seed, i, multiscript), i))
            var bytes = 0L
            var sum = 0L
            val file = java.nio.file.Paths.get(f"$dir/part-$f%05d.warc.gz")
            WarcWriter.writeFile(file, ps.map { pi =>
              val p = pi._1
              bytes += p.html.length
              val utf8 = if (p.charset == "utf-8") p.html
                else new String(p.html, Gen.charsetOf(p.charset)).getBytes(java.nio.charset.StandardCharsets.UTF_8)
              sum += Check.rowHash(p.url, utf8)
              pi
            })
            copyB.filter(_ => f < parts / 4).foreach(d =>
              java.nio.file.Files.copy(file, java.nio.file.Paths.get(d).resolve(file.getFileName)))
            (bytes, sum)
          }
        })
      }.map(_.get())
      (files.map(_._1).sum, files.take(parts / 4).map(_._1).sum, files.map(_._2).sum)
    } finally pool.shutdown()
  }

  /** `Warc.read` over `warcDir` with no extraction. */
  def warcScan(spark: SparkSession): Pass = {
    val n = Warc.read(spark, warcDir).toDF().selectExpr("count(*)", "sum(length(html))").collect()(0).getLong(0)
    warcRowsRead = n
    () => (n, n == nPages)
  }
  /** rows the last `warcScan` read */
  var warcRowsRead = -1L

  // ---- the SQL entry path (sql-fields' passes, and every traced run) ----------

  /** Q1 projects html_main_text only; Q2 main text, title, link count and
    * tag count, which CollapseHtmlKernelCalls fuses into one parse per page.
    */
  val q1 = "SELECT url, html_main_text(html) AS main_text FROM %s"
  val q2 = "SELECT url, html_main_text(html) AS main_text, html_title(html) AS title, " +
    "size(html_links(html)) AS n_links, html_tag_count(html) AS tag_count FROM %s"
  private var expQ1: Option[Long] = None
  private var expQ2: Option[Long] = None

  /** Registers the html_* functions, the fusion rule and the `pages` view. */
  def registerSql(spark: SparkSession): Unit = {
    graft.functions.HtmlFunctions.register(spark)
    graft.functions.HtmlFunctions.registerRule(spark)
    input(spark).createOrReplaceTempView("pages")
  }

  /** One SQL query over `view`, its checksum folded in the executors. Q1
    * must match the generator's text; Q2's four fields must match
    * ExtractJob's for the same pages.
    */
  def sql(spark: SparkSession, fields: Boolean, view: String = "pages"): Pass = {
    val (n, sum) = Check.fold(spark.sql((if (fields) q2 else q1).format(view)))
    () => (n, n == nPages && sum == (if (fields) expectedQ2(spark) else expectedQ1(spark)))
  }
  protected def expectedQ1(spark: SparkSession): Long =
    expQ1.getOrElse { val e = Check.fold(expected(spark))._2; expQ1 = Some(e); e }
  /** ExtractJob's values for Q2's fields, plus `truncated`. */
  protected def extractJobFields(spark: SparkSession): DataFrame =
    ExtractJob.extractFiles(input(spark), "check").toDF()
      .selectExpr("url", "main_text", "title", "size(links) AS n_links", "n_tags AS tag_count", "truncated")
  protected def expectedQ2(spark: SparkSession): Long =
    expQ2.getOrElse { val e = Check.fold(extractJobFields(spark).drop("truncated"))._2; expQ2 = Some(e); e }

  /** Fixed seeded sample of this workload's pages for the layer timing. */
  def sample(n: Int): Seq[SamplePage] = {
    val r = new Rng(o.seed ^ 0x5ca1ab1eL)
    val ids = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (ids.size < math.min(n.toLong, nPages)) ids += r.nextInt(nPages.toInt).toLong
    ids.toSeq.sorted.map { i =>
      val p = Gen.page(o.seed, i, multiscript)
      samplePage(p)
    }
  }
  protected def samplePage(p: GenPage): SamplePage = SamplePage(p.url, p.html, p.html, null)

  /** Generated pages as PageRow (url, warc_ts, html, text, lang). */
  protected def pageRows(spark: SparkSession, withText: Boolean, n: Long, numParts: Int): Dataset[PageRow] = {
    import spark.implicits._
    val seed = o.seed
    val ms = multiscript
    spark.range(0, n, 1, numParts).as[Long].map { i =>
      val p = Gen.page(seed, i, ms)
      PageRow(p.url, new java.sql.Timestamp(Gen.tsMillis(i)), p.html, if (withText) p.text else null, p.lang)
    }
  }

  /** (url, text) the generator expects extraction to return. */
  protected def expected(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val seed = o.seed
    val ms = multiscript
    spark.range(0, nPages, 1, parts).as[Long].map { i =>
      val p = Gen.page(seed, i, ms)
      (p.url, p.text)
    }.toDF("url", "text")
  }
}

/** Cached all-ASCII pages counted through `ExtractJob.extract`: tokenizer
  * byte mode and the DOM kernel do nearly all the work.
  */
final class KernelAscii(o: Opts) extends Workload(o) {
  val nPages: Long = 24000
  val multiscript = false
  val nPagesB: Long = nPages / 4
  private var pages: Dataset[PageRow] = _
  private var pagesB: Dataset[PageRow] = _

  def setup(spark: SparkSession): Unit = {
    def cached(n: Long, numParts: Int) = {
      val ds = pageRows(spark, withText = true, n, numParts).persist(StorageLevel.MEMORY_ONLY)
      (ds, ds.toDF().selectExpr("sum(length(html))").collect()(0).getLong(0))
    }
    val (a, aBytes) = cached(nPages, parts)
    val (b, bBytes) = cached(nPagesB, parts / 4)
    pages = a; htmlBytes = aBytes; pagesB = b; htmlBytesB = bBytes
  }
  def teardown(spark: SparkSession): Unit = { pages.unpersist(blocking = true); pagesB.unpersist(blocking = true) }
  def input(spark: SparkSession): DataFrame = pages.toDF()

  private def count(ds: Dataset[PageRow], slots: Int, expect: Long): Pass = {
    val n = ExtractJob.extract(ds, "bench", slots).toDF().count()
    () => (n, n == expect)
  }
  def passA(spark: SparkSession, k: Int): Pass = count(pages, parts, nPages)
  def passB(spark: SparkSession, k: Int): Pass = count(pagesB.coalesce(1), 1, nPagesB)
  def scan(spark: SparkSession): Pass = {
    val n = pages.toDF().selectExpr("count(*)", "sum(length(html))").collect()(0).getLong(0)
    () => (n, n == nPages)
  }
  def kernel(spark: SparkSession): Pass = passA(spark, 0)
  def kernelOne(spark: SparkSession): Pass = passB(spark, 0)

  def check(spark: SparkSession): CheckOut = {
    val out = ExtractJob.extract(pages, "check", parts).toDF().select("url", "main_text", "truncated")
      .persist(StorageLevel.MEMORY_ONLY)
    try {
      val exp = pages.toDF().select("url", "text")
      val failed = Check.failures(exp, out) + math.abs(out.count() - nPages)
      CheckOut(nPages, failed, out.where("truncated").count(),
        Check.fold(exp)._2, Check.fold(out.select("url", "main_text"))._2)
    } finally out.unpersist()
  }
}

/** Multiscript pages in .warc.gz files, read by `Warc.read` and committed to
  * parquet by `ExtractJob.runChunkedFrom`: the crawl-archive-to-table path,
  * the only workload that runs UTF-8 decode, the codepoint-mode tokenizer,
  * charset sniffing, the WARC scan, row encoding and the parquet write.
  */
final class WarcMultiscript(o: Opts) extends Workload(o) {
  val nPages: Long = 8000
  val multiscript = true
  private def dir = s"${o.work}/warc"
  /** a copy of the first quarter of the files, for the single-task passes */
  private def dirB = s"${o.work}/warc-b"
  val nPagesB: Long = (0 until parts / 4).map(f => (nPages - f + parts - 1) / parts).sum
  private var lastA: String = _
  private var lastB: String = _
  private var inSum = 0L

  def setup(spark: SparkSession): Unit = {
    val (bytes, bytesB, sum) = writeWarc(dir, Some(dirB))
    htmlBytes = bytes; htmlBytesB = bytesB; inSum = sum
  }
  def teardown(spark: SparkSession): Unit = { Files.rm(dir); Files.rm(dirB) }
  def input(spark: SparkSession): DataFrame = Warc.read(spark, dir).toDF()
  override def expectedInputSum: Option[Long] = Some(inSum)
  override def warcDir: String = dir
  override def prepareWarcScan(spark: SparkSession): Unit = ()

  override def aKind = "full"
  override def bKind = "B"
  def passA(spark: SparkSession, k: Int): Pass = commit(spark, input(spark), s"a-$k", nPages)
  def passB(spark: SparkSession, k: Int): Pass =
    commit(spark, Warc.read(spark, dirB).toDF().coalesce(1), s"b-$k", nPagesB)

  override protected def retain(tag: String, dir: String): Boolean =
    if (tag.startsWith("a-")) { if (lastA != null) Files.rm(lastA); lastA = dir; true }
    else if (tag.startsWith("b-")) { if (lastB != null) Files.rm(lastB); lastB = dir; true }
    else false
  override def full(spark: SparkSession, k: Int): Pass = passA(spark, k)

  def scan(spark: SparkSession): Pass = {
    val n = input(spark).selectExpr("count(*)", "sum(length(html))").collect()(0).getLong(0)
    () => (n, n == nPages)
  }
  private def extractCount(in: DataFrame, expect: Long): Pass = {
    val n = ExtractJob.extractFiles(in, "kernel").toDF().count()
    () => (n, n == expect)
  }
  def kernel(spark: SparkSession): Pass = extractCount(input(spark), nPages)
  def kernelOne(spark: SparkSession): Pass = extractCount(Warc.read(spark, dirB).toDF().coalesce(1), nPagesB)

  override protected def samplePage(p: GenPage): SamplePage = {
    val declared = if (p.charset == "utf-8") "utf-8" else null
    SamplePage(p.url, CharsetSniff.toUtf8(p.html, declared), p.html, declared)
  }

  def check(spark: SparkSession): CheckOut = {
    val exp = expected(spark).persist(StorageLevel.MEMORY_ONLY)
    try {
      def out(d: String) = spark.read.parquet(s"$d/data").select("url", "main_text", "truncated")
      // pass B's output covers the quarter of the pages in the files it read
      val outA = out(lastA)
      val outB = out(lastB)
      val expB = exp.join(outB.select("url"), Seq("url"), "left_semi")
      val failed = Check.failures(exp, outA) + Check.failures(expB, outB) +
        math.abs(outA.count() - nPages) + math.abs(expB.count() - nPagesB)
      CheckOut(nPages + nPagesB, failed, outA.where("truncated").count(),
        Check.fold(exp)._2, Check.fold(outA.select("url", "main_text"))._2)
    } finally exp.unpersist()
  }
}

/** The kernel-ascii pages as a parquet table, queried through the SQL
  * functions: pass A is Q1 (html_main_text only), pass B Q2 (four fields,
  * fused by CollapseHtmlKernelCalls into one parse per page).
  */
final class SqlFields(o: Opts) extends Workload(o) {
  val nPages: Long = 12000
  val nPagesB: Long = nPages
  val multiscript = false
  private def dir = s"${o.work}/pages"

  def setup(spark: SparkSession): Unit = {
    pageRows(spark, withText = false, nPages, parts).write.mode("overwrite").parquet(dir)
    registerSql(spark)
    input(spark).coalesce(1).createOrReplaceTempView("pages_one")
    htmlBytes = input(spark).selectExpr("sum(length(html))").collect()(0).getLong(0)
    htmlBytesB = htmlBytes
  }
  def teardown(spark: SparkSession): Unit = Files.rm(dir)
  def input(spark: SparkSession): DataFrame = spark.read.parquet(dir)
  override def aKind = "sql_q1"
  override def bKind = "sql_q2"

  def passA(spark: SparkSession, k: Int): Pass = sql(spark, fields = false)
  def passB(spark: SparkSession, k: Int): Pass = sql(spark, fields = true)
  override val slotsB: Int = o.cores
  def scan(spark: SparkSession): Pass = {
    val n = input(spark).selectExpr("count(*)", "sum(length(html))").collect()(0).getLong(0)
    () => (n, n == nPages)
  }
  def kernel(spark: SparkSession): Pass = passA(spark, 0)
  def kernelOne(spark: SparkSession): Pass = sql(spark, fields = false, view = "pages_one")

  def check(spark: SparkSession): CheckOut = {
    val q1Out = spark.sql(q1.format("pages")).withColumn("truncated", lit(false))
    val ej = extractJobFields(spark).persist(StorageLevel.MEMORY_ONLY)
    try {
      val q2Bad = spark.sql(q2.format("pages")).as("q").join(ej.as("e"), Seq("url"), "full_outer")
        .where("q.main_text IS NULL OR e.main_text IS NULL OR q.main_text <> e.main_text OR " +
          "q.title <> e.title OR q.n_links <> e.n_links OR q.tag_count <> e.tag_count")
        .count()
      CheckOut(2 * nPages, Check.failures(expected(spark), q1Out) + q2Bad, ej.where("truncated").count(),
        expectedQ1(spark), Check.fold(q1Out.drop("truncated"))._2)
    } finally ej.unpersist()
  }
}

object Workload {
  def apply(o: Opts): Workload = o.workload match {
    case "kernel-ascii" => new KernelAscii(o)
    case "warc-multiscript" => new WarcMultiscript(o)
    case "sql-fields" => new SqlFields(o)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }
}

/** Local file helpers for the run's work directory. */
object Files {
  def rm(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
  }
  /** Bytes of the data files under `path` (Spark's checksum files excluded). */
  def size(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else java.nio.file.Files.walk(p).filter(f => java.nio.file.Files.isRegularFile(f) &&
      !f.getFileName.toString.endsWith(".crc")).mapToLong(f => java.nio.file.Files.size(f)).sum()
  }
}
