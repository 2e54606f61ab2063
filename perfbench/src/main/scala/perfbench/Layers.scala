package perfbench

import graft.core.{RefTokenizer, StepBudgetExceeded, TokenSink, VCastPanic}
import graft.dom.{ExtractResult, ExtractSink, Extractor}
import graft.sources.CharsetSniff
import graft.spark.Extracted
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** Counts events and does nothing else: the tokenizer's cost alone. */
final class NullSink extends TokenSink {
  var events = 0L
  def char(cp: Int): Unit = events += 1
  override def chars(src: Array[Int], from: Int, until: Int): Unit = events += until - from
  override def charsAscii(src: Array[Byte], from: Int, until: Int): Unit = events += until - from
  def tag(isStart: Boolean, name: String, selfClosing: Boolean, attrs: Vector[(String, String)]): Unit = events += 1
  def comment(data: String): Unit = events += 1
  def doctype(name: String, publicId: String, systemId: String, forceQuirks: Boolean): Unit = events += 1
  def eof(name: String, msg: String): Unit = events += 1
  def parseError(code: String): Unit = ()
}

/** Single-threaded layer timing over a fixed sample of a workload's pages.
  *
  * Each page runs the extraction path one step at a time, each step a child
  * span of the page: `sniff` (CharsetSniff.toUtf8 on the stored bytes),
  * `decode` (the ASCII check, plus RefTokenizer.decodeUtf8Into when the page
  * is not ASCII), `tokenize` (RefTokenizer into a NullSink), `build`
  * (RefTokenizer into ExtractSink), `finalize` (ExtractSink.result),
  * `encode` (the ExpressionEncoder[Extracted] serializer) and `extract` (the
  * whole Extractor.extractInto). The accounting rule: decode + build +
  * finalize must give the same ExtractResult fields as extractInto, and take
  * the same time within `AccountingTolerance`.
  *
  * `trace.overhead_frac` is the time spent recording the measured rounds'
  * spans over the rest of those rounds' time: what the spans add to the
  * untraced work. It is timed directly, because the cost is far below the
  * round-to-round noise that comparing traced and untraced rounds would read.
  */
object Layers {
  val AccountingTolerance = 0.15
  private val WarmupRounds = 3
  private val MinRounds = 5
  private val MaxRounds = 12

  final case class Out(metrics: Map[String, Double], slowestUrl: String, accountingFieldsOk: Boolean,
      accountingTimeOk: Boolean, rounds: Int, pages: Int, bytes: Long)

  private def sameFields(a: ExtractResult, b: ExtractResult): Boolean =
    a.text == b.text && a.mainText == b.mainText && a.title == b.title && a.spans == b.spans &&
      a.links == b.links && a.anchors == b.anchors && a.nTokens == b.nTokens && a.nTags == b.nTags &&
      a.errors == b.errors && a.truncated == b.truncated && a.jsonLd == b.jsonLd &&
      java.util.Arrays.equals(a.stateHits, b.stateHits)

  private def row(url: String, html: Array[Byte], r: ExtractResult): Extracted =
    Extracted(url, null, r.mainText, r.text, r.title, r.spans, r.links, r.anchors, r.imgSrcs, r.imgAlts,
      r.ogProps, r.ogVals, r.metaRobots, r.baseHref, r.canonical, r.declaredLang, r.jsonLd, r.errors,
      r.spans.length, r.nTokens, r.nTags, r.nErrors, r.truncated, html.length.toLong)

  private val steps = Array("sniff", "decode", "tokenize", "build", "finalize", "encode", "extract")

  /** Per-page state reused across pages (one sink and buffer per path, like
    * the per-partition kernel).
    */
  private final class Runner {
    val ser = ExpressionEncoder[Extracted]().createSerializer()
    val sink = new ExtractSink
    val fullSink = new ExtractSink
    val nul = new NullSink
    var buf = new Array[Int](8192)
    // outputs of the last page
    var ascii = false
    var len = 0
    var cps: Array[Int] = null
    var tk: RefTokenizer = null
    var truncated = false

    def isAscii(html: Array[Byte]): Boolean = {
      var j = 0
      while (j < html.length && html(j) >= 0) j += 1
      j == html.length
    }

    def decode(html: Array[Byte]): Unit = {
      ascii = isAscii(html)
      if (!ascii) {
        if (buf.length < html.length) buf = new Array[Int](html.length * 2)
        len = RefTokenizer.decodeUtf8Into(html, buf)
        cps = buf
        if (len < 0) {
          cps = Option(CharsetSniff.decodeFallback(html)).getOrElse(RefTokenizer.decodeUtf8(html))
          len = cps.length
        }
      }
    }

    private def tokenizer(html: Array[Byte], to: TokenSink): RefTokenizer =
      if (ascii) new RefTokenizer(null, to, specMode = true, binput = html)
      else new RefTokenizer(cps, to, specMode = true, inputLenIn = len)

    def tokenize(html: Array[Byte]): Unit =
      try tokenizer(html, nul).run() catch { case _: StepBudgetExceeded | _: VCastPanic => () }

    def build(html: Array[Byte]): Unit = {
      sink.reset()
      tk = tokenizer(html, sink)
      truncated = false
      try tk.run() catch {
        case _: StepBudgetExceeded => truncated = true; sink.errors += "STEP_BUDGET_EXCEEDED"
        case _: VCastPanic => truncated = true; sink.errors += "V_CAST_PANIC"
      }
    }

    def finish(): ExtractResult = sink.result(truncated, tk.stateHits)

    def encode(url: String, html: Array[Byte], r: ExtractResult): Unit = ser(row(url, html, r))

    def full(html: Array[Byte]): ExtractResult = Extractor.extractInto(html, fullSink)

    /** One page, step by step; `ts(0..6)` stamp the six composed steps and
      * `ts(7)`, `ts(8)` the whole-path run. The
      * whole-path run goes first on odd rounds, last on even ones, so cache
      * state favours neither side of the accounting.
      */
    def page(p: SamplePage, fullFirst: Boolean, ts: Array[Long]): (ExtractResult, ExtractResult) = {
      var fullR: ExtractResult = null
      if (fullFirst) { ts(7) = System.nanoTime(); fullR = full(p.html); ts(8) = System.nanoTime() }
      ts(0) = System.nanoTime()
      val html = CharsetSniff.toUtf8(p.raw, p.declared)
      ts(1) = System.nanoTime()
      decode(html)
      ts(2) = System.nanoTime()
      tokenize(html)
      ts(3) = System.nanoTime()
      build(html)
      ts(4) = System.nanoTime()
      val r = finish()
      ts(5) = System.nanoTime()
      encode(p.url, html, r)
      ts(6) = System.nanoTime()
      if (!fullFirst) { ts(7) = ts(6); fullR = full(html); ts(8) = System.nanoTime() }
      (r, fullR)
    }
  }

  def run(sample: Seq[SamplePage], seconds: Double, spans: Spans, root: Int): Out = {
    val n = sample.length
    val bytes = sample.map(_.html.length.toLong).sum
    val mb = bytes / 1e6
    val runner = new Runner
    // per round: summed ns per step over the sample
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    var roundNs = 0L // measured rounds, spans included
    var spanNs = 0L // recording those rounds' spans
    val pageNs = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Long])
    var fieldsOk = true
    var decodePages = 0
    var fallbackPages = 0
    var states = 0L
    var tokens = 0L
    val ts = new Array[Long](9)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var round = 0
    while (round < WarmupRounds + MinRounds ||
      (round < WarmupRounds + MaxRounds && System.nanoTime() < deadline)) {
      val measured = round >= WarmupRounds
      val acc = new Array[Long](steps.length)
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) {
        val p = sample(i)
        val (r, full) = runner.page(p, round % 2 == 1, ts)
        if (round == 0) {
          if (!sameFields(r, full)) fieldsOk = false
          if (!runner.ascii) decodePages += 1
          val cs = CharsetSniff.resolve(p.raw, p.declared)
          if (cs != "utf-8" && cs != "utf-8-bom") fallbackPages += 1
          states += runner.tk.stateHits.sum
          tokens += r.nTokens
        }
        if (measured) {
          var s = 0
          while (s < steps.length - 1) { acc(s) += ts(s + 1) - ts(s); s += 1 }
          acc(steps.length - 1) += ts(8) - ts(7)
          pageNs(i) += ts(8) - ts(7)
          if (spans.enabled) {
            val s0 = System.nanoTime()
            val page = spans.add(root, "page", math.min(ts(0), ts(7)), math.max(ts(6), ts(8)))
            s = 0
            while (s < steps.length - 1) { spans.add(page, steps(s), ts(s), ts(s + 1)); s += 1 }
            spans.add(page, "extract", ts(7), ts(8))
            spanNs += System.nanoTime() - s0
          }
        }
        i += 1
      }
      if (measured) {
        rounds += acc
        roundNs += System.nanoTime() - t0
      }
      round += 1
    }

    def med(step: String): Double = {
      val s = steps.indexOf(step)
      Stats.median(rounds.map(_(s) / 1e9).toSeq)
    }
    val ratio = Stats.median(rounds.map { a =>
      (a(steps.indexOf("decode")) + a(steps.indexOf("build")) + a(steps.indexOf("finalize"))).toDouble /
        a(steps.indexOf("extract"))
    }.toSeq)
    val perPage = pageNs.map(ns => Stats.median(ns.map(_ / 1e3).toSeq))
    val slowest = perPage.indices.maxBy(perPage(_))
    val kb = bytes / 1024.0
    val metrics = Map(
      "core.decode.mb_s" -> mb / med("decode"),
      "core.decode.page_frac" -> decodePages.toDouble / n,
      "core.charset_fallback.page_frac" -> fallbackPages.toDouble / n,
      "core.tokenize.mb_s" -> mb / med("tokenize"),
      "core.tokenize.states_per_kb" -> states / kb,
      "core.tokens_per_kb" -> tokens / kb,
      "dom.build.self_mb_s" -> mb / (med("build") - med("tokenize")),
      "dom.finalize.us_per_page" -> med("finalize") * 1e6 / n,
      "dom.extract.mb_s" -> mb / med("extract"),
      "dom.page_us.p50" -> Stats.quantile(perPage.toSeq, 0.5),
      "dom.page_us.p99" -> Stats.quantile(perPage.toSeq, 0.99),
      "dom.page_us.max" -> perPage.max,
      "dom.accounting.time_ratio" -> ratio,
      "spark.encode.ns_per_row" -> med("encode") * 1e9 / n,
      "trace.overhead_frac" -> spanNs.toDouble / (roundNs - spanNs))
    Out(metrics, sample(slowest).url, fieldsOk, math.abs(ratio - 1) <= AccountingTolerance,
      rounds.length, n, bytes)
  }
}
