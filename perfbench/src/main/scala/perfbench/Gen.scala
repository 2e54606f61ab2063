package perfbench

import java.nio.charset.{Charset, StandardCharsets}

/** splitmix64: the benchmark's own PRNG, so every input depends only on the
  * command-line seed and never on program code.
  */
final class Rng(seed0: Long) {
  private var s = seed0
  def next(): Long = {
    s += 0x9e3779b97f4a7c15L
    Rng.mix(s)
  }
  /** uniform in [0, n) */
  def nextInt(n: Int): Int = ((next() >>> 1) % n).toInt
}

object Rng {
  /** splitmix64's finalizer: a bijection that scatters nearby inputs. */
  def mix(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

/** One generated page: the bytes as stored, the text extraction must return
  * (`main_text == text` is the contract every workload checks), and the
  * charset the bytes are in.
  */
final case class GenPage(url: String, html: Array[Byte], text: String, lang: String, charset: String)

/** Seeded page generator. The page shape follows the program's synthetic
  * corpus (head boilerplate, nav link farm, 1 in 41 pages with a 4-64 KB
  * attribute blob, 1 in 29 nested 200 divs deep, a footer with table and
  * misnesting stressors), but lives here so a change to the program's
  * generator cannot change what is measured.
  *
  * The content `<p>` carries `text` verbatim and is the only character data
  * outside stripped subtrees. `text` never holds `&`, `<`, `>`, controls or
  * anything but single spaces between words, so extraction must return it
  * byte for byte.
  */
object Gen {
  val Ascii = 0
  val Latin1 = 1
  val Greek = 2
  val Cyrillic = 3
  val Han = 4
  val Kana = 5

  private val langs = Array("en", "fr", "el", "ru", "zh", "ja")
  private val sources = Array("news", "blog", "forum", "shop", "wiki")
  private val syllables = Array("ka", "to", "ri", "ne", "sa", "lu", "mo", "fi", "de", "ga",
    "po", "ve", "shi", "an", "el", "or", "um", "ix", "by", "qu", "str", "ment")
  private val punct = Array(".", ",", ";", ":", "!", "?")

  // a-z onto each script's letters (every target is non-ASCII)
  private def codepoints(s: String): Array[Int] = s.codePoints().toArray
  private val letters: Array[Array[Int]] = Array(
    null,
    codepoints("àáâäçèéêëìíîïñòóôöùúûüýÿßæ"),
    codepoints("αβγδεζηθικλμνξοπρστυφχψωά"),
    codepoints("абвгдежзийклмнопрстуфхцчшщ"),
    codepoints("的一是不了人我在有他这中大来上国个到说们为子和你地出"),
    codepoints("あいうえおかきくけこさしすせそたちつてとなにぬねのは"))

  /** Scripts of the UTF-8 pages and their weights. The weights are set by
    * hand, not fitted to a measurement. Their order follows the rough shares
    * of scripts among non-English pages in public crawl language statistics
    * (for example Common Crawl's per-crawl language distribution): Latin
    * script with diacritics (German, Spanish, French, ...) most, then Chinese
    * and Japanese, then Cyrillic (mostly Russian), Greek rare. Greek gets a
    * little more than its share so a 400-page layer sample still holds some.
    */
  private val utf8Scripts = Array(Latin1 -> 62, Han -> 20, Cyrillic -> 15, Greek -> 3)
  private val utf8Total = utf8Scripts.map(_._2).sum

  private def utf8Script(r: Rng): Int = {
    var x = r.nextInt(utf8Total)
    var k = 0
    while (x >= utf8Scripts(k)._2) { x -= utf8Scripts(k)._2; k += 1 }
    utf8Scripts(k)._1
  }

  /** Content text: 44 to 543 characters of words, single spaces, sentence
    * punctuation, occasional numbers (about 300 on average). With `astral`,
    * about one word in 40 is followed by an emoji (U+1F600-U+1F64F), so
    * astral codepoints are about 0.5% of the text's codepoints.
    */
  def text(r: Rng, astral: Boolean): String = {
    val target = 44 + r.nextInt(500)
    val sb = new java.lang.StringBuilder(target + 16)
    var capital = true
    while (sb.length < target) {
      if (sb.length > 0) sb.append(' ')
      if (r.nextInt(23) == 0) sb.append(r.nextInt(10000))
      else {
        val start = sb.length
        var k = 1 + r.nextInt(3)
        while (k > 0) { sb.append(syllables(r.nextInt(syllables.length))); k -= 1 }
        if (capital) sb.setCharAt(start, Character.toUpperCase(sb.charAt(start)))
      }
      capital = false
      if (astral && r.nextInt(40) == 0) sb.append(' ').appendCodePoint(0x1f600 + r.nextInt(80))
      if (r.nextInt(9) == 0) { sb.append(punct(r.nextInt(punct.length))); capital = true }
    }
    sb.append('.')
    sb.toString
  }

  /** Letters (either case) mapped onto `script`; everything else kept. */
  def mapScript(s: String, script: Int): String =
    if (script == Ascii) s
    else {
      val table = letters(script)
      val sb = new java.lang.StringBuilder(s.length * 2)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        val l = Character.toLowerCase(c)
        if (l >= 'a' && l <= 'z') sb.appendCodePoint(table(l - 'a')) else sb.append(c)
        i += 1
      }
      sb.toString
    }

  /** Page i's own stream. Seeding with a mixed (seed, i), not a linear
    * one, keeps page i+1's stream from being page i's shifted by one draw.
    */
  private def rngFor(seed: Long, i: Long): Rng = new Rng(Rng.mix(Rng.mix(seed) + i))

  /** Whether page `i` is one of the "1 in `every`" pages of a kind. Every
    * `every`-th page from a seeded offset is, so each run holds the same
    * number of them and only their place moves with the seed. Drawing them at
    * random would move their count, and these pages cost far more or far less
    * per byte than the rest, so MB/s would scatter with the seed. `every`
    * is prime, so the pages spread evenly over WARC files that each take
    * every `parts`-th page.
    */
  private def oneIn(every: Int, kind: Long, seed: Long, i: Long): Boolean =
    Math.floorMod(i + Rng.mix(seed ^ kind), every.toLong) == 0

  /** Page `i` of the run seeded `seed`. `multiscript = false` gives all-ASCII
    * UTF-8 pages. `multiscript = true` maps the text's letters onto one
    * non-ASCII script per page (weighted by `utf8Scripts`) and sprinkles
    * emoji into it. 1 page in 17 is instead stored in a legacy charset
    * declared only by `<meta charset>`: windows-1252 (Latin-1 letters) 7 times
    * in 8, shift_jis (kana) once in 8, a hand-set split after public charset
    * surveys (such as W3Techs'), which put the ISO-8859-1/windows-1252 family
    * well ahead of Shift_JIS. Legacy pages carry no emoji: neither charset
    * can encode them.
    */
  def page(seed: Long, i: Long, multiscript: Boolean): GenPage = {
    val r = rngFor(seed, i)
    val (script, charset) =
      if (!multiscript) (Ascii, "utf-8")
      else if (oneIn(17, 1, seed, i)) { if (r.nextInt(8) != 0) (Latin1, "windows-1252") else (Kana, "shift_jis") }
      else (utf8Script(r), "utf-8")
    val lang = langs(script)
    val source = sources(r.nextInt(sources.length))
    val txt = mapScript(text(r, astral = multiscript && charset == "utf-8"), script)
    val sb = new java.lang.StringBuilder(txt.length * 3 + 2048)
    sb.append("<!DOCTYPE html><html lang=\"").append(lang).append("\"><head>")
    sb.append("<meta charset=\"").append(charset).append("\"><title>Doc ").append(i)
      .append(" - ").append(source).append("</title>")
    sb.append("<style>body{margin:0;font-family:serif}.w{padding:0}</style>")
    sb.append("<script type=\"text/javascript\">var n=1;if(n<2){n=n+1;}</script>")
    sb.append("</head><body><nav id=\"top\"><ul>")
    val nLinks = 3 + r.nextInt(8)
    var k = 0
    while (k < nLinks) {
      sb.append("<li><a href=\"/cat/").append(r.nextInt(100)).append("\">Section ").append(k)
        .append(" link text</a></li>")
      k += 1
    }
    sb.append("</ul></nav>")
    val blob = oneIn(41, 2, seed, i)
    if (blob) {
      sb.append("<div data-blob=\"")
      val n = 4096 + r.nextInt(61440)
      k = 0
      while (k < n) { sb.append(('a' + k % 26).toChar); k += 1 }
      sb.append("\">")
    }
    val depth = if (oneIn(29, 3, seed, i)) 200 else r.nextInt(9)
    k = 0
    while (k < depth) { sb.append("<div class=\"w\">"); k += 1 }
    sb.append("<article><p class=main id=\"p").append(i).append("\">").append(txt).append("</p></article>")
    k = 0
    while (k < depth) { sb.append("</div>"); k += 1 }
    if (blob) sb.append("</div>")
    sb.append("<!-- generated page ").append(i).append(" -->")
    sb.append("<footer><div class=\"foot\">")
    val nFoot = 2 + r.nextInt(4)
    k = 0
    while (k < nFoot) {
      sb.append("<a href=\"/legal/").append(k).append("\">Legal ").append(k).append("</a>")
      k += 1
    }
    sb.append("<table>x").append(r.nextInt(10))
      .append("<tr><td>c1<td><b><i>c2</b>tail</i><tr><td>c3</table>")
    sb.append("<p><b>mis").append(r.nextInt(10)).append("</p><p>nested</p>")
    sb.append("</div></footer></body></html>")
    val html = sb.toString
    val cs = charsetOf(charset)
    if (!cs.newEncoder().canEncode(html))
      throw new IllegalStateException(s"generator defect: page $i is not encodable as $charset")
    GenPage(s"https://example.com/$lang/$source/doc$i/s$seed", html.getBytes(cs), txt, lang, charset)
  }

  def charsetOf(name: String): Charset = name match {
    case "utf-8" => StandardCharsets.UTF_8
    case "windows-1252" => Charset.forName("windows-1252")
    case "shift_jis" => Charset.forName("Shift_JIS")
  }

  /** Capture time of page `i` (WARC-Date and the pages table's warc_ts). */
  def tsMillis(i: Long): Long = 1609459200000L + i * 1000L
}

/** The benchmark's WARC writer: one gzip member per record (the Common Crawl
  * layout), each record an HTTP response. UTF-8 pages declare their charset
  * in Content-Type; legacy-encoded pages declare nothing there, so only
  * their `<meta charset>` names the encoding.
  */
object WarcWriter {
  private val crlf = "\r\n"

  def record(p: GenPage, i: Long): Array[Byte] = {
    val ct = if (p.charset == "utf-8") "text/html; charset=utf-8" else "text/html"
    val http = (s"HTTP/1.1 200 OK${crlf}Content-Type: $ct${crlf}Content-Length: ${p.html.length}$crlf$crlf")
      .getBytes(StandardCharsets.US_ASCII)
    val blockLen = http.length + p.html.length
    val date = java.time.Instant.ofEpochMilli(Gen.tsMillis(i)).toString
    val head = (s"WARC/1.0${crlf}WARC-Type: response${crlf}WARC-Target-URI: ${p.url}$crlf" +
      s"WARC-Date: $date${crlf}Content-Length: $blockLen$crlf$crlf").getBytes(StandardCharsets.UTF_8)
    val out = new java.io.ByteArrayOutputStream(head.length + blockLen + 4)
    out.write(head); out.write(http); out.write(p.html)
    out.write(crlf.getBytes(StandardCharsets.US_ASCII)); out.write(crlf.getBytes(StandardCharsets.US_ASCII))
    out.toByteArray
  }

  /** Writes `pages` as one .warc.gz file, each record its own gzip member. */
  def writeFile(path: java.nio.file.Path, pages: Iterator[(GenPage, Long)]): Unit = {
    val os = new java.io.BufferedOutputStream(java.nio.file.Files.newOutputStream(path), 1 << 16)
    try pages.foreach { case (p, i) =>
      val gz = new java.util.zip.GZIPOutputStream(new NonClosing(os), 1 << 14)
      gz.write(record(p, i))
      gz.close()
    } finally os.close()
  }

  /** Lets a per-record GZIPOutputStream finish its member without closing the file. */
  private final class NonClosing(os: java.io.OutputStream) extends java.io.FilterOutputStream(os) {
    override def write(b: Array[Byte], off: Int, len: Int): Unit = os.write(b, off, len)
    override def close(): Unit = os.flush()
  }
}
