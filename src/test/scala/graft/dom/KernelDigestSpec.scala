package graft.dom

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{CollectingSink, RefTokenizer, StepBudgetExceeded, TChar, TComment, TDoctype, TEof, TTag, Tok,
  VCastPanic}
import graft.spark.Pages

/** Whole-kernel answer pin: a sha256 over every `ExtractResult` field (text,
  * main text, title, spans with their paths, every capture column, token and
  * tag counts, the parse errors, the truncated flag and `stateHits`) over a
  * fixed seeded corpus, and a second one over the fidelity-mode token
  * streams of the same inputs. One sink is reused across the corpus, as the
  * Spark kernel reuses it across a partition.
  *
  * The corpus: every `Pages.render*` renderer (the ids include 200-deep and
  * attribute-blob pages), seeded tag soup, 2,000-deep div/li/table/custom
  * element nests with stray and unknown end tags, and attribute and doctype
  * edge cases (char refs, NUL, duplicate names, valueless and unquoted
  * values, long names). Every ASCII input runs twice: once as bytes (the
  * byte-mode tokenizer) and once as codepoints.
  *
  * The constants were taken before the kernel moved to tag ids, an int open
  * stack and attribute views; a kernel change that keeps the answers keeps
  * them.
  */
class KernelDigestSpec extends AnyFunSuite {
  private val ExtractDigest = "c014cffe580ae34f1493a32769e5d3e615baae429f611667df1d34c86faed230"
  private val FidelityDigest = "090f0a71a531b970d0b2a056bb836acd0d39ebba5ba88df167650f84e4671432"

  private val words = Array("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa")

  private def renderedPages(): Seq[String] = {
    val rng = new java.util.SplittableRandom(905L)
    def text(): String = {
      val n = 20 + rng.nextInt(120)
      (0 until n).map(_ => words(rng.nextInt(words.length))).mkString(" ")
    }
    (0L until 240L).flatMap { d =>
      Seq(Pages.render(d, (d % 3).toInt, text(), "en", "web"), Pages.renderPlain(d, text(), "de"),
        Pages.renderLinks(d), Pages.renderGraph(d), Pages.renderTable(d), Pages.renderOutline(d),
        Pages.renderMedia(d), Pages.renderArticle(d), Pages.renderMicrodata(d))
    } ++ (0 until 20).map(Pages.renderRobots)
  }

  private val tagNames = Array("p", "div", "span", "li", "ul", "ol", "dl", "dd", "dt", "em", "b", "i",
    "a", "nobr", "font", "table", "tbody", "tr", "td", "th", "caption", "svg", "math", "head", "body",
    "html", "title", "nav", "footer", "script", "style", "textarea", "pre", "h1", "h3", "img", "br",
    "meta", "link", "base", "section", "article", "template", "select", "option", "my-widget", "x-y",
    "divx", "Di", "DIV", "TaBlE", "custom-el")
  private val attrNames = Array("href", "src", "alt", "lang", "rel", "type", "name", "content",
    "property", "itemprop", "itemscope", "itemtype", "class", "id", "HREF", "data-x", "title", "value")
  private val attrValues = Array("", "x", "/a/b", "canonical", "application/ld+json", "og:title",
    "robots", "EN-us", "a&amp;b", "&#65;&#x42;", "&notin", "&xyz;", "v\u0000w", "two words", "&lt;")

  private def pick(rng: java.util.SplittableRandom, xs: String*): String = xs(rng.nextInt(xs.length))

  private def soup(rng: java.util.SplittableRandom, nonAscii: Boolean): String = {
    val sb = new StringBuilder
    val n = 10 + rng.nextInt(120)
    var k = 0
    while (k < n) {
      rng.nextInt(12) match {
        case 0 | 1 | 2 =>
          sb.append(words(rng.nextInt(words.length)))
          if (rng.nextInt(3) == 0) sb.append(' ')
          if (nonAscii && rng.nextInt(4) == 0) sb.append("é中😀")
        case 3 | 4 | 5 =>
          sb.append('<').append(tagNames(rng.nextInt(tagNames.length)))
          var a = rng.nextInt(4)
          while (a > 0) {
            sb.append(' ').append(attrNames(rng.nextInt(attrNames.length)))
            val v = attrValues(rng.nextInt(attrValues.length))
            rng.nextInt(4) match {
              case 0 => sb.append("=\"").append(v).append('"')
              case 1 => sb.append("='").append(v).append('\'')
              case 2 => sb.append('=').append(v.replace(" ", ""))
              case _ => ()
            }
            a -= 1
          }
          if (rng.nextInt(8) == 0) sb.append('/')
          sb.append('>')
        case 6 | 7 => sb.append("</").append(tagNames(rng.nextInt(tagNames.length))).append('>')
        case 8 => sb.append(pick(rng, "&amp;", "&lt;", "&notin;", "&#x41;", "&#65;", "&xyz;", "&copy"))
        case 9 => sb.append(pick(rng, "<!-- c -->", "<!------>", "<![CDATA[x]]>", "<!x>", "<?pi?>"))
        case 10 => sb.append(pick(rng, "<!DOCTYPE html>", "<!doctype HTML5>", "<!DOCTYPE>", "<!DOCTYPE a\u0000b>",
          "<!DOCTYPE html PPUBLIC \"-//W3C//DTD\" 'sys'>", "<!DOCTYPE x SSYSTEM \"s\u0000y\">"))
        case _ => sb.append(pick(rng, "\n", "\t", "\u0000", " ", "</>", "<", "a<b", "</ x>"))
      }
      k += 1
    }
    sb.toString
  }

  private def nests(): Seq[String] = {
    val d = 2000
    Seq(
      "<body>" + "<div>t" * d + "</span></x-y>" + "</div>" * d + "tail",
      "<ul>" + "<li>i<ul>" * d + "</p></li>" + "</ul></li>" * d + "</ul>",
      "<table>" + "<tr><td><table>" * (d / 4) + "x</td>" + "</table></td></tr>" * (d / 4) + "</table>",
      "<div>" + "<my-el a=1><p>q" * d + "</unknown>" + "</my-el>" * d,
      "<p>" + "<div><p>w" * d + "</div></ghost>" * (d / 2),
      "<b>" + "<i><b><nobr>z" * (d / 4) + "</b>" * (d / 2) + "</i>tail",
      "<dl>" + "<dd><dt>v" * d + "</dl>",
      "<section>" + "<custom-element><table>f<tr>" * (d / 4) + "</section>" + "</custom-element>" * (d / 4)
    )
  }

  private def edgeCases(): Seq[String] = Seq(
    "<a href=\"/x&amp;y\" href='/dup' HREF=/third>l</a>",
    "<img src=a.png alt=\"a &notin b\" alt=second src=b.png>",
    "<img src=\"s\u0000t\" alt='&#x41;&#65;&xyz;'>",
    "<meta name=robots content=noindex><meta property=og:title content=\"T &lt; U\">",
    "<link rel=\"alternate canonical\" href=/c><link rel=canonical href=/d>",
    "<html lang=EN-GB><html lang=fr><base href=/b/><base href=/c/>",
    "<div itemscope itemtype=t><span itemprop=\"n m\">x</span><meta itemprop=c content=v></div>",
    "<script type=\" application/LD+json ; x\">{\"a\":1}</script><script type=application/ld+json>{",
    "<p a b c=d e='' f=\"\" g=h=i j=`k` l=&amp; m=&#0; n=\u0000>t</p>",
    "<p class=main id=\"p1\" data-blob=\"" + "abcdefghijklmnopqrstuvwxyz" * 400 + "\">blob</p>",
    "<p data-x=\"" + "ab&amp;" * 300 + "\" data-y='" + "q\u0000" * 200 + "'>y</p>",
    "<!DOCTYPE " + "Name" * 500 + ">doc", "<!DOCTYPE x PPUBLIC \"" + "pub" * 500 + "\" \"" + "s" * 600 + "\">",
    "<!DOCTYPE y SSYSTEM '" + "id\u0000" * 300 + "'>z", "<!DOCTYPE " + "n\u0000" * 200,
    "<!DOCTYPE x PPUBLIC '" + "u" * 400, "<!DOCTYPE x SSYSTEM \"" + "w" * 400,
    "<textarea>\nx</textarea><pre>\ny</pre><title>T&amp;t</title><title>2</title>",
    "<svg><![CDATA[cd]]><foreignObject><p>f</p></foreignObject></svg>x",
    "<a href=1>x<div>y<a href=2>z</a>q</div>r</a>s<nobr>a<nobr>b</nobr>c",
    "<table>x<tr><td>c1<td><b><i>c2</b>tail</i><tr><td>c3</table>after",
    "<p>abc&", "<div x", "<div x=\"unterminated", "<A HREF=X>Y</A>",
    // long captured values (byte-mode values that stay input runs until read)
    "<a href=\"/" + "long-path-segment/" * 200 + "\">l</a><link rel=canonical href='" + "h" * 1000 + "'>",
    "<img src=\"" + "s" * 3000 + "\" alt=\"" + "alt text " * 300 + "\"><html lang=\"" + "EN-x" * 100 + "\">",
    "<meta property=\"og:description\" content=\"" + "c" * 5000 + "\"><base href='" + "b" * 700 + "'>",
    "<div itemscope itemtype='" + "t" * 900 + "'><meta itemprop=x content=\"" + "m" * 2000 + "\"></div>"
  )

  private final class Hasher {
    private val md = java.security.MessageDigest.getInstance("SHA-256")
    private val buf = java.nio.ByteBuffer.allocate(8)
    def long(v: Long): Unit = { buf.clear(); buf.putLong(v); md.update(buf.array(), 0, 8) }
    def str(s: String): Unit = {
      if (s == null) long(-1L)
      else { val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8); long(b.length); md.update(b) }
    }
    def strs(v: Seq[String]): Unit = { long(v.length); v.foreach(str) }
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def hashResult(h: Hasher, r: ExtractResult): Unit = {
    h.str(r.text); h.str(r.mainText); h.str(r.title)
    h.long(r.spans.length)
    r.spans.foreach { s =>
      h.long(s.start); h.long(s.end); h.str(s.path); h.long(s.block)
      h.long(if (s.link) 1 else 0); h.long(if (s.kept) 1 else 0)
    }
    h.strs(r.links); h.strs(r.anchors); h.strs(r.imgSrcs); h.strs(r.imgAlts)
    h.strs(r.ogProps); h.strs(r.ogVals)
    h.str(r.metaRobots); h.str(r.baseHref); h.str(r.canonical); h.str(r.declaredLang)
    h.strs(r.jsonLd)
    h.long(r.nTokens); h.long(r.nTags); h.long(r.nErrors); h.strs(r.errors)
    h.long(if (r.truncated) 1 else 0)
    h.long(r.stateHits.length); r.stateHits.foreach(h.long)
  }

  private def hashTok(h: Hasher, t: Tok): Unit = t match {
    case TChar(cp) => h.long(1); h.long(cp)
    case TTag(s, n, sc, attrs) =>
      h.long(2); h.long(if (s) 1 else 0); h.str(n); h.long(if (sc) 1 else 0)
      h.long(attrs.length); attrs.foreach { case (k, v) => h.str(k); h.str(v) }
    case TComment(d) => h.long(3); h.str(d)
    case TDoctype(n, p, s, q) => h.long(4); h.str(n); h.str(p); h.str(s); h.long(if (q) 1 else 0)
    case TEof(n, m) => h.long(5); h.str(n); h.str(m)
  }

  /** The corpus, in a fixed order. */
  private lazy val corpus: Seq[String] = {
    val rng = new java.util.SplittableRandom(20261019L)
    renderedPages() ++ (0 until 600).map(i => soup(rng, nonAscii = i % 5 == 4)) ++ nests() ++ edgeCases()
  }

  test("every ExtractResult field over the corpus matches the pinned digest") {
    val h = new Hasher
    val sink = new ExtractSink
    var bytePages = 0
    corpus.foreach { html =>
      val bytes = html.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      if (bytes.forall(_ >= 0)) bytePages += 1
      hashResult(h, Extractor.extractInto(bytes, sink))
      hashResult(h, Extractor.extractCpsInto(RefTokenizer.codepoints(html), sink))
    }
    assert(bytePages > corpus.length / 2, "too few byte-mode pages")
    assert(corpus.exists(_.contains("<div class=\"w\">" * 200)), "no 200-deep page")
    assert(corpus.exists(_.contains("data-blob=\"")), "no blob page")
    val got = h.hex
    info(s"extract digest $got over ${corpus.length} inputs")
    assert(got == ExtractDigest)
  }

  test("every fidelity-mode token and error over the corpus matches the pinned digest") {
    val h = new Hasher
    corpus.foreach { html =>
      val s = new CollectingSink
      val outcome =
        try { new RefTokenizer(RefTokenizer.codepoints(html), s).run(); 0L }
        catch { case _: StepBudgetExceeded => 1L; case _: VCastPanic => 2L }
      h.long(outcome); h.long(s.toks.length); s.toks.foreach(hashTok(h, _)); h.strs(s.errors.toSeq)
    }
    val got = h.hex
    info(s"fidelity digest $got over ${corpus.length} inputs")
    assert(got == FidelityDigest)
  }
}
