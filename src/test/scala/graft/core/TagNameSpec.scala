package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Tag names as the tokenizer emits them, in both modes: ASCII case folded,
  * everything else kept, whether or not the name is a known element. Pins
  * the full token stream so a name-table hit, a miss, a partial end-tag
  * name and the raw-text end tags all produce the same tokens.
  */
class TagNameSpec extends AnyFunSuite {
  private val eofG = TEof(Tok.EofGenericName, Tok.EofGenericMsg)
  private def chars(s: String): Vector[Tok] = s.codePoints().toArray.toVector.map(TChar(_))
  private def start(n: String, attrs: (String, String)*): TTag = TTag(true, n, false, attrs.toVector)
  private def end(n: String): TTag = TTag(false, n, false, Vector.empty)

  /** Same tokens in spec and fidelity mode (data-state only input). */
  private def both(html: String)(expected: Vector[Tok]): Unit =
    for (spec <- Seq(false, true)) {
      val got = RefTokenizer.tokenize(html, specMode = spec).toks.toVector
      assert(got == expected, s"specMode=$spec")
    }

  test("mixed-case known names fold to the lowercase name") {
    both("<DiV Id=\"a\">x</DiV><BLOCKQUOTE></blockQuote>")(
      Vector(start("div", "id" -> "a")) ++ chars("x") ++
        Vector(end("div"), start("blockquote"), end("blockquote"), eofG))
  }

  test("custom elements and near-misses of known names are kept as written") {
    both("<my-widget data-x=\"1\"></My-Widget><divx><di><H7>")(
      Vector(start("my-widget", "data-x" -> "1"), end("my-widget"), start("divx"), start("di"),
        start("h7"), eofG))
  }

  test("a name longer than any known element name") {
    val long = "abcdefghijklmnopqrstuvwxyz0123456789"
    both(s"<${long.toUpperCase}>t</$long>")(
      Vector(start(long)) ++ chars("t") ++ Vector(end(long), eofG))
  }

  test("non-ASCII name characters are kept, only ASCII folds (codepoint mode)") {
    both("<DÍv>a</SPAN𝒳>")(
      Vector(start("dÍv")) ++ chars("a") ++ Vector(end("span𝒳"), eofG))
  }

  test("NUL inside a name becomes U+FFFD, in start and end tags") {
    for (spec <- Seq(false, true)) {
      val s = RefTokenizer.tokenize("<di\u0000V>x</P\u0000>", specMode = spec)
      assert(s.toks.toVector ==
        Vector(start("di�v")) ++ chars("x") ++ Vector(end("p�"), eofG), s"specMode=$spec")
      assert(s.errors.count(_ == "unexpected_null_character") == 2)
    }
  }

  test("attributes keep document order across the known-name path") {
    both("<a HREF=\"/x\" title='t' Data-K=\"v\">l</a>")(
      Vector(start("a", "href" -> "/x", "title" -> "t", "data-k" -> "v")) ++ chars("l") ++
        Vector(end("a"), eofG))
  }

  test("self-closing start tag emits a self-closing copy") {
    both("<BR/><my-el a=\"1\"/>")(
      Vector(TTag(true, "br", true, Vector.empty), TTag(true, "my-el", true, Vector("a" -> "1")), eofG))
  }

  test("spec mode: raw-text end tags `</SCRIPT >` and `</TiTlE>` close their elements") {
    val s = RefTokenizer.tokenize("<script>a<b</SCRIPT >c<title>d</tit>e</TiTlE>f", specMode = true)
    assert(s.toks.toVector ==
      Vector(start("script")) ++ chars("a<b") ++ Vector(end("script")) ++ chars("c") ++
        Vector(start("title")) ++ chars("d</tit>e") ++ Vector(end("title")) ++ chars("f") :+ eofG)
  }

  test("spec mode: raw-text end tag with attributes and the other raw states") {
    val s = RefTokenizer.tokenize(
      "<style>x</STYLE a=\"1\"><textarea>y</TextArea><xmp>z</xmpp></XMP>", specMode = true)
    assert(s.toks.toVector ==
      Vector(start("style")) ++ chars("x") ++ Vector(TTag(false, "style", false, Vector("a" -> "1")),
        start("textarea")) ++ chars("y") ++ Vector(end("textarea"), start("xmp")) ++ chars("z</xmpp>") ++
        Vector(end("xmp"), eofG))
  }

  test("fidelity: the raw-text elements tokenize in the data state") {
    val s = RefTokenizer.tokenize("<script>a</SCRIPT >b<title>c</TiTlE>", specMode = false)
    assert(s.toks.toVector ==
      Vector(start("script")) ++ chars("a") ++ Vector(end("script")) ++ chars("b") ++
        Vector(start("title")) ++ chars("c") ++ Vector(end("title"), eofG))
  }

  test("byte mode and codepoint mode emit the same names and attribute values") {
    val html = "<DIV title=\"a&amp;b c\" data-blob='" + "xyz" * 3000 + "'><my-widget><Table><TBODY>" +
      "<tr><TD>x</td></TABLE></My-Widget><abcdefghijklmnopqrstu/><p id=\"eof"
    for (spec <- Seq(false, true)) {
      val a = new CollectingSink
      new RefTokenizer(null, a, spec, binput = html.getBytes("US-ASCII")).run()
      val b = RefTokenizer.tokenize(html, specMode = spec)
      assert(a.toks == b.toks, s"specMode=$spec")
      assert(a.toks.head == TTag(true, "div", false, Vector("title" -> "a&b c", "data-blob" -> "xyz" * 3000)))
    }
  }
}
