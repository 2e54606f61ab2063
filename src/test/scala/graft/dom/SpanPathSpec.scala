package graft.dom

import org.scalatest.funsuite.AnyFunSuite
import graft.spark.Pages

/** Exact span paths: every span's `path` equals a walk of the final arena
  * from its text node's parent up to the root, `/name` per element, then
  * `#` and the parent's arena id. Text nodes are the arena's unnamed nodes,
  * created in span order. One sink is reused across all pages, as the
  * kernel does per partition.
  */
class SpanPathSpec extends AnyFunSuite {

  private def walk(a: Arena, par: Int): String = {
    var parts = List.empty[String]
    var e = par
    while (e > 0) { parts = a.name(e) :: parts; e = a.parent(e) }
    parts.map("/" + _).mkString + "#" + par
  }

  private val sink = new ExtractSink

  /** Extracts `html` into the shared sink and checks every span path
    * against the arena walk; also checks a fresh sink gives the same spans.
    */
  private def checked(html: String): ExtractResult = {
    val bytes = html.getBytes("UTF-8")
    val r = Extractor.extractInto(bytes, sink)
    val a = sink.arena
    val textNodes = (0 until a.size).filter(i => a.name(i) == null)
    assert(textNodes.length == r.spans.length)
    r.spans.zip(textNodes).foreach { case (s, t) =>
      assert(s.path == walk(a, a.parent(t)), s"span [${s.start},${s.end}) of ${html.take(80)}")
    }
    assert(Extractor.extractInto(bytes, new ExtractSink).spans == r.spans)
    r
  }

  test("a 200-deep page with text at every depth") {
    val depth = 200
    val html = "<body>" + (0 until depth).map(i => s"<div>t$i").mkString + "<p>leaf</p>" +
      "</div>" * depth + "tail</body>"
    val r = checked(html)
    assert(r.spans.length == depth + 2)
    val leaf = r.spans(depth)
    assert(leaf.path.startsWith("/html/body" + "/div" * depth + "/p#"))
    assert(r.spans(0).path.startsWith("/html/body/div#"))
    assert(r.spans.last.path.startsWith("/html/body#"))
  }

  test("adoption-agency pages: paths follow the restructured tree") {
    val pages = Seq(
      "<p><b><i>a</b>b</i>c</p>",
      "<div><b>x<section>y</b>z</section>w</div>",
      "<a href=1>x<div>y<a href=2>z</a>q</div>r</a>s",
      "<b>1<p>2<i>3<div>4</b>5</i>6</div>7",
      "<nobr>a<nobr>b</nobr>c<p><em><strong>d</em>e</strong>f</p>"
    )
    pages.foreach(checked)
    val r = checked("<div><b>x<section>y</b>z</section>w</div>")
    assert(r.spans(1).path.startsWith("/html/body/div/section/b#"))
  }

  test("foster-parented text and elements: paths name the table's parent") {
    val pages = Seq(
      "<body><table>x<tr><td>y</td></tr></table></body>",
      "<table><div>fostered text</div><tr><td>cell</td></tr></table>",
      "<div><table><b>x<tr><td>c</table>d</div>",
      "<table><tr>a<td>b</td>c</tr></table>e",
      "<p>before<table>f1<tbody>f2<tr><td>in</td></tr></tbody></table>after</p>"
    )
    pages.foreach(checked)
    val r = checked("<body><table>x<tr><td>y</td></tr></table></body>")
    assert(r.spans(0).path.startsWith("/html/body#"))
    assert(r.spans(1).path.startsWith("/html/body/table/tr/td#"))
  }

  test("synthesized pages, including 200-deep and 64 KB attribute pages") {
    var deep = 0
    var blob = 0
    for (d <- 0L until 240L) {
      val html = Pages.render(d, 0, s"Document $d body text with several words in it.", "en", "web")
      if (html.contains("<div class=\"w\">" * 200)) deep += 1
      if (html.contains("data-blob=")) blob += 1
      checked(html)
      checked(Pages.renderTable(d))
      checked(Pages.renderArticle(d))
      checked(Pages.renderMedia(d))
      checked(Pages.renderOutline(d))
      checked(Pages.renderLinks(d))
      checked(Pages.renderMicrodata(d))
    }
    assert(deep > 0 && blob > 0, s"deep=$deep blob=$blob")
  }
}
