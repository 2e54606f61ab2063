package graft.core

/** A fixed table of known names. Each name resolves once to a small int id
  * and to the table's canonical `String`, so a known name allocates nothing
  * and compares as an int from then on; an unknown name resolves to -1.
  */
class NameTable(names: Array[String]) {
  /** Number of ids: known ids are `0 until size`. */
  val size: Int = names.length

  /** Longest name in the table: longer candidates miss without hashing. */
  private val maxLength: Int = names.map(_.length).max

  // open addressing, linear probing, load factor < 0.5; slot = String.hashCode,
  // entry = id + 1 (0 = empty)
  private val mask = Integer.highestOneBit(names.length * 2) * 2 - 1
  private val slots: Array[Int] = {
    val t = new Array[Int](mask + 1)
    names.indices.foreach { id =>
      val n = names(id)
      var i = n.hashCode & mask
      while (t(i) != 0) { require(names(t(i) - 1) != n, s"duplicate name $n"); i = (i + 1) & mask }
      t(i) = id + 1
    }
    t
  }

  /** The id of the name equal to `cs`, or -1 when `cs` is not a known name.
    * `cs` holds an already case-folded name.
    */
  def id(cs: CharSequence): Int = {
    val n = cs.length
    if (n == 0 || n > maxLength) return -1
    var h = 0
    var i = 0
    while (i < n) { h = 31 * h + cs.charAt(i); i += 1 }
    var s = h & mask
    while (slots(s) != 0) {
      val c = names(slots(s) - 1)
      if (c.hashCode == h && c.contentEquals(cs)) return slots(s) - 1
      s = (s + 1) & mask
    }
    -1
  }

  /** The canonical string of a known id. */
  def name(id: Int): String = names(id)

  /** Id of a name the caller knows is in the table (fails class init if not). */
  protected def known(n: String): Int = { val i = id(n); require(i >= 0, s"$n is not in the table"); i }
}

/** The one table of known element names. The tokenizer resolves each tag
  * name against it once and hands the id to the sink with the canonical
  * string; an unknown name (custom elements, typos, non-ASCII) costs one
  * string and has id -1. `ExtractConfig`'s flag table is indexed by these ids.
  */
object TagNames extends NameTable(Array(
  // HTML element names (current and legacy), plus the SVG and MathML names
  // common on web pages, all lowercase as the tokenizer folds them
  "a", "abbr", "acronym", "address", "applet", "area", "article", "aside", "audio",
  "b", "base", "basefont", "bdi", "bdo", "bgsound", "big", "blink", "blockquote", "body",
  "br", "button", "canvas", "caption", "center", "cite", "code", "col", "colgroup",
  "data", "datalist", "dd", "del", "details", "dfn", "dialog", "dir", "div", "dl", "dt",
  "em", "embed", "fieldset", "figcaption", "figure", "font", "footer", "form", "frame",
  "frameset", "h1", "h2", "h3", "h4", "h5", "h6", "head", "header", "hgroup", "hr", "html",
  "i", "iframe", "image", "img", "input", "ins", "isindex", "kbd", "keygen", "label",
  "legend", "li", "link", "listing", "main", "map", "mark", "marquee", "math", "menu",
  "menuitem", "meta", "meter", "nav", "nobr", "noembed", "noframes", "noscript", "object",
  "ol", "optgroup", "option", "output", "p", "param", "picture", "plaintext", "pre",
  "progress", "q", "rb", "rp", "rt", "rtc", "ruby", "s", "samp", "script", "search",
  "section", "select", "slot", "small", "source", "spacer", "span", "strike", "strong",
  "style", "sub", "summary", "sup", "svg", "table", "tbody", "td", "template", "textarea",
  "tfoot", "th", "thead", "time", "title", "tr", "track", "tt", "u", "ul", "var", "video",
  "wbr", "xmp",
  // SVG and MathML
  "circle", "clippath", "defs", "ellipse", "foreignobject", "g", "line", "lineargradient",
  "mask", "path", "pattern", "polygon", "polyline", "radialgradient", "rect", "stop",
  "symbol", "text", "tspan", "use", "mi", "mn", "mo", "ms", "mtext"
)) {
  // ids the tokenizer and the tree builder test for
  val A: Int = known("a"); val Base: Int = known("base"); val Body: Int = known("body")
  val Caption: Int = known("caption"); val Dd: Int = known("dd"); val Dt: Int = known("dt")
  val Head: Int = known("head"); val Html: Int = known("html"); val Iframe: Int = known("iframe")
  val Img: Int = known("img"); val Li: Int = known("li"); val Link: Int = known("link")
  val Listing: Int = known("listing"); val Math: Int = known("math"); val Meta: Int = known("meta")
  val Nobr: Int = known("nobr"); val Noembed: Int = known("noembed"); val Noframes: Int = known("noframes")
  val P: Int = known("p"); val Plaintext: Int = known("plaintext"); val Pre: Int = known("pre")
  val Script: Int = known("script"); val Style: Int = known("style"); val Svg: Int = known("svg")
  val Table: Int = known("table"); val Tbody: Int = known("tbody"); val Td: Int = known("td")
  val Template: Int = known("template"); val Textarea: Int = known("textarea")
  val Tfoot: Int = known("tfoot"); val Th: Int = known("th"); val Thead: Int = known("thead")
  val Title: Int = known("title"); val Tr: Int = known("tr"); val Xmp: Int = known("xmp")
}

/** Attribute names the sinks read, plus the ones common on web pages, so
  * that a known attribute name allocates nothing; unknown names (`data-*`,
  * typos) cost one string and have id -1.
  */
object AttrNames extends NameTable(Array(
  "href", "src", "alt", "lang", "rel", "type", "name", "content", "property", "itemprop",
  "itemscope", "itemtype", "itemid", "itemref", "data", "value", "datetime", "class", "id",
  "style", "title", "charset", "http-equiv", "width", "height", "target", "role", "action",
  "method", "for", "dir", "hreflang", "media", "sizes", "srcset", "loading", "async", "defer",
  "crossorigin", "integrity", "placeholder", "tabindex", "hidden", "colspan", "rowspan",
  "border", "align", "valign", "bgcolor", "color", "face", "size", "cellpadding",
  "cellspacing", "onclick", "onload", "xmlns", "viewbox", "fill", "d"
)) {
  val Alt: Int = known("alt"); val Content: Int = known("content"); val Data: Int = known("data")
  val Datetime: Int = known("datetime"); val Href: Int = known("href"); val Itemprop: Int = known("itemprop")
  val Itemscope: Int = known("itemscope"); val Itemtype: Int = known("itemtype"); val Lang: Int = known("lang")
  val Name: Int = known("name"); val Property: Int = known("property"); val Rel: Int = known("rel")
  val Src: Int = known("src"); val Type: Int = known("type"); val Value: Int = known("value")
}
