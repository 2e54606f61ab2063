package graft.core

/** The one table of known element names. The tokenizer resolves each tag
  * name against it once, so a known name is the table's canonical `String`
  * (no allocation) and every later `==`, `match` and hash lookup on it is an
  * identity hit; an unknown name (custom elements, typos, non-ASCII) costs
  * one string. `ExtractConfig`'s flag table is keyed by these same strings.
  */
object TagNames {
  /** HTML element names (current and legacy), plus the SVG and MathML names
    * common on web pages, all lowercase as the tokenizer folds them.
    */
  private val names: Array[String] = Array(
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
  )

  /** Longest name in the table: longer candidates miss without hashing. */
  private val maxLength: Int = names.map(_.length).max

  // open addressing, linear probing, load factor < 0.5; slot = String.hashCode
  private val mask = Integer.highestOneBit(names.length * 2) * 2 - 1
  private val slots: Array[String] = {
    val t = new Array[String](mask + 1)
    names.foreach { n =>
      var i = n.hashCode & mask
      while (t(i) != null) { require(t(i) != n, s"duplicate name $n"); i = (i + 1) & mask }
      t(i) = n
    }
    t
  }

  /** The canonical string equal to `cs`, or null when `cs` is not a known
    * name. `cs` holds an already case-folded name.
    */
  def lookup(cs: CharSequence): String = {
    val n = cs.length
    if (n == 0 || n > maxLength) return null
    var h = 0
    var i = 0
    while (i < n) { h = 31 * h + cs.charAt(i); i += 1 }
    var s = h & mask
    while (slots(s) != null) {
      val c = slots(s)
      if (c.hashCode == h && c.contentEquals(cs)) return c
      s = (s + 1) & mask
    }
    null
  }
}
