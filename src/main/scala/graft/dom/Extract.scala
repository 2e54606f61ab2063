package graft.dom

import graft.core._

/** One contiguous text run in the extracted text, with its DOM anchor.
  * Offsets are Java char (UTF-16 code unit) offsets into the full text.
  */
final case class Span(start: Int, end: Int, path: String, block: Int, link: Boolean, kept: Boolean)

final case class ExtractResult(
    text: String, // all in-content character tokens (boilerplate subtrees elided)
    mainText: String, // density-filtered main content
    title: String, // first <title> content (metadata; never part of text)
    spans: Vector[Span],
    links: Vector[String], // href of every <a> start tag, document order
    // anchor text per captured link (parallel to `links`): the text the
    // extractor sees inside that <a> in the final tree, adoption-agency
    // clones included. Links whose text sits in blacklisted subtrees (nav,
    // footer, ...) keep "" — the engine judges content text, and boilerplate
    // anchors carry no content.
    anchors: Vector[String],
    // every <img src> in document order + its alt text ("" when absent) —
    // the caption-pair capture an image-text corpus build (img2dataset
    // shape) starts from; like links, boilerplate images are included
    imgSrcs: Vector[String],
    imgAlts: Vector[String],
    // Open Graph pairs (<meta property="og:*" content=...> plus the
    // article:* namespace — article:published_time is the standard
    // publication-date channel) in document order, property lowercased —
    // og:title/og:image/og:description are the preview/caption metadata a
    // multimodal corpus build keys on; repeats (multiple og:image) are kept
    ogProps: Vector[String],
    ogVals: Vector[String],
    metaRobots: String, // first <meta name=robots> content ("" if absent)
    baseHref: String, // first <base href> ("" if absent) — link-resolution base
    // first <link rel=canonical href> ("" if absent) — the duplicate-cluster
    // key crawl dedup groups on (mirrors/recrawls/tracking-param variants of
    // one page all declare the same canonical); rel is a space-separated
    // token list matched case-insensitively
    canonical: String,
    // declared document language: the first <html> start tag carrying a
    // lang attribute ("" if none declares one), value ASCII-lowercased —
    // BCP-47 tags compare case-insensitively and web pipelines compare the
    // declaration against detected language as a quality signal. Later
    // <html> tags may still donate the attribute (the spec merges missing
    // attributes onto the root element), which "first tag WITH lang wins"
    // realizes exactly.
    declaredLang: String,
    // raw text content of every <script type="application/ld+json"> block,
    // document order — schema.org structured data (Article/Product/FAQ
    // markup) is the highest-precision metadata a page publishes and real
    // pipelines harvest it before any heuristic. Content is RAWTEXT (no
    // char-ref decoding happens inside script, per spec) and is NEVER part
    // of the extracted text; parsing the JSON itself is the engine's job
    // downstream (get_json_object over this column).
    jsonLd: Vector[String],
    nTokens: Long,
    nTags: Long,
    nErrors: Int,
    errors: Vector[String],
    truncated: Boolean,
    stateHits: Array[Long]
)

object ExtractConfig {
  /** Subtrees whose character data is never content. `title` is captured
    * separately as metadata (ExtractSink.titleBuf) — a stray title in body
    * must not leak into the extracted text either.
    */
  val blacklist: Set[String] = Set(
    "script", "style", "template", "noscript", "head", "svg", "math",
    "nav", "footer", "aside", "form", "iframe", "object", "applet",
    "select", "option", "button", "datalist", "title"
  )
  /** Void elements (never pushed on the open stack). */
  val voids: Set[String] = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr"
  )
  /** Block-level grouping for text-density scoring. */
  val blocks: Set[String] = Set(
    "p", "div", "li", "td", "th", "h1", "h2", "h3", "h4", "h5", "h6",
    "blockquote", "pre", "section", "article", "main", "body", "table",
    "ul", "ol", "tr", "dd", "dt", "figcaption", "summary"
  )
  /** A start of any of these auto-closes an open <p> (implied-end subset of
    * WHATWG §13.2.6.4.7). */
  val closesP: Set[String] = Set(
    "p", "div", "ul", "ol", "li", "dd", "dt", "h1", "h2", "h3", "h4", "h5",
    "h6", "table", "blockquote", "pre", "section", "article", "main", "dl"
  )
  /** Active-formatting elements (WHATWG §13.2.4.3): scope-bounded end-tag
    * matching + reconstruction after implied closes. */
  val formatting: Set[String] = Set(
    "a", "b", "big", "code", "em", "font", "i", "nobr", "s", "small",
    "strike", "strong", "tt", "u"
  )
  /** "In scope" boundaries (§13.2.4.2 default scope, html-namespace part):
    * end tags never match an element beyond these. */
  val scopeStops: Set[String] = Set(
    "html", "table", "td", "th", "caption", "applet", "marquee", "object",
    "template"
  )
  /** Elements that also push a marker onto the active-formatting list
    * (reconstruction never crosses them). §13.2.4.3's exact list — table
    * is a SCOPE boundary but NOT a marker: formatting opened in table
    * context (fostered) survives `</table>` and reconstructs after it.
    */
  val fmtMarkerSet: Set[String] = Set(
    "td", "th", "caption", "applet", "marquee", "object", "template"
  )
  /** Insertion points whose character data / stray elements are
    * foster-parented before the table (§13.2.6.4.9 "in table"). */
  val fosterSet: Set[String] = Set("table", "tbody", "thead", "tfoot", "tr")
  /** End-tag scopes for the table family and list items (§13.2.4.2). */
  val tableEndStops: Set[String] = Set("html", "template")
  val tablePartEndStops: Set[String] = Set("html", "table", "template")
  val listEndStops: Set[String] = scopeStops ++ Set("ul", "ol", "dl")
  // implied-end scope stops, hoisted: these sit on the per-TAG hot path and
  // must never be allocated per call
  val pImpliedStops: Set[String] = Set("body", "table", "td", "th", "caption")
  val liImpliedStops: Set[String] = Set("ul", "ol", "body", "table", "td", "th")
  val dlImpliedStops: Set[String] = Set("dl", "body", "table", "td", "th")
  val trImpliedStops: Set[String] = Set("table", "html")
  val cellImpliedStops: Set[String] = Set("tr", "table", "html")
  /** Content that is legal directly in table context (never fostered). */
  val tableParts: Set[String] = Set(
    "table", "tbody", "thead", "tfoot", "tr", "td", "th", "caption",
    "colgroup", "col", "script", "style", "template", "form"
  )
  /** Metadata content that belongs in an (implied) head before body opens. */
  val headOnly: Set[String] = Set(
    "title", "meta", "link", "base", "style", "script", "noscript", "template"
  )
  /** WHATWG §13.2.4.2 "special" category (html namespace) — the furthest-
    * block eligibility test of the adoption agency algorithm.
    */
  val special: Set[String] = Set(
    "address", "applet", "area", "article", "aside", "base", "basefont",
    "bgsound", "blockquote", "body", "br", "button", "caption", "center",
    "col", "colgroup", "dd", "details", "dir", "div", "dl", "dt", "embed",
    "fieldset", "figcaption", "figure", "footer", "form", "frame", "frameset",
    "h1", "h2", "h3", "h4", "h5", "h6", "head", "header", "hgroup", "hr",
    "html", "iframe", "img", "input", "keygen", "li", "link", "listing",
    "main", "marquee", "menu", "meta", "nav", "noembed", "noframes",
    "noscript", "object", "ol", "p", "param", "plaintext", "pre", "script",
    "search", "section", "select", "source", "style", "summary", "table",
    "tbody", "td", "template", "textarea", "tfoot", "th", "thead", "title",
    "tr", "track", "ul", "wbr", "xmp"
  )
  val minBlockTextLen = 8
  val maxLinkDensity = 0.5

  // ---- per-name bit flags (the per-tag hot path does ONE array read) ------
  final val FBlacklist = 1 << 0
  final val FVoid = 1 << 1
  final val FBlock = 1 << 2
  final val FClosesP = 1 << 3
  final val FFormatting = 1 << 4
  final val FFoster = 1 << 5
  final val FTablePart = 1 << 6
  final val FHeadOnly = 1 << 7
  final val FMarker = 1 << 8
  final val SDefault = 1 << 9
  final val STableEnd = 1 << 10
  final val STablePart = 1 << 11
  final val SList = 1 << 12
  final val SP = 1 << 13
  final val SLi = 1 << 14
  final val SDl = 1 << 15
  final val STr = 1 << 16
  final val SCell = 1 << 17
  final val FSpecial = 1 << 18
  final val FTableSection = 1 << 19 // row/section/cell/caption family (clears to table context)

  /** TagNames id → OR of all flag/scope bits; names absent from every set
    * → 0. Every name in the sets must be in TagNames (checked at class init).
    */
  val flagTable: Array[Int] = {
    val m = new Array[Int](TagNames.size)
    def add(s: Iterable[String], bit: Int): Unit =
      s.foreach { n =>
        val k = TagNames.id(n)
        require(k >= 0, s"$n is not in TagNames")
        m(k) |= bit
      }
    add(blacklist, FBlacklist); add(voids, FVoid); add(blocks, FBlock)
    add(closesP, FClosesP); add(formatting, FFormatting); add(fosterSet, FFoster)
    add(tableParts, FTablePart); add(headOnly, FHeadOnly); add(fmtMarkerSet, FMarker)
    add(scopeStops, SDefault); add(tableEndStops, STableEnd)
    add(tablePartEndStops, STablePart); add(listEndStops, SList)
    add(pImpliedStops, SP); add(liImpliedStops, SLi); add(dlImpliedStops, SDl)
    add(trImpliedStops, STr); add(cellImpliedStops, SCell)
    add(special, FSpecial)
    add(Set("tr", "td", "th", "tbody", "thead", "tfoot", "caption", "colgroup", "col"),
      FTableSection)
    m
  }

  /** Flag bits of a TagNames id; an unknown name (-1) has none. */
  @inline def flagsOf(id: Int): Int = if (id < 0) 0 else flagTable(id)

  /** The WHATWG microdata value-ATTRIBUTE rule per element (TagNames id →
    * AttrNames id; -1 = the property value is the element's text content).
    */
  val mdValueAttr: Array[Int] = {
    val m = Array.fill(TagNames.size)(-1)
    def set(attr: Int, tags: String*): Unit = tags.foreach(t => m(TagNames.id(t)) = attr)
    set(AttrNames.Content, "meta")
    set(AttrNames.Href, "a", "area", "link")
    set(AttrNames.Src, "img", "audio", "video", "embed", "iframe", "source", "track")
    set(AttrNames.Data, "object")
    set(AttrNames.Value, "data")
    set(AttrNames.Datetime, "time") // absent datetime → text content (spec)
    m
  }
}

/** Flat DOM arena: nodes are appended, never moved; parent/child indices only
  * (north star: "lightweight DOM arena (flat node array with parent/child
  * indices)"). Element text is not stored here — spans index into the
  * extracted text buffer instead.
  */
final class Arena {
  // flat primitive arrays (no boxing on the per-tag hot path), grown 2×
  private var cap = 64
  var name: Array[String] = new Array[String](cap) // null for text nodes
  var parent: Array[Int] = new Array[Int](cap)
  var firstChild: Array[Int] = new Array[Int](cap)
  var nextSibling: Array[Int] = new Array[Int](cap)
  var lastChild: Array[Int] = new Array[Int](cap)
  private var n = 0

  def clear(): Unit = { java.util.Arrays.fill(name.asInstanceOf[Array[AnyRef]], 0, n, null); n = 0 }

  private def grow(): Unit = {
    cap *= 2
    name = java.util.Arrays.copyOf(name, cap)
    parent = java.util.Arrays.copyOf(parent, cap)
    firstChild = java.util.Arrays.copyOf(firstChild, cap)
    nextSibling = java.util.Arrays.copyOf(nextSibling, cap)
    lastChild = java.util.Arrays.copyOf(lastChild, cap)
  }

  def add(nm: String, par: Int): Int = {
    if (n == cap) grow()
    val id = n
    name(id) = nm; parent(id) = par; firstChild(id) = -1; nextSibling(id) = -1; lastChild(id) = -1
    n += 1
    if (par >= 0) appendChild(par, id)
    id
  }

  /** Unlink a node from its parent's child list (O(#siblings); only the
    * adoption agency's tree surgery calls this — misnested formatting is
    * rare, the per-tag hot path never detaches).
    */
  def detach(id: Int): Unit = {
    val par = parent(id)
    if (par < 0) return
    if (firstChild(par) == id) {
      firstChild(par) = nextSibling(id)
      if (lastChild(par) == id) lastChild(par) = -1
    } else {
      var c = firstChild(par)
      while (c >= 0 && nextSibling(c) != id) c = nextSibling(c)
      if (c >= 0) {
        nextSibling(c) = nextSibling(id)
        if (lastChild(par) == id) lastChild(par) = c
      }
    }
    parent(id) = -1; nextSibling(id) = -1
  }

  def appendChild(par: Int, id: Int): Unit = {
    parent(id) = par
    if (firstChild(par) < 0) firstChild(par) = id
    else nextSibling(lastChild(par)) = id
    lastChild(par) = id
  }

  /** Link `id` under `par` immediately before `ref` (§13.2.6.4.9 foster
    * parenting inserts BEFORE the table). Falls back to append when `ref`
    * is not currently a child of `par` (the table was itself moved by
    * adoption-agency surgery). O(#siblings), fostering only.
    */
  def insertBefore(par: Int, ref: Int, id: Int): Unit = {
    if (ref < 0 || parent(ref) != par) { appendChild(par, id); return }
    parent(id) = par
    if (firstChild(par) == ref) {
      nextSibling(id) = ref
      firstChild(par) = id
    } else {
      var c = firstChild(par)
      while (c >= 0 && nextSibling(c) != ref) c = nextSibling(c)
      if (c >= 0) { nextSibling(id) = ref; nextSibling(c) = id }
      else appendChild(par, id)
    }
  }

  /** New node inserted before `ref` under `par` (fostered element/text). */
  def addBefore(nm: String, par: Int, ref: Int): Int = {
    val id = add(nm, -1)
    insertBefore(par, ref, id)
    id
  }

  def moveTo(id: Int, newPar: Int): Unit = { detach(id); appendChild(newPar, id) }

  def moveBefore(id: Int, newPar: Int, ref: Int): Unit = { detach(id); insertBefore(newPar, ref, id) }

  /** Re-parent every child of `from` under `to` (order preserved) — the
    * adoption agency's clone-into-furthest-block step.
    */
  def moveChildren(from: Int, to: Int): Unit = {
    var c = firstChild(from)
    while (c >= 0) {
      val nx = nextSibling(c)
      nextSibling(c) = -1
      appendChild(to, c)
      c = nx
    }
    firstChild(from) = -1; lastChild(from) = -1
  }
  def size: Int = n
}

/** Minimal primitive-backed growable vector. The open-element stack and
  * span buffers run per-tag/per-text-run: `ArrayBuffer[Int]` would box
  * every append (Integer.valueOf only caches −128..127; node ids and flag
  * masks sit outside it) — tens of millions of allocations per GB of
  * corpus on the kernel hot path.
  */
final class IntVec(initial: Int = 16) {
  private[this] var a = new Array[Int](initial)
  private[this] var n = 0
  def length: Int = n
  def isEmpty: Boolean = n == 0
  def nonEmpty: Boolean = n != 0
  def apply(i: Int): Int = a(i)
  def update(i: Int, v: Int): Unit = a(i) = v
  def +=(v: Int): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = v; n += 1
  }
  def remove(i: Int): Int = {
    val v = a(i)
    System.arraycopy(a, i + 1, a, i, n - i - 1); n -= 1
    v
  }
  def insert(i: Int, v: Int): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    System.arraycopy(a, i, a, i + 1, n - i)
    a(i) = v; n += 1
  }
  def clear(): Unit = n = 0
  def dropRightInPlace(k: Int): Unit = n -= k
}

/** The tree builder's stack of open elements: parallel arrays of arena
  * node, TagNames id (-1 for an unknown name), name and ExtractConfig flag
  * bits, plus the number of open entries per known id. With the counts,
  * "is no X open" is O(1), so the scope scans a start tag makes (an open
  * `p` to close, an open `table` to foster into) do not walk a deep stack.
  */
final class OpenStack {
  private[this] var node = new Array[Int](64)
  private[this] var ids = new Array[Int](64)
  private[this] var names = new Array[String](64)
  private[this] var flag = new Array[Int](64)
  private[this] val open = new Array[Int](TagNames.size)
  private[this] var n = 0

  def length: Int = n
  def top: Int = n - 1
  def nodeAt(i: Int): Int = node(i)
  def idAt(i: Int): Int = ids(i)
  def nameAt(i: Int): String = names(i)
  def flagsAt(i: Int): Int = flag(i)
  def setNode(i: Int, v: Int): Unit = node(i) = v
  def isOpen(id: Int): Boolean = open(id) > 0

  def clear(): Unit = {
    java.util.Arrays.fill(open, 0)
    java.util.Arrays.fill(names.asInstanceOf[Array[AnyRef]], 0, n, null)
    n = 0
  }

  def push(nd: Int, id: Int, name: String, f: Int): Unit = insert(n, nd, id, name, f)

  def insert(i: Int, nd: Int, id: Int, name: String, f: Int): Unit = {
    if (n == node.length) {
      node = java.util.Arrays.copyOf(node, n * 2); ids = java.util.Arrays.copyOf(ids, n * 2)
      names = java.util.Arrays.copyOf(names, n * 2); flag = java.util.Arrays.copyOf(flag, n * 2)
    }
    if (i < n) {
      System.arraycopy(node, i, node, i + 1, n - i); System.arraycopy(ids, i, ids, i + 1, n - i)
      System.arraycopy(names, i, names, i + 1, n - i); System.arraycopy(flag, i, flag, i + 1, n - i)
    }
    node(i) = nd; ids(i) = id; names(i) = name; flag(i) = f
    if (id >= 0) open(id) += 1
    n += 1
  }

  /** Removes entry `i`; the top (a pop) just shrinks the length. */
  def removeAt(i: Int): Unit = {
    if (ids(i) >= 0) open(ids(i)) -= 1
    val k = n - i - 1
    if (k > 0) {
      System.arraycopy(node, i + 1, node, i, k); System.arraycopy(ids, i + 1, ids, i, k)
      System.arraycopy(names, i + 1, names, i, k); System.arraycopy(flag, i + 1, flag, i, k)
    }
    n -= 1
    names(n) = null
  }

  @inline private def holds(i: Int, id: Int, name: String): Boolean =
    if (id >= 0) ids(i) == id else ids(i) < 0 && names(i) == name

  /** Last index above the root holding the element (`id`, or `name` when
    * the id is -1), scanning down but never past an entry with a `stopMask`
    * flag (§13.2.4.2 "has an element in scope"); -1 when out of scope.
    */
  def lastIndexWithin(id: Int, name: String, stopMask: Int): Int = {
    if (id >= 0 && open(id) == 0) return -1
    var i = n - 1
    while (i > 0) {
      if (holds(i, id, name)) return i
      if ((flag(i) & stopMask) != 0) return -1
      i -= 1
    }
    -1
  }

  /** Last index holding the known element `id` (-1 when none is open). */
  def lastIndexOf(id: Int): Int = {
    if (open(id) == 0) return -1
    var i = n - 1
    while (i >= 0 && ids(i) != id) i -= 1
    i
  }
}

/** Boolean sibling of IntVec (span link flags, active-formatting open bits). */
final class BoolVec(initial: Int = 16) {
  private[this] var a = new Array[Boolean](initial)
  private[this] var n = 0
  def length: Int = n
  def apply(i: Int): Boolean = a(i)
  def update(i: Int, v: Boolean): Unit = a(i) = v
  def +=(v: Boolean): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = v; n += 1
  }
  def remove(i: Int): Unit = { System.arraycopy(a, i + 1, a, i, n - i - 1); n -= 1 }
  def insert(i: Int, v: Boolean): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    System.arraycopy(a, i, a, i + 1, n - i)
    a(i) = v; n += 1
  }
  def clear(): Unit = n = 0
  def dropRightInPlace(k: Int): Unit = n -= k
}

/** Streams extract-mode tokenizer events into the arena + text buffer and
  * applies boilerplate-strip + text-density heuristics. All heuristics are
  * deterministic; no wall clock, no randomness.
  */
final class ExtractSink extends TokenSink {
  import ExtractConfig._
  import scala.collection.mutable.ArrayBuffer

  val arena = new Arena
  private var root = arena.add("#root", -1)

  /** the tokenizer's builders, kept across this sink's pages (see Extractor) */
  val tokenizerBuffers = new TokenizerBuffers

  private val T = TagNames
  private val A = AttrNames

  private val stk = new OpenStack; stk.push(root, -1, "#root", 0)
  private var skipDepth = 0 // >0 → inside blacklisted subtree
  private var dropNl = false // spec: newline right after <pre>/<listing>/<textarea> is ignored
  private var linkDepth = 0
  private var blockTop = root // nearest open block node
  private var foreignDepth = 0 // >0 → inside svg/math (CDATA is legal there)

  // implied document structure (§13.2.6.4.1-4.6): arena ids, -1 = not yet
  private var htmlIdx = -1
  private var headIdx = -1
  private var bodyIdx = -1

  // active formatting elements (§13.2.4.3): TagNames id + currently-open
  // flag + arena node (the adoption agency's entry identity); markers record
  // list length at table/td/caption entry so reconstruction never crosses a
  // cell boundary
  private val activeFmt = new IntVec
  private val activeFmtOpen = new BoolVec
  private val activeFmtNode = new IntVec
  // outLinks index of an `a` entry's source link (-1 otherwise). Rides the
  // AFL so adoption-agency clones and reconstruction re-opens keep pointing
  // at the link whose start tag captured the href — anchor text accumulates
  // across clone boundaries exactly like the rendered link does.
  private val activeFmtLink = new IntVec
  private val fmtMarkers = new IntVec

  private val outLinks = ArrayBuffer.empty[String] // a-href outlinks, document order
  private var pendingLinkIdx = -1 // outLinks idx of the <a> start being opened
  private val imgSrcs = ArrayBuffer.empty[String] // img src, document order
  private val imgAlts = ArrayBuffer.empty[String] // img alt per src ("" absent)
  private val ogProps = ArrayBuffer.empty[String] // og:* meta property names, document order
  private val ogVals = ArrayBuffer.empty[String] // og:* content per property (parallel)
  private var metaRobots: String = "" // first <meta name=robots> content
  private var baseHref: String = "" // first <base href>
  private var canonicalHref: String = "" // first <link rel=canonical href>
  private var declaredLang: String = "" // first <html lang=...>, lowercased

  private val text = new java.lang.StringBuilder
  // first <title> content (metadata every curation pipeline wants; captured
  // on the side — never reaches the content text, never alters accounting)
  private val titleBuf = new java.lang.StringBuilder
  private var inTitle = false
  private var titleDone = false
  // JSON-LD capture: <script type="application/ld+json"> content buffers on
  // the side like the title (script is blacklisted — its chars never reach
  // the content text, so this is the ONLY way they survive). Script data is
  // rawtext: nested tags can't occur, one boolean suffices.
  private val jsonLd = ArrayBuffer.empty[String]
  private val ldBuf = new java.lang.StringBuilder
  private var inLd = false
  // microdata capture (schema.org in-markup structured data — the JSON-LD
  // sibling): only nodes carrying itemscope/itemprop record into the side
  // maps (page-scoped, O(microdata nodes) — the arena itself stays
  // attribute-free); the value ATTRIBUTE per the WHATWG rule (meta→content,
  // a/area/link→href, media→src, object→data, data→value, time→datetime)
  // is resolved at tag time while attrs are in hand, text-content values at
  // walk time. Adoption-agency CLONES of microdata-carrying formatting
  // elements do not re-record (rare; documented trade).
  private val mdProp = new java.util.HashMap[Integer, String]
  private val mdType = new java.util.HashMap[Integer, String]
  private val mdVal = new java.util.HashMap[Integer, String]
  private val mdScope = new java.util.HashSet[Integer]
  private var pendingMdProp: String = null
  private var pendingMdScope = false
  private var pendingMdType: String = null
  private var pendingMdVal: String = null
  // pending spans: each text run becomes an arena TEXT NODE (name = null)
  // under its anchor element, so adoption-agency tree surgery moves text
  // with its block and span paths are materialized from the FINAL tree in
  // result() — not from the insertion-time stack
  private val spStart = new IntVec(64)
  private val spEnd = new IntVec(64)
  private val spText = new IntVec(64)
  private val spBlock = new IntVec(64)
  private val spLink = new BoolVec(64)
  private val spLinkIdx = new IntVec(64) // outLinks idx the run sits inside (-1 none)
  // current run
  private var runStart = -1
  private var runBlock = root
  private var runLink = false
  private var runLinkIdx = -1
  private var runAnchor = root
  private var runFosterRef = -1 // ≥0: the table node this run inserts before

  var nTokens = 0L
  var nTags = 0L
  val errors = ArrayBuffer.empty[String]

  /** caller-reused UTF-8 decode buffer (see Extractor.extractInto) */
  var decodeBuf: Array[Int] = new Array[Int](8192)

  /** Reuse across rows (per-partition kernel): clears all state, keeps the
    * grown buffers' capacity — the per-row allocation win at 10^12 docs.
    */
  def reset(): Unit = {
    arena.clear()
    root = arena.add("#root", -1)
    stk.clear(); stk.push(root, -1, "#root", 0)
    skipDepth = 0; linkDepth = 0; blockTop = root; foreignDepth = 0; dropNl = false
    htmlIdx = -1; headIdx = -1; bodyIdx = -1
    activeFmt.clear(); activeFmtOpen.clear(); activeFmtNode.clear(); activeFmtLink.clear(); fmtMarkers.clear()
    text.setLength(0)
    outLinks.clear(); metaRobots = ""; baseHref = ""; canonicalHref = ""; declaredLang = ""; pendingLinkIdx = -1
    imgSrcs.clear(); imgAlts.clear(); ogProps.clear(); ogVals.clear()
    titleBuf.setLength(0); inTitle = false; titleDone = false
    jsonLd.clear(); ldBuf.setLength(0); inLd = false
    mdProp.clear(); mdType.clear(); mdVal.clear(); mdScope.clear()
    pendingMdProp = null; pendingMdScope = false; pendingMdType = null; pendingMdVal = null
    spStart.clear(); spEnd.clear(); spText.clear(); spBlock.clear(); spLink.clear(); spLinkIdx.clear()
    runStart = -1; runBlock = root; runLink = false; runLinkIdx = -1; runAnchor = root; runFosterRef = -1
    nTokens = 0L; nTags = 0L
    errors.clear()
  }

  override def inForeignContent: Boolean = foreignDepth > 0

  private def closeRun(): Unit = {
    if (runStart >= 0 && text.length > runStart) {
      // text node under the anchor element; fostered runs link before the table
      val tid =
        if (runFosterRef >= 0) arena.addBefore(null, runAnchor, runFosterRef)
        else arena.add(null, runAnchor)
      spStart += runStart; spEnd += text.length; spText += tid
      spBlock += runBlock; spLink += runLink; spLinkIdx += runLinkIdx
    }
    runStart = -1
    runFosterRef = -1
  }

  private def blockUpTo(topIdx: Int): Int = {
    var i = topIdx
    while (i > 0 && (stk.flagsAt(i) & FBlock) == 0) i -= 1
    stk.nodeAt(i)
  }

  /** outLinks index of the innermost open `a` (via its AFL entry), -1 when
    * the run is not inside a captured link (href-less a, or the agency's
    * stack-removal fallback left an a outside the AFL).
    */
  private def currentLinkIdx(): Int = {
    if (!stk.isOpen(T.A)) return -1
    var i = stk.top
    while (i > 0) {
      if (stk.idAt(i) == T.A) {
        val af = aflIdxOfNode(stk.nodeAt(i))
        return if (af >= 0) activeFmtLink(af) else -1
      }
      i -= 1
    }
    -1
  }

  private def startRunIfNeeded(): Unit = {
    if (runStart < 0) {
      val top = stk.top
      runStart = text.length
      runLink = linkDepth > 0
      runLinkIdx = if (runLink) currentLinkIdx() else -1 // O(depth) only inside links
      // foster parenting (§13.2.6.4.9): character data while the insertion
      // point is table/tbody/thead/tfoot/tr is inserted BEFORE the table —
      // the run's text node hangs under the table's arena parent, linked
      // before the table in sibling order
      runFosterRef = -1
      if ((stk.flagsAt(top) & FFoster) != 0) {
        val ti = stk.lastIndexOf(T.Table)
        if (ti > 0) {
          runFosterRef = stk.nodeAt(ti)
          runAnchor = arena.parent(runFosterRef)
          runBlock = blockUpTo(ti - 1)
          return
        }
      }
      runBlock = blockTop
      runAnchor = stk.nodeAt(top)
    }
  }

  /** Before inserting character data: implied <body> (non-whitespace text
    * before any body opens it; whitespace there is dropped per spec) and
    * active-formatting reconstruction (§13.2.6.4.7 "in body": text after an
    * implied formatting close re-opens the formatting elements).
    */
  private def preText(hasNonWs: Boolean): Boolean = {
    if (bodyIdx < 0) {
      if (!hasNonWs && runStart < 0) return false // pre-body whitespace: dropped
      // non-ws text while the insertion point is the head itself implies
      // </head> (§ "in head": anything else → pop head, reprocess); text
      // nested in title/style/script stays where it is
      if (stk.idAt(stk.top) == T.Head || skipDepth == 0) ensureBody()
    }
    if (skipDepth > 0) return false
    if (runStart < 0 && (stk.flagsAt(stk.top) & FFoster) == 0)
      reconstructFmt()
    true
  }

  override def char(cp: Int): Unit = {
    nTokens += 1
    if (inTitle) titleBuf.appendCodePoint(cp)
    if (inLd) ldBuf.appendCodePoint(cp)
    if (dropNl) { dropNl = false; if (cp == '\n') return }
    if (preText(!isWsCp(cp))) {
      startRunIfNeeded()
      text.appendCodePoint(cp)
    }
  }

  override def chars(src: Array[Int], from0: Int, until: Int): Unit = {
    if (until <= from0) return
    nTokens += until - from0
    var from = from0
    if (dropNl) { dropNl = false; if (src(from) == '\n') from += 1 }
    if (inTitle) { var i = from; while (i < until) { titleBuf.appendCodePoint(src(i)); i += 1 } }
    if (inLd) { var i = from; while (i < until) { ldBuf.appendCodePoint(src(i)); i += 1 } }
    if (until <= from) return
    var nonWs = false
    var start = from
    if (bodyIdx < 0) {
      var i = from
      while (i < until && !nonWs) { nonWs = !isWsCp(src(i)); i += 1 }
      // match the per-char path: leading whitespace before body opens is
      // dropped (spec); only the tail from the first non-ws cp is inserted
      if (nonWs && runStart < 0) start = i - 1
    } else nonWs = true
    if (preText(nonWs)) {
      startRunIfNeeded()
      var i = start
      while (i < until) { text.appendCodePoint(src(i)); i += 1 }
    }
  }

  override def charsAscii(src: Array[Byte], from0: Int, until: Int): Unit = {
    if (until <= from0) return
    nTokens += until - from0
    var from = from0
    if (dropNl) { dropNl = false; if (src(from) == '\n') from += 1 }
    if (inTitle) { var i = from; while (i < until) { titleBuf.append(src(i).toChar); i += 1 } }
    if (inLd) { var i = from; while (i < until) { ldBuf.append(src(i).toChar); i += 1 } }
    if (until <= from) return
    var nonWs = false
    var start = from
    if (bodyIdx < 0) {
      var i = from
      while (i < until && !nonWs) { nonWs = !isWsCp(src(i).toInt); i += 1 }
      // match the per-char path: pre-body leading whitespace is dropped
      if (nonWs && runStart < 0) start = i - 1
    } else nonWs = true
    if (preText(nonWs)) {
      startRunIfNeeded()
      // bulk path: byte→char into a reused buffer, ONE array append (the
      // per-char StringBuilder append pays a capacity+bounds check per char;
      // text runs arrive here in whole-run batches from the byte-mode loop)
      val n = until - start
      if (asciiBuf.length < n) asciiBuf = new Array[Char](math.max(n, asciiBuf.length * 2))
      var i = 0
      while (i < n) { asciiBuf(i) = src(start + i).toChar; i += 1 }
      text.append(asciiBuf, 0, n)
    }
  }

  /** reused byte→char staging buffer for charsAscii */
  private var asciiBuf = new Array[Char](4096)

  private def isWsCp(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == '\r' || cp == 0x0c

  private def recomputeBlockTop(): Unit = blockTop = blockUpTo(stk.top)

  /** Push a known element onto the open stack (its canonical name). */
  private def pushOpen(tid: Int, par: Int): Int = pushOpen(tid, T.name(tid), par, flagsOf(tid))

  /** Push an element onto the open stack and into the arena; `f` =
    * flagsOf(tid), computed once by the caller. `before` ≥ 0 = foster
    * insertion point: link before that sibling instead of appending.
    */
  private def pushOpen(tid: Int, name: String, par: Int, f: Int, before: Int = -1): Int = {
    val id = if (before >= 0) arena.addBefore(name, par, before) else arena.add(name, par)
    stk.push(id, tid, name, f)
    if ((f & FBlacklist) != 0) skipDepth += 1
    if (tid == T.A) linkDepth += 1
    if (tid == T.Svg || tid == T.Math) foreignDepth += 1
    if ((f & FBlock) != 0) blockTop = id
    if ((f & FMarker) != 0) fmtMarkers += activeFmt.length
    if (!titleDone && tid == T.Title) inTitle = true
    id
  }

  private def popTo(idx: Int): Unit = {
    // pop stack entries above and including idx
    var i = stk.top
    while (i >= idx) {
      val tid = stk.idAt(i)
      val f = stk.flagsAt(i)
      if ((f & FBlacklist) != 0) skipDepth -= 1
      if (tid == T.A) linkDepth -= 1
      if (tid == T.Svg || tid == T.Math) foreignDepth -= 1
      if (inTitle && tid == T.Title) { inTitle = false; titleDone = true }
      if (inLd && tid == T.Script) flushLd()
      if ((f & FMarker) != 0 && fmtMarkers.nonEmpty) {
        // clear active formatting up to the marker (§ "clear ... to last marker")
        val m = fmtMarkers.remove(fmtMarkers.length - 1)
        activeFmt.dropRightInPlace(activeFmt.length - m)
        activeFmtOpen.dropRightInPlace(activeFmtOpen.length - m)
        activeFmtLink.dropRightInPlace(activeFmtLink.length - m)
        activeFmtNode.dropRightInPlace(activeFmtNode.length - m)
      } else if ((f & FFormatting) != 0) {
        // implicitly closed formatting element → eligible for reconstruction
        var j = activeFmt.length - 1
        var done = false
        while (j >= 0 && !done) {
          if (activeFmt(j) == tid && activeFmtOpen(j)) { activeFmtOpen(j) = false; done = true }
          j -= 1
        }
      }
      stk.removeAt(i)
      i -= 1
    }
    recomputeBlockTop()
  }

  /** Last stack index holding the known element `tid` in `stopMask` scope. */
  @inline private def lastIndexWithin(tid: Int, stopMask: Int): Int = stk.lastIndexWithin(tid, null, stopMask)

  /** Re-open implicitly-closed active formatting elements at the current
    * insertion point (§13.2.4.3 "reconstruct"), never crossing the last
    * marker.
    */
  private def reconstructFmt(): Unit = {
    if (activeFmt.isEmpty) return
    val start = if (fmtMarkers.isEmpty) 0 else fmtMarkers(fmtMarkers.length - 1)
    var i = start
    while (i < activeFmt.length) {
      if (!activeFmtOpen(i)) {
        val id = pushOpen(activeFmt(i), stk.nodeAt(stk.top))
        activeFmtOpen(i) = true
        activeFmtNode(i) = id // the re-opened element is a NEW node
      }
      i += 1
    }
  }

  private def removeFmtAt(i: Int): Unit = {
    activeFmt.remove(i); activeFmtOpen.remove(i); activeFmtNode.remove(i); activeFmtLink.remove(i)
  }

  /** Last active-formatting entry for `tid` between the end of the list
    * and the last marker (§13.2.6.4.7 step 4), or -1.
    */
  private def lastFmtIdx(tid: Int): Int = {
    val start = if (fmtMarkers.isEmpty) 0 else fmtMarkers(fmtMarkers.length - 1)
    var i = activeFmt.length - 1
    while (i >= start) {
      if (activeFmt(i) == tid) return i
      i -= 1
    }
    -1
  }

  private def aflIdxOfNode(id: Int): Int = {
    var i = activeFmtNode.length - 1
    while (i >= 0 && activeFmtNode(i) != id) i -= 1
    i
  }

  private def stackIdxOfNode(id: Int): Int = {
    var i = stk.top
    while (i > 0 && stk.nodeAt(i) != id) i -= 1
    i
  }

  // ---- implied document structure (§13.2.6.4.1-4.6) -----------------------

  private def ensureHtml(): Unit =
    if (htmlIdx < 0) htmlIdx = pushOpen(T.Html, root)

  private def ensureHead(): Unit = {
    ensureHtml()
    if (headIdx < 0 && bodyIdx < 0) headIdx = pushOpen(T.Head, stk.nodeAt(stk.top))
  }

  private def ensureBody(): Unit = {
    ensureHtml()
    if (bodyIdx < 0) {
      val h = stk.lastIndexOf(T.Head)
      if (h > 0) popTo(h) // implied </head>
      bodyIdx = pushOpen(T.Body, htmlIdx)
    }
  }

  /** Bridge for callers holding a token vector: the same tree-builder path
    * as the tokenizer's [[tagView]].
    */
  override def tag(isStart: Boolean, name: String, selfClosing: Boolean, attrs: Vector[(String, String)]): Unit = {
    vecAttrs.set(attrs)
    val tid = T.id(name)
    tagView(isStart, tid, if (tid >= 0) T.name(tid) else name, selfClosing, vecAttrs)
  }
  private val vecAttrs = new Attrs

  /** Index of the first attribute with AttrNames id `k`, or -1. */
  private def attrIdx(attrs: Attrs, k: Int): Int = {
    var i = 0
    while (i < attrs.length) { if (attrs.nameId(i) == k) return i; i += 1 }
    -1
  }

  override def tagView(isStart: Boolean, tid: Int, name: String, selfClosing: Boolean, attrs: Attrs): Unit = {
    nTokens += 1
    nTags += 1
    closeRun()
    if (isStart) {
      // outlink capture (document-level link graph — boilerplate links
      // included by design; the density heuristics judge TEXT, the graph
      // wants every edge). One id check per start tag; only the captured
      // attributes' values are read.
      if (tid == T.A) {
        pendingLinkIdx = -1
        val i = attrIdx(attrs, A.Href)
        if (i >= 0) { outLinks += attrs.value(i); pendingLinkIdx = outLinks.length - 1 }
      } else if (tid == T.Img && attrs.length > 0) {
        // image capture: (src, alt) pairs ride the output row — the
        // caption-pair source an image-text corpus build joins on. src-less
        // imgs (lazy-load placeholders) are skipped.
        val src = attrIdx(attrs, A.Src)
        if (src >= 0) {
          val alt = attrIdx(attrs, A.Alt)
          imgSrcs += attrs.value(src); imgAlts += (if (alt < 0) "" else attrs.value(alt))
        }
      } else if (tid == T.Html && declaredLang.isEmpty && attrs.length > 0) {
        // <html lang=...>: the declared document language. First html tag
        // CARRYING lang wins — the spec merges missing attributes from
        // later <html> tags onto the root, so a lang-less first tag still
        // picks up a later declaration. BCP-47 compares case-insensitively
        // → ASCII-lowercased.
        var i = 0
        while (i < attrs.length && declaredLang.isEmpty) {
          if (attrs.nameId(i) == A.Lang && attrs.value(i).nonEmpty)
            declaredLang = attrs.value(i).toLowerCase(java.util.Locale.ROOT)
          i += 1
        }
      } else if (tid == T.Base && baseHref.isEmpty && attrs.length > 0) {
        // <base href>: the document's link-resolution base; first wins
        val i = attrIdx(attrs, A.Href)
        if (i >= 0) baseHref = attrs.value(i)
      } else if (tid == T.Link && canonicalHref.isEmpty && attrs.length > 0) {
        // <link rel=canonical href>: the page's self-declared duplicate-
        // cluster key. rel is a space-separated token list ("alternate
        // canonical" counts), matched case-insensitively; first wins.
        val rel = attrIdx(attrs, A.Rel)
        val href = attrIdx(attrs, A.Href)
        if (rel >= 0 && href >= 0 && hasLinkToken(attrs.value(rel), "canonical"))
          canonicalHref = attrs.value(href)
      } else if (tid == T.Script && attrs.length > 0) {
        // <script type="application/ld+json">: schema.org structured data.
        // MIME match is essence-only (parameters after ';' ignored, ASCII
        // case-insensitive, surrounding whitespace trimmed) — the rule
        // browsers and search crawlers apply to the type attribute.
        val ty = attrIdx(attrs, A.Type)
        if (ty >= 0 && isLdJsonMime(attrs.value(ty))) { inLd = true; ldBuf.setLength(0) }
      } else if (tid == T.Meta && attrs.length > 0) {
        // <meta name=robots content=...>: corpora respect noindex; first
        // wins. <meta property="og:*" content=...>: Open Graph pairs (the
        // og:image/og:title caption+preview metadata) accumulate in
        // document order — sites legitimately repeat og:image.
        val ct = attrIdx(attrs, A.Content)
        if (ct >= 0) {
          val nm = attrIdx(attrs, A.Name)
          if (metaRobots.isEmpty && nm >= 0 && attrs.value(nm).equalsIgnoreCase("robots"))
            metaRobots = attrs.value(ct)
          // og:* plus the article:* namespace (OpenGraph's structured
          // article properties — article:published_time is the standard
          // publication-date channel real pages declare); cheap first-char
          // gate before paying the lowercase
          val pi = attrIdx(attrs, A.Property)
          val prop = if (pi >= 0) attrs.value(pi) else null
          if (prop != null && prop.length > 3) {
            val c0 = prop.charAt(0)
            if (c0 == 'o' || c0 == 'O' || c0 == 'a' || c0 == 'A') {
              val pl = prop.toLowerCase(java.util.Locale.ROOT)
              if (pl.startsWith("og:") || pl.startsWith("article:")) {
                ogProps += pl
                ogVals += attrs.value(ct)
              }
            }
          }
        }
      }
      // microdata scan: one id test per attribute keeps the non-microdata
      // hot path at a few branches; the value attribute is resolved here
      // while attrs are in hand (text-content values resolve at walk time
      // in collectMicrodata)
      pendingMdProp = null; pendingMdScope = false; pendingMdType = null; pendingMdVal = null
      if (attrs.length > 0) {
        var mi = 0
        while (mi < attrs.length) {
          val k = attrs.nameId(mi)
          if (k == A.Itemprop) { if (pendingMdProp == null) pendingMdProp = attrs.value(mi) }
          else if (k == A.Itemscope) pendingMdScope = true
          else if (k == A.Itemtype) { if (pendingMdType == null) pendingMdType = attrs.value(mi) }
          mi += 1
        }
        if ((pendingMdProp != null || pendingMdScope) && tid >= 0 && mdValueAttr(tid) >= 0) {
          val vi = attrIdx(attrs, mdValueAttr(tid))
          if (vi >= 0) pendingMdVal = attrs.value(vi)
        }
      }
      startTag(tid, name, selfClosing)
      // spec (13.2.6.4.7): a newline IMMEDIATELY after these start tags is
      // ignored — next-token-only, so every other token clears the flag
      dropNl = tid == T.Pre || tid == T.Listing || tid == T.Textarea
    } else {
      endTag(tid, name)
      dropNl = false
    }
  }

  /** True when the space-separated token list `rel` contains `token`
    * (ASCII-case-insensitively) — the HTML link-type matching rule.
    */
  private def hasLinkToken(rel: String, token: String): Boolean = {
    val n = rel.length
    var i = 0
    while (i < n) {
      while (i < n && relWs(rel.charAt(i))) i += 1
      var j = i
      while (j < n && !relWs(rel.charAt(j))) j += 1
      if (j - i == token.length && rel.regionMatches(true, i, token, 0, token.length)) return true
      i = j
    }
    false
  }
  private def relWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'

  /** True when the script `type` attribute's MIME essence (whitespace
    * trimmed, any ";parameters" dropped) is application/ld+json, matched
    * ASCII-case-insensitively.
    */
  private def isLdJsonMime(ty: String): Boolean = {
    var a = 0
    var b = ty.length
    while (a < b && relWs(ty.charAt(a))) a += 1
    val semi = ty.indexOf(';', a)
    if (semi >= 0) b = semi
    while (b > a && relWs(ty.charAt(b - 1))) b -= 1
    val t = "application/ld+json"
    b - a == t.length && ty.regionMatches(true, a, t, 0, t.length)
  }

  /** Consume the pending microdata scan into the side maps for the arena
    * node the current start tag just created. */
  private def recordMd(id: Int): Unit = {
    if (pendingMdProp != null || pendingMdScope) {
      val key = Integer.valueOf(id)
      if (pendingMdProp != null && pendingMdProp.nonEmpty) mdProp.put(key, pendingMdProp)
      if (pendingMdScope) mdScope.add(key)
      if (pendingMdType != null) mdType.put(key, pendingMdType)
      if (pendingMdVal != null) mdVal.put(key, pendingMdVal)
      pendingMdProp = null; pendingMdScope = false; pendingMdType = null; pendingMdVal = null
    }
  }

  private[dom] def mdDebug: String =
    s"scope=${mdScope.size} prop=${mdProp.size} type=${mdType.size} val=${mdVal.size}"

  /** Close an open JSON-LD capture: flush the buffered script content. */
  private def flushLd(): Unit = {
    jsonLd += ldBuf.toString
    ldBuf.setLength(0)
    inLd = false
  }

  private def startTag(tid: Int, name: String, selfClosing: Boolean): Unit = {
    val f = flagsOf(tid) // the ONE table read of the per-tag hot path
    // document-structure elements: adopt the first, ignore repeats
    if (tid == T.Html) { ensureHtml(); return }
    if (tid == T.Head) { ensureHead(); return }
    if (tid == T.Body) { ensureBody(); return }
    if ((f & FHeadOnly) != 0) {
      // metadata content: into the (implied) head before body, in place after
      if (bodyIdx < 0 && stk.lastIndexOf(T.Head) <= 0) ensureHead()
      else ensureHtml()
    } else {
      if (bodyIdx < 0) ensureBody()
    }
    // §"in body" <a> start: an a already active after the last marker runs
    // the adoption agency before the new one opens — links become siblings,
    // never nested (link farms would otherwise stack reconstructed a's)
    if (tid == T.A) {
      val prior = lastFmtIdx(T.A)
      if (prior >= 0) {
        val priorNode = activeFmtNode(prior)
        adoptionAgency(T.A)
        // spec step 2: if the agency left the entry behind, remove it from
        // both the AFL and the stack explicitly
        val p2 = aflIdxOfNode(priorNode)
        if (p2 >= 0) removeFmtAt(p2)
        val s2 = stackIdxOfNode(priorNode)
        if (s2 > 0) removeStackAt(s2)
      }
    }
    // §"in body" <nobr>: a nobr already in scope runs the adoption agency
    // before the new one opens (the sibling-not-nested rule, stack-scope
    // flavored — the anchor rule above tests the AFL instead)
    if (tid == T.Nobr && lastIndexWithin(T.Nobr, SDefault) > 0)
      adoptionAgency(T.Nobr)
    // implied end tags (§13.2.6.4.7/4.9): a new block closes an open <p>;
    // li/tr/td/sections close their predecessor within their scope
    if ((f & FClosesP) != 0) {
      val i = lastIndexWithin(T.P, SP)
      if (i > 0) popTo(i)
      if (tid == T.Li) {
        val j = lastIndexWithin(T.Li, SLi)
        if (j > 0) popTo(j)
      } else if (tid == T.Dd || tid == T.Dt) {
        val j = math.max(lastIndexWithin(T.Dd, SDl), lastIndexWithin(T.Dt, SDl))
        if (j > 0) popTo(j)
      } else if (tid == T.Table && (stk.flagsAt(stk.top) & FFoster) != 0) {
        // a table start inside a table closes the outer one (§ "in table")
        val j = lastIndexWithin(T.Table, STableEnd)
        if (j > 0) popTo(j)
      } else if (isHeadingName(name)) {
        // §"in body" h1–h6 start: if the CURRENT node is a heading, pop it
        // (parse error per spec) — headings never nest directly, so
        // `<h1>a<h2>b` yields siblings. Spec-exact: only the current node is
        // tested; an open formatting element in between keeps the outer
        // heading open.
        if (isHeadingName(stk.nameAt(stk.top)))
          popTo(stk.top)
      }
    } else if ((f & FTablePart) != 0) {
      // §13.2.6.4.9/4.13/4.14 "clear the stack back to a table/body/row
      // context": a row/section/cell/caption start pops any unclosed
      // non-structural elements (formatting, phrasing, fostered divs) down
      // to its structural container — but only when a table is actually in
      // TABLE scope (stray table parts in body stay ordinary elements).
      // popTo marks popped formatting for reconstruction, so `<table><b>x
      // <tr><td>c` renders c un-bolded in the cell and re-bolds text after
      // </table> — the browser shape.
      if ((f & FTableSection) != 0 && lastIndexWithin(T.Table, STableEnd) > 0) {
        val isCell = tid == T.Td || tid == T.Th
        val isRow = tid == T.Tr
        def isStop(t: Int): Boolean =
          t == T.Table || t == T.Template || t == T.Html ||
            ((isCell || isRow) && (t == T.Tbody || t == T.Thead || t == T.Tfoot)) ||
            (isCell && t == T.Tr)
        var top = stk.top
        while (top > 0 && !isStop(stk.idAt(top))) top -= 1
        if (top < stk.top) popTo(top + 1)
      }
      if (tid == T.Tr) {
        val i = lastIndexWithin(T.Tr, STr)
        if (i > 0) popTo(i)
      } else if (tid == T.Td || tid == T.Th) {
        val i = math.max(lastIndexWithin(T.Td, SCell), lastIndexWithin(T.Th, SCell))
        if (i > 0) popTo(i)
      } else if (tid == T.Tbody || tid == T.Thead || tid == T.Tfoot) {
        val i = math.max(lastIndexWithin(T.Tbody, STr),
          math.max(lastIndexWithin(T.Thead, STr), lastIndexWithin(T.Tfoot, STr)))
        if (i > 0) popTo(i)
      }
    }
    // foster parenting for non-table content whose insertion point is
    // table/section/row: the arena node hangs under the table's arena
    // parent, linked BEFORE the table in sibling order (§13.2.6.4.9),
    // while staying on the open stack above it
    val top = stk.top
    var fosterRef = -1
    val par =
      if ((stk.flagsAt(top) & FFoster) != 0 && (f & FTablePart) == 0) {
        val ti = stk.lastIndexOf(T.Table)
        if (ti > 0) { fosterRef = stk.nodeAt(ti); arena.parent(fosterRef) } else stk.nodeAt(top)
      } else stk.nodeAt(top)
    if (!selfClosing && (f & FVoid) == 0) {
      val id = pushOpen(tid, name, par, f, fosterRef)
      recordMd(id)
      if ((f & FFormatting) != 0) {
        // Noah's Ark clause (§13.2.4.3): at most 3 same-name entries between
        // the end of the list and the last marker. Besides spec fidelity,
        // this BOUNDS the active-formatting list (≤ 3 × 14 names per marker
        // scope), so reconstructFmt stays O(1)-ish per text run even on a
        // pathological <b><b><b>... page — without it that page is O(n²).
        val start = if (fmtMarkers.isEmpty) 0 else fmtMarkers(fmtMarkers.length - 1)
        var cnt = 0
        var earliest = -1
        var i = activeFmt.length - 1
        while (i >= start) {
          if (activeFmt(i) == tid) { cnt += 1; earliest = i }
          i -= 1
        }
        if (cnt >= 3) removeFmtAt(earliest)
        activeFmt += tid; activeFmtOpen += true; activeFmtNode += id
        activeFmtLink += (if (tid == T.A) pendingLinkIdx else -1)
      }
    } else {
      // void/self-closing: arena node only (fostered ones before the table)
      recordMd(
        if (fosterRef >= 0) arena.addBefore(name, par, fosterRef)
        else arena.add(name, par))
    }
  }

  private def endTag(tid: Int, name: String): Unit = {
    if (tid == T.Body || tid == T.Html) return // trailing text re-enters body
    val f = flagsOf(tid)
    if ((f & FFormatting) != 0) { adoptionAgency(tid); return }
    val i = stk.lastIndexWithin(tid, name, endScopeMask(tid))
    if (i > 0) popTo(i) // out-of-scope / unmatched end tags ignored
  }

  /** Raw stack removal (no reconstruction marking) with the same depth
    * bookkeeping as popTo — the adoption agency's mid-stack surgery.
    */
  private def removeStackAt(i: Int): Unit = {
    val fl = stk.flagsAt(i); val tid = stk.idAt(i)
    if ((fl & FBlacklist) != 0) skipDepth -= 1
    if (tid == T.A) linkDepth -= 1
    if (tid == T.Svg || tid == T.Math) foreignDepth -= 1
    if (inTitle && tid == T.Title) { inTitle = false; titleDone = true }
    if (inLd && tid == T.Script) flushLd()
    stk.removeAt(i)
  }

  /** True when the stack entry at `idx` is in default scope (§13.2.4.2): no
    * scope-stop element sits above it.
    */
  private def inScopeAt(idx: Int): Boolean = {
    var i = stk.top
    while (i > idx) {
      if ((stk.flagsAt(i) & SDefault) != 0) return false
      i -= 1
    }
    true
  }

  /** The adoption agency algorithm (WHATWG §13.2.6.4.7), full form: outer
    * loop up to 8 rounds, furthest-block detection over the special
    * category, inner-loop clone chain, and the clone-into-furthest-block
    * restructuring. Because text runs are arena text nodes, the surgery
    * moves already-inserted content exactly as the spec's DOM mutations do,
    * and span paths (materialized from the final arena) match browser tree
    * shapes on misnested-formatting pages.
    */
  private def adoptionAgency(subject: Int): Unit = {
    // step 2: current node is the subject and not in the AFL → pop it, done
    val top0 = stk.top
    if (top0 > 0 && stk.idAt(top0) == subject && aflIdxOfNode(stk.nodeAt(top0)) < 0) {
      popTo(top0)
      return
    }
    var outer = 0
    while (outer < 8) {
      outer += 1
      val aflIdx = lastFmtIdx(subject)
      if (aflIdx < 0) {
        // no formatting entry → "any other end tag" semantics
        val i = lastIndexWithin(subject, SDefault)
        if (i > 0) popTo(i)
        return
      }
      val fmtNode = activeFmtNode(aflIdx)
      val fmtLink = activeFmtLink(aflIdx) // survives into the subject clone
      val sIdx = stackIdxOfNode(fmtNode)
      if (sIdx <= 0) { removeFmtAt(aflIdx); return } // in AFL, not in stack
      if (!inScopeAt(sIdx)) return // in stack, out of scope → ignore
      // furthest block: topmost SPECIAL element below the formatting element
      var fb = -1
      var i = sIdx + 1
      while (i < stk.length && fb < 0) {
        if ((stk.flagsAt(i) & FSpecial) != 0) fb = i
        i += 1
      }
      if (fb < 0) {
        // no furthest block: pop through the formatting element (marks the
        // formatting elements above for reconstruction), drop its entry
        popTo(sIdx)
        removeFmtAt(aflIdx)
        return
      }
      val fbNode = stk.nodeAt(fb)
      // foster-parenting common ancestor: the chain re-homes under the
      // table's arena parent, linked before the table (§ step 13 uses the
      // "appropriate place ... with foster parenting")
      var caFosterRef = -1
      val commonAncestor =
        if ((stk.flagsAt(sIdx - 1) & FFoster) != 0) {
          var ti = sIdx - 1
          while (ti > 0 && stk.idAt(ti) != T.Table) ti -= 1
          if (ti > 0) { caFosterRef = stk.nodeAt(ti); arena.parent(caFosterRef) }
          else stk.nodeAt(sIdx - 1)
        } else stk.nodeAt(sIdx - 1)
      var bookmark = aflIdx
      // inner loop: walk up from the furthest block toward the formatting
      // element, cloning intervening active-formatting elements (≤3) and
      // dropping the rest from the stack
      var lastNode = fbNode
      var nodeIdx = fb
      var inner = 0
      var brk = false
      while (!brk) {
        inner += 1
        nodeIdx -= 1
        if (nodeIdx == sIdx) brk = true
        else {
          val nId = stk.nodeAt(nodeIdx)
          var aIdx = aflIdxOfNode(nId)
          if (inner > 3 && aIdx >= 0) {
            removeFmtAt(aIdx)
            if (aIdx < bookmark) bookmark -= 1
            aIdx = -1
          }
          if (aIdx < 0) {
            removeStackAt(nodeIdx) // not active formatting → off the stack
          } else {
            // clone: replaces the node in both the stack and the AFL; the
            // chain built so far is re-parented under the clone
            val cloneId = arena.add(stk.nameAt(nodeIdx), -1)
            activeFmtNode(aIdx) = cloneId
            stk.setNode(nodeIdx, cloneId)
            if (lastNode == fbNode) bookmark = aIdx + 1
            arena.moveTo(lastNode, cloneId)
            lastNode = cloneId
          }
        }
      }
      // steps 10-13: chain into the common ancestor; clone the formatting
      // element around the furthest block's existing children
      if (caFosterRef >= 0) arena.moveBefore(lastNode, commonAncestor, caFosterRef)
      else arena.moveTo(lastNode, commonAncestor)
      val cloneFmt = arena.add(T.name(subject), -1)
      arena.moveChildren(fbNode, cloneFmt)
      arena.appendChild(fbNode, cloneFmt)
      // step 14: AFL — formatting entry out, clone entry in at the bookmark
      val p = aflIdxOfNode(fmtNode)
      if (p >= 0) {
        removeFmtAt(p)
        if (p < bookmark) bookmark -= 1
      }
      activeFmt.insert(bookmark, subject)
      activeFmtOpen.insert(bookmark, true)
      activeFmtNode.insert(bookmark, cloneFmt)
      activeFmtLink.insert(bookmark, fmtLink)
      // step 15: stack — formatting element out, clone immediately below
      // the furthest block
      removeStackAt(stackIdxOfNode(fmtNode))
      if (subject == T.A) linkDepth += 1 // re-balance removeStackAt's decrement
      val fbIdx = stackIdxOfNode(fbNode)
      stk.insert(fbIdx + 1, cloneFmt, subject, T.name(subject), flagsOf(subject))
      recomputeBlockTop()
      // outer loop continues: the next round finds the clone; with no
      // special element below it, the no-furthest-block case pops it
    }
  }

  /** Per-tag scope for end-tag matching (§13.2.4.2): table-family end tags
    * use TABLE scope (html/template only — a cell must not mask its own
    * table's end), list items add their list containers, everything else
    * the default scope.
    */
  private def endScopeMask(tid: Int): Int =
    if (tid == T.Table) STableEnd
    else if (tid == T.Tbody || tid == T.Thead || tid == T.Tfoot || tid == T.Tr || tid == T.Td || tid == T.Th ||
      tid == T.Caption) STablePart
    else if (tid == T.Li || tid == T.Dd || tid == T.Dt) SList
    else SDefault

  override def comment(data: String): Unit = { nTokens += 1; closeRun(); dropNl = false } // elided
  override def doctype(name: String, publicId: String, systemId: String, forceQuirks: Boolean): Unit = {
    nTokens += 1; closeRun(); dropNl = false
  }
  override def eof(name: String, msg: String): Unit = { nTokens += 1; closeRun() }
  override def parseError(code: String): Unit = errors += code

  // result() scratch indexed by arena id, reused across rows and cleared
  // over the page's arena size: per-block text and link-text totals for the
  // density score, and each span parent's path
  private var densTotal = new Array[Int](64)
  private var densLink = new Array[Int](64)
  private var pathOf = new Array[String](64)
  private val pathIds = new IntVec(64)
  private val pathB = new java.lang.StringBuilder(256)

  /** Span path from the FINAL tree: the text node's (possibly adopted)
    * parent chain, `/name` per element from the root down, plus that
    * parent's arena id. Built once per distinct parent per document.
    */
  private def spanPath(tid: Int): String = {
    val par = arena.parent(tid)
    if (par >= 0 && pathOf(par) != null) return pathOf(par)
    pathIds.clear()
    var e = par
    while (e > 0) { pathIds += e; e = arena.parent(e) } // stops at #root (0)
    pathB.setLength(0)
    var i = pathIds.length - 1
    while (i >= 0) { pathB.append('/').append(arena.name(pathIds(i))); i -= 1 }
    val s = pathB.append('#').append(par).toString
    if (par >= 0) pathOf(par) = s
    s
  }

  /** Finalize: text-density scoring per block → mainText. */
  def result(truncated: Boolean, stateHits: Array[Long]): ExtractResult = {
    closeRun()
    val full = text.toString
    val nSpans = spStart.length
    val nNodes = arena.size
    if (densTotal.length < nNodes) {
      val cap = math.max(nNodes, densTotal.length * 2)
      densTotal = new Array[Int](cap); densLink = new Array[Int](cap); pathOf = new Array[String](cap)
    } else {
      java.util.Arrays.fill(densTotal, 0, nNodes, 0); java.util.Arrays.fill(densLink, 0, nNodes, 0)
      java.util.Arrays.fill(pathOf.asInstanceOf[Array[AnyRef]], 0, nNodes, null)
    }
    // per-block totals
    var si = 0
    while (si < nSpans) {
      val n = spEnd(si) - spStart(si)
      densTotal(spBlock(si)) += n
      if (spLink(si)) densLink(spBlock(si)) += n
      si += 1
    }
    def keepBlock(b: Int): Boolean = {
      val t = densTotal(b)
      t >= minBlockTextLen && densLink(b).toDouble <= maxLinkDensity * t
    }
    var allKept = true
    si = 0
    while (si < nSpans && allKept) { allKept = keepBlock(spBlock(si)); si += 1 }
    // append straight from the text builder (no second full-copy); when every
    // span is kept (the common page), mainText IS full.
    val main = if (allKept) null else new java.lang.StringBuilder(full.length)
    val outSpans = Vector.newBuilder[Span]
    outSpans.sizeHint(nSpans)
    // anchor text: concatenate each link's runs in document order (clones of
    // the same source <a> share the outLinks index, so split links re-join)
    val anch: Array[java.lang.StringBuilder] =
      if (outLinks.isEmpty) null else new Array(outLinks.length)
    si = 0
    while (si < nSpans) {
      val kept = allKept || keepBlock(spBlock(si))
      if (!allKept && kept) main.append(text, spStart(si), spEnd(si))
      val li = spLinkIdx(si)
      if (li >= 0) {
        if (anch(li) == null) anch(li) = new java.lang.StringBuilder(16)
        anch(li).append(text, spStart(si), spEnd(si))
      }
      outSpans += Span(spStart(si), spEnd(si), spanPath(spText(si)),
        spBlock(si), spLink(si), kept)
      si += 1
    }
    val anchors =
      if (anch == null) Vector.empty[String]
      else Vector.tabulate(anch.length)(i => if (anch(i) == null) "" else anch(i).toString)
    // EOF inside an open ld+json script (truncated document): keep the
    // partial content — downstream JSON parsing rejects it if malformed.
    val lds =
      if (inLd && ldBuf.length > 0) (jsonLd.toVector :+ ldBuf.toString)
      else jsonLd.toVector
    ExtractResult(full, if (allKept) full else main.toString, titleBuf.toString,
      outSpans.result(), outLinks.toVector, anchors, imgSrcs.toVector,
      imgAlts.toVector, ogProps.toVector, ogVals.toVector, metaRobots, baseHref, canonicalHref, declaredLang, lds, nTokens,
      nTags, errors.length, errors.toVector, truncated, stateHits)
  }

  // ---- layout parse: structured table cells -------------------------------

  /** Push `node`'s children onto `stack` in reverse sibling order, so a LIFO
    * pop visits them in document order.
    */
  private def pushChildrenReversed(stack: IntVec, node: Int, tmp: IntVec): Unit = {
    tmp.clear()
    var c = arena.firstChild(node)
    while (c >= 0) { tmp += c; c = arena.nextSibling(c) }
    var i = tmp.length - 1
    while (i >= 0) { stack += tmp(i); i -= 1 }
  }

  /** Span index of an arena text node. Text nodes are created in flush order,
    * so spText is strictly ascending — binary search, no map allocation.
    */
  private def spanIdxOfTextNode(id: Int): Int = {
    var lo = 0
    var hi = spText.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val v = spText(mid)
      if (v == id) return mid
      else if (v < id) lo = mid + 1
      else hi = mid - 1
    }
    -1
  }

  /** h1–h6 name test (null-safe: arena text nodes have name == null). */
  private def isHeadingName(nm: String): Boolean =
    nm != null && nm.length == 2 && nm.charAt(0) == 'h' &&
      nm.charAt(1) >= '1' && nm.charAt(1) <= '6'

  /** Document outline (layout parse): every h1–h6 element of the FINAL tree
    * in document order as (heading_idx, level, text). Heading text
    * concatenates every descendant text run (formatting children, adopted
    * content); blacklisted-subtree headings yield empty text. Same on-demand
    * contract as collectTables: called by the outline operator AFTER
    * extractInto, never on the roundtrip hot path; iterative DFS with
    * explicit stacks so pathological depth cannot overflow.
    */
  def collectHeadings(): Vector[(Int, Int, String)] = {
    val nNodes = arena.size
    val out = Vector.newBuilder[(Int, Int, String)]
    val stack = new IntVec(16)
    val tmp = new IntVec(8)
    val sb = new java.lang.StringBuilder(32)
    var hIdx = 0
    var id = 0
    while (id < nNodes) {
      val nm = arena.name(id)
      if (isHeadingName(nm)) {
        sb.setLength(0)
        stack.clear()
        pushChildrenReversed(stack, id, tmp)
        while (stack.nonEmpty) {
          val t = stack(stack.length - 1)
          stack.dropRightInPlace(1)
          if (arena.name(t) == null) {
            val si = spanIdxOfTextNode(t)
            if (si >= 0) sb.append(text, spStart(si), spEnd(si))
          } else pushChildrenReversed(stack, t, tmp)
        }
        out += ((hIdx, nm.charAt(1) - '0', sb.toString))
        hIdx += 1
      }
      id += 1
    }
    out.result()
  }

  /** Layout parse (north rule: "PDF/layout parse"): the structured cells of
    * every table in the FINAL tree — adoption-agency and foster surgery
    * already applied — as (table_idx, row_idx, col_idx, text), all indices
    * document-order. Rows are `tr` descendants of the table reached without
    * crossing a nested table (tbody/thead/tfoot are transparent); cells are
    * td/th children of their row; cell text concatenates every descendant
    * text run (nested tables' text included — they also surface again as
    * their own table_idx). Blacklisted-subtree tables yield empty cell text
    * (their runs never entered the buffer). Called on demand by the
    * table-extraction operator AFTER extractInto — never on the roundtrip
    * hot path. Iterative DFS with explicit stacks: a 10^5-deep pathological
    * page cannot overflow the task stack.
    */
  def collectTables(): Vector[(Int, Int, Int, String)] = {
    val nNodes = arena.size
    var hasTable = false
    var id = 0
    while (id < nNodes && !hasTable) {
      if (arena.name(id) == "table") hasTable = true
      id += 1
    }
    if (!hasTable) return Vector.empty
    val out = Vector.newBuilder[(Int, Int, Int, String)]
    val rowStack = new IntVec(16)
    val cellStack = new IntVec(16)
    val tmp = new IntVec(8)
    val sb = new java.lang.StringBuilder(32)
    var tIdx = 0
    id = 0
    while (id < nNodes) {
      if (arena.name(id) == "table") {
        var rIdx = 0
        rowStack.clear()
        pushChildrenReversed(rowStack, id, tmp)
        while (rowStack.nonEmpty) {
          val nd = rowStack(rowStack.length - 1)
          rowStack.dropRightInPlace(1)
          val nm = arena.name(nd)
          if (nm == "tr") {
            var cIdx = 0
            var c = arena.firstChild(nd)
            while (c >= 0) {
              val cn = arena.name(c)
              if (cn == "td" || cn == "th") {
                // cell text: document-order DFS over the cell subtree
                sb.setLength(0)
                cellStack.clear()
                pushChildrenReversed(cellStack, c, tmp)
                while (cellStack.nonEmpty) {
                  val t = cellStack(cellStack.length - 1)
                  cellStack.dropRightInPlace(1)
                  if (arena.name(t) == null) {
                    val si = spanIdxOfTextNode(t)
                    if (si >= 0) sb.append(text, spStart(si), spEnd(si))
                  } else pushChildrenReversed(cellStack, t, tmp)
                }
                out += ((tIdx, rIdx, cIdx, sb.toString))
                cIdx += 1
              }
              c = arena.nextSibling(c)
            }
            rIdx += 1
          } else if (nm != null && nm != "table") {
            pushChildrenReversed(rowStack, nd, tmp)
          }
        }
        tIdx += 1
      }
      id += 1
    }
    out.result()
  }

  /** Microdata harvest off the FINAL tree: (item ordinal, itemtype, prop,
    * value) rows in document order. An `itemscope` node opens a new item
    * (ordinals assigned in document order); a descendant `itemprop`
    * contributes to the NEAREST enclosing item; a node carrying BOTH is a
    * nested item — its property value is `item:<child ordinal>` (the
    * flat-triple encoding of the microdata tree). Values follow the WHATWG
    * attribute rule resolved at tag time ([[mdValueAttrOf]]), falling back
    * to the subtree's text content; a space-separated `itemprop` token list
    * emits one row per token (spec); an `itemprop` outside any itemscope
    * contributes to no item and is dropped.
    */
  def collectMicrodata(): Vector[(Int, String, String, String)] = {
    if (mdScope.isEmpty && mdProp.isEmpty) return Vector.empty
    val out = Vector.newBuilder[(Int, String, String, String)]
    val types = ArrayBuffer.empty[String] // itemtype per ordinal
    var nextOrd = 0
    val ndStack = new IntVec(32)
    val ctxStack = new IntVec(32) // enclosing item ordinal per stacked node (-1 none)
    val tmp = new IntVec(8)
    val txtStack = new IntVec(16)
    val sb = new java.lang.StringBuilder(32)
    def textOf(nd: Int): String = {
      sb.setLength(0)
      txtStack.clear()
      pushChildrenReversed(txtStack, nd, tmp)
      while (txtStack.nonEmpty) {
        val t = txtStack(txtStack.length - 1)
        txtStack.dropRightInPlace(1)
        if (arena.name(t) == null) {
          val si = spanIdxOfTextNode(t)
          if (si >= 0) sb.append(text, spStart(si), spEnd(si))
        } else pushChildrenReversed(txtStack, t, tmp)
      }
      sb.toString
    }
    def pushKids(nd: Int, ctx: Int): Unit = {
      val before = ndStack.length
      pushChildrenReversed(ndStack, nd, tmp)
      var i = before
      while (i < ndStack.length) { ctxStack += ctx; i += 1 }
    }
    pushKids(root, -1)
    while (ndStack.nonEmpty) {
      val nd = ndStack(ndStack.length - 1)
      val ctx = ctxStack(ctxStack.length - 1)
      ndStack.dropRightInPlace(1); ctxStack.dropRightInPlace(1)
      if (arena.name(nd) != null) {
        val key = Integer.valueOf(nd)
        val scope = mdScope.contains(key)
        var ord = -1
        if (scope) {
          ord = nextOrd; nextOrd += 1
          types += { val t = mdType.get(key); if (t == null) "" else t }
        }
        val prop = mdProp.get(key)
        if (prop != null && ctx >= 0) {
          val value =
            if (scope) "item:" + ord
            else { val v = mdVal.get(key); if (v != null) v else textOf(nd) }
          // space-separated prop token list: one row per token
          var a = 0
          val n = prop.length
          while (a < n) {
            while (a < n && prop.charAt(a) == ' ') a += 1
            var b = a
            while (b < n && prop.charAt(b) != ' ') b += 1
            if (b > a) out += ((ctx, types(ctx), prop.substring(a, b), value))
            a = b
          }
        }
        pushKids(nd, if (scope) ord else ctx)
      }
    }
    out.result()
  }

  /** MARKDOWN render of the FINAL tree — the output format LLM-training
    * pipelines increasingly ship extracted pages in (structure survives
    * where main_text flattens it): headings → `#`·level, paragraphs/divs →
    * blank-line blocks, ul/ol/li → `-`/`1.` with 2-space nesting, a-runs →
    * `[text](href)` (the span→outLinks pairing the anchor-text capture
    * already maintains, so adoption-agency clones keep their link),
    * strong/b → `**`, em/i → `*`, inline code → backticks, pre → fenced,
    * blockquote → `> `, tables → pipe rows with a `---` separator after the
    * first row. Blacklisted subtrees contribute nothing (their runs never
    * entered the buffer). Iterative ENTER/EXIT DFS — pathological depth
    * cannot overflow; called on demand AFTER extractInto, never on the
    * roundtrip hot path.
    */
  def collectMarkdown(): String = {
    val out = new java.lang.StringBuilder(256)
    var linkIdx = -1
    val linkBuf = new java.lang.StringBuilder(32)
    def flushLink(): Unit = if (linkIdx >= 0) {
      out.append('[').append(linkBuf).append("](").append(outLinks(linkIdx)).append(')')
      linkIdx = -1; linkBuf.setLength(0)
    }
    def emit(s: CharSequence): Unit =
      if (linkIdx >= 0) linkBuf.append(s) else out.append(s)
    def ensureBlock(): Unit = {
      flushLink()
      var n = out.length
      while (n > 0 && (out.charAt(n - 1) == ' ' || out.charAt(n - 1) == '\n')) n -= 1
      out.setLength(n)
      if (n > 0) out.append("\n\n")
    }
    def ensureLine(): Unit = {
      flushLink()
      var n = out.length
      while (n > 0 && out.charAt(n - 1) == ' ') n -= 1
      out.setLength(n)
      if (n > 0 && out.charAt(n - 1) != '\n') out.append('\n')
    }
    // list state: one entry per open ul/ol — ordered flag + item counter
    val listOrdered = new BoolVec(8)
    val listCount = new IntVec(8)
    val tmp = new IntVec(8)
    val cellStack = new IntVec(16)
    def cellText(cell: Int, sb: java.lang.StringBuilder): Unit = {
      cellStack.clear()
      pushChildrenReversed(cellStack, cell, tmp)
      while (cellStack.nonEmpty) {
        val t = cellStack(cellStack.length - 1)
        cellStack.dropRightInPlace(1)
        if (arena.name(t) == null) {
          val si = spanIdxOfTextNode(t)
          if (si >= 0) sb.append(text, spStart(si), spEnd(si))
        } else pushChildrenReversed(cellStack, t, tmp)
      }
    }
    def renderTable(tNode: Int): Unit = {
      ensureBlock()
      val rowStack = new IntVec(16)
      val sb = new java.lang.StringBuilder(32)
      var rIdx = 0
      rowStack.clear()
      pushChildrenReversed(rowStack, tNode, tmp)
      while (rowStack.nonEmpty) {
        val nd = rowStack(rowStack.length - 1)
        rowStack.dropRightInPlace(1)
        val nm = arena.name(nd)
        if (nm == "tr") {
          var nCells = 0
          out.append('|')
          var c = arena.firstChild(nd)
          while (c >= 0) {
            val cn = arena.name(c)
            if (cn == "td" || cn == "th") {
              sb.setLength(0)
              cellText(c, sb)
              out.append(' ').append(sb.toString.replace("|", "\\|")).append(" |")
              nCells += 1
            }
            c = arena.nextSibling(c)
          }
          out.append('\n')
          if (rIdx == 0 && nCells > 0) {
            out.append('|')
            var i = 0
            while (i < nCells) { out.append(" --- |"); i += 1 }
            out.append('\n')
          }
          rIdx += 1
        } else if (nm != null && nm != "table") pushChildrenReversed(rowStack, nd, tmp)
      }
      ensureBlock()
    }
    // ENTER/EXIT DFS over every root (surgery can leave detached roots;
    // visit them in id order), exit encoded as ~id
    val stack = new IntVec(64)
    val roots = new IntVec(4)
    var id = 0
    while (id < arena.size) { if (arena.parent(id) < 0) roots += id; id += 1 }
    var r = roots.length - 1
    while (r >= 0) { stack += roots(r); r -= 1 }
    var preDepth = 0
    while (stack.nonEmpty) {
      val e = stack(stack.length - 1)
      stack.dropRightInPlace(1)
      if (e < 0) { // EXIT
        val nm = arena.name(~e)
        if (isHeadingName(nm)) ensureBlock()
        else nm match {
          case "p" | "div" | "section" | "article" | "blockquote" => ensureBlock()
          case "ul" | "ol" =>
            listOrdered.dropRightInPlace(1); listCount.dropRightInPlace(1)
            if (listCount.length == 0) ensureBlock()
          case "pre" => preDepth -= 1; ensureLine(); out.append("```"); ensureBlock()
          case "code" => if (preDepth == 0) emit("`")
          case "strong" | "b" => emit("**")
          case "em" | "i" => emit("*")
          case "a" => flushLink()
          case _ =>
        }
      } else {
        val nm = arena.name(e)
        if (nm == null) {
          val si = spanIdxOfTextNode(e)
          if (si >= 0) {
            val li = if (spLink(si)) spLinkIdx(si) else -1
            if (li >= 0) {
              if (linkIdx != li) { flushLink(); linkIdx = li }
              linkBuf.append(text, spStart(si), spEnd(si))
            } else {
              flushLink()
              emit(text.subSequence(spStart(si), spEnd(si)))
            }
          }
        } else if (nm == "table") {
          renderTable(e) // subtree handled; not descended
        } else {
          // EXIT marker first, then children reversed
          stack += ~e
          if (isHeadingName(nm)) {
            ensureBlock()
            var i = 0; val lvl = nm.charAt(1) - '0'
            while (i < lvl) { out.append('#'); i += 1 }
            out.append(' ')
          } else nm match {
            case "p" | "div" | "section" | "article" => ensureBlock()
            case "blockquote" => ensureBlock(); out.append("> ")
            case "ul" => if (listCount.length == 0) ensureBlock()
              listOrdered += false; listCount += 0
            case "ol" => if (listCount.length == 0) ensureBlock()
              listOrdered += true; listCount += 0
            case "li" =>
              ensureLine()
              var i = 1
              while (i < listCount.length) { out.append("  "); i += 1 }
              if (listCount.length > 0 && listOrdered(listOrdered.length - 1)) {
                listCount(listCount.length - 1) = listCount(listCount.length - 1) + 1
                out.append(listCount(listCount.length - 1)).append(". ")
              } else out.append("- ")
            case "pre" => ensureBlock(); out.append("```\n"); preDepth += 1
            case "code" => if (preDepth == 0) emit("`")
            case "strong" | "b" => emit("**")
            case "em" | "i" => emit("*")
            case "br" => ensureLine()
            case "a" => flushLink()
            case _ =>
          }
          pushChildrenReversed(stack, e, tmp)
          // pushChildrenReversed pushes children to visit in document
          // order ON TOP of the exit marker we just planted
        }
      }
    }
    flushLink()
    // trim
    var b = 0
    var t2 = out.length
    while (b < t2 && (out.charAt(b) == '\n' || out.charAt(b) == ' ')) b += 1
    while (t2 > b && (out.charAt(t2 - 1) == '\n' || out.charAt(t2 - 1) == ' ')) t2 -= 1
    out.substring(b, t2)
  }
}

/** Per-document extraction entry point: html bytes → extracted text + spans.
  * This is the single-node "oracle"; the Spark kernel calls exactly this per
  * row, so Spark(k partitions) ≡ oracle by construction.
  */
object Extractor {
  /** Extract mode (production): spec tree-feedback tokenizer. */
  def extract(html: Array[Byte]): ExtractResult = extractCps(RefTokenizer.decodeUtf8(html))

  def extractString(html: String): ExtractResult = extractCps(RefTokenizer.codepoints(html))

  def extractCps(cps: Array[Int]): ExtractResult = extractCpsInto(cps, new ExtractSink)

  /** Kernel entry with a caller-owned (reusable) sink: resets it, runs the
    * tokenizer, finalizes. One sink per partition → per-row allocations drop
    * to the tokenizer registers + output row.
    */
  def extractCpsInto(cps: Array[Int], sink: ExtractSink): ExtractResult = {
    sink.reset()
    runGuarded(new RefTokenizer(cps, sink, specMode = true, bufs = sink.tokenizerBuffers), sink)
  }

  /** Reusable variant of `extract` for per-partition loops: both the decode
    * buffer (sink-owned, grown once) and the sink's internal buffers are
    * reused across rows — per-row allocation drops to tokenizer registers +
    * the output row itself.
    */
  def extractInto(html0: Array[Byte], sink: ExtractSink): ExtractResult = {
    // BOM sniff (WHATWG: the BOM outranks every other encoding signal and is
    // not content): UTF-8 BOM is skipped, UTF-16 BOMs take the charset path
    var html = html0
    if (html.length >= 3 && (html(0) & 0xff) == 0xef && (html(1) & 0xff) == 0xbb &&
      (html(2) & 0xff) == 0xbf)
      html = java.util.Arrays.copyOfRange(html, 3, html.length)
    else if (html.length >= 2 &&
      ((html(0) & 0xff) == 0xff && (html(1) & 0xff) == 0xfe ||
       (html(0) & 0xff) == 0xfe && (html(1) & 0xff) == 0xff)) {
      val cps = graft.sources.CharsetSniff.decodeFallback(html)
      return extractCpsInto(cps, sink)
    }
    // pure-ASCII page (the dominant web case): bytes ARE codepoints — skip
    // the 4× Int expansion entirely and run the kernel in byte mode
    var i = 0
    while (i < html.length && html(i) >= 0) i += 1
    if (i == html.length) {
      sink.reset()
      runGuarded(new RefTokenizer(null, sink, specMode = true, binput = html, bufs = sink.tokenizerBuffers), sink)
    } else {
      if (sink.decodeBuf.length < html.length)
        sink.decodeBuf = new Array[Int](math.max(html.length, sink.decodeBuf.length * 2))
      val n = RefTokenizer.decodeUtf8Into(html, sink.decodeBuf)
      if (n < 0) {
        // not valid UTF-8: sniff (`<meta charset>` prescan, then the WHATWG
        // windows-1252 legacy fallback) instead of emitting replacement chars
        val cps = graft.sources.CharsetSniff.decodeFallback(html)
        if (cps != null) extractCpsInto(cps, sink)
        // meta says utf-8 but bytes are malformed → JDK replacement semantics
        else extractCpsInto(RefTokenizer.decodeUtf8(html), sink)
      } else {
        sink.reset()
        runGuarded(new RefTokenizer(sink.decodeBuf, sink, specMode = true, inputLenIn = n,
          bufs = sink.tokenizerBuffers), sink)
      }
    }
  }

  private def runGuarded(tk: RefTokenizer, sink: ExtractSink): ExtractResult = {
    var truncated = false
    try tk.run()
    catch {
      case _: StepBudgetExceeded => truncated = true; sink.errors += "STEP_BUDGET_EXCEEDED"
      case _: VCastPanic => truncated = true; sink.errors += "V_CAST_PANIC"
    }
    sink.result(truncated, tk.stateHits)
  }

  /** Fidelity mode: the raw reference-semantics character stream (text =
    * concatenated CharacterToken data, nothing elided). Defines the
    * byte-compare fixture layer.
    */
  def fidelityText(html: Array[Byte]): (String, Boolean) = {
    val sink = new CollectingSink
    val tk = new RefTokenizer(RefTokenizer.decodeUtf8(html), sink, specMode = false)
    var truncated = false
    try tk.run()
    catch {
      case _: StepBudgetExceeded => truncated = true
      case _: VCastPanic => truncated = true
    }
    (sink.charText, truncated)
  }

  /** Fidelity run into a caller-reused sink (no token materialization, byte
    * mode for pure-ASCII pages). Returns the truncated flag.
    */
  def fidelityInto(html: Array[Byte], sink: TokenSink): Boolean = {
    var i = 0
    while (i < html.length && html(i) >= 0) i += 1
    val tk =
      if (i == html.length) new RefTokenizer(null, sink, specMode = false, binput = html)
      else new RefTokenizer(RefTokenizer.decodeUtf8(html), sink, specMode = false)
    try { tk.run(); false }
    catch {
      case _: StepBudgetExceeded => true
      case _: VCastPanic => true
    }
  }
}
