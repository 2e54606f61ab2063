package graft.core

/** Token model mirroring the reference tokenizer's output sum type
  * (reference: tokenizer/token.v:5-96).
  *
  * The reference distinguishes a *missing* doctype name/public-id/system-id
  * from the empty string with a 4-NUL sentinel (tokenizer/token.v:11); we keep
  * the same in-band sentinel so the quirk at tokenizer/tokenizer.v:2301-2311
  * (system-id assigned on a copy, content appended onto the sentinel) is
  * representable byte-for-byte.
  */
sealed trait Tok extends Serializable

/** One token per character, exactly like the reference
  * (tokenizer/token.v:82-85). Only materialized by fixture sinks; production
  * sinks coalesce.
  */
final case class TChar(cp: Int) extends Tok

final case class TTag(
    isStart: Boolean,
    name: String,
    selfClosing: Boolean,
    attrs: Vector[(String, String)]
) extends Tok

final case class TComment(data: String) extends Tok

final case class TDoctype(
    name: String,
    publicId: String,
    systemId: String,
    forceQuirks: Boolean
) extends Tok

final case class TEof(name: String, msg: String) extends Tok

object Tok {
  /** 4-NUL "missing" sentinel (tokenizer/token.v:11). */
  final val Missing: String = "\u0000\u0000\u0000\u0000"

  // EOF name/msg constants (tokenizer/parse_error.v:4-19).
  final val EofGenericName = "EOF"
  final val EofGenericMsg = "The end of the file has been reached."
  final val EofInDoctypeName = "EOF in doctype."
  final val EofInDoctypeMsg =
    "This error occurs if the parser encounter the end of the input stream in a DOCTYPE. In such a case, if the DOCTYPE is correctly placed as a document preamble, the parser sets the Document to quirks mode."
  final val EofBeforeTagNameName = "EOF before tag name."
  final val EofBeforeTagNameMsg =
    "This error occurs if the parser encounters the end of the input stream where a tag name is expected. In this case the parser treats the beginning of a start tag (i.e., `<`) or an end tag (i.e., `</`) as text content."
  final val EofInTagName = "EOF in tag."
  final val EofInTagMsg =
    "This error occurs if the parser encounters the end of the input stream in a start tag or an end tag (e.g., `<div id=`). Such a tag is ignored."
  final val EofInScriptName = "EOF in script HTML comment like text."
  final val EofInScriptMsg =
    "This error occurs if the parser encounters the end of the input stream in text that resembles an HTML comment inside `script` element content (e.g., `<script><!-- foo`)."
  final val EofInCdataName = "EOF in CDATA."
  final val EofInCdataMsg =
    "This error occurs if the parser encounters the end of the input stream in a CDATA section. The parser treats such CDATA sections as if they are closed immediately before the end of the input stream."
  final val EofInCommentName = "EOF in comment."
  final val EofInCommentMsg =
    "This error occurs if the parser ecounters the end of the input stream in a comment. The parser treats such comments as if they are closed immediately before the end of the input stream."
}

/** Receives tokenizer events. Production sinks coalesce character tokens
  * instead of allocating one object per char (the reference allocates one
  * CharacterToken per char, tokenizer/token.v:82-85 — a cost we do not copy).
  */
trait TokenSink {
  def char(cp: Int): Unit
  /** Bulk character-run delivery from the tokenizer's batched loops —
    * semantically identical to `char` per element; sinks override for a
    * monomorphic tight loop.
    */
  def chars(src: Array[Int], from: Int, until: Int): Unit = {
    var i = from
    while (i < until) { char(src(i)); i += 1 }
  }
  /** ASCII-byte-mode twin of `chars` (src values guaranteed 0x00-0x7f). */
  def charsAscii(src: Array[Byte], from: Int, until: Int): Unit = {
    var i = from
    while (i < until) { char(src(i).toInt); i += 1 }
  }
  def tag(isStart: Boolean, name: String, selfClosing: Boolean, attrs: Vector[(String, String)]): Unit
  /** The tokenizer's tag delivery: `id` is the name's [[TagNames]] id (-1
    * for an unknown name) and `attrs` a view of the tag's attributes that
    * is reused from tag to tag, so it is valid only during the call. The
    * default materializes the attributes for [[tag]].
    */
  def tagView(isStart: Boolean, id: Int, name: String, selfClosing: Boolean, attrs: Attrs): Unit =
    tag(isStart, name, selfClosing, attrs.toVector)
  /** Extract-mode tree feedback: true while the insertion point is inside
    * foreign content (svg/math), where `<![CDATA[` opens a real CDATA
    * section (WHATWG §13.2.5.42) instead of a bogus comment. Fidelity mode
    * ignores this (the reference's CDATA branch is dead code, `if false` at
    * tokenizer/tokenizer.v:1668).
    */
  def inForeignContent: Boolean = false
  def comment(data: String): Unit
  def doctype(name: String, publicId: String, systemId: String, forceQuirks: Boolean): Unit
  def eof(name: String, msg: String): Unit
  /** Parse errors are collected per-row, never printed (the reference
    * printlns, tokenizer/tokenizer.v:346-348). */
  def parseError(code: String): Unit
}

/** Fixture sink: materializes the exact token vector. */
final class CollectingSink extends TokenSink {
  val toks = scala.collection.mutable.ArrayBuffer.empty[Tok]
  val errors = scala.collection.mutable.ArrayBuffer.empty[String]
  def char(cp: Int): Unit = toks += TChar(cp)
  def tag(isStart: Boolean, name: String, selfClosing: Boolean, attrs: Vector[(String, String)]): Unit =
    toks += TTag(isStart, name, selfClosing, attrs)
  def comment(data: String): Unit = toks += TComment(data)
  def doctype(name: String, publicId: String, systemId: String, forceQuirks: Boolean): Unit =
    toks += TDoctype(name, publicId, systemId, forceQuirks)
  def eof(name: String, msg: String): Unit = toks += TEof(name, msg)
  def parseError(code: String): Unit = errors += code

  /** Concatenated character-token text (the byte-fidelity payload). */
  def charText: String = {
    val sb = new java.lang.StringBuilder
    toks.foreach { case TChar(cp) => sb.appendCodePoint(cp); case _ => () }
    sb.toString
  }
}

/** Zero-allocation fidelity sink: counts character tokens in UTF-16 code
  * units (== fidelityText.length) without materializing tokens — reused
  * across a partition's rows in the q_tokenize_fidelity kernel.
  */
final class FidelityCountSink extends TokenSink {
  var nChars = 0L
  def reset(): Unit = nChars = 0L
  def char(cp: Int): Unit = nChars += (if (cp >= 0x10000) 2 else 1)
  override def chars(src: Array[Int], from: Int, until: Int): Unit = {
    var i = from
    while (i < until) { nChars += (if (src(i) >= 0x10000) 2 else 1); i += 1 }
  }
  override def charsAscii(src: Array[Byte], from: Int, until: Int): Unit =
    nChars += until - from
  def tag(isStart: Boolean, name: String, selfClosing: Boolean, attrs: Vector[(String, String)]): Unit = ()
  def comment(data: String): Unit = ()
  def doctype(name: String, publicId: String, systemId: String, forceQuirks: Boolean): Unit = ()
  def eof(name: String, msg: String): Unit = ()
  def parseError(code: String): Unit = ()
}

/** A tag's attributes in document order, as a sink reads them: `length`,
  * `nameId(i)` (the [[AttrNames]] id, -1 for an unknown name), `name(i)`
  * and `value(i)`. One instance is reused from tag to tag. In byte mode a
  * value that is one run of the input stays an offset and a length until
  * `value(i)` first reads it, so an attribute no sink reads is never copied.
  */
final class Attrs {
  private var ids = new Array[Int](8)
  private var names = new Array[String](8)
  private var vals = new Array[String](8)
  private var offs = new Array[Int](8)
  private var lens = new Array[Int](8)
  private var input: Array[Byte] = null // ASCII bytes the runs index into
  private var n = 0

  def length: Int = n
  def nameId(i: Int): Int = ids(i)
  def name(i: Int): String = names(i)
  def value(i: Int): String = {
    if (vals(i) == null) vals(i) = new String(input, offs(i), lens(i), java.nio.charset.StandardCharsets.ISO_8859_1)
    vals(i)
  }

  def toVector: Vector[(String, String)] =
    if (n == 0) Vector.empty
    else {
      val a = new Array[(String, String)](n)
      var i = 0
      while (i < n) { a(i) = (names(i), value(i)); i += 1 }
      Vector.from(scala.collection.immutable.ArraySeq.unsafeWrapArray(a))
    }

  /** Replaces the list with `v`'s pairs (the `tag(…, Vector)` bridge). */
  def set(v: Vector[(String, String)]): Unit = {
    clear()
    v.foreach { case (k, x) => add(AttrNames.id(k), k, x) }
  }

  private[core] def clear(): Unit = n = 0

  /** Starts a page: drops the last page's values (a blob may be 64 KB) and
    * takes the input that runs index into.
    */
  private[core] def reset(in: Array[Byte]): Unit = {
    java.util.Arrays.fill(vals.asInstanceOf[Array[AnyRef]], null)
    input = in
    n = 0
  }

  private def slot(id: Int, name: String): Int = {
    if (n == ids.length) {
      ids = java.util.Arrays.copyOf(ids, n * 2); names = java.util.Arrays.copyOf(names, n * 2)
      vals = java.util.Arrays.copyOf(vals, n * 2); offs = java.util.Arrays.copyOf(offs, n * 2)
      lens = java.util.Arrays.copyOf(lens, n * 2)
    }
    ids(n) = id; names(n) = name; n += 1
    n - 1
  }

  private[core] def add(id: Int, name: String, value: String): Unit = {
    val i = slot(id, name) // may grow `vals`
    vals(i) = value
  }

  private[core] def addRun(id: Int, name: String, off: Int, len: Int): Unit = {
    val i = slot(id, name)
    vals(i) = null; offs(i) = off; lens(i) = len
  }
}
