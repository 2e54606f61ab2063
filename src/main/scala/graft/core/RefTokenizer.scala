package graft.core

/** Step-budget abort: inputs that make the reference loop forever (quirk Q14
  * trailing `&`, the attr_name/after_attr_name EOF cycle, …) are cut off and
  * flagged instead of hanging an executor task.
  */
final class StepBudgetExceeded extends RuntimeException("tokenizer step budget exceeded", null, false, false)

/** Mirrors a V runtime panic on a bad sum-type cast (`t.curr_token as X`).
  * Reachable in the reference via `<?` when curr_token is not a CommentToken
  * (tokenizer/tokenizer.v:500-503 switches to bogus_comment without seeding a
  * CommentToken). We abort the row and flag it rather than crashing the job.
  */
final class VCastPanic(what: String) extends RuntimeException(s"V cast panic: curr_token as $what", null, false, false)

/** WHATWG §13.2.5 tokenizer with the exact semantics of the reference
  * (tokenizer/tokenizer.v) including its divergences from the spec — the
  * "quirk ledger" Q1-Q20 of repo:SURVEY.md §2.4 plus the additional ones found
  * by line-level audit (see QuirkSpec). Two structural re-engineerings, both
  * behavior-preserving:
  *
  *   1. The reference dispatches recursively with no TCO
  *      (tokenizer/tokenizer.v:164-259) — O(n) call depth. We run an iterative
  *      driver loop; the rare code-after-call sites (fall-through bugs at
  *      tokenizer/tokenizer.v:613-618 and 2881-2886) become explicit
  *      continuations executed at unwind time, byte-identically.
  *   2. The reference materializes `char_ref.keys()` per consumed char
  *      (tokenizer/tokenizer.v:2715,2730) and allocates one CharacterToken per
  *      text char (tokenizer/token.v:82-85). We hash-probe and stream chars to
  *      a sink.
  *
  * `specMode = false` ("fidelity"): entry state is always `.data`
  * (tokenizer/tokenizer.v:336), byte-identical token stream vs the reference.
  *
  * `specMode = true` ("extract"): adds the tree-construction tokenizer
  * feedback the WHATWG spec prescribes (rcdata/rawtext/script data entered
  * after title/textarea/style/script/…), and repairs exactly the reference
  * bugs that make those states unusable (each repair marked SPEC-FIX inline).
  * This is the production extraction path; both modes are fixture-tested.
  */
final class RefTokenizer(
    input: Array[Int],
    sink: TokenSink,
    specMode: Boolean = false,
    maxStepsIn: Long = -1L,
    inputLenIn: Int = -1,
    binput: Array[Byte] = null,
    bufs: TokenizerBuffers = new TokenizerBuffers
) {
  import St._
  import RefTokenizer._

  /** Pure-ASCII byte mode: when `binput` is non-null (guaranteed all bytes
    * 0x00-0x7f by the caller), the kernel reads the raw bytes — no 4×
    * codepoint expansion, 1/4 the input memory traffic. Semantics identical:
    * ASCII bytes ARE their codepoints. Non-ASCII pages use `input`.
    */
  private val byteMode: Boolean = binput != null

  /** logical input length — may be shorter than the (reused) backing array */
  private val inLen: Int =
    if (inputLenIn >= 0) inputLenIn else if (byteMode) binput.length else input.length

  private val maxSteps: Long = if (maxStepsIn > 0) maxStepsIn else 64L * inLen + 4096L

  // ---- machine registers (struct Tokenizer, tokenizer/tokenizer.v:108-126) --
  private var state: Int = Data
  private var cursor: Int = 0
  private var currChar: Int = 0
  private var charRefCode: Int = 0

  private var returnStack: Array[Int] = new Array[Int](16)
  private var returnTop: Int = 0

  bufs.reset(binput)

  // AttributeBuilder (tokenizer/token.v:98-102): V strings.Builder.str() is
  // read-and-clear — load-bearing for Q1. Caller-owned (see TokenizerBuffers).
  private val attrNameB = bufs.attrName

  // scratch builder `bldr` — codepoint-level so astral char refs round-trip
  private val bldr = new IntBuf

  // a doctype name or id run, collected for one write-back (doctypeRun)
  private val docRun = bufs.doctype

  // curr_token (tokenizer/tokenizer.v:117): the doctype variant is an
  // immutable value replaced on write-back, exactly like V value semantics —
  // the no-write-back bugs (Q9, …) fall out free.
  private var currToken: Cur = CurEofInit

  // The CommentToken variant is one register, live while `currToken eq
  // CurComment`: every comment edit in the reference writes its copy
  // straight back, and the no-write-back sites (Q7a-c) append nothing, so
  // appending in place is the same value.
  private val commentData = bufs.comment

  // The TagToken variant is one mutable register, live while `currToken eq
  // CurTag`. Every tag edit in the reference writes its copy straight back,
  // so editing in place is the same value; the one no-write-back site (the
  // self-closing copy, V :1600-1602) emits with selfClosing = true and
  // leaves the register's flag false. The name is `tagName` plus the
  // case-folded characters still in `bufs.tagName`, resolved against
  // TagNames (to `tagId`) when first read; attributes sit in `bufs.attrs`,
  // which the sink reads in place.
  private var tagIsStart = false
  private var tagName = ""
  private var tagId = -1
  private val tagNameTail = bufs.tagName

  // open_tags: pushed only at tag_name '>' for start tags, never popped
  // (Q3), and read only at its top — so only the last push is kept
  private var lastOpenTag: String = null

  // extract-mode: spec "appropriate end tag" anchor + raw-state switching
  private var lastStartTag: String = ""

  // ---- iterative control (replaces recursive switch_state) ----------------
  private var nextState: Int = -1
  private var nextReconsume: Boolean = false
  private var nextReturnTo: Int = -1
  private var pending: List[() => Unit] = Nil
  private var steps: Long = 0L

  /** per-state entry counts → lineage histogram */
  val stateHits: Array[Long] = new Array[Long](82)

  @inline private def goto(s: Int): Unit = { nextState = s }
  @inline private def gotoR(s: Int): Unit = { nextState = s; nextReconsume = true }
  @inline private def gotoRet(s: Int, returnTo: Int): Unit = { nextState = s; nextReturnTo = returnTo }

  /** run(html): `for state != .eof { switch_state(.data) }`
    * (tokenizer/tokenizer.v:333-339). The restart-at-data rule is load-bearing
    * for Q8/Q15 and the comment fall-off quirks.
    */
  def run(): Unit = {
    while (state != Eof) {
      goto(Data)
      drive()
    }
  }

  /** One switch_state subtree: loop transitions; on a plain handler return,
    * unwind by executing pending continuations (LIFO), which is exactly the
    * reference's implicit call-stack unwinding.
    */
  private def drive(): Unit = {
    while (true) {
      if (nextState >= 0) {
        state = nextState
        nextState = -1
        if (nextReconsume) { cursor -= 1; nextReconsume = false }
        if (nextReturnTo >= 0) { pushReturn(nextReturnTo); nextReturnTo = -1 }
        steps += 1
        if (steps > maxSteps) throw new StepBudgetExceeded
        stateHits(state) += 1
        dispatch()
      } else if (pending.nonEmpty) {
        val c = pending.head
        pending = pending.tail
        c()
      } else return
    }
  }

  private def dispatch(): Unit = (state: @annotation.switch) match {
    case AfterAttrName => stAfterAttrName()
    case AfterAttrValueQuoted => stAfterAttrValueQuoted()
    case AfterDoctypeName => stAfterDoctypeName()
    case AfterDoctypePublicIdentifier => stAfterDoctypePublicIdentifier()
    case AfterDoctypePublicKeyword => stAfterDoctypePublicKeyword()
    case AfterDoctypeSystemIdentifier => stAfterDoctypeSystemIdentifier()
    case AfterDoctypeSystemKeyword => stAfterDoctypeSystemKeyword()
    case AmbiguousAmpersand => stAmbiguousAmpersand()
    case AttrName => stAttrName()
    case AttrValueDblQuoted => stAttrValueDblQuoted()
    case AttrValueSglQuoted => stAttrValueSglQuoted()
    case AttrValueUnquoted => stAttrValueUnquoted()
    case BeforeAttrName => stBeforeAttrName()
    case BeforeAttrValue => stBeforeAttrValue()
    case BeforeDoctypeName => stBeforeDoctypeName()
    case BeforeDoctypePublicIdentifier => stBeforeDoctypePublicIdentifier()
    case BetweenDoctypePublicAndSystemIdentifiers => stBetweenDoctypePublicAndSystemIdentifiers()
    case BeforeDoctypeSystemIdentifier => stBeforeDoctypeSystemIdentifier()
    case BogusComment => stBogusComment()
    case BogusDoctype => stBogusDoctype()
    case CdataSection => stCdataSection()
    case CdataSectionBracket => stCdataSectionBracket()
    case CdataSectionEnd => stCdataSectionEnd()
    case CharReference => stCharReference()
    case Comment => stComment()
    case CommentEnd => stCommentEnd()
    case CommentEndBang => stCommentEndBang()
    case CommentEndDash => stCommentEndDash()
    case CommentLtSign => stCommentLtSign()
    case CommentLtSignBang => stCommentLtSignBang()
    case CommentLtSignBangDash => stCommentLtSignBangDash()
    case CommentLtSignBangDashDash => stCommentLtSignBangDashDash()
    case CommentStart => stCommentStart()
    case CommentStartDash => stCommentStartDash()
    case Data => stData()
    case DecimalCharReference => stDecimalCharReference()
    case DecimalCharReferenceStart => stDecimalCharReferenceStart()
    case Doctype => stDoctype()
    case DoctypeName => stDoctypeName()
    case DoctypePublicIdentifierDblQuoted => stDoctypePublicIdentifierQuoted('"')
    case DoctypePublicIdentifierSglQuoted => stDoctypePublicIdentifierQuoted('\'')
    case DoctypeSystemIdentifierDblQuoted => stDoctypeSystemIdentifierQuoted('"')
    case DoctypeSystemIdentifierSglQuoted => stDoctypeSystemIdentifierQuoted('\'')
    case EndTagOpen => stEndTagOpen()
    case Eof => () // do_state_eof: println only (tokenizer/tokenizer.v:341-344)
    case HexCharReference => stHexCharReference()
    case HexCharReferenceStart => stHexCharReferenceStart()
    case MarkupDeclarationOpen => stMarkupDeclarationOpen()
    case NamedCharReference => stNamedCharReference()
    case NumCharReference => stNumCharReference()
    case NumCharReferenceEnd => stNumCharReferenceEnd()
    case Plaintext => stPlaintext()
    case Rawtext => stRawtext()
    case RawtextEndTagName => stRawtextEndTagName()
    case RawtextEndTagOpen => stRawtextEndTagOpen()
    case RawtextLtSign => stRawtextLtSign()
    case Rcdata => stRcdata()
    case RcdataEndTagName => stRcdataEndTagName()
    case RcdataEndTagOpen => stRcdataEndTagOpen()
    case RcdataLtSign => stRcdataLtSign()
    case SelfClosingStartTag => stSelfClosingStartTag()
    case ScriptData => stScriptData()
    case ScriptDataDoubleEscaped => stScriptDataDoubleEscaped()
    case ScriptDataDoubleEscapeEnd => stScriptDataDoubleEscapeEnd()
    case ScriptDataDoubleEscapeStart => stScriptDataDoubleEscapeStart()
    case ScriptDataDoubleEscapedDash => stScriptDataDoubleEscapedDash()
    case ScriptDataDoubleEscapedDashDash => stScriptDataDoubleEscapedDashDash()
    case ScriptDataDoubleEscapedLtSign => stScriptDataDoubleEscapedLtSign()
    case ScriptDataEndTagName => stScriptDataEndTagName()
    case ScriptDataEndTagOpen => stScriptDataEndTagOpen()
    case ScriptDataEscapeStart => stScriptDataEscapeStart()
    case ScriptDataEscapeStartDash => stScriptDataEscapeStartDash()
    case ScriptDataEscaped => stScriptDataEscaped()
    case ScriptDataEscapedDash => stScriptDataEscapedDash()
    case ScriptDataEscapedDashDash => stScriptDataEscapedDashDash()
    case ScriptDataEscapedEndTagOpen => stScriptDataEscapedEndTagOpen()
    case ScriptDataEscapedEndTagName => stScriptDataEscapedEndTagName()
    case ScriptDataEscapedLtSign => stScriptDataEscapedLtSign()
    case ScriptDataLtSign => stScriptDataLtSign()
    case TagName => stTagName()
    case TagOpen => stTagOpen()
    case _ => throw new IllegalStateException(s"state $state not implemented")
  }

  // ---- cursor machinery (tokenizer/tokenizer.v:138-154, 269-288) -----------

  /** next_codepoint: on overrun sets state = .eof and signals -1. */
  @inline private def nextCp(): Int = {
    if (cursor >= inLen) { state = Eof; -1 }
    else { cursor += 1; if (byteMode) binput(cursor - 1).toInt else input(cursor - 1) }
  }

  /** peek_codepoint: -1 on overrun (callers map it per V `or` blocks). */
  @inline private def peek(offset: Int): Int =
    if (cursor + offset >= inLen) -1
    else if (byteMode) binput(cursor + offset).toInt
    else input(cursor + offset)

  /** look_ahead: consume `s.length` chars only on full match. */
  private def lookAhead(s: String, caseSensitive: Boolean = true): Boolean = {
    var i = 0
    while (i < s.length) {
      val p = peek(i)
      if (p < 0) return false
      val a = if (caseSensitive) p else toLower(p)
      val b = if (caseSensitive) s.charAt(i).toInt else toLower(s.charAt(i).toInt)
      if (a != b) return false
      i += 1
    }
    cursor += s.length
    true
  }

  // ---- char classes (tokenizer/tokenizer.v:6-21, util.v) -------------------
  @inline private def isWs(c: Int): Boolean = c == '\t' || c == '\n' || c == '\f' || c == ' '
  @inline private def isAlpha(c: Int): Boolean = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  @inline private def isAlnum(c: Int): Boolean = isAlpha(c) || (c >= '0' && c <= '9')
  @inline private def isDec(c: Int): Boolean = c >= '0' && c <= '9'
  @inline private def isHex(c: Int): Boolean = isDec(c) || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
  /** ASCII-only case fold (util.v:13-19) — deliberately NOT String.toLowerCase. */
  @inline private def toLower(c: Int): Int = if (c >= 'A' && c <= 'Z') c + 0x20 else c

  // ---- output --------------------------------------------------------------
  @inline private def pushChar(): Unit = sink.char(currChar)
  @inline private def pushRune(cp: Int): Unit = sink.char(cp)
  @inline private def pushString(s: String): Unit = {
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      sink.char(cp)
      i += Character.charCount(cp)
    }
  }
  /** Emit the scratch builder's codepoints (the caller clears it). */
  @inline private def pushBldr(): Unit = { var i = 0; while (i < bldr.length) { sink.char(bldr(i)); i += 1 } }
  @inline private def parseError(code: String): Unit = sink.parseError(code)

  /** push_token for the generic `t.push_token(t.curr_token)` sites — no cast
    * in V, so ANY current variant can be emitted (e.g. the initial EOFToken
    * via `<?>`; see QuirkSpec).
    */
  private def pushCur(): Unit = currToken match {
    case CurEofInit => sink.eof(Tok.EofGenericName, Tok.EofGenericMsg)
    case CurTag => emitTag(selfClosing = false)
    case CurComment => sink.comment(commentData.mkString)
    case d: CurDoctype => sink.doctype(d.name, d.publicId, d.systemId, d.forceQuirks)
  }

  /** Emit the tag register (`selfClosing` = true only for the pushed copy). */
  private def emitTag(selfClosing: Boolean): Unit = {
    val name = tagNameNow()
    sink.tagView(tagIsStart, tagId, name, selfClosing, bufs.attrs)
    if (specMode && tagIsStart) lastStartTag = name
  }

  /** Install an empty tag register (tag_open / end_tag_open entries). */
  @inline private def newTag(isStart: Boolean): Unit = {
    currToken = CurTag
    tagIsStart = isStart
    tagName = ""
    tagId = -1
    tagNameTail.setLength(0)
    bufs.attrs.clear()
  }

  /** The register's name: pending folded characters are resolved once —
    * a known element name is the table's own string, with its id.
    */
  private def tagNameNow(): String = {
    if (tagNameTail.length > 0) {
      val full: CharSequence = if (tagName.isEmpty) tagNameTail else tagName + tagNameTail
      tagId = TagNames.id(full)
      tagName = if (tagId >= 0) TagNames.name(tagId) else full.toString
      tagNameTail.setLength(0)
    }
    tagName
  }

  /** extract-mode tree feedback: state entered after emitting the register
    * (not self-closing) as a start tag. WHATWG §13.2.6 "switch the
    * tokenizer"; absent from the reference (its `run` pins entry to .data,
    * tokenizer/tokenizer.v:336). SPEC-FIX.
    */
  private def dataTarget(): Int =
    if (!specMode || !tagIsStart) Data
    else { tagNameNow(); if (tagId < 0) Data else dataTargetOf(tagId) }

  // ---- typed casts (V `as`) -------------------------------------------------
  @inline private def asTag(): Unit = if (currToken ne CurTag) throw new VCastPanic("TagToken")
  @inline private def asTagName(): String = { asTag(); tagNameNow() }
  @inline private def asComment(): Unit = if (currToken ne CurComment) throw new VCastPanic("CommentToken")
  /** Install an empty comment register. */
  @inline private def newComment(): Unit = { currToken = CurComment; commentData.clear() }
  /** `tok.data << cp` with the write-back. */
  @inline private def commentAdd(cp: Int): Unit = { asComment(); commentData.add(cp) }
  @inline private def asDoctype: CurDoctype = currToken match {
    case d: CurDoctype => d
    case _ => throw new VCastPanic("DoctypeToken")
  }

  // ---- return-state stack ----------------------------------------------------
  @inline private def pushReturn(s: Int): Unit = {
    if (returnTop == returnStack.length) returnStack = java.util.Arrays.copyOf(returnStack, returnStack.length * 2)
    returnStack(returnTop) = s
    returnTop += 1
  }
  @inline private def peekReturn: Int = if (returnTop == 0) -1 else returnStack(returnTop - 1)

  /** do_return_state (tokenizer/tokenizer.v:350-357). */
  private def doReturnState(reconsume: Boolean): Unit = {
    if (returnTop > 0) {
      returnTop -= 1
      if (reconsume) gotoR(returnStack(returnTop)) else goto(returnStack(returnTop))
    } else {
      parseError("warning_no_return_state")
      if (reconsume) gotoR(Data) else goto(Data)
    }
  }

  @inline private def isAttrReturn(s: Int): Boolean =
    s == AttrValueDblQuoted || s == AttrValueSglQuoted || s == AttrValueUnquoted

  /** flush_codepoints (tokenizer/tokenizer.v:317-331): routes by PEEKED return
    * state; builder is read-and-cleared.
    */
  private def flushCodepoints(): Unit = {
    if (isAttrReturn(peekReturn)) {
      var i = 0
      while (i < bldr.length) { bufs.valueAppend(bldr(i)); i += 1 }
    } else pushBldr()
    bldr.clear()
  }

  /** V `t.curr_attr = AttributeBuilder{}` — fresh empty builders; clearing
    * the existing ones is observably identical (the flush already
    * read-clears) and avoids 2 allocations per attribute.
    */
  @inline private def newAttrBuilder(): Unit = { attrNameB.setLength(0); bufs.valueClear() }

  /** Flush the built attribute into the tag (attr_value_unquoted entry,
    * tokenizer/tokenizer.v:1499-1504 = Q1; after_attr_value_quoted entry,
    * :1552-1557).
    */
  private def flushAttrIntoTag(): Unit = {
    asTag()
    bufs.flushAttr()
  }

  /** is_appropriate (token.v:30-45): fidelity compares against the top of the
    * never-popped open_tags stack (Q3); extract mode uses the spec's "last
    * start tag emitted" (SPEC-FIX — Q3 makes raw-text end tags undetectable
    * otherwise).
    */
  private def isAppropriate(endTagName: String): Boolean =
    if (specMode) lastStartTag == endTagName
    else lastOpenTag != null && lastOpenTag == endTagName

  // ===========================================================================
  // Handlers. Each is a line-faithful transcription of the corresponding
  // do_state_* in tokenizer/tokenizer.v; `goto` = tail switch_state, a plain
  // return = V falling off the function (run-loop restart at .data).
  // ===========================================================================

  /** 13.2.5.1 (tokenizer/tokenizer.v:363-388).
    *
    * Hot-loop batching: the reference processes one ordinary character per
    * handler invocation (fall-off → run-loop restart at .data — the restarted
    * state IS .data, so consuming a run of ordinary chars in a tight loop is
    * observably identical: same sink calls, same currChar, and the step/hit
    * counters are credited per char).
    */
  private def stData(): Unit = {
    var c = nextCp()
    if (c > 0 && c != '&' && c != '<') {
      val start = cursor - 1
      while (c > 0 && c != '&' && c != '<') { currChar = c; c = nextCp() }
      val end = if (c < 0) cursor else cursor - 1
      if (byteMode) sink.charsAscii(binput, start, end) else sink.chars(input, start, end)
      steps += end - start; stateHits(Data) += end - start
    }
    if (c < 0) { sink.eof(Tok.EofGenericName, Tok.EofGenericMsg); return }
    currChar = c
    if (c == '&') { gotoRet(CharReference, Data); return }
    if (c == '<') { goto(TagOpen); return }
    // c == 0
    parseError("unexpected_null_character"); pushRune(0xfffd); goto(Data)
  }

  /** 13.2.5.2 (:390-414) */
  private def stRcdata(): Unit = {
    var c = nextCp()
    if (specMode && c > 0 && c != '&' && c != '<') {
      val start = cursor - 1
      while (c > 0 && c != '&' && c != '<') { currChar = c; c = nextCp() }
      val end = if (c < 0) cursor else cursor - 1
      if (byteMode) sink.charsAscii(binput, start, end) else sink.chars(input, start, end)
      steps += end - start; stateHits(Rcdata) += end - start
    }
    if (c < 0) { sink.eof(Tok.EofGenericName, Tok.EofGenericMsg); return }
    currChar = c
    if (c == '&') { gotoRet(CharReference, Rcdata); return }
    if (c == '<') { goto(RcdataLtSign); return }
    if (c == 0) { parseError("unexpected_null_character"); pushRune(0xfffd); goto(Rcdata); return }
    pushChar()
    if (specMode) goto(Rcdata) // SPEC-FIX: reference falls off → restart .data
  }

  /** 13.2.5.3 (:417-431) — reference has NO `<` transition: rawtext can never
    * terminate. Fidelity mirrors that; extract mode adds the spec transition
    * (SPEC-FIX).
    */
  private def stRawtext(): Unit = {
    var c = nextCp()
    if (specMode && c > 0 && c != '<') {
      val start = cursor - 1
      while (c > 0 && c != '<') { currChar = c; c = nextCp() }
      val end = if (c < 0) cursor else cursor - 1
      if (byteMode) sink.charsAscii(binput, start, end) else sink.chars(input, start, end)
      steps += end - start; stateHits(Rawtext) += end - start
    }
    if (c < 0) { sink.eof(Tok.EofGenericName, Tok.EofGenericMsg); return }
    currChar = c
    if (specMode && c == '<') { goto(RawtextLtSign); return }
    if (c == 0) { parseError("unexpected_null_character"); pushRune(0xfffd); goto(Rawtext); return }
    pushChar()
    if (specMode) goto(Rawtext)
  }

  /** 13.2.5.4 (:434-453) — spec-mode self-loop batched (fidelity keeps the
    * reference's per-char fall-off; the state is unreachable there anyway).
    */
  private def stScriptData(): Unit = {
    var c = nextCp()
    if (specMode && c > 0 && c != '<') {
      val start = cursor - 1
      while (c > 0 && c != '<') { currChar = c; c = nextCp() }
      val end = if (c < 0) cursor else cursor - 1
      if (byteMode) sink.charsAscii(binput, start, end) else sink.chars(input, start, end)
      steps += end - start; stateHits(ScriptData) += end - start
    }
    if (c < 0) { sink.eof(Tok.EofGenericName, Tok.EofGenericMsg); return }
    currChar = c
    if (c == '<') { goto(ScriptDataLtSign); return }
    if (c == 0) { parseError("unexpected_null_character"); pushRune(0xfffd); goto(ScriptData); return }
    pushChar()
    if (specMode) goto(ScriptData)
  }

  /** 13.2.5.5 (:456-470) */
  private def stPlaintext(): Unit = {
    val c = nextCp()
    if (c < 0) { sink.eof(Tok.EofGenericName, Tok.EofGenericMsg); return }
    currChar = c
    if (c == 0) { parseError("unexpected_null_character"); pushRune(0xfffd); goto(Plaintext); return }
    pushChar()
    if (specMode) goto(Plaintext)
  }

  /** 13.2.5.6 (:473-509) */
  private def stTagOpen(): Unit = {
    val c = nextCp()
    if (c < 0) {
      parseError("eof_before_tag_name")
      pushRune('<')
      sink.eof(Tok.EofBeforeTagNameName, Tok.EofBeforeTagNameMsg)
      return
    }
    currChar = c
    if (c == '!') { goto(MarkupDeclarationOpen); return }
    if (c == '/') { goto(EndTagOpen); return }
    if (isAlpha(c)) { newTag(isStart = true); gotoR(TagName); return }
    if (c == '?') { parseError("unexpected_question_mark_instead_of_tag_name"); gotoR(BogusComment); return }
    parseError("invalid_first_character_of_tag_name")
    pushRune('<')
    gotoR(Data)
  }

  /** 13.2.5.7 (:512-540) */
  private def stEndTagOpen(): Unit = {
    val c = nextCp()
    if (c < 0) {
      parseError("eof_before_tag_name")
      pushString("</")
      sink.eof(Tok.EofBeforeTagNameName, Tok.EofBeforeTagNameMsg)
      return
    }
    currChar = c
    if (isAlpha(c)) { newTag(isStart = false); gotoR(TagName); return }
    if (c == '>') { parseError("missing_end_tag_name"); goto(Data); return }
    parseError("invalid_first_character_of_tag_name")
    newComment()
    gotoR(BogusComment)
  }

  /** 13.2.5.8 (:543-585) — the ONLY open_tags push site (:564-567, Q3).
    * Ordinary name chars batched (each per-char iteration of the reference
    * appends + writes back; one accumulated append is observably identical —
    * nothing reads curr_token between those iterations). The run's folded
    * chars go to the register's pending name, resolved once when read.
    */
  private def stTagName(): Unit = {
    var c = nextCp()
    if (c > 0 && c != '/' && c != '>' && !isWs(c)) {
      var n = 0
      while (c > 0 && c != '/' && c != '>' && !isWs(c)) {
        tagNameTail.appendCodePoint(toLower(c)); currChar = c; n += 1; c = nextCp()
      }
      steps += n; stateHits(TagName) += n
      asTag()
    }
    if (c < 0) { parseError("eof_in_tag"); sink.eof(Tok.EofInTagName, Tok.EofInTagMsg); return }
    currChar = c
    if (isWs(c)) { goto(BeforeAttrName); return }
    if (c == '/') { goto(SelfClosingStartTag); return }
    if (c == '>') {
      asTag()
      emitTag(selfClosing = false)
      if (tagIsStart) lastOpenTag = tagName
      goto(dataTarget())
      return
    }
    // c == 0
    parseError("unexpected_null_character")
    asTag(); tagNameTail.append('\ufffd')
    goto(TagName)
  }

  /** 13.2.5.9 (:588-603) */
  private def stRcdataLtSign(): Unit = {
    val c = nextCp()
    if (c < 0) { pushRune('<'); gotoR(Rcdata); return }
    currChar = c
    if (c == '/') { bldr.clear(); goto(RcdataEndTagOpen); return }
    pushRune('<')
    gotoR(Rcdata)
  }

  /** 13.2.5.10 (:606-623) — Q2: alpha branch lacks `return`, so after the
    * inner subtree unwinds the `<`,`/` emission + rcdata re-entry still run.
    * Fidelity keeps the continuation; extract mode repairs (SPEC-FIX).
    */
  private def stRcdataEndTagOpen(): Unit = {
    val c = nextCp()
    if (c < 0) { pushString("</"); gotoR(Rcdata); return }
    currChar = c
    if (isAlpha(c)) {
      newTag(isStart = false)
      if (!specMode) pending = (() => { pushRune('<'); pushRune('/'); gotoR(Rcdata) }) :: pending
      gotoR(RcdataEndTagName)
      return
    }
    pushRune('<')
    pushRune('/')
    gotoR(Rcdata)
  }

  private def endTagNameCommon(selfSt: Int, backSt: Int, emitOn: Int, alphaFallsOff: Boolean): Unit = {
    // shared shape of 13.2.5.11/.14/.17 (:626-680, :722-776, :823-876)
    val c = nextCp()
    def anythingElse(): Unit = { pushString("</"); pushBldr(); bldr.clear(); gotoR(backSt) }
    if (c < 0) { anythingElse(); return }
    currChar = c
    if (isWs(c)) { if (isAppropriate(asTagName())) goto(BeforeAttrName) else anythingElse(); return }
    if (c == '/') { if (isAppropriate(asTagName())) goto(SelfClosingStartTag) else anythingElse(); return }
    if (c == emitOn) {
      if (isAppropriate(asTagName())) { pushCur(); goto(Data) } else anythingElse()
      return
    }
    if (isAlpha(c)) {
      asTag()
      tagNameTail.append(toLower(c).toChar) // alpha-only: ASCII by construction
      bldr.add(c)
      if (!alphaFallsOff) goto(selfSt) // else: plain return → run restarts .data (Q15b)
      return
    }
    anythingElse()
  }

  /** 13.2.5.11 (:626-680) */
  private def stRcdataEndTagName(): Unit = endTagNameCommon(RcdataEndTagName, Rcdata, '>', alphaFallsOff = false)

  /** 13.2.5.12 (:683-699) */
  private def stRawtextLtSign(): Unit = {
    val c = nextCp()
    if (c < 0) { pushRune('<'); gotoR(Rawtext); return }
    currChar = c
    if (c == '/') { bldr.clear(); goto(RawtextEndTagOpen); return }
    pushRune('<')
    gotoR(Rawtext)
  }

  /** 13.2.5.13 (:702-719) */
  private def stRawtextEndTagOpen(): Unit = {
    val c = nextCp()
    if (c < 0) { pushString("</"); gotoR(Rawtext); return }
    currChar = c
    if (isAlpha(c)) { newTag(isStart = false); gotoR(RawtextEndTagName); return }
    pushString("</")
    gotoR(Rawtext)
  }

  /** 13.2.5.14 (:722-776) */
  private def stRawtextEndTagName(): Unit = endTagNameCommon(RawtextEndTagName, Rawtext, '>', alphaFallsOff = false)

  /** 13.2.5.15 (:779-800) */
  private def stScriptDataLtSign(): Unit = {
    val c = nextCp()
    if (c < 0) { pushRune('<'); gotoR(ScriptData); return }
    currChar = c
    if (c == '/') { bldr.clear(); goto(ScriptDataEndTagOpen); return }
    if (c == '!') { pushString("<!"); goto(ScriptDataEscapeStart); return }
    pushRune('<')
    gotoR(ScriptData)
  }

  /** 13.2.5.16 (:803-820) */
  private def stScriptDataEndTagOpen(): Unit = {
    val c = nextCp()
    if (c < 0) { pushString("</"); gotoR(ScriptData); return }
    currChar = c
    if (isAlpha(c)) { newTag(isStart = false); gotoR(ScriptDataEndTagName); return }
    pushString("</")
    gotoR(ScriptData)
  }

  /** 13.2.5.17 (:823-876) — Q15: the reference emits the end tag on `<`
    * instead of `>` (:853) and its alpha branch returns without switching
    * (:865-870) so the run loop restarts .data. Extract mode repairs both
    * (SPEC-FIX), else `</script>` can never close script data.
    */
  private def stScriptDataEndTagName(): Unit =
    endTagNameCommon(ScriptDataEndTagName, ScriptData, if (specMode) '>' else '<', alphaFallsOff = !specMode)

  /** 13.2.5.18 (:879-892) */
  private def stScriptDataEscapeStart(): Unit = {
    val c = nextCp()
    if (c < 0) { gotoR(ScriptData); return }
    currChar = c
    if (c == '-') { pushRune('-'); goto(ScriptDataEscapeStartDash); return }
    gotoR(ScriptData)
  }

  /** 13.2.5.19 (:895-908) */
  private def stScriptDataEscapeStartDash(): Unit = {
    val c = nextCp()
    if (c < 0) { gotoR(ScriptData); return }
    currChar = c
    if (c == '-') { pushRune('-'); goto(ScriptDataEscapedDashDash); return }
    gotoR(ScriptData)
  }

  /** 13.2.5.20 (:911-941) */
  private def stScriptDataEscaped(): Unit = {
    val c = nextCp()
    if (c < 0) { parseError("eof_in_script_html_comment_like_text"); sink.eof(Tok.EofInScriptName, Tok.EofInScriptMsg); return }
    currChar = c
    if (c == '-') { pushRune('-'); goto(ScriptDataEscapedDash); return }
    if (c == '<') { goto(ScriptDataEscapedLtSign); return }
    if (c == 0) { parseError("unexpected_null_character"); pushRune(0xfffd); goto(ScriptDataEscaped); return }
    pushChar()
    goto(ScriptDataEscaped)
  }

  /** 13.2.5.21 (:944-974) */
  private def stScriptDataEscapedDash(): Unit = {
    val c = nextCp()
    if (c < 0) { parseError("eof_in_script_html_comment_like_text"); sink.eof(Tok.EofInScriptName, Tok.EofInScriptMsg); return }
    currChar = c
    if (c == '-') { pushRune('-'); goto(ScriptDataEscapedDashDash); return }
    if (c == '<') { goto(ScriptDataEscapedLtSign); return }
    if (c == 0) { parseError("unexpected_null_character"); pushRune(0xfffd); goto(ScriptDataEscaped); return }
    pushChar()
    goto(ScriptDataEscaped)
  }

  /** 13.2.5.22 (:977-1013) — note the NUL branch switches to .script_data
    * (:1004-1008), not .script_data_escaped as the spec says; mirrored.
    */
  private def stScriptDataEscapedDashDash(): Unit = {
    val c = nextCp()
    if (c < 0) { parseError("eof_in_script_html_comment_like_text"); sink.eof(Tok.EofInScriptName, Tok.EofInScriptMsg); return }
    currChar = c
    if (c == '-') { pushRune('-'); goto(ScriptDataEscapedDashDash); return }
    if (c == '<') { goto(ScriptDataEscapedLtSign); return }
    if (c == '>') { pushRune('>'); goto(ScriptData); return }
    if (c == 0) { parseError("unexpected_null_character"); pushRune(0xfffd); goto(ScriptData); return }
    pushChar()
    goto(ScriptDataEscaped)
  }

  /** 13.2.5.23 (:1016-1038) — alpha branch does NOT reconsume (spec does):
    * the first letter after `<` is consumed and lost; mirrored.
    */
  private def stScriptDataEscapedLtSign(): Unit = {
    val c = nextCp()
    if (c < 0) { pushRune('<'); gotoR(ScriptDataEscaped); return }
    currChar = c
    if (c == '/') { bldr.clear(); goto(ScriptDataEscapedEndTagOpen); return }
    if (isAlpha(c)) { bldr.clear(); pushRune('<'); goto(ScriptDataDoubleEscapeStart); return }
    pushRune('<')
    gotoR(ScriptDataEscaped)
  }

  /** 13.2.5.24 (:1041-1058) */
  private def stScriptDataEscapedEndTagOpen(): Unit = {
    val c = nextCp()
    if (c < 0) { pushString("</"); gotoR(ScriptDataEscaped); return }
    currChar = c
    if (isAlpha(c)) { newTag(isStart = false); gotoR(ScriptDataEscapedEndTagName); return }
    pushString("</")
    gotoR(ScriptDataEscaped)
  }

  /** 13.2.5.25 (:1061-1116) */
  private def stScriptDataEscapedEndTagName(): Unit =
    endTagNameCommon(ScriptDataEscapedEndTagName, ScriptDataEscaped, '>', alphaFallsOff = false)

  /** 13.2.5.26 (:1119-1149) — on the ws/`/`/`>` "script" branch the
    * terminator char is NOT emitted (spec emits it); mirrored.
    */
  private def stScriptDataDoubleEscapeStart(): Unit = {
    val c = nextCp()
    if (c < 0) { gotoR(ScriptDataEscaped); return }
    currChar = c
    if (isWs(c) || c == '/' || c == '>') {
      if (bldr.contentEquals("script")) goto(ScriptDataDoubleEscaped)
      else { pushChar(); goto(ScriptDataEscaped) }
      return
    }
    if (isAlpha(c)) { bldr.add(toLower(c)); pushChar(); goto(ScriptDataDoubleEscapeStart); return }
    gotoR(ScriptDataEscaped)
  }

  /** 13.2.5.27 (:1152-1182) — NUL branch falls off (restart .data) in the
    * reference; extract mode self-loops (SPEC-FIX).
    */
  private def stScriptDataDoubleEscaped(): Unit = {
    val c = nextCp()
    if (c < 0) { parseError("eof_in_script_html_comment_like_text"); sink.eof(Tok.EofInScriptName, Tok.EofInScriptMsg); return }
    currChar = c
    if (c == '-') { pushRune('-'); goto(ScriptDataDoubleEscapedDash); return }
    if (c == '<') { pushRune('<'); goto(ScriptDataDoubleEscapedLtSign); return }
    if (c == 0) {
      parseError("unexpected_null_character"); pushRune(0xfffd)
      if (specMode) goto(ScriptDataDoubleEscaped)
      return
    }
    pushChar()
    goto(ScriptDataDoubleEscaped)
  }

  /** 13.2.5.28 (:1185-1216) */
  private def stScriptDataDoubleEscapedDash(): Unit = {
    val c = nextCp()
    if (c < 0) { parseError("eof_in_script_html_comment_like_text"); sink.eof(Tok.EofInScriptName, Tok.EofInScriptMsg); return }
    currChar = c
    if (c == '-') { pushRune('-'); goto(ScriptDataDoubleEscapedDashDash); return }
    if (c == '<') { pushRune('<'); goto(ScriptDataDoubleEscapedLtSign); return }
    if (c == 0) { parseError("unexpected_null_character"); pushRune(0xfffd); goto(ScriptDataDoubleEscaped); return }
    pushChar()
    goto(ScriptDataDoubleEscaped)
  }

  /** 13.2.5.29 (:1219-1255) — `-` branch falls off (restart .data) in the
    * reference; extract mode self-loops (SPEC-FIX).
    */
  private def stScriptDataDoubleEscapedDashDash(): Unit = {
    val c = nextCp()
    if (c < 0) { parseError("eof_in_script_html_comment_like_text"); sink.eof(Tok.EofInScriptName, Tok.EofInScriptMsg); return }
    currChar = c
    if (c == '-') {
      pushRune('-')
      if (specMode) goto(ScriptDataDoubleEscapedDashDash)
      return
    }
    if (c == '<') { pushRune('<'); goto(ScriptDataDoubleEscapedLtSign); return }
    if (c == '>') { pushRune('>'); goto(ScriptData); return }
    if (c == 0) { parseError("unexpected_null_character"); pushRune(0xfffd); goto(ScriptDataDoubleEscaped); return }
    pushChar()
    goto(ScriptDataDoubleEscaped)
  }

  /** 13.2.5.30 (:1258-1272) */
  private def stScriptDataDoubleEscapedLtSign(): Unit = {
    val c = nextCp()
    if (c < 0) { gotoR(ScriptDataDoubleEscaped); return }
    currChar = c
    if (c == '/') { bldr.clear(); pushRune('/'); goto(ScriptDataDoubleEscapeEnd); return }
    gotoR(ScriptDataDoubleEscaped)
  }

  /** 13.2.5.31 (:1275-1302) — alpha branch falls off (restart .data) in the
    * reference; extract mode self-loops (SPEC-FIX).
    */
  private def stScriptDataDoubleEscapeEnd(): Unit = {
    val c = nextCp()
    if (c < 0) { gotoR(ScriptDataDoubleEscaped); return }
    currChar = c
    if (isWs(c) || c == '/' || c == '>') {
      if (bldr.contentEquals("script")) goto(ScriptDataEscaped)
      else { pushChar(); goto(ScriptDataDoubleEscaped) }
      return
    }
    if (isAlpha(c)) {
      bldr.add(toLower(c)); pushChar()
      if (specMode) goto(ScriptDataDoubleEscapeEnd)
      return
    }
    gotoR(ScriptDataDoubleEscaped)
  }

  /** 13.2.5.32 (:1305-1331) — whitespace run batched (pure skip). */
  private def stBeforeAttrName(): Unit = {
    var c = nextCp()
    if (c >= 0 && isWs(c)) {
      var n = 0
      while (c >= 0 && isWs(c)) { currChar = c; n += 1; c = nextCp() }
      steps += n; stateHits(BeforeAttrName) += n
    }
    if (c < 0) { gotoR(AfterAttrName); return }
    currChar = c
    if (isWs(c)) { goto(BeforeAttrName); return }
    if (c == '/' || c == '>') { gotoR(AfterAttrName); return }
    if (c == '=') {
      parseError("unexpected_equals_sign_before_attr_name")
      newAttrBuilder()
      attrNameB.appendCodePoint(c)
      goto(AttrName)
      return
    }
    newAttrBuilder()
    gotoR(AttrName)
  }

  /** 13.2.5.33 (:1334-1363) — ordinary chars batched (pure builder appends;
    * the quote/lt parse errors keep their per-char emission order).
    */
  private def stAttrName(): Unit = {
    var c = nextCp()
    if (c > 0 && c != '/' && c != '>' && c != '=' && !isWs(c)) {
      var n = 0
      while (c > 0 && c != '/' && c != '>' && c != '=' && !isWs(c)) {
        if (c == '"' || c == '\'' || c == '<') parseError("unexpected_char_in_attr_name")
        attrNameB.appendCodePoint(toLower(c))
        currChar = c; n += 1; c = nextCp()
      }
      steps += n; stateHits(AttrName) += n
    }
    if (c < 0) { gotoR(AfterAttrName); return } // EOF+reconsume → non-terminating cycle; budget-guarded
    currChar = c
    if (isWs(c) || c == '/' || c == '>') { gotoR(AfterAttrName); return }
    if (c == '=') { goto(BeforeAttrValue); return }
    // c == 0
    parseError("unexpected_null_character"); attrNameB.appendCodePoint(0xfffd); goto(AttrName)
  }

  /** SPEC-FIX (spec mode only): WHATWG adds an attribute to the tag when its
    * NAME completes, so a VALUELESS attribute (`<div itemscope>`) survives
    * with value "" — the reference flushes only on the attr-VALUE exits and
    * silently drops any attribute not followed by `=value`
    * (tokenizer/tokenizer.v:1366-1399; the loss is pinned in the fidelity
    * vectors). Extract mode needs the spec shape: boolean attributes
    * (itemscope, async, hidden, novalidate) are real HTML.
    */
  @inline private def specFlushPendingAttr(): Unit =
    if (specMode && attrNameB.length > 0) flushAttrIntoTag()

  /** 13.2.5.34 (:1366-1399) — `>` emits WITHOUT an open_tags push (Q3) and,
    * in fidelity mode, without flushing the pending attribute (silently
    * lost); spec mode keeps it ([[specFlushPendingAttr]]).
    */
  private def stAfterAttrName(): Unit = {
    val c = nextCp()
    if (c < 0) { parseError("eof_in_tag"); sink.eof(Tok.EofInTagName, Tok.EofInTagMsg); return }
    currChar = c
    if (isWs(c)) { goto(AfterAttrName); return }
    if (c == '/') { specFlushPendingAttr(); goto(SelfClosingStartTag); return }
    if (c == '=') { goto(BeforeAttrValue); return }
    if (c == '>') { specFlushPendingAttr(); asTag(); emitTag(selfClosing = false); goto(dataTarget()); return }
    specFlushPendingAttr()
    newAttrBuilder()
    gotoR(AttrName)
  }

  /** 13.2.5.35 (:1402-1431) */
  private def stBeforeAttrValue(): Unit = {
    val c = nextCp()
    if (c < 0) { gotoR(AttrValueUnquoted); return }
    currChar = c
    if (isWs(c)) { goto(BeforeAttrValue); return }
    if (c == '"') { goto(AttrValueDblQuoted); return }
    if (c == '\'') { goto(AttrValueSglQuoted); return }
    if (c == '>') {
      parseError("missing_attr_value")
      specFlushPendingAttr() // spec keeps `<a x=>`'s attr with value ""
      asTag(); emitTag(selfClosing = false); goto(dataTarget()); return
    }
    gotoR(AttrValueUnquoted)
  }

  /** Shared .36/.37 body with ordinary-char batching (self-loop → identical). */
  private def attrValueQuoted(quote: Int, self: Int): Unit = {
    var c = nextCp()
    if (c > 0 && c != quote && c != '&') {
      val start = cursor - 1
      while (c > 0 && c != quote && c != '&') { currChar = c; c = nextCp() }
      val end = if (c < 0) cursor else cursor - 1
      // byte mode: a value that is this one run is never copied (4-64 KB blobs)
      if (byteMode) bufs.valueAppendRun(start, end) else bufs.valueAppend(input, start, end)
      steps += end - start; stateHits(self) += end - start
    }
    if (c < 0) { parseError("eof_in_tag"); sink.eof(Tok.EofInTagName, Tok.EofInTagMsg); return }
    currChar = c
    if (c == quote) { goto(AfterAttrValueQuoted); return }
    if (c == '&') { gotoRet(CharReference, self); return }
    // c == 0
    parseError("unexpected_null_character"); bufs.valueAppend(0xfffd); goto(self)
  }

  /** 13.2.5.36 (:1434-1463) */
  private def stAttrValueDblQuoted(): Unit = attrValueQuoted('"', AttrValueDblQuoted)

  /** 13.2.5.37 (:1466-1495) */
  private def stAttrValueSglQuoted(): Unit = attrValueQuoted('\'', AttrValueSglQuoted)

  /** 13.2.5.38 (:1498-1548) — Q1: flushes the builders into a NEW attribute on
    * EVERY entry, splattering unquoted values into per-char attributes.
    */
  private def stAttrValueUnquoted(): Unit = {
    flushAttrIntoTag()
    val c = nextCp()
    if (c < 0) { parseError("eof_in_tag"); sink.eof(Tok.EofInTagName, Tok.EofInTagMsg); return }
    currChar = c
    if (isWs(c)) { goto(BeforeAttrName); return }
    if (c == '&') { gotoRet(CharReference, AttrValueUnquoted); return }
    if (c == '>') { asTag(); emitTag(selfClosing = false); goto(dataTarget()); return }
    if (c == 0) { parseError("unexpected_null_character"); bufs.valueAppend(0xfffd); goto(AttrValueUnquoted); return }
    if (c == '"' || c == '\'' || c == '<' || c == '=' || c == '`') {
      parseError("unexpected_char_in_unquoted_attr_value")
      bufs.valueAppend(c)
      goto(AttrValueUnquoted)
      return
    }
    bufs.valueAppend(c)
    goto(AttrValueUnquoted)
  }

  /** 13.2.5.39 (:1551-1586) — entry flush (:1552-1557); `>` emits without an
    * open_tags push (Q3).
    */
  private def stAfterAttrValueQuoted(): Unit = {
    flushAttrIntoTag()
    val c = nextCp()
    if (c < 0) { parseError("eof_in_tag"); sink.eof(Tok.EofInTagName, Tok.EofInTagMsg); return }
    currChar = c
    if (isWs(c)) { goto(BeforeAttrName); return }
    if (c == '/') { goto(SelfClosingStartTag); return }
    if (c == '>') { asTag(); emitTag(selfClosing = false); goto(dataTarget()); return }
    parseError("missing_whitespace_between_attr")
    gotoR(BeforeAttrName)
  }

  /** 13.2.5.40 (:1589-1609) */
  private def stSelfClosingStartTag(): Unit = {
    val c = nextCp()
    if (c < 0) { parseError("eof_in_tag"); sink.eof(Tok.EofInTagName, Tok.EofInTagMsg); return }
    currChar = c
    if (c == '>') {
      asTag()
      emitTag(selfClosing = true) // pushed copy; curr_token not written back (as in V :1600-1602)
      goto(Data)
      return
    }
    parseError("unexpected_solidus_in_tag")
    gotoR(BeforeAttrName)
  }

  /** 13.2.5.41 (:1612-1635) — NUL/else branches fall off: the run loop
    * restarts .data, so a bogus comment swallows ONE char and the rest leaks
    * as text; EOF drops the pending comment (Q18). Extract mode self-loops
    * (SPEC-FIX).
    */
  private def stBogusComment(): Unit = {
    val c = nextCp()
    if (c < 0) { sink.eof(Tok.EofGenericName, Tok.EofGenericMsg); return }
    currChar = c
    if (c == '>') { pushCur(); goto(Data); return }
    if (c == 0) {
      parseError("unexpected_null_character")
      commentAdd(0xfffd)
      if (specMode) goto(BogusComment)
      return
    }
    commentAdd(c)
    if (specMode) goto(BogusComment)
  }

  /** 13.2.5.42 (:1638-1683) — no char consumed first (the next_codepoint is
    * commented out in the reference), so the look_aheads anchor correctly
    * here; `[CDATA[` always takes the bogus-comment path (`if false`, :1668).
    */
  private def stMarkupDeclarationOpen(): Unit = {
    if (lookAhead("--")) { newComment(); goto(CommentStart); return }
    if (lookAhead("DOCTYPE", caseSensitive = false)) { goto(Doctype); return }
    // SPEC-FIX (extract mode only): inside foreign content (svg/math) the
    // tree builder admits real CDATA sections (§13.2.5.42 "if the adjusted
    // current node is not in the HTML namespace"); the reference's branch is
    // dead code behind `if false` (:1668), so fidelity keeps the bogus path.
    if (specMode && sink.inForeignContent && lookAhead("[CDATA[")) {
      goto(CdataSection)
      return
    }
    if (lookAhead("[CDATA[")) {
      parseError("cdata_in_html_content")
      newComment(); "[CDATA[".foreach(commentData.add(_))
      goto(BogusComment)
      return
    }
    parseError("incorrectly_opened_comment")
    newComment()
    gotoR(BogusComment)
  }

  /** 13.2.5.43 (:1686-1705) */
  private def stCommentStart(): Unit = {
    val c = nextCp()
    if (c < 0) { gotoR(Comment); return }
    currChar = c
    if (c == '-') { goto(CommentStartDash); return }
    if (c == '>') { parseError("abrupt_closing_of_empty_comment"); pushCur(); goto(Data); return }
    gotoR(Comment)
  }

  /** 13.2.5.44 (:1708-1735) — Q16: `-` goes to .comment (spec: comment_end). */
  private def stCommentStartDash(): Unit = {
    val c = nextCp()
    if (c < 0) { parseError("eof_in_comment"); pushCur(); sink.eof(Tok.EofInCommentName, Tok.EofInCommentMsg); return }
    currChar = c
    if (c == '-') { goto(Comment); return }
    if (c == '>') { parseError("abrupt_closing_of_empty_comment"); pushCur(); goto(Data); return }
    commentAdd('-'.toInt)
    gotoR(Comment)
  }

  /** 13.2.5.45 (:1738-1773) — NUL/else branches fall off (restart .data):
    * comment text after the first data char leaks into the character stream
    * and the comment token is never emitted. Extract mode self-loops
    * (SPEC-FIX) so comments are actually elided.
    */
  private def stComment(): Unit = {
    var c = nextCp()
    if (specMode && c > 0 && c != '<' && c != '-') {
      // spec-mode self-loop batched; one accumulated write-back
      var n = 0
      while (c > 0 && c != '<' && c != '-') { commentData.add(c); currChar = c; n += 1; c = nextCp() }
      steps += n; stateHits(Comment) += n
      asComment() // after the run, as the reference's write-back
    }
    if (c < 0) { parseError("eof_in_comment"); pushCur(); sink.eof(Tok.EofInCommentName, Tok.EofInCommentMsg); return }
    currChar = c
    if (c == '<') {
      commentAdd(c)
      goto(CommentLtSign)
      return
    }
    if (c == '-') { goto(CommentEndDash); return }
    if (c == 0) {
      parseError("unexpected_null_character")
      commentAdd(0xfffd)
      if (specMode) goto(Comment)
      return
    }
    commentAdd(c)
    if (specMode) goto(Comment)
  }

  /** 13.2.5.46 (:1776-1799) */
  private def stCommentLtSign(): Unit = {
    val c = nextCp()
    if (c < 0) { gotoR(Comment); return }
    currChar = c
    if (c == '!') { commentAdd(c); goto(CommentLtSignBang); return }
    if (c == '<') { commentAdd(c); goto(CommentLtSign); return }
    gotoR(Comment)
  }

  /** 13.2.5.47 (:1802-1814) */
  private def stCommentLtSignBang(): Unit = {
    val c = nextCp()
    if (c < 0) { gotoR(Comment); return }
    currChar = c
    if (c == '-') { goto(CommentLtSignBangDash); return }
    gotoR(Comment)
  }

  /** 13.2.5.48 (:1817-1829) */
  private def stCommentLtSignBangDash(): Unit = {
    val c = nextCp()
    if (c < 0) { gotoR(CommentEndDash); return }
    currChar = c
    if (c == '-') { goto(CommentLtSignBangDashDash); return }
    gotoR(CommentEndDash)
  }

  /** 13.2.5.49 (:1832-1845) */
  private def stCommentLtSignBangDashDash(): Unit = {
    val c = nextCp()
    if (c < 0) { gotoR(CommentEnd); return }
    currChar = c
    if (c == '>') { gotoR(CommentEnd); return }
    parseError("nested_comment")
    goto(CommentEnd)
  }

  /** 13.2.5.50 (:1848-1867) — Q7a: the `-` is appended to a copy with no
    * write-back and vanishes.
    */
  private def stCommentEndDash(): Unit = {
    val c = nextCp()
    if (c < 0) { parseError("eof_in_comment"); pushCur(); sink.eof(Tok.EofInCommentName, Tok.EofInCommentMsg); return }
    currChar = c
    if (c == '-') { goto(CommentEnd); return }
    // Q7a: `tok.data << '-'` lost (no `t.curr_token = tok` at :1864-1866)
    gotoR(Comment)
  }

  /** 13.2.5.51 (:1870-1903) — Q7b: `--` lost on the else path. */
  private def stCommentEnd(): Unit = {
    val c = nextCp()
    if (c < 0) { parseError("eof_in_comment"); pushCur(); sink.eof(Tok.EofInCommentName, Tok.EofInCommentMsg); return }
    currChar = c
    if (c == '>') { pushCur(); goto(Data); return }
    if (c == '!') { goto(CommentEndBang); return }
    if (c == '-') { commentAdd('-'.toInt); goto(CommentEnd); return }
    // Q7b: `tok.data << '--'` lost (:1900-1902)
    gotoR(Comment)
  }

  /** 13.2.5.52 (:1906-1935) — Q7c: `--!` lost on the else path; kept on `-`. */
  private def stCommentEndBang(): Unit = {
    val c = nextCp()
    if (c < 0) { parseError("eof_in_comment"); pushCur(); sink.eof(Tok.EofInCommentName, Tok.EofInCommentMsg); return }
    currChar = c
    if (c == '-') {
      commentAdd('-'); commentData.add('-'); commentData.add('!')
      goto(CommentEndDash)
      return
    }
    if (c == '>') { parseError("incorrectly_closed_comment"); pushCur(); goto(Data); return }
    // Q7c: `tok.data << '--!'` lost (:1932-1934)
    gotoR(Comment)
  }

  /** 13.2.5.53 (:1938-1962) */
  private def stDoctype(): Unit = {
    val c = nextCp()
    if (c < 0) {
      parseError("eof_in_doctype")
      currToken = CurDoctype(Tok.Missing, Tok.Missing, Tok.Missing, forceQuirks = true)
      pushCur()
      sink.eof(Tok.EofInDoctypeName, Tok.EofInDoctypeMsg)
      return
    }
    currChar = c
    if (isWs(c)) { goto(BeforeDoctypeName); return }
    if (c == '>') { gotoR(BeforeDoctypeName); return }
    parseError("missing_whitespace_before_doctype_name")
    gotoR(BeforeDoctypeName)
  }

  /** 13.2.5.54 (:1965-1998) — Q13: EOF reports missing_doctype_name; Q12: the
    * name char is NOT case-folded.
    */
  private def stBeforeDoctypeName(): Unit = {
    val c = nextCp()
    if (c < 0) {
      parseError("missing_doctype_name") // Q13
      currToken = CurDoctype(Tok.Missing, Tok.Missing, Tok.Missing, forceQuirks = true)
      pushCur()
      sink.eof(Tok.EofInDoctypeName, Tok.EofInDoctypeMsg)
      return
    }
    currChar = c
    if (isWs(c)) { goto(BeforeDoctypeName); return }
    if (c == 0) {
      parseError("unexpected_null_character")
      currToken = CurDoctype("�", Tok.Missing, Tok.Missing, forceQuirks = false)
      goto(DoctypeName)
      return
    }
    if (c == '>') {
      parseError("missing_doctype_name")
      currToken = CurDoctype(Tok.Missing, Tok.Missing, Tok.Missing, forceQuirks = true)
      pushCur()
      goto(Data)
      return
    }
    currToken = CurDoctype(new String(Character.toChars(c)), Tok.Missing, Tok.Missing, forceQuirks = false) // Q12: no fold
    goto(DoctypeName)
  }

  /** Doctype self-loop batching (the name and the quoted ids): the reference
    * appends one char per handler invocation and writes the copy back, and
    * nothing reads curr_token in between, so a run of ordinary chars (NUL
    * → U+FFFD with its parse error, in order) is collected into `docRun`
    * for one write-back; steps and hits are credited per char. `quote` < 0
    * means the name, which whitespace ends. Returns the char that ended the
    * run (-1 at EOF), handled by the caller in this same invocation.
    */
  private def doctypeRun(self: Int, quote: Int): Int = {
    var c = nextCp()
    var n = 0
    while (c >= 0 && c != '>' && (if (quote < 0) !isWs(c) else c != quote)) {
      if (c == 0) { parseError("unexpected_null_character"); docRun.append('\ufffd') }
      else docRun.appendCodePoint(c)
      currChar = c; n += 1; c = nextCp()
    }
    steps += n; stateHits(self) += n
    c
  }

  /** 13.2.5.55 (:2002-2039) — Q10: EOF reports unexpected_null_character;
    * Q12: chars appended un-lowercased. Self-loop batched ([[doctypeRun]]).
    */
  private def stDoctypeName(): Unit = {
    val c = doctypeRun(DoctypeName, -1)
    if (docRun.length > 0) { val d = asDoctype; currToken = d.copy(name = d.name + docRun); docRun.setLength(0) }
    if (c < 0) {
      parseError("unexpected_null_character") // Q10
      val d = asDoctype
      sink.doctype(d.name, d.publicId, d.systemId, forceQuirks = true) // pushed copy (:2005-2007)
      sink.eof(Tok.EofInDoctypeName, Tok.EofInDoctypeMsg)
      return
    }
    currChar = c
    if (isWs(c)) { goto(AfterDoctypeName); return }
    pushCur(); goto(Data) // c == '>'
  }

  /** 13.2.5.56 (:2042-2080) — NOTE: a char is consumed BEFORE the PUBLIC /
    * SYSTEM look_aheads, so `PUBLIC` can only match input spelled `PPUBLIC`
    * (first letter doubled): real public/system ids fall into bogus_doctype.
    * Also the else-branch quirks flag is set on a copy and lost (:2076-2079).
    */
  private def stAfterDoctypeName(): Unit = {
    val c = nextCp()
    if (c < 0) {
      parseError("eof_in_doctype")
      val d = asDoctype
      sink.doctype(d.name, d.publicId, d.systemId, forceQuirks = true)
      sink.eof(Tok.EofInDoctypeName, Tok.EofInDoctypeMsg)
      return
    }
    currChar = c
    if (isWs(c)) { goto(AfterDoctypeName); return }
    if (c == '>') { pushCur(); goto(Data); return }
    if (lookAhead("PUBLIC", caseSensitive = false)) { goto(AfterDoctypePublicKeyword); return }
    if (lookAhead("SYSTEM", caseSensitive = false)) { goto(AfterDoctypeSystemKeyword); return }
    parseError("invalid_char_sequence_after_doctype_name")
    // `tok.force_quirks = true` on a copy, never written back (:2076-2079)
    gotoR(BogusDoctype)
  }

  /** 13.2.5.57 (:2083-2133) */
  private def stAfterDoctypePublicKeyword(): Unit = {
    val c = nextCp()
    if (c < 0) { doctypeEofQuirksPush(); return }
    currChar = c
    if (isWs(c)) { goto(BeforeDoctypePublicIdentifier); return }
    if (c == '"') {
      parseError("missing_whitespace_after_doctype_public_keyword")
      currToken = asDoctype.copy(publicId = "")
      goto(DoctypePublicIdentifierDblQuoted)
      return
    }
    if (c == '\'') {
      parseError("missing_whitespace_after_doctype_public_keyword")
      currToken = asDoctype.copy(publicId = "")
      goto(DoctypePublicIdentifierSglQuoted)
      return
    }
    if (c == '>') {
      parseError("missing_doctype_public_identifier")
      val d = asDoctype
      sink.doctype(d.name, d.publicId, d.systemId, forceQuirks = true)
      goto(Data)
      return
    }
    parseError("missing_quote_before_doctype_public_identifier")
    currToken = asDoctype.copy(forceQuirks = true)
    gotoR(BogusDoctype)
  }

  /** EOF in a doctype state: error, push (copy with quirks where the V code
    * pushes the copy), EOF token.
    */
  private def doctypeEofQuirksPush(): Unit = {
    parseError("eof_in_doctype")
    val d = asDoctype
    sink.doctype(d.name, d.publicId, d.systemId, forceQuirks = true)
    sink.eof(Tok.EofInDoctypeName, Tok.EofInDoctypeMsg)
  }

  /** 13.2.5.58 (:2136-2184) — EOF path pushes t.curr_token (NOT the quirks
    * copy, :2141): the quirks flag is lost on the emitted token.
    */
  private def stBeforeDoctypePublicIdentifier(): Unit = {
    val c = nextCp()
    if (c < 0) {
      parseError("eof_in_doctype")
      pushCur() // original, quirks lost (:2141)
      sink.eof(Tok.EofInDoctypeName, Tok.EofInDoctypeMsg)
      return
    }
    currChar = c
    if (isWs(c)) { goto(BeforeDoctypePublicIdentifier); return }
    if (c == '"') { currToken = asDoctype.copy(publicId = ""); goto(DoctypePublicIdentifierDblQuoted); return }
    if (c == '\'') { currToken = asDoctype.copy(publicId = ""); goto(DoctypePublicIdentifierSglQuoted); return }
    if (c == '>') {
      parseError("missing_doctype_public_identifier")
      val d = asDoctype
      sink.doctype(d.name, d.publicId, d.systemId, forceQuirks = true)
      goto(Data)
      return
    }
    parseError("missing_quote_before_doctype_public_identifier")
    currToken = asDoctype.copy(forceQuirks = true)
    gotoR(BogusDoctype)
  }

  /** 13.2.5.59/.60 (:2187-2272) — EOF path ALSO switches to .data afterwards
    * (:2197, :2241): a second, generic EOF token is emitted. Self-loop
    * batched ([[doctypeRun]]).
    */
  private def stDoctypePublicIdentifierQuoted(quote: Int): Unit = {
    val c = doctypeRun(if (quote == '"') DoctypePublicIdentifierDblQuoted else DoctypePublicIdentifierSglQuoted, quote)
    if (docRun.length > 0) {
      val d = asDoctype; currToken = d.copy(publicId = d.publicId + docRun); docRun.setLength(0)
    }
    if (c < 0) {
      doctypeEofQuirksPush()
      goto(Data) // double-EOF quirk
      return
    }
    currChar = c
    if (c == quote) { goto(AfterDoctypePublicIdentifier); return }
    parseError("abrupt_doctype_public_identifier") // c == '>'
    val d = asDoctype
    sink.doctype(d.name, d.publicId, d.systemId, forceQuirks = true)
    goto(Data)
  }

  /** 13.2.5.61 (:2275-2319) — Q9: quote branches set system_id='' on a copy
    * with no write-back, so the id accumulates onto the missing sentinel;
    * Q11: the EOF token's msg carries the NAME constant (:2283); the
    * else-branch quirks flag is set on a copy and lost (:2315-2318).
    */
  private def stAfterDoctypePublicIdentifier(): Unit = {
    val c = nextCp()
    if (c < 0) {
      parseError("eof_in_doctype")
      val d = asDoctype
      sink.doctype(d.name, d.publicId, d.systemId, forceQuirks = true)
      sink.eof(Tok.EofInDoctypeName, Tok.EofInDoctypeName) // Q11: msg = name constant
      return
    }
    currChar = c
    if (isWs(c)) { goto(BetweenDoctypePublicAndSystemIdentifiers); return }
    if (c == '>') { pushCur(); goto(Data); return }
    if (c == '"') {
      parseError("missing_whitespace_between_doctype_public_and_system_identifiers")
      // Q9: system_id='' on a copy, no write-back (:2301-2303)
      goto(DoctypeSystemIdentifierDblQuoted)
      return
    }
    if (c == '\'') {
      parseError("missing_whitespace_between_doctype_public_and_system_identifiers")
      // Q9 (:2309-2311)
      goto(DoctypeSystemIdentifierSglQuoted)
      return
    }
    parseError("missing_quote_before_doctype_system_identifier")
    // quirks flag set on a copy, lost (:2315-2318)
    gotoR(BogusDoctype)
  }

  /** 13.2.5.62 (:2322-2367) */
  private def stBetweenDoctypePublicAndSystemIdentifiers(): Unit = {
    val c = nextCp()
    if (c < 0) { doctypeEofQuirksPush(); return }
    currChar = c
    if (isWs(c)) { goto(BetweenDoctypePublicAndSystemIdentifiers); return }
    if (c == '>') { pushCur(); goto(Data); return }
    if (c == '"') { currToken = asDoctype.copy(systemId = ""); goto(DoctypeSystemIdentifierDblQuoted); return }
    if (c == '\'') { currToken = asDoctype.copy(systemId = ""); goto(DoctypeSystemIdentifierSglQuoted); return }
    parseError("missing_quote_before_doctype_system_identifier")
    currToken = asDoctype.copy(forceQuirks = true)
    gotoR(BogusDoctype)
  }

  /** 13.2.5.63 (:2370-2420) */
  private def stAfterDoctypeSystemKeyword(): Unit = {
    val c = nextCp()
    if (c < 0) { doctypeEofQuirksPush(); return }
    currChar = c
    if (isWs(c)) { goto(BeforeDoctypeSystemIdentifier); return }
    if (c == '"') {
      parseError("missing_whitespace_after_doctype_system_keyword")
      currToken = asDoctype.copy(systemId = "")
      goto(DoctypeSystemIdentifierDblQuoted)
      return
    }
    if (c == '\'') {
      parseError("missing_whitespace_after_doctype_system_keyword")
      currToken = asDoctype.copy(systemId = "")
      goto(DoctypeSystemIdentifierSglQuoted)
      return
    }
    if (c == '>') {
      parseError("missing_doctype_system_identifier")
      val d = asDoctype
      sink.doctype(d.name, d.publicId, d.systemId, forceQuirks = true)
      goto(Data)
      return
    }
    parseError("missing_quote_before_doctype_system_identifier")
    currToken = asDoctype.copy(forceQuirks = true)
    gotoR(BogusDoctype)
  }

  /** 13.2.5.64 (:2423-2471) */
  private def stBeforeDoctypeSystemIdentifier(): Unit = {
    val c = nextCp()
    if (c < 0) { doctypeEofQuirksPush(); return }
    currChar = c
    if (isWs(c)) { goto(BeforeDoctypeSystemIdentifier); return }
    if (c == '"') { currToken = asDoctype.copy(systemId = ""); goto(DoctypeSystemIdentifierDblQuoted); return }
    if (c == '\'') { currToken = asDoctype.copy(systemId = ""); goto(DoctypeSystemIdentifierSglQuoted); return }
    if (c == '>') {
      parseError("missing_doctype_system_identifier")
      val d = asDoctype
      sink.doctype(d.name, d.publicId, d.systemId, forceQuirks = true)
      goto(Data)
      return
    }
    parseError("missing_quote_before_doctype_system_identifier")
    currToken = asDoctype.copy(forceQuirks = true)
    gotoR(BogusDoctype)
  }

  /** 13.2.5.65/.66 (:2474-2557) — no double-EOF here (unlike public id).
    * Self-loop batched ([[doctypeRun]]).
    */
  private def stDoctypeSystemIdentifierQuoted(quote: Int): Unit = {
    val c = doctypeRun(if (quote == '"') DoctypeSystemIdentifierDblQuoted else DoctypeSystemIdentifierSglQuoted, quote)
    if (docRun.length > 0) {
      val d = asDoctype; currToken = d.copy(systemId = d.systemId + docRun); docRun.setLength(0)
    }
    if (c < 0) { doctypeEofQuirksPush(); return }
    currChar = c
    if (c == quote) { goto(AfterDoctypeSystemIdentifier); return }
    parseError("abrupt_doctype_system_identifier") // c == '>'
    val d = asDoctype
    sink.doctype(d.name, d.publicId, d.systemId, forceQuirks = true)
    goto(Data)
  }

  /** 13.2.5.67 (:2560-2586) — else path sets NO quirks flag (unlike spec). */
  private def stAfterDoctypeSystemIdentifier(): Unit = {
    val c = nextCp()
    if (c < 0) { doctypeEofQuirksPush(); return }
    currChar = c
    if (isWs(c)) { goto(AfterDoctypeSystemIdentifier); return }
    if (c == '>') { pushCur(); goto(Data); return }
    parseError("unexpected_char_after_doctype_system_identifier")
    gotoR(BogusDoctype)
  }

  /** 13.2.5.68 (:2589-2609) — Q8: `>` pushes the doctype AND an EOF token,
    * then returns with state ≠ .eof: the run loop restarts .data and
    * tokenization continues mid-stream.
    */
  private def stBogusDoctype(): Unit = {
    val c = nextCp()
    if (c < 0) { pushCur(); sink.eof(Tok.EofGenericName, Tok.EofGenericMsg); return }
    currChar = c
    if (c == '>') {
      pushCur()
      sink.eof(Tok.EofGenericName, Tok.EofGenericMsg)
      return // state stays bogus_doctype → restart .data (Q8)
    }
    if (c == 0) { parseError("unexpected_null_character"); goto(BogusDoctype); return }
    goto(BogusDoctype)
  }

  /** 13.2.5.69 (:2612-2629) */
  private def stCdataSection(): Unit = {
    val c = nextCp()
    if (c < 0) { parseError("eof_in_cdata"); sink.eof(Tok.EofInCdataName, Tok.EofInCdataMsg); return }
    currChar = c
    if (c == ']') { goto(CdataSectionBracket); return }
    pushChar()
    goto(CdataSection)
  }

  /** 13.2.5.70 (:2632-2646) */
  private def stCdataSectionBracket(): Unit = {
    val c = nextCp()
    if (c < 0) { pushRune(']'); gotoR(CdataSection); return }
    currChar = c
    if (c == ']') { goto(CdataSectionEnd); return }
    pushRune(']')
    gotoR(CdataSection)
  }

  /** 13.2.5.71 (:2649-2669) — EOF path re-enters .cdata_section WITHOUT
    * reconsume (:2650-2653), which then hits EOF again and emits the
    * eof_in_cdata token.
    */
  private def stCdataSectionEnd(): Unit = {
    val c = nextCp()
    if (c < 0) { pushString("]]"); goto(CdataSection); return }
    currChar = c
    if (c == ']') { pushRune(']'); goto(CdataSectionEnd); return }
    if (c == '>') { goto(Data); return }
    pushString("]]")
    gotoR(CdataSection)
  }

  /** 13.2.5.72 (:2672-2695) — Q14: the EOF path flushes then returns to the
    * return state WITH reconsume; next_codepoint did not advance, so the
    * cursor re-exposes the `&` forever. Budget-guarded.
    */
  private def stCharReference(): Unit = {
    bldr.clear()
    bldr.add('&')
    val c = nextCp()
    if (c < 0) { flushCodepoints(); doReturnState(true); return }
    currChar = c
    if (isAlnum(c)) { gotoR(NamedCharReference); return }
    if (c == '#') { bldr.add(c); goto(NumCharReference); return }
    flushCodepoints()
    doReturnState(true)
  }

  /** 13.2.5.73 (:2702-2764) — Q6: the loop breaks as soon as the
    * already-accumulated prefix is a table key (shortest-prefix match);
    * Q6b: the attr no-semicolon bail peeks offset 1 (one char right of the
    * spec's "next input character").
    */
  private def stNamedCharReference(): Unit = {
    val ref = new java.lang.StringBuilder
    // incremental trie walk: trieTerminalAt(node) ≡ contains(ref) without a
    // per-char String allocation (semantics — incl. shortest-prefix Q6 —
    // identical; the reference's own probe is an O(2,231) keys() scan,
    // tokenizer/tokenizer.v:2715)
    var node = 0
    var break = false
    while (!break) {
      val c = nextCp()
      if (c < 0) break = true
      else {
        currChar = c
        if (c == ';') { ref.append(';'); bldr.add(';'); node = CharRef.trieStep(node, ';'); break = true }
        else if (CharRef.trieTerminalAt(node)) { cursor -= 1; break = true }
        else if (!isAlnum(c)) { cursor -= 1; break = true }
        else { ref.append(c.toChar); bldr.add(c); node = CharRef.trieStep(node, c) }
      }
    }
    val refS = ref.toString
    val last: Int = if (refS.nonEmpty) refS.charAt(refS.length - 1) else 0
    if (CharRef.trieTerminalAt(node)) {
      if (returnTop == 0) {
        parseError("warning_no_return_state_in_named_ref")
        flushCodepoints()
        goto(AmbiguousAmpersand)
        return
      }
      val retState = peekReturn
      val nextChar = { val p = peek(1); if (p < 0) 0 else p } // Q6b: offset 1
      if (isAttrReturn(retState) && last != ';' && (isAlnum(nextChar) || nextChar == '=')) {
        flushCodepoints()
        doReturnState(false)
      } else {
        if (last != ';') parseError("missing_semicolon_after_char_reference")
        bldr.clear()
        bldr.addAll(CharRef.lookup(refS)) // replacement overwrites the raw text
        flushCodepoints()
        doReturnState(false)
      }
    } else {
      flushCodepoints()
      goto(AmbiguousAmpersand)
    }
  }

  /** 13.2.5.74 (:2767-2795) */
  private def stAmbiguousAmpersand(): Unit = {
    val c = nextCp()
    if (c < 0) { doReturnState(true); return }
    currChar = c
    if (isAlnum(c)) {
      if (isAttrReturn(peekReturn)) bufs.valueAppend(c) else pushRune(c)
      goto(AmbiguousAmpersand)
      return
    }
    if (c == ';') { parseError("unknown_named_char_reference"); doReturnState(true); return }
    doReturnState(true)
  }

  /** 13.2.5.75 (:2798-2812) */
  private def stNumCharReference(): Unit = {
    charRefCode = 0
    val c = nextCp()
    if (c < 0) { gotoR(DecimalCharReferenceStart); return }
    currChar = c
    if (c == 'x' || c == 'X') { bldr.add(c); goto(HexCharReferenceStart); return }
    gotoR(DecimalCharReferenceStart)
  }

  /** 13.2.5.76 (:2815-2831) */
  private def stHexCharReferenceStart(): Unit = {
    val c = nextCp()
    if (c < 0) { parseError("absence_of_digits_in_num_char_reference"); flushCodepoints(); doReturnState(true); return }
    currChar = c
    if (isHex(c)) { gotoR(HexCharReference); return }
    parseError("absence_of_digits_in_num_char_reference")
    flushCodepoints()
    doReturnState(true)
  }

  /** 13.2.5.77 (:2834-2850) */
  private def stDecimalCharReferenceStart(): Unit = {
    val c = nextCp()
    if (c < 0) { parseError("absence_of_digits_in_num_char_reference"); flushCodepoints(); doReturnState(true); return }
    currChar = c
    if (isDec(c)) { gotoR(DecimalCharReference); return }
    parseError("absence_of_digits_in_num_char_reference")
    flushCodepoints()
    doReturnState(true)
  }

  /** 13.2.5.78 (:2853-2887) — Q5: the `;` branch has no `return`: after the
    * inner num_char_reference_end subtree fully unwinds, a spurious
    * missing_semicolon error and a SECOND num_char_reference_end (reconsumed)
    * still run. Modeled as an explicit continuation.
    */
  private def stHexCharReference(): Unit = {
    val c = nextCp()
    if (c < 0) { parseError("missing_semicolon_after_char_reference"); gotoR(NumCharReferenceEnd); return }
    currChar = c
    if (isDec(c)) { charRefCode = charRefCode * 16 + (c - 0x30); goto(HexCharReference); return }
    if (c >= 'A' && c <= 'F') { charRefCode = charRefCode * 16 + (c - 0x37); goto(HexCharReference); return }
    if (c >= 'a' && c <= 'f') { charRefCode = charRefCode * 16 + (c - 0x57); goto(HexCharReference); return }
    if (c == ';') {
      pending = (() => { parseError("missing_semicolon_after_char_reference"); gotoR(NumCharReferenceEnd) }) :: pending
      goto(NumCharReferenceEnd)
      return
    }
    parseError("missing_semicolon_after_char_reference")
    gotoR(NumCharReferenceEnd)
  }

  /** 13.2.5.79 (:2890-2911) — Q4: accumulates base-16 with DECIMAL digits:
    * `&#65;` → U+0065.
    */
  private def stDecimalCharReference(): Unit = {
    val c = nextCp()
    if (c < 0) { parseError("missing_semicolon_after_char_reference"); gotoR(NumCharReferenceEnd); return }
    currChar = c
    if (isDec(c)) { charRefCode = charRefCode * 16 + (c - 0x30); goto(DecimalCharReference); return } // Q4
    if (c == ';') { goto(NumCharReferenceEnd); return }
    parseError("missing_semicolon_after_char_reference")
    gotoR(NumCharReferenceEnd)
  }

  /** 13.2.5.80 (:2914-2959) — Q17: the "control" guard tests the TERMINATOR
    * char (curr_char) for whitespace, not the code. Q19: the noncharacter
    * list's intent (full set) is used; it only gates a parse error.
    */
  private def stNumCharReferenceEnd(): Unit = {
    if (charRefCode == 0) { parseError("null_character_reference"); charRefCode = 0xfffd }
    if (charRefCode > 0x10ffff) { parseError("char_reference_outside_unicode_range"); charRefCode = 0xfffd }
    if (charRefCode >= 0xd800 && charRefCode <= 0xdfff) { parseError("surrogate_char_reference"); charRefCode = 0xfffd }
    val cr = charRefCode
    val isNonChar = (cr >= 0xfdd0 && cr <= 0xfdef) || ((cr & 0xfffe) == 0xfffe && cr <= 0x10ffff)
    if (isNonChar) parseError("noncharacter_char_reference")
    if (!isWs(currChar) && (cr == 0x0d || (cr >= 0x7f && cr <= 0x9f) || (cr >= 0x00 && cr <= 0x1f))) { // Q17
      parseError("control_char_reference")
      val remapped = RefTokenizer.c1Remap(cr)
      if (remapped != 0) charRefCode = remapped
    }
    bldr.clear()
    // V writes rune(char_ref_code) blindly; an Int-overflowed/negative code
    // would be an invalid rune — emit U+FFFD and flag instead of crashing.
    if (charRefCode < 0 || charRefCode > 0x10ffff || (charRefCode >= 0xd800 && charRefCode <= 0xdfff)) {
      parseError("invalid_rune_write")
      bldr.add(0xfffd)
    } else bldr.add(charRefCode)
    flushCodepoints()
    doReturnState(false)
  }
}

object RefTokenizer {
  private sealed trait Cur
  private case object CurEofInit extends Cur // initial `EOFToken{}` (tokenizer/tokenizer.v:117)
  private case object CurTag extends Cur // the tag register (RefTokenizer.tagIsStart, …)
  private case object CurComment extends Cur // the comment register (RefTokenizer.commentData)
  private final case class CurDoctype(name: String, publicId: String, systemId: String, forceQuirks: Boolean) extends Cur

  /** Extract-mode state after each known start tag (Data when absent). */
  private val dataTargetOf: Array[Int] = {
    val a = Array.fill(TagNames.size)(St.Data)
    a(TagNames.Script) = St.ScriptData
    Seq(TagNames.Style, TagNames.Xmp, TagNames.Iframe, TagNames.Noembed, TagNames.Noframes)
      .foreach(a(_) = St.Rawtext)
    a(TagNames.Title) = St.Rcdata; a(TagNames.Textarea) = St.Rcdata
    a(TagNames.Plaintext) = St.Plaintext
    a
  }

  /** windows-1252 C1 remap (tokenizer/tokenizer.v:2940-2953); 0 = absent. */
  private val c1Remap: Array[Int] = {
    val a = new Array[Int](0xa0)
    a(0x80) = 0x20ac; a(0x82) = 0x201a; a(0x83) = 0x0192; a(0x84) = 0x201e
    a(0x85) = 0x2026; a(0x86) = 0x2020; a(0x87) = 0x2021; a(0x88) = 0x02c6
    a(0x89) = 0x2030; a(0x8a) = 0x0160; a(0x8b) = 0x2039; a(0x8c) = 0x0152
    a(0x8e) = 0x017d; a(0x91) = 0x2018; a(0x92) = 0x2019; a(0x93) = 0x201c
    a(0x94) = 0x201d; a(0x95) = 0x2022; a(0x96) = 0x2013; a(0x97) = 0x2014
    a(0x98) = 0x02dc; a(0x99) = 0x2122; a(0x9a) = 0x0161; a(0x9b) = 0x203a
    a(0x9c) = 0x0153; a(0x9e) = 0x017e; a(0x9f) = 0x0178
    a
  }

  /** Decode UTF-8 bytes to codepoints (invalid sequences → U+FFFD), the
    * Array[Int] mirror of the reference's `[]rune` input.
    *
    * Fast path: one-pass direct decoder (one allocation instead of the
    * String + codepoint-array pair). Any malformed/overlong/surrogate
    * sequence bails to the JDK String path so replacement-char semantics are
    * exactly `new String(bytes, UTF_8)` in every edge case.
    */
  def decodeUtf8(bytes: Array[Byte]): Array[Int] = {
    val out = new Array[Int](bytes.length)
    val n = decodeUtf8Into(bytes, out)
    if (n < 0) decodeUtf8Slow(bytes)
    else if (n == out.length) out
    else java.util.Arrays.copyOf(out, n)
  }

  /** Decode into a caller-owned buffer (must be ≥ bytes.length); returns the
    * codepoint count, or -1 on any malformed sequence (caller falls back to
    * `decodeUtf8Slow` for exact JDK replacement semantics). Zero-allocation
    * fast path for per-partition buffer reuse.
    */
  def decodeUtf8Into(bytes: Array[Byte], out: Array[Int]): Int = {
    val n = bytes.length
    var i = 0
    var j = 0
    while (i < n) {
      val b0 = bytes(i) & 0xff
      if (b0 < 0x80) { out(j) = b0; i += 1 }
      else if ((b0 & 0xe0) == 0xc0 && b0 >= 0xc2) {
        if (i + 1 >= n) return -1
        val b1 = bytes(i + 1) & 0xff
        if ((b1 & 0xc0) != 0x80) return -1
        out(j) = ((b0 & 0x1f) << 6) | (b1 & 0x3f); i += 2
      } else if ((b0 & 0xf0) == 0xe0) {
        if (i + 2 >= n) return -1
        val b1 = bytes(i + 1) & 0xff; val b2 = bytes(i + 2) & 0xff
        if ((b1 & 0xc0) != 0x80 || (b2 & 0xc0) != 0x80) return -1
        val cp = ((b0 & 0x0f) << 12) | ((b1 & 0x3f) << 6) | (b2 & 0x3f)
        if (cp < 0x800 || (cp >= 0xd800 && cp <= 0xdfff)) return -1
        out(j) = cp; i += 3
      } else if ((b0 & 0xf8) == 0xf0 && b0 <= 0xf4) {
        if (i + 3 >= n) return -1
        val b1 = bytes(i + 1) & 0xff; val b2 = bytes(i + 2) & 0xff; val b3 = bytes(i + 3) & 0xff
        if ((b1 & 0xc0) != 0x80 || (b2 & 0xc0) != 0x80 || (b3 & 0xc0) != 0x80) return -1
        val cp = ((b0 & 0x07) << 18) | ((b1 & 0x3f) << 12) | ((b2 & 0x3f) << 6) | (b3 & 0x3f)
        if (cp < 0x10000 || cp > 0x10ffff) return -1
        out(j) = cp; i += 4
      } else return -1
      j += 1
    }
    j
  }

  private def decodeUtf8Slow(bytes: Array[Byte]): Array[Int] =
    codepoints(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))

  def codepoints(s: String): Array[Int] = {
    val out = new Array[Int](s.codePointCount(0, s.length))
    var i = 0
    var j = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      out(j) = cp
      j += 1
      i += Character.charCount(cp)
    }
    out
  }

  /** Convenience: run fidelity mode over a string, return the token vector. */
  def tokenize(html: String, specMode: Boolean = false, maxSteps: Long = -1L): CollectingSink = {
    val sink = new CollectingSink
    new RefTokenizer(codepoints(html), sink, specMode, maxSteps).run()
    sink
  }
}

/** Growable codepoint buffer (the scratch builder, the comment register). */
final class IntBuf {
  private var a: Array[Int] = new Array[Int](16)
  private var n: Int = 0
  @inline def add(x: Int): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, a.length * 2)
    a(n) = x
    n += 1
  }
  def addAll(xs: Array[Int]): Unit = { var i = 0; while (i < xs.length) { add(xs(i)); i += 1 } }
  /** The codepoints as a string. */
  def mkString: String = new String(a, 0, n)
  @inline def apply(i: Int): Int = a(i)
  def clear(): Unit = n = 0
  def length: Int = n
  def contentEquals(s: String): Boolean = {
    if (n != s.length) return false
    var i = 0
    while (i < n) { if (a(i) != s.charAt(i)) return false; i += 1 }
    true
  }
}

/** The tokenizer's growable buffers, owned by the caller so they keep their
  * capacity from page to page: the current attribute's name and value (V's
  * `curr_attr`), the tag register's pending name characters and its
  * attribute list, the comment register's data and the doctype run
  * builder. `ExtractSink` holds one per partition, so a long attribute
  * value grows the value builder once per partition, not once per page. A
  * tokenizer resets them when it starts.
  */
final class TokenizerBuffers {
  val attrName = new java.lang.StringBuilder
  val tagName = new java.lang.StringBuilder
  val attrs = new Attrs
  val comment = new IntBuf
  val doctype = new java.lang.StringBuilder
  // the current attribute's value: the builder, or (byte mode, builder
  // empty) one input run [runFrom, runFrom + runLen) not copied yet
  private val value = new java.lang.StringBuilder
  private var runFrom = -1
  private var runLen = 0
  private var input: Array[Byte] = null

  /** Starts a page over `in` (the byte-mode input, or null). */
  def reset(in: Array[Byte]): Unit = {
    attrName.setLength(0); tagName.setLength(0); valueClear(); comment.clear(); doctype.setLength(0)
    input = in
    attrs.reset(in)
  }

  def valueClear(): Unit = { value.setLength(0); runFrom = -1 }

  /** Copies a pending run into the builder before anything else is added. */
  private def spill(): Unit = if (runFrom >= 0) {
    var i = runFrom
    while (i < runFrom + runLen) { value.append(input(i).toChar); i += 1 }
    runFrom = -1
  }

  def valueAppend(cp: Int): Unit = { spill(); value.appendCodePoint(cp) }

  def valueAppend(cps: Array[Int], from: Int, until: Int): Unit = {
    spill()
    var i = from
    while (i < until) { value.appendCodePoint(cps(i)); i += 1 }
  }

  /** Byte mode: the input run [from, until) joins the value, as a pending
    * run when it is the whole value so far.
    */
  def valueAppendRun(from: Int, until: Int): Unit =
    if (runFrom < 0 && value.length == 0) { runFrom = from; runLen = until - from }
    else {
      spill()
      var i = from
      while (i < until) { value.append(input(i).toChar); i += 1 }
    }

  /** V `t.curr_attr.name.str()` / `.value.str()`, both read-and-clear: the
    * current attribute joins the list and the builders are empty again.
    */
  def flushAttr(): Unit = {
    val id = AttrNames.id(attrName)
    val name = if (id >= 0) AttrNames.name(id) else attrName.toString
    attrName.setLength(0)
    if (runFrom >= 0) attrs.addRun(id, name, runFrom, runLen)
    else attrs.add(id, name, value.toString)
    valueClear()
  }
}
