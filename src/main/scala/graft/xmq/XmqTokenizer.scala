package graft.xmq

import java.nio.charset.StandardCharsets

/** Exact xmq tokenizer: single pass over UTF-8 bytes, emitting the reference's
  * 29 token types via callbacks. Grammar per
  * /root/reference/src/main/c/parts/xmq_parser.c (tokens listed in
  * xmq_internals.h:88-118). Errors raise XmqParseError (the analogue of the
  * reference's longjmp to a single handler).
  */
object Tok {
  final val Whitespace = "whitespace"
  final val Equals = "equals"
  final val BraceLeft = "brace_left"
  final val BraceRight = "brace_right"
  final val AparLeft = "apar_left"
  final val AparRight = "apar_right"
  final val CparLeft = "cpar_left"
  final val CparRight = "cpar_right"
  final val Quote = "quote"
  final val Entity = "entity"
  final val Comment = "comment"
  final val CommentContinuation = "comment_continuation"
  final val ElementNs = "element_ns"
  final val ElementName = "element_name"
  final val ElementKey = "element_key"
  final val ElementValueText = "element_value_text"
  final val ElementValueQuote = "element_value_quote"
  final val ElementValueEntity = "element_value_entity"
  final val ElementValueCompoundQuote = "element_value_compound_quote"
  final val ElementValueCompoundEntity = "element_value_compound_entity"
  final val AttrNs = "attr_ns"
  final val AttrKey = "attr_key"
  final val AttrValueText = "attr_value_text"
  final val AttrValueQuote = "attr_value_quote"
  final val AttrValueEntity = "attr_value_entity"
  final val AttrValueCompoundQuote = "attr_value_compound_quote"
  final val AttrValueCompoundEntity = "attr_value_compound_entity"
  final val NsDeclaration = "ns_declaration"
  final val NsColon = "ns_colon"
}

final case class XmqParseError(error: String, line: Int, col: Int)
  extends Exception(s"$error at $line:$col")

/** Levels for value parsing (xmq_internals.h Level enum). */
object Level {
  final val XMQ = 0
  final val ELEMENT_VALUE = 1
  final val ELEMENT_VALUE_COMPOUND = 2
  final val ATTR_VALUE = 3
  final val ATTR_VALUE_COMPOUND = 4
  def enterCompound(l: Int): Int =
    if (l == ELEMENT_VALUE) ELEMENT_VALUE_COMPOUND
    else if (l == ATTR_VALUE) ATTR_VALUE_COMPOUND
    else throw new IllegalStateException("bad compound level")
}

trait TokenSink {
  /** start/stop are byte offsets into the buffer; suffix mirrors the C 'suffix' pointer. */
  def token(tpe: String, line: Int, col: Int, start: Int, stop: Int, suffix: Int): Unit
}

final class XmqTokenizer(val buf: Array[Byte], sink: TokenSink) {
  import TextUtil._

  var i = 0
  val stop: Int = buf.length
  var line = 1
  var col = 1

  private def b(k: Int): Int = if (k < stop) buf(k) & 0xff else 0

  private def err(msg: String): Nothing = throw XmqParseError(msg, line, col)

  /** Advance one byte-step like the C increment(): col counts only non-continuation bytes. */
  private def inc(numBytes: Int): Unit = {
    var n = numBytes
    while (n > 0) {
      val c = buf(i) & 0xff
      if ((c & 0xc0) != 0x80) {
        col += 1
        if (c == '\n') { line += 1; col = 1 }
      }
      i += 1
      n -= 1
    }
  }

  /** Advance over nb bytes treating them as one visible char (multi-byte ws). */
  private def incRun(nb: Int): Unit = {
    // increment(first, nb, ...) in C: one col bump keyed off the first byte.
    val c = buf(i) & 0xff
    if ((c & 0xc0) != 0x80) {
      col += 1
      if (c == '\n') { line += 1; col = 1 }
    }
    i += nb
  }

  def tokenize(): Unit = {
    parseXmq()
    if (i < stop) err("unexpected closing brace")
  }

  def parseXmq(): Unit = {
    var done = false
    while (i < stop && !done) {
      val c = b(i)
      val cc = if ((c == '/' || c == '(') && i + 1 < stop) b(i + 1) else 0

      if (isXmqTokenWhitespace(c)) parseWhitespace()
      else if (c == '\'' || c == '"') parseQuote(Level.XMQ)
      else if (c == '&') parseEntity(Level.XMQ)
      else if (c == '/' && (cc == '/' || cc == '*')) parseComment(cc)
      else if (isXmqElementStart(c)) parseElement(doctype = false, pi = false)
      else if (isDoctypeStart) parseElement(doctype = true, pi = false)
      else if (isPiStart) parseElement(doctype = false, pi = true)
      else if (c == '}') done = true
      else if (c == '\t') err("unexpected tab")
      else err(f"invalid char '${c.toChar}'")
    }
  }

  private def isDoctypeStart: Boolean = {
    if (b(i) != '!') return false
    if (i + 8 > stop) return false
    if (new String(buf, i, 8, StandardCharsets.US_ASCII) != "!DOCTYPE") return false
    if (i + 8 == stop) return false
    val c = b(i + 8)
    c == '=' || c == ' ' || c == '\t' || c == '\n' || c == '\r'
  }

  private def isPiStart: Boolean = b(i) == '?' && i + 2 <= stop

  /** a run of token whitespace; a tab ends it. */
  private def parseWhitespace(): Unit = {
    val sl = line; val sc = col; val start = i
    var brk = false
    while (i < stop && !brk) {
      val c = buf(i)
      if (c == ' ' || c == '\r') { col += 1; i += 1 }
      else if (c == '\n') { line += 1; col = 1; i += 1 }
      else if (c < 0) { // multi-byte: U+00A0 and U+2000..U+2003 continue the run
        val nw = countWhitespace(buf, i, stop)
        if (nw == 0) brk = true else incRun(nw)
      } else brk = true
    }
    sink.token(Tok.Whitespace, sl, sc, start, i, i)
  }

  private def countQuotes(k: Int): Int = {
    val q = buf(k)
    var j = k
    while (j < stop && buf(j) == q) j += 1
    j - k
  }

  /** eats a quote token incl. its surrounding quotes, which starts at i;
    * returns the token's end. */
  private def eatQuote(): Int = {
    val q = b(i)
    var depth = countQuotes(i)
    var count = depth
    while (count > 0) { inc(1); count -= 1 }
    if (depth == 2) return i // the empty quote ''
    var end = -1
    while (i < stop && end < 0) {
      val c = b(i)
      if (c != q) { // inc(1), inlined
        if (c == '\n') { line += 1; col = 1 }
        else if ((c & 0xc0) != 0x80) col += 1
        i += 1
      } else {
        val n = countQuotes(i)
        if (n > depth) err("quote closed with too many quotes")
        else if (n < depth) { var k = n; while (k > 0) { inc(1); k -= 1 } }
        else { var k = n; while (k > 0) { inc(1); k -= 1 }; depth = 0; end = i }
      }
    }
    if (depth != 0) err("quote not closed")
    end
  }

  private def parseQuote(level: Int): Unit = {
    val sl = line; val sc = col; val s = i
    val e = eatQuote()
    val tpe = level match {
      case Level.XMQ => Tok.Quote
      case Level.ELEMENT_VALUE => Tok.ElementValueQuote
      case Level.ELEMENT_VALUE_COMPOUND => Tok.ElementValueCompoundQuote
      case Level.ATTR_VALUE => Tok.AttrValueQuote
      case Level.ATTR_VALUE_COMPOUND => Tok.AttrValueCompoundQuote
    }
    sink.token(tpe, sl, sc, s, e, e)
  }

  private def eatEntity(): Unit = {
    inc(1) // &
    var c = 0
    var expectSemicolon = false
    var brk = false
    while (i < stop && !brk) {
      c = b(i)
      if (!isXmqTextName(c)) brk = true
      else {
        if (!isLowercaseHex(c)) expectSemicolon = true
        inc(1)
      }
    }
    if (c == ';') { inc(1); expectSemicolon = false }
    if (expectSemicolon) err("entity not closed")
  }

  private def parseEntity(level: Int): Unit = {
    val sl = line; val sc = col; val start = i
    eatEntity()
    val tpe = level match {
      case Level.XMQ => Tok.Entity
      case Level.ELEMENT_VALUE => Tok.ElementValueEntity
      case Level.ELEMENT_VALUE_COMPOUND => Tok.ElementValueCompoundEntity
      case Level.ATTR_VALUE => Tok.AttrValueEntity
      case Level.ATTR_VALUE_COMPOUND => Tok.AttrValueCompoundEntity
    }
    sink.token(tpe, sl, sc, start, i, i)
  }

  private def countSlashes(k: Int): (Int, Boolean) = {
    var j = k
    while (j < stop && buf(j) == '/') j += 1
    (j - k, j < stop && buf(j) == '*')
  }

  private def parseComment(cc: Int): Unit = {
    var sl = line; var sc = col
    var start = i
    val (n, foundAsterisk0) = countSlashes(i)
    if (!foundAsterisk0) {
      // Single-line comment to eol (incl. the newline).
      inc(2)
      var c = 0
      while (i < stop && c != '\n') { c = b(i); inc(1) }
      sink.token(Tok.Comment, sl, sc, start, i, i)
    } else {
      var foundAsterisk = eatCommentToClose(n)
      sink.token(Tok.Comment, sl, sc, start, i, i)
      while (foundAsterisk) {
        start = i; sl = line; sc = col
        foundAsterisk = eatCommentToClose(n)
        sink.token(Tok.CommentContinuation, sl, sc, start, i, i)
      }
    }
  }

  /** eat up to and including the closing n slashes; true if continuation follows. */
  private def eatCommentToClose(numSlashes: Int): Boolean = {
    if (b(i) == '/') {
      var k = numSlashes
      while (k > 0) { inc(1); k -= 1 }
    }
    // at '*'
    inc(1)
    var c = 0
    var ccPrev = 0
    while (i < stop) {
      ccPrev = c
      c = b(i)
      if (ccPrev == '*' && c == '/') {
        val (n, asterisk) = countSlashes(i)
        if (n >= numSlashes) {
          if (n > numSlashes) err("comment closed with too many slashes")
          var k = n
          while (k > 0) { inc(1); k -= 1 }
          return asterisk
        } else inc(1)
      } else inc(1)
    }
    err("comment not closed")
  }

  /** eats a name that starts at i; returns the index of its last ':' (the
    * namespace prefix ends there), -1 without one. */
  private def eatTextName(): Int = {
    var colon = -1
    val start = i
    var brk = false
    while (i < stop && !brk) {
      val c = b(i)
      if (!isXmqTextName(c)) brk = true
      else { if (c == ':') colon = i; i += 1 } // one ASCII column per name byte
    }
    col += i - start
    colon
  }

  private def peekNextIsEqual(): Boolean = {
    var j = i
    var c = 0
    while (j < stop) {
      c = b(j)
      if (!isXmlWhitespace(c.toChar)) return c == '='
      j += 1
    }
    false
  }

  private def parseElement(doctype: Boolean, pi: Boolean): Unit = {
    val startLine = line; val startCol = col
    var nameStart = 0; var nameStop = 0; var nsStart = -1; var nsStop = -1

    if (doctype) {
      nameStart = i
      inc(1) // !
      while (i < stop && isXmqTextName(b(i))) inc(1)
      nameStop = i
    } else if (pi) {
      nameStart = i
      inc(1) // ?
      while (i < stop && isXmqTextName(b(i))) inc(1)
      nameStop = i
    } else {
      val start = i
      val colon = eatTextName()
      nameStop = i
      if (colon >= 0) { nameStart = colon + 1; nsStart = start; nsStop = colon }
      else nameStart = start
    }
    val stop0 = i
    val isKey = peekNextIsEqual()

    if (nsStart < 0) {
      sink.token(if (isKey) Tok.ElementKey else Tok.ElementName, startLine, startCol, nameStart, nameStop, stop0)
    } else {
      val nsLen = nsStop - nsStart
      sink.token(Tok.ElementNs, startLine, startCol, nsStart, nsStop, nsStop)
      sink.token(Tok.NsColon, startLine, startCol + nsLen, nsStop, nsStop + 1, nsStop + 1)
      sink.token(if (isKey) Tok.ElementKey else Tok.ElementName, startLine, startCol + nsLen + 1, nameStart, nameStop, stop0)
    }

    if (i < stop && isXmlWhitespace(b(i).toChar)) parseWhitespace()

    if (b(i) == '(') {
      val sl = line; val sc = col; val s = i
      inc(1)
      sink.token(Tok.AparLeft, sl, sc, s, i, i)
      parseAttributes()
      if (i < stop && isXmlWhitespace(b(i).toChar)) parseWhitespace()
      if (b(i) != ')') err("attributes not closed")
      val sl2 = line; val sc2 = col; val s2 = i
      inc(1)
      sink.token(Tok.AparRight, sl2, sc2, s2, s2 + 1, i)
    }

    if (i < stop && isXmlWhitespace(b(i).toChar)) parseWhitespace()

    if (b(i) == '=') {
      val sl = line; val sc = col; val s = i
      inc(1)
      sink.token(Tok.Equals, sl, sc, s, i, i)
      parseValue(Level.ELEMENT_VALUE)
      return
    }

    if (b(i) == '{') {
      val sl = line; val sc = col; val s = i
      inc(1)
      sink.token(Tok.BraceLeft, sl, sc, s, i, i)
      parseXmq()
      if (i < stop && isXmlWhitespace(b(i).toChar)) parseWhitespace()
      if (b(i) != '}') err("body not closed")
      val sl2 = line; val sc2 = col; val s2 = i
      inc(1)
      sink.token(Tok.BraceRight, sl2, sc2, s2, i, i)
    }
  }

  private def parseAttributes(): Unit = {
    var done = false
    while (i < stop && !done) {
      val prev = i
      val c = b(i)
      if (isXmlWhitespace(c.toChar)) parseWhitespace()
      else if (c == ')') done = true
      else if (isAttrKeyStart(c)) parseAttribute()
      else done = true
      if (!done && i == prev) done = true // tab stalls token-whitespace; bail like EOF
    }
  }

  private def isAttrKeyStart(c: Int): Boolean =
    !(c == '\'' || c == '"' || c == '(' || c == ')' || c == '{' || c == '}' ||
      c == '/' || c == '=' || c == '&')

  private def parseAttribute(): Unit = {
    val startLine = line; val startCol = col
    val start = i
    val colon = eatTextName()
    val nameStart = if (colon >= 0) colon + 1 else start
    val nameStop = i
    val nsStart = if (colon >= 0) start else -1
    val nsStop = colon
    val stop0 = i

    if (nsStart < 0) {
      val len = nameStop - nameStart
      if (len == 5 && isWord(nameStart, "xmlns"))
        sink.token(Tok.NsDeclaration, startLine, startCol, nameStart, nameStop, nameStop)
      else
        sink.token(Tok.AttrKey, startLine, startCol, nameStart, nameStop, stop0)
    } else {
      val nsLen = nsStop - nsStart
      if (nsLen == 5 && isWord(nsStart, "xmlns")) {
        sink.token(Tok.NsDeclaration, startLine, startCol, nsStart, nsStop, nameStop)
        sink.token(Tok.NsColon, startLine, startCol + nsLen, nsStop, nsStop + 1, nsStop + 1)
        sink.token(Tok.AttrNs, startLine, startCol + nsLen + 1, nameStart, nameStop, stop0)
      } else {
        sink.token(Tok.AttrNs, startLine, startCol, nsStart, nsStop, nsStop)
        sink.token(Tok.NsColon, startLine, startCol + nsLen, nsStop, nsStop + 1, nsStop + 1)
        sink.token(Tok.AttrKey, startLine, startCol + nsLen + 1, nameStart, nameStop, stop0)
      }
    }

    if (i < stop && isXmlWhitespace(b(i).toChar)) parseWhitespace()

    if (b(i) == '=') {
      val sl = line; val sc = col; val s = i
      inc(1)
      sink.token(Tok.Equals, sl, sc, s, i, i)
      parseValue(Level.ATTR_VALUE)
    }
  }

  private def isWord(at: Int, w: String): Boolean = {
    var k = 0
    while (k < w.length) {
      if (at + k >= stop || buf(at + k) != w.charAt(k)) return false
      k += 1
    }
    true
  }

  private def parseValue(level: Int): Unit = {
    if (i < stop && isXmlWhitespace(b(i).toChar)) parseWhitespace()
    val c = b(i)
    if (c == '\'' || c == '"') parseQuote(level)
    else if (c == '&') parseEntity(level)
    else if (c == '(') parseCompound(level)
    else {
      val cc = b(i + 1)
      if (unsafeValueStart(c.toChar, cc.toChar)) err("value cannot start with this")
      parseTextValue(level)
    }
  }

  private def parseTextValue(level: Int): Unit = {
    val sl = line; val sc = col; val start = i
    var brk = false
    while (i < stop && !brk) {
      if (!isSafeValueByte(i)) brk = true
      else { // inc(1) of a byte that is not a newline
        if ((buf(i) & 0xc0) != 0x80) col += 1
        i += 1
      }
    }
    val tpe = if (level == Level.ATTR_VALUE) Tok.AttrValueText else Tok.ElementValueText
    sink.token(tpe, sl, sc, start, i, i)
  }

  private def isSafeValueByte(k: Int): Boolean = {
    val c = buf(k)
    if (c >= 0) isSafeValueChar(c.toChar)
    else countWhitespace(buf, k, stop) == 0
  }

  private def parseCompound(level: Int): Unit = {
    val sl = line; val sc = col; val s = i
    inc(1)
    sink.token(Tok.CparLeft, sl, sc, s, i, i)
    val inner = Level.enterCompound(level)
    var done = false
    while (i < stop && !done) {
      val c = b(i)
      if (isXmlWhitespace(c.toChar)) parseWhitespace()
      else if (c == ')') done = true
      else if (c == '\'' || c == '"') parseQuote(inner)
      else if (c == '&') parseEntity(inner)
      else err("compound may not contain this")
    }
    if (i < stop && isXmlWhitespace(b(i).toChar)) parseWhitespace()
    if (b(i) != ')') err("compound not closed")
    val sl2 = line; val sc2 = col; val s2 = i
    inc(1)
    sink.token(Tok.CparRight, sl2, sc2, s2, i, i)
  }
}
