package graft.xmq

/** String/byte helpers mirroring the reference's text module semantics
  * (/root/reference/src/main/c/parts/text.c). All offset-based functions
  * operate on UTF-8 byte arrays to match the C engine exactly.
  */
object TextUtil {

  /** Number of bytes of whitespace at i: ascii space/nl/tab/cr (1),
    * U+00A0 (2), U+2000..U+2003 (3). 0 if not whitespace. (text.c:14-63) */
  def countWhitespace(b: Array[Byte], i: Int, stop: Int): Int = {
    val c = b(i) & 0xff
    if (c == ' ' || c == '\n' || c == '\t' || c == '\r') return 1
    if (i + 1 >= stop) return 0
    if (c != 0xc2 && c != 0xe2) return 0
    val cc = b(i + 1) & 0xff
    if (c == 0xc2 && cc == 0xa0) return 2
    if (c == 0xe2 && cc == 0x80) {
      if (i + 2 >= stop) return 0
      val ccc = b(i + 2) & 0xff
      if (ccc >= 0x80 && ccc <= 0x83) return 3
    }
    0
  }

  def isXmlWhitespace(c: Char): Boolean = c == ' ' || c == '\n' || c == '\t' || c == '\r'
  def isXmqTokenWhitespace(c: Int): Boolean = c == ' ' || c == '\n' || c == '\r'

  def isXmqTextName(c: Int): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') ||
      c == '-' || c == '_' || c == '.' || c == ':' || c == '#'

  def isXmqElementStart(c: Int): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || c == '_'

  final val NotAnElementName = -2

  /** text.c is_xmq_element_name: the index of the last ':' in the name, -1
    * without one, NotAnElementName when s is not an element name. */
  def xmqElementNameColon(s: String): Int = {
    if (s.isEmpty || !isXmqElementStart(s.charAt(0))) return NotAnElementName
    var colon = -1
    var i = 1
    while (i < s.length) {
      val c = s.charAt(i)
      if (c > 127 || !isXmqTextName(c)) return NotAnElementName
      if (c == ':') colon = i
      i += 1
    }
    colon
  }

  def isLowercaseHex(c: Int): Boolean = (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f')
  def isHex(c: Int): Boolean = isLowercaseHex(c) || (c >= 'A' && c <= 'F')
  def hexValue(c: Int): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') 10 + c - 'a'
    else 10 + c - 'A'

  /** Unicode length: count of non-continuation bytes == code points (text.c str_b_u_len). */
  def uLen(s: String): Int = s.codePointCount(0, s.length)

  /** Escape as C/JSON string content (text.c xmq_quote_as_c, add_quotes=false);
    * `s` itself when nothing needs escaping. */
  def quoteAsC(s: String): String = {
    var i = 0
    while (i < s.length && !needsCEscape(s.charAt(i))) i += 1
    if (i == s.length) s
    else {
      val sb = new java.lang.StringBuilder(s.length + 8)
      appendQuotedAsC(sb, s)
      sb.toString
    }
  }

  private def needsCEscape(c: Char): Boolean = c < ' ' || c == '"' || c == '\\'

  /** append `quoteAsC(s)` to sb, copying the runs between escapes in bulk. */
  def appendQuotedAsC(sb: java.lang.StringBuilder, s: String): Unit = {
    var run = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (needsCEscape(c)) {
        if (run < i) sb.append(s, run, i)
        c match {
          case '\\' => sb.append("\\\\")
          case '"'  => sb.append("\\\"")
          case '\u0007' => sb.append("\\a")
          case '\b' => sb.append("\\b")
          case '\t' => sb.append("\\t")
          case '\n' => sb.append("\\n")
          case '\u000b' => sb.append("\\v")
          case '\f' => sb.append("\\f")
          case '\r' => sb.append("\\r")
          case _ => sb.append("\\x").append(toHex((c >> 4) & 0xf)).append(toHex(c & 0xf))
        }
        run = i + 1
      }
      i += 1
    }
    if (run == 0) sb.append(s) else if (run < s.length) sb.append(s, run, s.length)
  }

  private def toHex(v: Int): Char = if (v <= 9) ('0' + v).toChar else ('A' - 10 + v).toChar

  /** Unescape C/JSON escapes (text.c xmq_unquote_as_c, remove_quotes=false). */
  def unquoteAsC(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        i += 1
        s.charAt(i) match {
          case '"' => sb.append('"')
          case '\\' => sb.append('\\')
          case 'n' => sb.append('\n')
          case 'a' => sb.append('\u0007')
          case 'b' => sb.append('\b')
          case 't' => sb.append('\t')
          case 'v' => sb.append('\u000b')
          case 'f' => sb.append('\f')
          case 'r' => sb.append('\r')
          case 'x' if i + 2 < s.length =>
            sb.append(((hexValue(s.charAt(i+1)) << 4) | hexValue(s.charAt(i+2))).toChar)
            i += 2
          case _ => // ignored, like the reference
        }
      } else sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** decode &name; style entity to a codepoint; 0 if unknown (xml.c:274-287). */
  def decodeEntityRef(name: String): Int = {
    name match {
      case "apos" => '\''
      case "gt" => '>'
      case "lt" => '<'
      case "quot" => '"'
      case "nbsp" => 160
      case "amp" => '&'
      case _ =>
        if (name.isEmpty || name.charAt(0) != '#') 0
        else if (name.length > 1 && name.charAt(1) == 'x')
          try Integer.parseInt(name.substring(2), 16) catch { case _: Exception => 0 }
        else
          try Integer.parseInt(name.substring(1)) catch { case _: Exception => 0 }
    }
  }

  /** prepend/append a space if the value starts/ends with a single quote
    * (text.c potentially_add_leading_ending_space — used for PI values). */
  def potentiallyAddLeadingEndingSpace(s: String): String = {
    if (s.isEmpty) return s
    val pre = if (s.charAt(0) == '\'') " " else ""
    val post = if (s.charAt(s.length - 1) == '\'') " " else ""
    pre + s + post
  }

  // ---- String-level scans used by trim + printer (ASCII-only semantics) ----

  /** text.c has_leading_space_nl: the end of the leading whitespace run of
    * s(from until to) when that run holds a newline, else -1. */
  def leadingSpaceNl(s: String, from: Int, to: Int): Int = {
    var i = from
    var foundNl = false
    while (i < to && isXmlWhitespace(s.charAt(i))) {
      if (s.charAt(i) == '\n') foundNl = true
      i += 1
    }
    if (foundNl) i else -1
  }

  /** text.c has_ending_nl_space: the start of the trailing whitespace run of
    * s(from until to) when that run holds a newline, else -1. */
  def endingNlSpace(s: String, from: Int, to: Int): Int = {
    var i = to - 1
    var foundNl = false
    while (i >= from && isXmlWhitespace(s.charAt(i))) {
      if (s.charAt(i) == '\n') foundNl = true
      i -= 1
    }
    if (foundNl) i + 1 else -1
  }

  /** `leadingSpaceNl` when the run is not only newlines, else -1: such a
    * run prints as entities around the quote. */
  def leadingMixedNlSpace(s: String, from: Int, to: Int): Int = {
    val end = leadingSpaceNl(s, from, to)
    if (end != -1 && !allChars(s, from, end, '\n')) end else -1
  }

  /** `endingNlSpace` when the run is not only newlines, else -1. */
  def endingMixedNlSpace(s: String, from: Int, to: Int): Int = {
    val start = endingNlSpace(s, from, to)
    if (start != -1 && !allChars(s, start, to, '\n')) start else -1
  }

  /** whether every char of s(from until to) is c. */
  def allChars(s: String, from: Int, to: Int, c: Char): Boolean = {
    var i = from
    while (i < to) { if (s.charAt(i) != c) return false; i += 1 }
    true
  }

  def hasNewlines(s: String, from: Int, to: Int): Boolean = {
    var i = from
    while (i < to) { if (s.charAt(i) == '\n') return true; i += 1 }
    false
  }

  def hasAllQuotes(s: String, from: Int, to: Int): Boolean = {
    if (from == to) return false
    var allSq = true
    var i = from
    while (i < to && allSq) { if (s.charAt(i) != '\'') allSq = false; i += 1 }
    if (allSq) return true
    i = from
    while (i < to) { if (s.charAt(i) != '"') return false; i += 1 }
    true
  }

  def isAllXmlWhitespace(s: String): Boolean = isAllXmlWhitespace(s, 0, s.length)

  /** text.c has_all_whitespace over s(from until to). */
  def isAllXmlWhitespace(s: String, from: Int, to: Int): Boolean = {
    var i = from
    while (i < to) { if (!isXmlWhitespace(s.charAt(i))) return false; i += 1 }
    true
  }

  /** Value can start with these two chars? (xmq_parser.c unsafe_value_start) */
  def unsafeValueStart(c: Char, cc: Char): Boolean =
    c == '&' || c == '=' || (c == '/' && (cc == '/' || cc == '*'))

  /** ASCII chars that end an unquoted value: whitespace, ( ) { } ' " */
  private val UnsafeAscii: Array[Boolean] = {
    val t = new Array[Boolean](128)
    " \n\t\r(){}'\"".foreach(c => t(c) = true)
    t
  }

  /** Safe unquoted value char (the unicode whitespaces the tokenizer treats
    * as ws are unsafe too). */
  def isSafeValueChar(c: Char): Boolean =
    if (c < 128) !UnsafeAscii(c) else !isUnicodeWhitespaceChar(c)

  def isXmqTextValue(s: String, from: Int, to: Int): Boolean = {
    if (from >= to) return false
    val c = s.charAt(from)
    val cc = if (from + 1 < to) s.charAt(from + 1) else 0.toChar
    if (unsafeValueStart(c, cc)) return false
    var i = from
    while (i < to) {
      if (!isSafeValueChar(s.charAt(i))) return false
      i += 1
    }
    true
  }

  /** Is this codepoint-start position a unicode whitespace (non ascii)? */
  def isUnicodeWhitespaceChar(c: Char): Boolean =
    c == '\u00a0' || (c >= '\u2000' && c <= '\u2003')
}
