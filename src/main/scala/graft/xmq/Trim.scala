package graft.xmq

import TextUtil._

/** Incidental-indentation trimming, un-quoting and un-commenting.
  * Semantics mirror /root/reference/src/main/c/xmq.c:1336-1663
  * (xmq_un_quote, xmq_un_comment, xmq_trim_quote, calculate_incidental_indent).
  */
object Trim {

  /** Remove surrounding quotes (if removeQs) and incidental indentation. */
  def unQuote(s: String, removeQs: Boolean, isXmq: Boolean): String = {
    var from = 0
    var to = s.length
    if (removeQs && to > 0) {
      val q = s.charAt(0)
      if (q == '\'' || q == '"') {
        var j = 0
        while (from + j < to - j && s.charAt(from + j) == q && s.charAt(to - j - 1) == q) j += 1
        from = j; to = s.length - j
      }
    }
    trimQuote(s, from, to, isXmq, isComment = false)
  }

  /** Reverse of comment printing: strip slashes/asterisks + incidental indent. */
  def unComment(s: String): String = {
    var from = 0
    var to = s.length
    var i = from
    while (i < to && s.charAt(i) == '/') i += 1

    if (i == to || s.charAt(i) != '*') {
      // Single-line // comment.
      i = from + 2
      if (i < to && s.charAt(i) == ' ') i += 1
      while (i < to && s.charAt(to - 1) == ' ') to -= 1
      return trimQuote(s, i, to, isXmq = true, isComment = true)
    }

    while (i < to && s.charAt(i) == '/') i += 1

    if (i == from) {
      // Continuation: starts with '*', strip ending slashes.
      while (to > from && s.charAt(to - 1) == '/') to -= 1
    } else {
      // Standard /*...*/ or ///*...*///: strip balanced surrounding slashes.
      var j = 0
      while (from + j < to - j && s.charAt(from + j) == '/' && s.charAt(to - j - 1) == '/') j += 1
      from += j; to -= j
    }

    // The asterisks.
    from += 1; to -= 1
    // Single space after leading / before ending asterisk.
    if (from < to && s.charAt(from) == ' ') from += 1
    if (to - 1 >= from && to > from && s.charAt(to - 1) == ' ') to -= 1

    trimQuote(s, from, to, isXmq = true, isComment = true)
  }

  /** min indentation (spaces) of continuation lines; Int.MaxValue = no newline found. */
  def incidentalIndent(s: String, from: Int, to: Int): Int = {
    var indent = Int.MaxValue
    var i = from
    while (i < to && s.charAt(i) != '\n') i += 1
    if (i >= to) return Int.MaxValue
    var done = false
    while (!done) {
      // at a newline
      i += 1
      val lineStart = i
      while (i < to && s.charAt(i) == ' ') i += 1
      if (i >= to) done = true
      else {
        val c = s.charAt(i)
        if (c != '\n' && c != '\r') {
          val ind = i - lineStart
          if (ind < indent) indent = ind
        }
        while (i < to && s.charAt(i) != '\n') i += 1
        if (i >= to) done = true
      }
    }
    indent
  }

  private def checkLeadingSpaceNl(s: String, from: Int, to: Int): Boolean = {
    var i = from
    while (i < to && s.charAt(i) == ' ') i += 1
    i < to && s.charAt(i) == '\n'
  }

  /** The core trim (xmq.c xmq_trim_quote). A single-line quote is returned
    * as it is (`s` itself for the whole string); only multi-line quotes
    * build a new string. */
  def trimQuote(s: String, from0: Int, to0: Int, isXmq: Boolean, isComment: Boolean): String = {
    var from = from0
    var to = to0
    val firstNl = s.indexOf('\n', from)
    if (firstNl < 0 || firstNl >= to)
      return if (from == 0 && to == s.length) s else s.substring(from, to)

    var appendNewlines = 0
    var lastLineSpaces = Int.MaxValue

    if (endingNlSpace(s, from, to) != -1) {
      var brk = false
      while (to > from && !brk) {
        val c = s.charAt(to - 1)
        if (c == '\n') appendNewlines += 1
        if (c == ' ' && appendNewlines == 0) {
          if (lastLineSpaces == Int.MaxValue) lastLineSpaces = 0
          lastLineSpaces += 1
        }
        if (c != ' ' && c != '\t' && c != '\n' && c != '\r') brk = true
        else to -= 1
      }
    }
    if (appendNewlines > 0) appendNewlines -= 1

    if (to == from) return "\n" * appendNewlines

    val leadsSpaceNl = checkLeadingSpaceNl(s, from, to)

    var incidental = incidentalIndent(s, from, to)
    if (isXmq && lastLineSpaces < incidental) {
      incidental = lastLineSpaces
      if (!leadsSpaceNl) {
        incidental += 1
        if (isComment) incidental += 2
      }
    }

    if (incidental == Int.MaxValue) {
      // No newline; no trim, but re-add ending newlines.
      return s.substring(from, to) + "\n" * appendNewlines
    }

    // nothing to trim: no indent to strip, no ending or leading newline
    // run, no blanks before a line break and no CR
    if (incidental == 0 && to == to0 && leadingSpaceNl(s, from, to) == -1 &&
        keepsLines(s, from, to))
      return if (from == 0 && to == s.length) s else s.substring(from, to)

    var prependNewlines = 0
    var firstLine = true

    if (leadingSpaceNl(s, from, to) != -1) {
      firstLine = false
      from = lineEnd(s, from, to)
      var i = from
      var brk = false
      while (i < to && !brk) {
        val c = s.charAt(i)
        if (c == '\n') { from = i + 1; prependNewlines += 1 }
        else if (c != '\r') brk = true
        i += 1
      }
    }

    val out = new java.lang.StringBuilder(to - from + prependNewlines + appendNewlines)
    var k = 0
    while (k < prependNewlines) { out.append('\n'); k += 1 }

    // one line per turn (xmq.c find_line): [i, afterLastNonSpace) is copied
    // after the incidental indent, then '\n' for a line break (CR LF is one)
    var i = from
    while (i < to) {
      var j = i
      while (j < to && (s.charAt(j) == ' ' || s.charAt(j) == '\t')) j += 1
      var afterLastNonSpace = i
      var hasNl = false
      while (j < to && !hasNl) {
        val c = s.charAt(j)
        if (c == '\n' || c == '\r') {
          if (c == '\r' && j + 1 < to && s.charAt(j + 1) == '\n') j += 1
          hasNl = true
        } else if (c != ' ' && c != '\t') afterLastNonSpace = j + 1
        j += 1
      }
      val eol = j
      if (firstLine) firstLine = false
      else if (s.charAt(i) == ' ') {
        var n = incidental
        while (n > 0 && i < to && s.charAt(i) == ' ') { i += 1; n -= 1 }
      }
      if (i < afterLastNonSpace) { out.append(s, i, afterLastNonSpace); i = afterLastNonSpace }
      if (hasNl) out.append('\n')
      else if (i < eol) out.append(s, i, eol)
      i = eol
    }
    k = 0
    while (k < appendNewlines) { out.append('\n'); k += 1 }
    out.toString
  }

  /** whether s(from until to) has no CR and no space or tab before a
    * newline: the line loop below would copy such lines unchanged. */
  private def keepsLines(s: String, from: Int, to: Int): Boolean = {
    var i = from
    while (i < to) {
      val c = s.charAt(i)
      if (c == '\r') return false
      if (c == '\n' && i > from && (s.charAt(i - 1) == ' ' || s.charAt(i - 1) == '\t')) return false
      i += 1
    }
    true
  }

  /** the end of the line starting at `start`, past its line break. */
  private def lineEnd(s: String, start: Int, stop: Int): Int = {
    var i = start
    while (i < stop) {
      val c = s.charAt(i)
      i += 1
      if (c == '\n') return i
      if (c == '\r') return if (i < stop && s.charAt(i) == '\n') i + 1 else i
    }
    i
  }
}
