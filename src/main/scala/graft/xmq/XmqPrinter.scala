package graft.xmq

import TextUtil._
import scala.collection.mutable.ArrayBuffer

/** Output settings (reference XMQOutputSettings, plain theme only). */
final case class XmqSettings(compact: Boolean = false,
                             addIndent: Int = 4,
                             preferDoubleQuotes: Boolean = false,
                             escapeNon7bit: Boolean = false,
                             escapeTabs: Boolean = false,
                             escapeNewlinesFlag: Boolean = false,
                             htmq: Boolean = false) {
  def escapeNewlines: Boolean = compact || escapeNewlinesFlag
}

/** The xmq pretty-printer. A faithful re-expression of
  * /root/reference/src/main/c/parts/xmq_printer.c (quote-depth computation,
  * compound synthesis, '='-alignment, compact mode) with a plain theme.
  */
final class XmqPrinter(os: XmqSettings,
                       sb: java.lang.StringBuilder = new java.lang.StringBuilder) {

  private var currentIndent = 0
  private var lineIndent = 0
  private var lastChar: Char = 0

  // ---------- low-level writers ----------

  private def writeRaw(s: String): Unit = sb.append(s)

  private def printWhiteSpaces(num: Int): Unit = {
    var k = num
    while (k > XmqPrinter.Spaces.length) { sb.append(XmqPrinter.Spaces); k -= XmqPrinter.Spaces.length }
    if (k > 0) sb.append(XmqPrinter.Spaces, 0, k)
    currentIndent += num
  }

  /** print_utf8: append string, last_char = last cp's first char, indent += uLen. */
  private def printUtf8(s: String): Unit = {
    if (s.isEmpty) return
    sb.append(s)
    lastChar = lastCodePointStart(s, 0, s.length)
    currentIndent += uLen(s)
  }

  /** print_utf8 of one ASCII char. */
  private def printChar(c: Char): Unit = {
    sb.append(c)
    lastChar = c
    currentIndent += 1
  }

  /** the first char of the last code point of s(from until to), to > from. */
  private def lastCodePointStart(s: String, from: Int, to: Int): Char = {
    val c = s.charAt(to - 1)
    if (Character.isLowSurrogate(c) && to - 2 >= from && Character.isHighSurrogate(s.charAt(to - 2)))
      s.charAt(to - 2)
    else c
  }

  private def printQuotes(num: Int, useDouble: Boolean): Unit = {
    val q = if (useDouble) '"' else '\''
    var k = 0
    while (k < num) { sb.append(q); k += 1 }
    currentIndent += num
    lastChar = q
  }

  private def printQuotedSpaces(num: Int): Unit = {
    sb.append('\'')
    var k = 0
    while (k < num) { sb.append(' '); k += 1 }
    currentIndent += num
    lastChar = '\''
    sb.append('\'')
  }

  private def printNlAndIndent(): Unit = {
    sb.append('\n')
    currentIndent = 0
    lastChar = 0
    printWhiteSpaces(lineIndent)
  }

  private def printNl(): Unit = {
    sb.append('\n')
    currentIndent = 0
    lastChar = 0
  }

  /** print one codepoint as &#N; — returns #chars consumed from s at i. */
  private def printCharEntity(s: String, i: Int): Int = {
    val cp = s.codePointAt(i)
    val named = if (os.escapeNon7bit && os.htmq) HtmlEntityNames.byCodepoint.get(cp) else None
    val before = sb.length
    named match {
      case Some(n) => sb.append('&').append(n).append(';')
      case None => sb.append("&#").append(cp).append(';')
    }
    lastChar = ';'
    currentIndent += sb.length - before
    Character.charCount(cp)
  }

  private def printSlashes(pre: String, post: String, n: Int): Unit = {
    if (pre != null) sb.append(pre)
    var k = 0
    while (k < n) { sb.append('/'); k += 1 }
    if (post != null) sb.append(post)
  }

  // ---------- separation rules (xmq_printer.c:856-1022) ----------

  private def needSepBeforeAttrKey: Boolean = {
    val c = lastChar
    c != 0 && c != '\'' && c != '"' && c != '(' && c != ')' && c != ';'
  }
  private def needSepBeforeEntity: Boolean = {
    val c = lastChar
    c != 0 && c != '=' && c != '\'' && c != '"' && c != '{' && c != '}' && c != ';' && c != '(' && c != ')'
  }
  private def needSepBeforeElementName: Boolean = {
    val c = lastChar
    c != 0 && c != '\'' && c != '"' && c != '{' && c != '}' && c != ';' && c != ')' && c != '/'
  }
  private def needSepBeforeQuote: Boolean = lastChar == '\'' || lastChar == '"'
  private def needSepBeforeComment: Boolean = {
    val c = lastChar
    c != 0 && c != '\'' && c != '"' && c != '{' && c != ')' && c != '}' && c != ';'
  }

  private def checkSpaceBeforeAttribute(): Unit = {
    if (lastChar == '(') return
    if (!os.compact) printNlAndIndent()
    else if (needSepBeforeAttrKey) printWhiteSpaces(1)
  }
  private def checkSpaceBeforeEntityNode(): Unit = {
    if (lastChar == '(') return
    if (!os.compact && lastChar != '=') printNlAndIndent()
    else if (needSepBeforeEntity) printWhiteSpaces(1)
  }
  private def checkSpaceBeforeQuote(level: Int): Unit = {
    val c = lastChar
    if (c == 0) return
    if (!os.compact && (c != '=' || level == Level.XMQ) && c != '(') printNlAndIndent()
    else if (needSepBeforeQuote) printWhiteSpaces(1)
  }
  private def checkSpaceBeforeKey(): Unit = {
    if (lastChar == 0) return
    if (!os.compact) printNlAndIndent()
    else if (needSepBeforeElementName) printWhiteSpaces(1)
  }
  private def checkSpaceBeforeOpeningBrace(): Unit = {
    if (!os.compact) {
      if (lastChar == ')') printNlAndIndent() else printWhiteSpaces(1)
    }
  }
  private def checkSpaceBeforeClosingBrace(): Unit = {
    if (!os.compact) printNlAndIndent()
  }
  private def checkSpaceBeforeComment(): Unit = {
    if (lastChar == 0) return
    if (!os.compact) printNlAndIndent()
    else if (needSepBeforeComment) printWhiteSpaces(1)
  }

  // ---------- quote analysis (xmq_printer.c:44-171, 1576-1708) ----------

  // count_necessary_quotes results, set by quoteNeeds
  private var qNum = 0
  private var qAddNls = false
  private var qAddCompound = false
  private var qUseDq = false

  /** returns (numQuotes, addNls, addCompound, useDoubleQuotes) */
  def countNecessaryQuotes(s: String, from: Int, to: Int): (Int, Boolean, Boolean, Boolean) = {
    quoteNeeds(s, from, to)
    (qNum, qAddNls, qAddCompound, qUseDq)
  }

  /** count_necessary_quotes: sets qNum, qAddNls, qAddCompound and qUseDq. */
  private def quoteNeeds(s: String, from: Int, to: Int): Unit = {
    var allSafe = true
    val c0 = s.charAt(from)
    val c1 = if (from + 1 < to) s.charAt(from + 1) else 0.toChar
    if (unsafeValueStart(c0, c1)) allSafe = false

    val addCompound =
      leadingMixedNlSpace(s, from, to) != -1 || endingMixedNlSpace(s, from, to) != -1

    var maxSingle = 0; var curSingle = 0
    var maxDouble = 0; var curDouble = 0
    var i = from
    while (i < to) {
      val c = s.charAt(i)
      if (allSafe && !isSafeValueChar(c)) allSafe = false
      if (c == '\'') { curSingle += 1; if (curSingle > maxSingle) maxSingle = curSingle }
      else {
        curSingle = 0
        if (c == '"') { curDouble += 1; if (curDouble > maxDouble) maxDouble = curDouble }
        else curDouble = 0
      }
      i += 1
    }

    val leadEndSq = s.charAt(from) == '\'' || s.charAt(to - 1) == '\''
    val leadEndDq = s.charAt(from) == '"' || s.charAt(to - 1) == '"'

    var useDqs = os.preferDoubleQuotes
    if (leadEndSq && !leadEndDq) useDqs = true
    else if (!leadEndSq && leadEndDq) useDqs = false
    else if (maxDouble > maxSingle && maxDouble > 0) useDqs = false
    else if (maxDouble < maxSingle) useDqs = true
    else if (maxDouble > 0) useDqs = false

    var max = if (useDqs) maxDouble else maxSingle
    if (max > 0) max += 1
    if (max == 0 && !allSafe) max = 1
    if (max == 2) max = 3

    qNum = max
    qAddNls = (useDqs && leadEndDq) || (!useDqs && leadEndSq)
    qAddCompound = addCompound
    qUseDq = useDqs
  }

  /** quote_needs_compounded (xmq_printer.c): whether s(from until to)
    * needs a compound; sets `compoundUseDq`. */
  private var compoundUseDq = false

  private def quoteNeedsCompounded(s: String, from: Int, to: Int): Boolean = {
    val compact = os.compact
    compoundUseDq = os.preferDoubleQuotes
    if (to == from + 1) {
      val c = s.charAt(from)
      if (c == '\'' || c == '\n' || c == '\r' || c == '\t') return false
    }
    if (leadingMixedNlSpace(s, from, to) != -1) return true
    if (endingMixedNlSpace(s, from, to) != -1) return true

    if (compact) {
      if (hasNewlines(s, from, to)) return true
      if (from < to && ((s.charAt(from) == '\'' && s.charAt(to - 1) == '"') ||
                        (s.charAt(from) == '"' && s.charAt(to - 1) == '\'')))
        return true
    }

    var numSq = 0; var numDq = 0
    var needs = false
    var i = from
    while (i < to) {
      val c = s.charAt(i)
      if (c == '\'') numSq += 1
      else if (c == '"') numDq += 1
      else if (os.escapeNewlines && c == '\n') needs = true
      else if (os.escapeNon7bit && c > 126) needs = true
      else if (c < 32 && c != '\t' && c != '\n') needs = true
      else if (c == '\t' && os.escapeTabs) needs = true
      i += 1
    }

    var useDq = os.preferDoubleQuotes
    if (numDq == 0 && numSq == 0) useDq = os.preferDoubleQuotes
    else if (numDq > 0 && numSq > 0) {
      val a = s.charAt(from); val b = s.charAt(to - 1)
      if (a == b) {
        if (a == '\'' || a == '"') useDq = a == '\''
        else useDq = os.preferDoubleQuotes
      } else {
        if ((a == '\'' || a == '"') && (b == '\'' || b == '"')) {
          needs = true; useDq = os.preferDoubleQuotes
        } else if (a == '\'' || a == '"') useDq = a == '\''
        else if (b == '\'' || b == '"') useDq = b == '\''
        else useDq = numSq > numDq
      }
    } else {
      if (numSq > 0) useDq = true
      if (numDq > 0) useDq = false
    }
    compoundUseDq = useDq
    needs
  }

  // ---------- widths / alignment ----------

  private def elemTotalULen(e: XElem): Int =
    uLen(e.name) + (if (e.nsPrefix != null) uLen(e.nsPrefix) + 1 else 0)

  private def attrTotalULen(a: XAttr): Int =
    uLen(a.key) + (if (a.nsPrefix != null) uLen(a.nsPrefix) + 1 else 0)

  private def nsTotalULen(ns: NsDef): Int =
    5 + (if (ns.prefix != null) uLen(ns.prefix) + 1 else 0)

  private def isAlignable(n: XNode): Boolean = n match {
    case e: XElem => Nodes.isKeyValueNode(e) && e.attrs.isEmpty
    case _ => false
  }

  /** (max, restartIdx): scan from idx while alignable (find_element_key_max_width). */
  private def findKeyMaxWidth(nodes: ArrayBuffer[XNode], idx: Int): (Int, Int) = {
    var max = 0
    var i = idx
    while (i < nodes.length) {
      nodes(i) match {
        case e: XElem if isAlignable(e) =>
          val w = elemTotalULen(e)
          if (w > max) max = w
          i += 1
        case _ =>
          val restart = if (i == idx) idx + 1 else i
          return (max, restart)
      }
    }
    (max, -1)
  }

  // ---------- node printing ----------

  def printDoc(doc: XDoc): Unit = {
    if (doc.children.isEmpty) return // xmq_print_xmq: empty doc emits nothing
    printNodesList(doc.children)
    sb.append('\n')
  }

  private def printNodesList(nodes: ArrayBuffer[XNode]): Unit = {
    var restartAt = 0
    var max = 0
    var i = 0
    while (i < nodes.length) {
      if (!os.compact && i == restartAt) {
        val r = findKeyMaxWidth(nodes, i)
        max = r._1
        restartAt = if (r._2 < 0) Int.MaxValue else r._2
      }
      printNode(nodes(i), max)
      i += 1
    }
  }

  def printNode(node: XNode, align: Int): Unit = node match {
    // print_value at LEVEL_XMQ: never compound, straight to the text printer
    case t: XText =>
      val oldLineIndent = lineIndent
      printValueInternalText(t.content, 0, t.content.length, Level.XMQ, os.preferDoubleQuotes,
        alreadyCompounded = false)
      lineIndent = oldLineIndent
    case e: XEntityRef => printEntityNode(e)
    case c: XComment => printCommentNode(c)
    case p: XPi => printPiNode(p)
    case d: XDoctype => printDoctype(d)
    case e: XElem =>
      if (Nodes.isLeaf(e)) printLeafNode(e)
      else if (Nodes.isKeyValueNode(e)) printKeyNode(e, align)
      else printElementWithChildren(e, align)
  }

  private def printEntityNode(e: XEntityRef): Unit = {
    checkSpaceBeforeEntityNode()
    printChar('&')
    printUtf8(e.name)
    printChar(';')
  }

  private def countNecessarySlashes(s: String): Int = {
    var max = 0; var cur = 0; var counting = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (counting) {
        if (c == '/') { cur += 1; if (cur > max) max = cur }
        else counting = false
      }
      if (!counting && c == '*') { counting = true; cur = 0 }
      i += 1
    }
    max + 1
  }

  private def printCommentNode(c: XComment): Unit = {
    val content = c.content
    checkSpaceBeforeComment()
    if (!hasNewlines(content, 0, content.length)) {
      if (os.compact) {
        printUtf8("/*"); printUtf8If(content); printUtf8("*/")
        lastChar = '/'
      } else {
        printUtf8("// "); printUtf8If(content)
        lastChar = 1.toChar
      }
    } else {
      printCommentLines(content, os.compact)
      lastChar = '/'
    }
  }

  private def printUtf8If(s: String): Unit = if (s.nonEmpty) printUtf8(s)

  private def printCommentLines(content: String, compact: Boolean): Unit = {
    val stop = content.length
    val numSlashes = countNecessarySlashes(content)
    printSlashes(null, "*", numSlashes)
    var addSpaces = currentIndent + 1 + numSlashes
    if (!compact) {
      if (stop == 0 || content.charAt(0) != '\n') printWhiteSpaces(1)
      addSpaces += 1
    }
    val prevLineIndent = lineIndent
    lineIndent = addSpaces

    var line = 0
    var i = 0
    while (i < stop) {
      if (content.charAt(i) == '\n') {
        if (line > 0) {
          if (compact) printSlashes("*", "*", numSlashes)
          else {
            if (content.charAt(i - 1) == '\n' && i + 1 < stop) printNl()
            else printNlAndIndent()
          }
        }
        printUtf8If(content.substring(line, i))
        line = i + 1
      }
      i += 1
    }
    if (line == 0) {
      printUtf8If(content.substring(line, i))
    } else if (line < stop) {
      if (line > 0) {
        if (compact) printSlashes("*", "*", numSlashes)
        else printNlAndIndent()
      }
      printUtf8If(content.substring(line, i))
    }
    if (!compact) printWhiteSpaces(1)
    printSlashes("*", null, numSlashes)
    lastChar = '/'
    lineIndent = prevLineIndent
  }

  private def printElementNameAndAttributes(e: XElem): Int = {
    checkSpaceBeforeKey()
    if (e.nsPrefix != null) {
      printUtf8(e.nsPrefix)
      printChar(':')
    }
    printUtf8(e.name)
    if (e.attrs.nonEmpty || e.nsDefs.nonEmpty) {
      printChar('(')
      printAttributes(e)
      printChar(')')
    }
    elemTotalULen(e)
  }

  private def printLeafNode(e: XElem): Unit = {
    printElementNameAndAttributes(e)
  }

  private def printKeyNode(e: XElem, align: Int): Unit = {
    printElementNameAndAttributes(e)
    if (!os.compact) {
      val len = currentIndent - lineIndent
      var pad = 1
      if (len < align) pad = 1 + align - len
      printWhiteSpaces(pad)
    }
    printChar('=')
    if (!os.compact) printWhiteSpaces(1)
    printValue(e.children, Level.ELEMENT_VALUE)
  }

  private def printElementWithChildren(e: XElem, align: Int): Unit = {
    printElementNameAndAttributes(e)
    checkSpaceBeforeOpeningBrace()
    printChar('{')
    lineIndent += os.addIndent
    printNodesList(e.children)
    lineIndent -= os.addIndent
    checkSpaceBeforeClosingBrace()
    printChar('}')
  }

  private def printDoctype(d: XDoctype): Unit = {
    checkSpaceBeforeKey()
    printUtf8("!DOCTYPE")
    if (!os.compact) printWhiteSpaces(1)
    printChar('=')
    if (!os.compact) printWhiteSpaces(1)
    var v = d.value
    if (os.compact) v = v.replace('\n', ' ')
    printValueText(v, 0, v.length, Level.ELEMENT_VALUE, alreadyCompounded = false, topCall = true)
  }

  private def printPiNode(p: XPi): Unit = {
    checkSpaceBeforeKey()
    printUtf8("?" + p.name)
    if (!os.compact) printWhiteSpaces(1)
    printChar('=')
    if (!os.compact) printWhiteSpaces(1)
    var content = TextUtil.potentiallyAddLeadingEndingSpace(p.content)
    if (os.compact) content = content.replace('\n', ' ')
    printValueText(content, 0, content.length, Level.ELEMENT_VALUE, alreadyCompounded = false, topCall = true)
  }

  // ---------- attributes ----------

  private def printAttributes(e: XElem): Unit = {
    var max = 0
    if (!os.compact) {
      var k = 0
      while (k < e.attrs.length) { max = math.max(max, attrTotalULen(e.attrs(k))); k += 1 }
      k = 0
      while (k < e.nsDefs.length) { max = math.max(max, nsTotalULen(e.nsDefs(k))); k += 1 }
    }
    val savedLineIndent = lineIndent
    lineIndent = currentIndent
    var k = 0
    while (k < e.attrs.length) { printAttribute(e.attrs(k), max); k += 1 }
    k = 0
    while (k < e.nsDefs.length) { printNsDeclaration(e.nsDefs(k), max); k += 1 }
    lineIndent = savedLineIndent
  }

  private def printAttribute(a: XAttr, align: Int): Unit = {
    checkSpaceBeforeAttribute()
    if (a.nsPrefix != null) { printUtf8(a.nsPrefix); printChar(':') }
    printUtf8(a.key)
    if (a.values != null && !Nodes.isSingleEmptyText(a.values)) {
      if (!os.compact) printWhiteSpaces(1 + align - attrTotalULen(a))
      printChar('=')
      if (!os.compact) printWhiteSpaces(1)
      printValue(a.values, Level.ATTR_VALUE)
    }
  }

  private def printNsDeclaration(ns: NsDef, align: Int): Unit = {
    checkSpaceBeforeAttribute()
    printUtf8("xmlns")
    if (ns.prefix != null) { printChar(':'); printUtf8(ns.prefix) }
    if (ns.href != null) {
      if (!os.compact) printWhiteSpaces(1 + align - nsTotalULen(ns))
      printChar('=')
      if (!os.compact) printWhiteSpaces(1)
      printValueText(ns.href, 0, ns.href.length, Level.ATTR_VALUE, alreadyCompounded = false, topCall = true)
    }
  }

  // ---------- value printing ----------

  /** print_value over a node list (children of key node / attr values),
    * at ELEMENT_VALUE or ATTR_VALUE level. */
  private def printValue(parts: collection.IndexedSeq[XNode], level: Int): Unit = {
    var isCompound = parts.length > 1
    var useDq = os.preferDoubleQuotes

    if (!isCompound && parts.length == 1 && !parts.head.isInstanceOf[XEntityRef]) {
      val s = contentOf(parts.head)
      if (s.nonEmpty) {
        isCompound = quoteNeedsCompounded(s, 0, s.length)
        useDq = compoundUseDq
      }
    }

    val oldLineIndent = lineIndent
    if (isCompound) {
      printChar('(')
      if (!os.compact) printWhiteSpaces(1)
      lineIndent = currentIndent
    }

    val lvl = if (isCompound) Level.enterCompound(level) else level
    var i = 0
    while (i < parts.length) {
      printValueInternal(parts(i), lvl, useDq, isCompound)
      i += 1
    }

    if (isCompound) {
      if (!os.compact) printWhiteSpaces(1)
      printChar(')')
    }
    lineIndent = oldLineIndent
  }

  private def contentOf(n: XNode): String = n match {
    case t: XText => t.content
    case _ => ""
  }

  private def printValueInternal(n: XNode, level: Int, useDq: Boolean, alreadyCompounded: Boolean): Unit =
    n match {
      case e: XEntityRef => printEntityNode(e)
      case t: XText =>
        // print_value_internal: straight to the text printer — the compound
        // decision was already made by printValue.
        printValueInternalText(t.content, 0, t.content.length, level, useDq, alreadyCompounded)
      case _ => // other node kinds don't appear in values
    }

  /** print_value over a raw string segment (doctype/pi/ns href + recursion). */
  private def printValueText(s: String, from: Int, to: Int, level: Int,
                             alreadyCompounded: Boolean, topCall: Boolean,
                             useDqIn: Boolean = os.preferDoubleQuotes): Unit = {
    // mirrors print_value(start..stop): first determine compound need
    var isCompound = false
    var useDq = useDqIn
    if (from < to) {
      isCompound = quoteNeedsCompounded(s, from, to)
      useDq = compoundUseDq
    }
    val oldLineIndent = lineIndent
    if (isCompound && !alreadyCompounded) {
      printChar('(')
      if (!os.compact) printWhiteSpaces(1)
      lineIndent = currentIndent
    }
    val lvl = if (isCompound && !alreadyCompounded) Level.enterCompound(level) else level
    printValueInternalText(s, from, to, lvl, useDq, isCompound || alreadyCompounded)
    if (isCompound && !alreadyCompounded) {
      if (!os.compact) printWhiteSpaces(1)
      printChar(')')
    }
    lineIndent = oldLineIndent
  }

  private def printAllWhitespace(s: String, from: Int, to: Int, level: Int): Unit = {
    var i = from
    while (i < to) {
      if (s.charAt(i) == ' ') {
        var j = i
        while (j < to && s.charAt(j) == ' ') j += 1
        checkSpaceBeforeQuote(level)
        printQuotedSpaces(j - i)
        i = j
      } else {
        checkSpaceBeforeEntityNode()
        i += printCharEntity(s, i)
      }
    }
  }

  /** find_next_char_that_needs_escape (string indexed). */
  private def findNextEscape(s: String, from: Int, to: Int, usingDq: Boolean): Int = {
    val compact = os.compact
    val q = if (usingDq) '"' else '\''
    var i = from
    if (i < to && s.charAt(i) == q && compact) return i
    var preStop = to - 1
    if (compact && preStop >= from && s.charAt(preStop) == q) {
      while (preStop > from && s.charAt(preStop) == q) preStop -= 1
      preStop += 1
    }
    while (i < to) {
      val c = s.charAt(i)
      if (compact && c == q && i == preStop) return i
      if (os.escapeNewlines && c == '\n') return i
      if (os.escapeNon7bit && c > 126) return i
      if (c < 32 && c != '\t' && c != '\n') return i
      if (c == '\t' && os.escapeTabs) return i
      i += 1
    }
    i
  }

  private def printValueInternalText(s: String, from0: Int, to0: Int, level: Int,
                                     usingDq: Boolean, alreadyCompounded: Boolean): Unit = {
    var from = from0
    var to = to0

    if (from >= to) {
      checkSpaceBeforeQuote(level)
      printUtf8("''")
      return
    }

    if (hasAllQuotes(s, from, to)) {
      checkSpaceBeforeQuote(level)
      val isDq = s.charAt(from) == '"'
      printQuotes(1, !isDq)
      printQuotes(to - from, isDq)
      printQuotes(1, !isDq)
      return
    }

    if (isAllXmlWhitespace(s, from, to)) {
      if (allChars(s, from, to, ' ')) {
        checkSpaceBeforeQuote(level)
        printQuotedSpaces(to - from)
        return
      }
      if (allChars(s, from, to, '\n') && !os.compact && (to - from) > 1) {
        // all newlines, more than one: handled by quote printing below
      } else {
        printAllWhitespace(s, from, to, level)
        return
      }
    }

    if (isXmqTextValue(s, from, to) && (level == Level.ELEMENT_VALUE || level == Level.ATTR_VALUE)) {
      printUtf8(s.substring(from, to))
      return
    }

    val newStart = leadingMixedNlSpace(s, from, to)
    if (newStart != -1) {
      printAllWhitespace(s, from, newStart, level)
      from = newStart
    }

    val oldStop = to
    val newStop = endingMixedNlSpace(s, from, to)
    if (newStop != -1) {
      to = newStop
      while (to < oldStop && s.charAt(to) == ' ') to += 1
    }

    var i = from
    while (i < to) {
      val esc = findNextEscape(s, i, to, usingDq)
      if (i == esc) {
        checkSpaceBeforeEntityNode()
        i += printCharEntity(s, i)
        // Special case (xmq_printer.c:1457-1466): after an escaped char,
        // escape any immediately following newline(s) as well (CR LF).
        while (i < to && s.charAt(i) == '\n') {
          checkSpaceBeforeEntityNode()
          i += printCharEntity(s, i)
        }
      } else {
        quoteNeeds(s, i, esc)
        if (!qAddCompound && (!qAddNls || !os.compact)) {
          checkSpaceBeforeQuote(level)
          printSafeLeafQuote(s, i, esc, qNum, qAddNls, qUseDq)
        } else {
          printValueText(s, i, esc, level, alreadyCompounded, topCall = false, qUseDq)
        }
        i = esc
      }
    }

    if (newStop != -1) {
      printAllWhitespace(s, to, oldStop, level)
    }
  }

  /** print_safe_leaf_quote, given count_necessary_quotes of s(from until to). */
  private def printSafeLeafQuote(s: String, from: Int, to: Int,
                                 numq0: Int, addNls0: Boolean, useDq: Boolean): Unit = {
    val compact = os.compact
    var numq = numq0
    var addNls = addNls0
    var indent = currentIndent

    if (numq > 0 && !addNls) {
      if (numq < 4 || compact) indent += numq
      else addNls = true
    }
    if (numq == 0) numq = 1

    var oldLineIndent = 0
    if (addNls) {
      oldLineIndent = lineIndent
      lineIndent = currentIndent
    }
    printQuotes(numq, useDq)
    if (!addNls) {
      oldLineIndent = lineIndent
      lineIndent = currentIndent
    }
    if (addNls) printNlAndIndent()

    printQuoteLines(s, from, to)

    if (!addNls) lineIndent = oldLineIndent
    if (addNls) printNlAndIndent()
    printQuotes(numq, useDq)
    if (addNls) lineIndent = oldLineIndent
  }

  /** print_quote_lines_and_color_uwhitespace (plain theme). */
  private def printQuoteLines(s: String, from: Int, to: Int): Unit = {
    if (s.charAt(from) == '\n') printNl()
    var allNewlines = true
    var i = from
    while (i < to) {
      val c = s.charAt(i)
      if (c == '\n') {
        if (i + 1 < to && s.charAt(i + 1) != '\n') printNlAndIndent()
        else printNl()
        i += 1
      } else {
        // the run up to the next newline: indent counts its code points
        var j = i + 1
        while (j < to && s.charAt(j) != '\n') j += 1
        sb.append(s, i, j)
        lastChar = lastCodePointStart(s, i, j)
        currentIndent += Character.codePointCount(s, i, j)
        i = j
        allNewlines = false
      }
    }
    if (s.charAt(to - 1) == '\n') {
      lineIndent -= 1
      if (!allNewlines) printNlAndIndent()
      else {
        currentIndent = 0
        lastChar = 0
        printWhiteSpaces(lineIndent)
      }
      lineIndent += 1
    }
  }
}

object XmqPrinter {
  def print(doc: XDoc, compact: Boolean = false): String =
    print(doc, XmqSettings(compact = compact))

  def print(doc: XDoc, settings: XmqSettings): String =
    PrintBuffer.print(printTo(doc, settings, _))

  def printTo(doc: XDoc, settings: XmqSettings, sb: java.lang.StringBuilder): Unit =
    new XmqPrinter(settings, sb).printDoc(doc)

  private val Spaces = " " * 64
}
