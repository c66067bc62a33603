package graft.xmq

import scala.collection.mutable.ArrayBuffer

/** xmq tree → JSON printer. Re-expression of
  * /root/reference/src/main/c/parts/json.c:863-1621: duplicate sibling keys
  * get [i] suffixes, "A"/"S"/"_" markers honored, comments → "//" keys,
  * doctype → "!DOCTYPE", standalone text → "|" keys, entities → "&" keys.
  */
object JsonPrinter {

  def print(doc: XDoc): String = PrintBuffer.print(printTo(doc, _))

  /** print into `sb`; the conversion-loss warnings are dropped. */
  def printTo(doc: XDoc, sb: java.lang.StringBuilder): Unit = {
    fixupJson(doc)
    new JsonPrinter(sb).printTop(doc)
  }

  /** print + the conversion-loss warnings (reference: stderr, so the CLI
    * shows them before the buffered json). */
  def printCollect(doc: XDoc): (String, Seq[String]) = {
    fixupJson(doc)
    var warnings: Seq[String] = Nil
    val out = PrintBuffer.print { sb =>
      val p = new JsonPrinter(sb)
      p.printTop(doc)
      warnings = p.warnings
    }
    (out, warnings)
  }

  /** fixup_json: collapse multi text/charentity children into one text node. */
  def fixupJson(doc: XDoc): Unit = {
    var i = 0
    while (i < doc.children.length) {
      doc.children(i) match {
        case e: XElem => fix(e)
        case _ =>
      }
      i += 1
    }
  }

  private def fix(e: XElem): Unit = {
    val collapsed = collapseText(e)
    if (collapsed != null) {
      e.children.clear()
      e.appendChild(new XText(collapsed))
    } else {
      var i = 0
      while (i < e.children.length) {
        e.children(i) match {
          case c: XElem => fix(c)
          case _ =>
        }
        i += 1
      }
    }
  }

  /** xml.c xml_collapse_text: null when not collapsible / already collapsed. */
  private def collapseText(e: XElem): String = {
    val cs = e.children
    var numText = 0
    var numEntities = 0
    var i = 0
    while (i < cs.length) {
      cs(i) match {
        case _: XText => numText += 1
        case _: XEntityRef => numEntities += 1
        case _ => return null
      }
      i += 1
    }
    if (numText <= 1 && numEntities == 0) return null
    val sb = new java.lang.StringBuilder
    i = 0
    while (i < cs.length) {
      cs(i) match {
        case t: XText => sb.append(t.content)
        case r: XEntityRef =>
          val cp = TextUtil.decodeEntityRef(r.name)
          if (cp > 0) sb.appendCodePoint(cp)
        case _ =>
      }
      i += 1
    }
    sb.toString
  }
}

final class JsonPrinter(sb: java.lang.StringBuilder) {
  private var lastChar: Char = 0
  private var warningList: List[String] = Nil

  /** conversion-loss diagnostics (reference PRINT_WARNING → stderr). */
  def warnings: Seq[String] = warningList.reverse

  private def w(s: String): Unit = {
    sb.append(s)
    if (s.nonEmpty) lastChar = s.charAt(s.length - 1)
  }

  private def checkComma(): Unit = {
    val c = lastChar
    if (c == 0) return
    if (c != '{' && c != '[' && c != ',') { sb.append(','); lastChar = ',' }
  }

  /** `"` + quoteAsC(s) + `"` */
  private def quoted(s: String): Unit = {
    sb.append('"')
    TextUtil.appendQuotedAsC(sb, s)
    sb.append('"')
    lastChar = '"'
  }

  def printTop(doc: XDoc): Unit = {
    // collect leading doctype/comments and trailing comments
    val nodes = doc.children
    var first = 0
    var last = nodes.length - 1
    var numComments = 0
    while (first <= last && (nodes(first).isInstanceOf[XDoctype] || nodes(first).isInstanceOf[XComment])) {
      if (nodes(first).isInstanceOf[XComment]) numComments += 1
      first += 1
    }
    val preNodes = nodes.slice(0, first)
    val postNodes = new ArrayBuffer[XNode]()
    while (last > first && nodes(last).isInstanceOf[XComment]) {
      postNodes += nodes(last)
      numComments += 1
      last -= 1
    }
    printObjectNodes(null, nodes, first, last + 1, preNodes, postNodes, numComments)
    sb.append('\n')
  }

  /** json_print_object_nodes over nodes(from until until), with the
    * duplicate-key counter: a name that occurs `total` > 1 times prints as
    * name[used]. preNodes/postNodes are the document's leading and
    * trailing nodes, printed inside the first/last node's braces. */
  private def printObjectNodes(container: XElem, nodes: collection.IndexedSeq[XNode],
                               from: Int, until: Int,
                               preNodes: collection.Seq[XNode] = Nil,
                               postNodes: collection.Seq[XNode] = Nil,
                               prePostComments: Int = 0): Unit = {
    // name -> (total, used so far)
    val counts = new java.util.HashMap[String, Array[Int]]
    var j = from
    while (j < until) {
      val name = Nodes.jsonCountName(nodes(j))
      if (name != null && name != "_") {
        val c = counts.get(name)
        if (c == null) counts.put(name, Array(1, 0)) else c(0) += 1
      }
      j += 1
    }
    var idx = from
    while (idx < until) {
      val n = nodes(idx)
      val name = Nodes.jsonCountName(n)
      var total = 1
      var used = 0
      if (name != null && name != "_") {
        val c = counts.get(name)
        total = c(0); used = c(1); c(1) += 1
      }
      printNode(container, n, total, used,
        if (idx == from) preNodes else Nil,
        if (idx == until - 1) postNodes else Nil, prePostComments)
      idx += 1
    }
  }

  private def printArrayNodes(nodes: collection.IndexedSeq[XNode]): Unit = {
    var k = 0
    while (k < nodes.length) {
      checkComma()
      nodes(k) match {
        case e: XElem =>
          val forceString = e.attrOrNull("S") != null
          val content = singleTextContent(e)
          val isNum = content != null && JsonParser.jsonIsNumber(content)
          val isKw = content != null && JsonParser.jsonIsKeyword(content)
          if ((forceString || isNum || isKw) && e.children.nonEmpty)
            printValue(e.children, forceString)
          else printNode(null, e, 1, 0)
        case other => printNode(null, other, 1, 0)
      }
      k += 1
    }
  }

  private def singleTextContent(e: XElem): String =
    if (e.children.length == 1) e.children.head match {
      case t: XText => t.content
      case _ => null
    } else null

  private def hasAttrOtherThanAS_(e: XElem): Boolean = {
    var k = 0
    while (k < e.attrs.length) {
      val key = e.attrs(k).key
      if (key != "A" && key != "S" && key != "_") return true
      k += 1
    }
    false
  }

  private def printNode(container: XElem, node: XNode, total: Int, used: Int,
                        preNodes: collection.Seq[XNode] = Nil,
                        postNodes: collection.Seq[XNode] = Nil,
                        prePostComments: Int = 0): Unit = node match {
    case c: XComment => printCommentNode(c, prefixUl = false, total, used)
    case t: XText => printStandaloneQuote(t, total, used)
    case r: XEntityRef => printEntityNode(r)
    case e: XElem =>
      if (Nodes.isLeaf(e) && container != null) printLeafNode(container, e, total, used)
      else if (Nodes.isKeyValueNode(e) && (e.attrs.isEmpty || !hasAttrOtherThanAS_(e)))
        printKeyNode(container, e, total, used, e.attrOrNull("S") != null)
      else if (e.attrOrNull("A") != null) {
        // json.c:993-1004: arrays drop the element name (top level) and any
        // non-marker attributes — warn like PRINT_WARNING does
        if (e.name != "_" && container == null)
          warningList ::= s"""xmq: Warning! The element name "${e.name}" is lost when converted to an unnamed json array!"""
        if (hasAttrOtherThanAS_(e))
          warningList ::= s"""xmq: Warning! The element "${e.name}" loses its attributes when converted to a json array!"""
        printArrayWithChildren(container, e)
      }
      else printElementWithChildren(container, e, total, used, preNodes, postNodes, prePostComments)
    case d: XDoctype => printDoctypeNode(d)
    case _ =>
  }

  private def printValue(parts: collection.IndexedSeq[XNode], forceString: Boolean): Unit = {
    val content = parts.head match {
      case t: XText => t.content
      case _ => null
    }
    if (parts.length == 1 && !forceString && content != null &&
        (JsonParser.jsonIsNumber(content) || JsonParser.jsonIsKeyword(content))) {
      w(content)
    } else {
      sb.append('"')
      var k = 0
      while (k < parts.length) {
        parts(k) match {
          case r: XEntityRef => sb.append('&').append(r.name).append(';')
          case t: XText => TextUtil.appendQuotedAsC(sb, t.content)
          case _ =>
        }
        k += 1
      }
      sb.append('"')
      lastChar = '"'
    }
  }

  private def printElementName(e: XElem, total: Int, used: Int): Unit = {
    sb.append('"')
    if (e.nsPrefix != null) sb.append(e.nsPrefix).append(':')
    if (e.name != "_") sb.append(e.name)
    else {
      val a = e.attrOrNull("_")
      if (a != null) TextUtil.appendQuotedAsC(sb, a.stringValue)
    }
    if (total > 1) sb.append('[').append(used).append(']')
    sb.append('"')
    lastChar = '"'
  }

  private def printAttributes(e: XElem): Unit = {
    var k = 0
    while (k < e.attrs.length) {
      val a = e.attrs(k)
      if (a.key != "_") {
        checkComma()
        sb.append("\"_")
        if (a.nsPrefix != null) sb.append(a.nsPrefix).append(':')
        TextUtil.appendQuotedAsC(sb, a.key)
        sb.append("\":")
        if (a.values != null) quoted(a.stringValue) else w("null")
      }
      k += 1
    }
    k = 0
    while (k < e.nsDefs.length) {
      val ns = e.nsDefs(k)
      checkComma()
      sb.append("\"_xmlns")
      if (ns.prefix != null) sb.append(':').append(ns.prefix)
      sb.append("\":")
      if (ns.href != null) { sb.append('"').append(ns.href).append('"'); lastChar = '"' }
      else w("null")
      k += 1
    }
  }

  private def printElementWithChildren(container: XElem, e: XElem, total: Int, used: Int,
                                       preNodes: collection.Seq[XNode], postNodes: collection.Seq[XNode],
                                       prePostComments: Int): Unit = {
    checkComma()
    if (container != null) {
      printElementName(e, total, used)
      sb.append(':')
    }
    sb.append('{')
    lastChar = '{'

    var prePostUsed = 0
    if (container == null) {
      preNodes.foreach {
          case d: XDoctype => printDoctypeNode(d)
          case c: XComment =>
            printCommentNode(c, prefixUl = true, prePostComments, prePostUsed); prePostUsed += 1
          case _ =>
      }
    }

    if (container == null && e.name != "_") {
      checkComma()
      sb.append("\"_\":")
      lastChar = ':'
      printElementName(e, total, used)
    }
    printAttributes(e)
    printObjectNodes(e, e.children, 0, e.children.length)

    if (container == null) {
      postNodes.foreach {
          case c: XComment =>
            printCommentNode(c, prefixUl = true, prePostComments, prePostUsed); prePostUsed += 1
          case _ =>
      }
    }
    sb.append('}')
    lastChar = '}'
  }

  private def printArrayWithChildren(container: XElem, e: XElem): Unit = {
    checkComma()
    if (container != null) {
      printElementName(e, 1, 0)
      sb.append(':')
    }
    sb.append('[')
    lastChar = '['
    printArrayNodes(e.children)
    sb.append(']')
    lastChar = ']'
  }

  private def printKeyNode(container: XElem, e: XElem, total: Int, used: Int,
                           forceString: Boolean): Unit = {
    checkComma()
    if (container != null) {
      printElementName(e, total, used)
      sb.append(':')
      lastChar = ':'
    }
    printValue(e.children, forceString)
  }

  private def printLeafNode(container: XElem, e: XElem, total: Int, used: Int): Unit = {
    checkComma()
    if (e.name != null && e.name != "_") {
      printElementName(e, total, used)
      sb.append(':')
    }
    if (e.attrOrNull("A") != null) { sb.append("[]"); lastChar = ']' }
    else if (e.attrs.nonEmpty || e.nsDefs.nonEmpty) {
      sb.append('{'); lastChar = '{'
      printAttributes(e)
      sb.append('}'); lastChar = '}'
    } else { sb.append("{}"); lastChar = '}' }
  }

  private def printCommentNode(c: XComment, prefixUl: Boolean, total: Int, used: Int): Unit = {
    checkComma()
    sb.append(if (prefixUl) "\"_//" else "\"//")
    if (total > 1) sb.append('[').append(used).append(']')
    sb.append("\":")
    quoted(c.content)
  }

  private def printDoctypeNode(d: XDoctype): Unit = {
    checkComma()
    sb.append("\"!DOCTYPE\":")
    quoted(d.value)
  }

  private def printEntityNode(r: XEntityRef): Unit = {
    checkComma()
    sb.append("\"&\":\"&").append(r.name).append(";\"")
    lastChar = '"'
  }

  private def printStandaloneQuote(t: XText, total: Int, used: Int): Unit = {
    checkComma()
    sb.append("\"|")
    if (total > 1) sb.append('[').append(used).append(']')
    sb.append("\":")
    quoted(t.content)
  }
}
