package graft.xmq

/** XML/HTML serializers byte-matching libxml2's unformatted output
  * (xmlDocDumpMemoryEnc / htmlDocContentDumpOutput) for the corpus:
  * - XML decl + one newline after each top-level node
  * - text escapes & < > and CR; attributes escape & < > " and \n \r \t
  * - comment -- escaping via U+2410 applied before writeout
  *   (xmq.c:3565-3650 escape_xml_comment)
  * - html: void elements never self-close, boolean attrs have no value,
  *   script/style content raw, block-ish formatting newlines per libxml2
  */
object XmlPrinter {

  def printXml(doc: XDoc, withDecl: Boolean = true): String =
    PrintBuffer.print(writeXml(doc, withDecl, _))

  def writeXml(doc: XDoc, withDecl: Boolean, sb: java.lang.StringBuilder): Unit = {
    if (withDecl) {
      sb.append("<?xml version=\"1.0\" encoding=\"utf-8\"")
      if (doc.standalone == 1) sb.append(" standalone=\"yes\"")
      else if (doc.standalone == 0) sb.append(" standalone=\"no\"")
      sb.append("?>\n")
    }
    var i = 0
    while (i < doc.children.length) {
      writeNode(sb, doc.children(i))
      sb.append('\n')
      i += 1
    }
  }

  private def writeNode(sb: java.lang.StringBuilder, n: XNode): Unit = n match {
    case t: XText => appendEscaped(sb, t.content, Text)
    case r: XEntityRef => sb.append('&').append(r.name).append(';')
    case c: XComment => sb.append("<!--"); appendComment(sb, c.content); sb.append("-->")
    case p: XPi =>
      sb.append("<?").append(p.name)
      if (p.content != null && p.content.nonEmpty) sb.append(' ').append(p.content)
      sb.append("?>")
    case d: XDoctype => sb.append("<!DOCTYPE ").append(d.value).append('>')
    case e: XElem => writeElement(sb, e)
  }

  private def writeElement(sb: java.lang.StringBuilder, e: XElem): Unit = {
    sb.append('<')
    if (e.nsPrefix != null) sb.append(e.nsPrefix).append(':')
    sb.append(e.name)
    writeNsDefs(sb, e)
    var k = 0
    while (k < e.attrs.length) {
      val a = e.attrs(k)
      sb.append(' ')
      if (a.nsPrefix != null) sb.append(a.nsPrefix).append(':')
      sb.append(a.key)
      sb.append("=\"")
      if (a.values != null) writeAttrValue(sb, a)
      sb.append('"')
      k += 1
    }
    if (e.children.isEmpty) { sb.append("/>"); return }
    sb.append('>')
    k = 0
    while (k < e.children.length) { writeNode(sb, e.children(k)); k += 1 }
    sb.append("</")
    if (e.nsPrefix != null) sb.append(e.nsPrefix).append(':')
    sb.append(e.name).append('>')
  }

  private[xmq] def writeNsDefs(sb: java.lang.StringBuilder, e: XElem): Unit = {
    var k = 0
    while (k < e.nsDefs.length) {
      val ns = e.nsDefs(k)
      sb.append(" xmlns")
      if (ns.prefix != null) sb.append(':').append(ns.prefix)
      sb.append("=\"")
      if (ns.href != null) appendEscaped(sb, ns.href, Attr)
      sb.append('"')
      k += 1
    }
  }

  private[xmq] def writeAttrValue(sb: java.lang.StringBuilder, a: XAttr): Unit = {
    var k = 0
    while (k < a.values.length) {
      a.values(k) match {
        case t: XText => appendEscaped(sb, t.content, Attr)
        case r: XEntityRef => sb.append('&').append(r.name).append(';')
        case _ =>
      }
      k += 1
    }
  }

  /** escape modes: xml text escapes & < > and CR; attributes also " and
    * \n \r \t; html text only & < >. */
  private[xmq] final val Text = 0
  private[xmq] final val Attr = 1
  private[xmq] final val HtmlText = 2

  /** per char below '?': bit (1 << mode) is set when that mode escapes it. */
  private val EscapedIn: Array[Byte] = {
    val t = new Array[Byte]('?')
    "&<>".foreach(c => t(c) = ((1 << Text) | (1 << Attr) | (1 << HtmlText)).toByte)
    t('\r') = ((1 << Text) | (1 << Attr)).toByte
    "\"\n\t".foreach(c => t(c) = (1 << Attr).toByte)
    t
  }

  /** append `s` escaped per `mode`, copying the runs between escapes in bulk. */
  private[xmq] def appendEscaped(sb: java.lang.StringBuilder, s: String, mode: Int): Unit = {
    val bit = 1 << mode
    var run = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < '?' && (EscapedIn(c) & bit) != 0) {
        if (run < i) sb.append(s, run, i)
        sb.append(c match {
          case '&' => "&amp;"
          case '<' => "&lt;"
          case '>' => "&gt;"
          case '\r' => "&#13;"
          case '"' => "&quot;"
          case '\n' => "&#10;"
          case _ => "&#9;"
        })
        run = i + 1
      }
      i += 1
    }
    if (run == 0) sb.append(s) else if (run < s.length) sb.append(s, run, s.length)
  }

  /** escape_xml_comment: each "--" gets a ␐ inserted; existing -␐ doubled. */
  private[xmq] def appendComment(sb: java.lang.StringBuilder, s: String): Unit = {
    var run = 0
    var i = 0
    while (i + 1 < s.length) {
      if (s.charAt(i) == '-' && (s.charAt(i + 1) == '-' || s.charAt(i + 1) == '␐')) {
        sb.append(s, run, i + 1).append('␐')
        run = i + 1
      }
      i += 1
    }
    if (run == 0) sb.append(s) else if (run < s.length) sb.append(s, run, s.length)
  }
}

object HtmlPrinter {

  import XmlParser.{VoidElements, RawTextElements}

  /** html 4.0 element table tags known to libxml2 (htmlElemDesc). */
  private val KnownTags: Set[String] = Set(
    "a", "abbr", "acronym", "address", "applet", "area", "b", "base",
    "basefont", "bdo", "big", "blockquote", "body", "br", "button", "caption",
    "center", "cite", "code", "col", "colgroup", "dd", "del", "dfn", "dir",
    "div", "dl", "dt", "em", "embed", "fieldset", "font", "form", "frame",
    "frameset", "h1", "h2", "h3", "h4", "h5", "h6", "head", "hr", "html",
    "i", "iframe", "img", "input", "ins", "isindex", "kbd", "label", "legend",
    "li", "link", "map", "menu", "meta", "noframes", "noscript", "object",
    "ol", "optgroup", "option", "p", "param", "pre", "q", "s", "samp",
    "script", "select", "small", "span", "strike", "strong", "style", "sub",
    "sup", "table", "tbody", "td", "textarea", "tfoot", "th", "thead",
    "title", "tr", "tt", "u", "ul", "var")

  /** isinline==1 entries of the same table. */
  private val InlineTags: Set[String] = Set(
    "a", "abbr", "acronym", "applet", "b", "basefont", "bdo", "big", "br",
    "button", "cite", "code", "del", "dfn", "em", "font", "i", "iframe",
    "img", "input", "ins", "kbd", "label", "map", "object", "q", "s", "samp",
    "select", "small", "span", "strike", "strong", "sub", "sup", "textarea",
    "tt", "u", "var")

  /** known, non-inline tags: the ones the html formatting breaks around. */
  private val BlockTags: Set[String] = KnownTags -- InlineTags

  private def isBlockKnown(name: String): Boolean = BlockTags.contains(name)

  def printHtml(doc: XDoc): String = PrintBuffer.print(writeHtml(doc, _))

  def writeHtml(doc: XDoc, sb: java.lang.StringBuilder): Unit = {
    var i = 0
    while (i < doc.children.length) {
      writeNode(sb, doc.children(i))
      sb.append('\n')
      i += 1
    }
  }

  private def isTextual(n: XNode): Boolean =
    n.isInstanceOf[XText] || n.isInstanceOf[XEntityRef]

  private def isBlockChild(n: XNode): Boolean = n match {
    case e: XElem => isBlockKnown(e.name)
    case _ => false
  }

  private def writeNode(sb: java.lang.StringBuilder, n: XNode): Unit = n match {
    case t: XText => XmlPrinter.appendEscaped(sb, t.content, XmlPrinter.HtmlText)
    case r: XEntityRef => sb.append('&').append(r.name).append(';')
    case c: XComment => sb.append("<!--"); XmlPrinter.appendComment(sb, c.content); sb.append("-->")
    case p: XPi =>
      sb.append("<?").append(p.name)
      if (p.content != null && p.content.nonEmpty) sb.append(' ').append(p.content)
      sb.append(">") // libxml2 html PIs close with > not ?>
    case d: XDoctype => sb.append("<!DOCTYPE ").append(d.value).append('>')
    case e: XElem => writeElement(sb, e)
  }

  private def writeElement(sb: java.lang.StringBuilder, e: XElem): Unit = {
    sb.append('<')
    if (e.nsPrefix != null) sb.append(e.nsPrefix).append(':')
    sb.append(e.name)
    XmlPrinter.writeNsDefs(sb, e)
    var k = 0
    while (k < e.attrs.length) {
      val a = e.attrs(k)
      sb.append(' ')
      if (a.nsPrefix != null) sb.append(a.nsPrefix).append(':')
      sb.append(a.key)
      if (a.values != null) {
        sb.append("=\"")
        XmlPrinter.writeAttrValue(sb, a)
        sb.append('"')
      }
      k += 1
    }
    sb.append('>')
    if (VoidElements.contains(e.name)) return
    val children = e.children
    // libxml2 htmlNodeDumpFormatOutput format=1: newline after the opening tag
    // of a known non-inline element whose multiple children start non-textual.
    // The p-initial exclusion is on the PARENT (p/pre/param get no inner
    // newlines), not on the first child — probed: <body><p>.. breaks after
    // <body>, while <p><code>..<section>.. does not break after <p>.
    val formats = children.length > 1 && !(e.name.nonEmpty && e.name.charAt(0) == 'p') &&
      BlockTags.contains(e.name)
    if (formats && !isTextual(children.head)) sb.append('\n')
    if (RawTextElements.contains(e.name)) {
      // fixup_html (xmq.c:3680-3698): inside cdata-declared elements entity
      // refs are decoded into raw text before writeout.
      children.foreach {
        case t: XText => sb.append(t.content) // unescaped
        case r: XEntityRef =>
          val cp = TextUtil.decodeEntityRef(r.name)
          if (cp > 0) sb.appendCodePoint(cp)
        case other => writeNode(sb, other)
      }
    } else {
      k = 0
      while (k < children.length) {
        val c = children(k)
        writeNode(sb, c)
        // newline after a known non-inline child when the next sibling is
        // non-textual (and the parent is not a p* element)
        if (k + 1 < children.length && !(e.name.nonEmpty && e.name.charAt(0) == 'p') &&
            !isTextual(children(k + 1)) && isBlockChild(c)) sb.append('\n')
        k += 1
      }
    }
    if (formats && !isTextual(children.last)) sb.append('\n')
    sb.append("</")
    if (e.nsPrefix != null) sb.append(e.nsPrefix).append(':')
    sb.append(e.name).append('>')
  }
}
