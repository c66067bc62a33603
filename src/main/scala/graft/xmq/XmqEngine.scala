package graft.xmq

import java.nio.charset.StandardCharsets

/** Engine facade replicating the reference CLI pipeline semantics
  * (load → per-document transforms → to-* output), used by the Catalyst
  * expressions and by the fixture test harness.
  */
object XmqEngine {

  final case class ParseFlags(forced: Xmq.ContentType = null,
                              trim: String = "default", // default|none|heuristic
                              nomerge: Boolean = false,
                              implicitRoot: String = null)

  /** Parse content into a tree per xmqParseBufferWithType (xmq.c:4502-4586).
    * Forced xmq is tokenized from the bytes without decoding them. */
  def parse(bytes0: Array[Byte], flags: ParseFlags = ParseFlags()): XDoc = {
    val bytes = Xmq.stripBom(bytes0)
    if (flags.forced == Xmq.XMQ) parseAs(Xmq.XMQ, null, bytes, flags)
    else {
      val content = new String(bytes, StandardCharsets.UTF_8)
      parseAs(if (flags.forced != null) flags.forced else Xmq.detect(content), content, bytes, flags)
    }
  }

  /** `parse` of already-decoded content: a leading U+FEFF is the BOM. */
  def parseText(content0: String, flags: ParseFlags = ParseFlags()): XDoc = {
    val content = if (content0.startsWith("\uFEFF")) content0.substring(1) else content0
    parseAs(if (flags.forced != null) flags.forced else Xmq.detect(content), content, null, flags)
  }

  /** parse as `ct`; content (null only for xmq) and bytes (null: encode
    * content) are the same BOM-less text. */
  private def parseAs(ct: Xmq.ContentType, content: String, bytes: Array[Byte],
                      flags: ParseFlags): XDoc = {
    val doc = ct match {
      case Xmq.XMQ =>
        XmqBuilder.parse(if (bytes != null) bytes else content.getBytes(StandardCharsets.UTF_8),
          flags.implicitRoot, mergeText = !flags.nomerge)
      case Xmq.XML => XmlParser.parse(content, html = false)
      case Xmq.HTML => XmlParser.parse(content, html = true)
      case Xmq.JSON => JsonParser.parse(content, flags.implicitRoot)
      case Xmq.TEXT =>
        val d = new XDoc
        if (flags.implicitRoot != null) {
          val r = new XElem(flags.implicitRoot)
          r.appendChild(new XText(content))
          d.appendChild(r)
        } else d.appendChild(new XText(content))
        d
    }

    val shouldTrim =
      flags.trim match {
        case "none" => false
        case "heuristic" | "exact" => true
        case _ => ct == Xmq.XML || ct == Xmq.HTML
      }
    if (shouldTrim) trimWhitespace(doc)
    doc
  }

  /** xmqTrimWhitespace (xmq.c:3410-3495): drop all-ws text nodes, untrim the rest. */
  def trimWhitespace(doc: XDoc): Unit = {
    def trimList(list: scala.collection.mutable.ArrayBuffer[XNode]): Unit = {
      var i = 0
      while (i < list.length) {
        list(i) match {
          case t: XText =>
            if (TextUtil.isAllXmlWhitespace(t.content)) { list.remove(i); i -= 1 }
            else {
              val trimmed = Trim.unQuote(t.content, removeQs = false, isXmq = false)
              if (trimmed.isEmpty) { list.remove(i); i -= 1 }
              else t.content = trimmed
            }
          case c: XComment =>
            var s = c.content
            if (TextUtil.isAllXmlWhitespace(s)) { list.remove(i); i -= 1 }
            else {
              var from = 0; var to = s.length
              while (from < to && s.charAt(from) == ' ') from += 1
              while (to > from && s.charAt(to - 1) == ' ') to -= 1
              val trimmed = Trim.trimQuote(s, from, to, isXmq = false, isComment = false)
              if (trimmed.isEmpty) { list.remove(i); i -= 1 }
              else c.content = trimmed
            }
          case e: XElem => trimList(e.children)
          case _ =>
        }
        i += 1
      }
    }
    trimList(doc.children)
  }

  def toXmq(doc: XDoc, compact: Boolean = false): String = XmqPrinter.print(doc, compact)
  def toXmq(doc: XDoc, settings: XmqSettings): String = XmqPrinter.print(doc, settings)
  def toXml(doc: XDoc): String = XmlPrinter.printXml(doc)
  def toHtml(doc: XDoc): String = HtmlPrinter.printHtml(doc)
  def toJson(doc: XDoc): String = JsonPrinter.print(doc)

  /** to-text: concatenated text-node content (xmq.c:3152-3196). */
  def toText(doc: XDoc): String = {
    val sb = new StringBuilder
    def walk(n: XNode): Unit = n match {
      case t: XText => sb.append(t.content)
      case r: XEntityRef => sb.append("<ENTITY>").append(r.name)
      case e: XElem => e.children.foreach(walk)
      case _ =>
    }
    doc.children.foreach(walk)
    sb.toString
  }

  /** to-clines: one /path="content" line per text node / attribute (xmq.c:3198-3317). */
  def toClines(doc: XDoc): String = {
    val sb = new StringBuilder
    def xpath(e: XElem): String = {
      if (e == null) ""
      else xpath(e.parent) + "/" + e.name
    }
    def walk(n: XNode): Unit = n match {
      case e: XElem =>
        e.attrs.foreach { a =>
          sb.append(xpath(e)).append("/@")
          if (a.nsPrefix != null) sb.append(a.nsPrefix).append(':')
          sb.append(a.key).append('=')
          if (a.values != null) sb.append('"').append(TextUtil.quoteAsC(a.stringValue)).append('"')
          else sb.append("\"\"")
          sb.append('\n')
        }
        if (e.children.nonEmpty) e.children.foreach(walk)
        else sb.append(xpath(e)).append("=\"\"\n")
      case t: XText =>
        sb.append(xpath(t.parent)).append("=\"").append(TextUtil.quoteAsC(t.content)).append("\"\n")
      case _ =>
    }
    doc.children.foreach(walk)
    sb.toString
  }
}
