package graft.xmq

import scala.collection.mutable.ArrayBuffer

/** Document tree for the xmq engine.
  *
  * Mirrors the reference's node model (libxmq keeps a libxml2 DOM,
  * see /root/reference/src/main/c/parts/xmq_internals.h:121-142) but as a
  * plain Scala ADT: element / text / entity-ref / comment / PI / doctype
  * nodes, attributes with (text|entity) value parts, namespace declarations.
  *
  * Mutable during build (parsers append children); treated as immutable
  * once a parse completes.
  */
object NodeKind {
  val Element = 1
  val Text = 2
  val EntityRef = 3
  val Comment = 4
  val Pi = 5
  val Doctype = 6
}

sealed trait XNode {
  var parent: XElem = null
}

final class XElem(var name: String, var nsPrefix: String = null) extends XNode {
  // small initial arrays: most elements have a few attributes and children
  // and no namespace declarations (ArrayBuffer's default holds 16)
  val attrs = new ArrayBuffer[XAttr](2)
  val nsDefs = new ArrayBuffer[NsDef](1)
  val children = new ArrayBuffer[XNode](4)

  def appendChild(n: XNode): Unit = { n.parent = this; children += n }

  /** Append text merging with a previous text sibling (libxml2 xmlAddChild semantics). */
  def appendText(content: String, merge: Boolean = true): Unit = {
    if (merge && children.nonEmpty) {
      children.last match {
        case t: XText => t.content += content; return
        case _ =>
      }
    }
    appendChild(new XText(content))
  }

  /** the un-prefixed attribute `key`, or null. */
  def attrOrNull(key: String): XAttr = {
    var i = 0
    while (i < attrs.length) {
      val a = attrs(i)
      if (a.nsPrefix == null && a.key == key) return a
      i += 1
    }
    null
  }
  def firstChild: XNode = if (children.isEmpty) null else children.head
  def lastChild: XNode = if (children.isEmpty) null else children.last
}

final class XText(var content: String) extends XNode {
  /** true when this text was a CDATA section (html script/style raw text) —
    * only used by the statistics command; printing treats both the same. */
  var cdata: Boolean = false
}
final class XEntityRef(var name: String) extends XNode  // "#10", "#x41" or "nbsp"
final class XComment(var content: String) extends XNode
final class XPi(var name: String, var content: String) extends XNode
/** value = everything between "<!DOCTYPE " and ">" e.g. {{{html}}} or {{{greeting SYSTEM "g.dtd"}}} */
final class XDoctype(var name: String, var value: String) extends XNode

final class XAttr(var nsPrefix: String, var key: String) {
  /** null = attribute declared without a value (html boolean attr / key-only). */
  var values: ArrayBuffer[XNode] = null
  def ensureValues(): ArrayBuffer[XNode] = {
    if (values == null) values = new ArrayBuffer[XNode](1)
    values
  }
  def appendText(content: String, merge: Boolean = true): Unit = {
    val vs = ensureValues()
    if (merge && vs.nonEmpty) {
      vs.last match {
        case t: XText => t.content += content; return
        case _ =>
      }
    }
    vs += new XText(content)
  }
  /** Flattened string value (entity refs decoded), like xmlNodeListGetString. */
  def stringValue: String = {
    if (values == null) return ""
    if (values.length == 1) values(0) match {
      case t: XText => return t.content
      case _ =>
    }
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < values.length) {
      values(i) match {
        case t: XText => sb.append(t.content)
        case e: XEntityRef =>
          val cp = TextUtil.decodeEntityRef(e.name)
          if (cp > 0) sb.appendCodePoint(cp) else sb.append('&').append(e.name).append(';')
        case _ =>
      }
      i += 1
    }
    sb.toString
  }
}

final case class NsDef(prefix: String, var href: String) // prefix null = default ns

/** A parsed document: a sequence of top-level nodes (doctype, comments, one root element...). */
final class XDoc {
  /** xml-decl standalone: -1 unset, 1 yes, 0 no. libxml2's html parser marks
    * documents standalone=yes, which shows in the to-xml declaration. */
  var standalone: Int = -1
  val children = new ArrayBuffer[XNode]()
  def appendChild(n: XNode): Unit = children += n
  def root: XElem = {
    var i = 0
    while (i < children.length) {
      children(i) match {
        case e: XElem => return e
        case _ =>
      }
      i += 1
    }
    null
  }
}

object TreeOps {
  /** xmqAnnotateOffsets (xmq.c:3400 -> xmq_printer.c:1879 annotate_offsets):
    * depth-first over the FIRST root element, set attribute `attrName` =
    * cumulative text byte-offset on every element; text nodes advance the
    * offset by their UTF-8 byte length (strlen). */
  def annotateOffsets(doc: XDoc, attrName: String): Unit = {
    var offset = 0
    def setProp(e: XElem, v: String): Unit =
      e.attrs.find(a => a.key == attrName && a.nsPrefix == null) match {
        case Some(a) =>
          a.values = ArrayBuffer(new XText(v))
        case None =>
          val a = new XAttr(null, attrName)
          a.appendText(v)
          e.attrs += a
      }
    def annotate(n: XNode): Unit = n match {
      case e: XElem =>
        setProp(e, offset.toString)
        e.children.foreach(annotate)
      case t: XText =>
        offset += t.content.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
      case _ =>
    }
    doc.children.collectFirst { case e: XElem => e }.foreach(annotate)
  }
}

object Nodes {
  /** element whose children are only text/entity-ref nodes (>=1), reference xml.c:153-178 */
  def isKeyValueNode(e: XElem): Boolean = {
    val cs = e.children
    if (cs.isEmpty) return false
    var i = 0
    while (i < cs.length) {
      cs(i) match {
        case _: XText | _: XEntityRef =>
        case _ => return false
      }
      i += 1
    }
    true
  }
  def isLeaf(e: XElem): Boolean = e.children.isEmpty

  /** libxml2 node "name" used by the json printer's duplicate-key counter. */
  def jsonCountName(n: XNode): String = n match {
    case e: XElem => e.name
    case _: XText => "text"
    case _: XComment => "comment"
    case _: XEntityRef => null
    case p: XPi => p.name
    case d: XDoctype => d.name
  }

  /** Single empty text node check (xml.c:181-188): attr with value "" prints as key-only. */
  def isSingleEmptyText(values: ArrayBuffer[XNode]): Boolean =
    values != null && values.length == 1 && (values.head match {
      case t: XText => t.content.isEmpty
      case _ => false
    })
}
