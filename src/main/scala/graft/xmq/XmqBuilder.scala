package graft.xmq

import java.nio.charset.StandardCharsets

/** DOM builder driven by the tokenizer — the analogue of the reference's
  * parse callbacks (/root/reference/src/main/c/xmq.c:2196-3053).
  *
  * mergeText: char entities are decoded into text and merged with adjacent
  * text (default). noTrimQuotes: quotes are taken verbatim (json path).
  *
  * The same builder is also driven by the json reader via simulated tokens,
  * exactly like the reference (DO_CALLBACK_SIM, json.c).
  */
final class XmqBuilder(implicitRoot: String = null,
                       mergeText: Boolean = true,
                       noTrimQuotes: Boolean = false) extends TokenSink {

  var buf: Array[Byte] = null

  val doc = new XDoc
  /** stack of open containers, stack(depth - 1) on top: null slot =
    * document level. lastStack(k) is elementLast when level k + 1 opened. */
  private var stack = new Array[XElem](16)
  private var lastStack = new Array[AnyRef](16)
  private var depth = 1
  /** mirror of C element_last: last created element/attr/text. */
  private var elementLast: AnyRef = null
  private var rootCreated = false

  private var parsingPi = false
  private var piName: String = null
  private var parsingDoctype = false
  var doctypeFound = false

  private var elementNamespace: String = null
  private var attributeNamespace: String = null
  private var declaringXmlns = false
  private var declaringXmlnsNs: NsDef = null
  private var defaultNamespace: NsDef = null

  /** json: route the next comment/doctype before/after the current container. */
  var addPreNodeBefore: Boolean = false
  var addPostNodeAfter: Boolean = false
  var rootFound: Boolean = false

  private def str(start: Int, stop: Int): String =
    new String(buf, start, stop - start, StandardCharsets.UTF_8)

  private def top: XElem = stack(depth - 1)

  private def appendAtCurrent(n: XNode): Unit = {
    val t = top
    if (t == null) doc.appendChild(n) else t.appendChild(n)
  }

  // ---- token dispatch ----

  def token(tpe: String, line: Int, col: Int, start: Int, stop: Int, suffix: Int): Unit = {
    tpe match {
      case Tok.Whitespace | Tok.Equals | Tok.NsColon => // no-op
      case Tok.Quote => simQuote(quoteText(start, stop), raw = true)
      case Tok.Entity => simEntityAtTop(entityName(str(start, stop)))
      case Tok.Comment => simComment(str(start, stop), raw = false)
      case Tok.CommentContinuation => doCommentContinuation(str(start, stop))
      case Tok.ElementNs => elementNamespace = str(start, stop)
      case Tok.ElementName | Tok.ElementKey => createNode(str(start, stop))
      case Tok.ElementValueText => doElementValueText(str(start, stop))
      case Tok.ElementValueQuote => doElementValueQuote(quoteText(start, stop))
      case Tok.ElementValueEntity => doElementValueEntity(entityName(str(start, stop)))
      case Tok.ElementValueCompoundQuote => simQuote(quoteText(start, stop), raw = true)
      case Tok.ElementValueCompoundEntity => simEntityAtTop(entityName(str(start, stop)))
      case Tok.AttrNs => if (!declaringXmlns) attributeNamespace = str(start, stop)
      case Tok.AttrKey => doAttrKey(str(start, stop))
      case Tok.AttrValueText => doAttrValueText(str(start, stop))
      case Tok.AttrValueQuote => doAttrValueQuote(quoteText(start, stop))
      case Tok.AttrValueEntity => doAttrValueEntity(entityName(str(start, stop)))
      case Tok.AttrValueCompoundQuote => attrAppendQuote(quoteText(start, stop))
      case Tok.AttrValueCompoundEntity => attrAppendEntity(entityName(str(start, stop)))
      case Tok.NsDeclaration => doNsDeclaration(stop == suffix, str(stop, suffix))
      case Tok.BraceLeft | Tok.AparLeft | Tok.CparLeft => pushStack()
      case Tok.BraceRight | Tok.AparRight | Tok.CparRight => popStack()
    }
  }

  /** a quote token's text: `Trim.unQuote(str(start, stop), removeQs = true,
    * isXmq = true)`, decoding only the bytes between the quotes (they are
    * ASCII, so the byte and char scans agree). Verbatim under noTrimQuotes. */
  private def quoteText(start: Int, stop: Int): String = {
    if (noTrimQuotes) return str(start, stop)
    var from = start
    var to = stop
    if (to > from) {
      val q = buf(from)
      if (q == '\'' || q == '"') {
        var j = 0
        while (from + j < to - j && buf(from + j) == q && buf(to - j - 1) == q) j += 1
        from += j; to -= j
      }
    }
    val s = str(from, to)
    Trim.trimQuote(s, 0, s.length, isXmq = true, isComment = false)
  }

  private def entityName(tok: String): String = {
    var s = tok.substring(1)
    if (s.endsWith(";")) s = s.dropRight(1)
    s
  }

  private def pushStack(): Unit = {
    if (depth == stack.length) {
      stack = java.util.Arrays.copyOf(stack, depth * 2)
      lastStack = java.util.Arrays.copyOf(lastStack, depth * 2)
    }
    lastStack(depth - 1) = elementLast
    stack(depth) = elementLast match {
      case e: XElem => e
      case _ => top // attr compound: container unchanged
    }
    depth += 1
  }

  private def popStack(): Unit = {
    depth -= 1
    stack(depth) = null
    elementLast = lastStack(depth - 1)
  }

  // ---- simulated-token entry points (used directly by the json reader too) ----

  /** standalone quote at current container; content already unescaped when raw. */
  def simQuote(tok: String, raw: Boolean): Unit = {
    val trimmed = if (raw || noTrimQuotes) tok else Trim.unQuote(tok, removeQs = true, isXmq = true)
    val t = top
    if (t == null) {
      if (mergeText && doc.children.nonEmpty && doc.children.last.isInstanceOf[XText]) {
        doc.children.last.asInstanceOf[XText].content += trimmed
        elementLast = doc.children.last
      } else {
        val n = new XText(trimmed); doc.appendChild(n); elementLast = n
      }
    } else {
      if (mergeText && t.children.nonEmpty && t.children.last.isInstanceOf[XText]) {
        t.children.last.asInstanceOf[XText].content += trimmed
        elementLast = t.children.last
      } else {
        val n = new XText(trimmed); t.appendChild(n); elementLast = n
      }
    }
  }

  /** entity at current container (LEVEL_XMQ / compound element value). */
  def simEntityAtTop(name: String): Unit = {
    val t = top
    if (name.startsWith("#") && mergeText) {
      val s = codepointStr(name)
      if (t == null) {
        if (doc.children.nonEmpty && doc.children.last.isInstanceOf[XText])
          doc.children.last.asInstanceOf[XText].content += s
        else doc.appendChild(new XText(s))
      } else t.appendText(s, merge = true)
    } else {
      val n = new XEntityRef(name)
      if (t == null) doc.appendChild(n) else t.appendChild(n)
      elementLast = n
    }
  }

  private def codepointStr(name: String): String = {
    val cp = if (name.length > 1 && name.charAt(1) == 'x')
      Integer.parseInt(name.substring(2), 16) else Integer.parseInt(name.substring(1))
    new String(Character.toChars(cp))
  }

  def simComment(tok: String, raw: Boolean): Unit = {
    val trimmed = if (raw || noTrimQuotes) tok else Trim.unComment(tok)
    val n = new XComment(trimmed)
    if (addPreNodeBefore) insertRelativeToContainer(n, before = true)
    else if (addPostNodeAfter) insertRelativeToContainer(n, before = false)
    else appendAtCurrent(n)
    elementLast = n
  }

  /** insert n before/after the current container element in its parent's list. */
  private def insertRelativeToContainer(n: XNode, before: Boolean): Unit = {
    val container = top
    if (container == null) { doc.appendChild(n); return }
    val list = if (container.parent == null) doc.children else container.parent.children
    val idx = list.indexWhere(_ eq container)
    if (idx < 0) { doc.appendChild(n); return }
    if (before) list.insert(idx, n) else list.insert(idx + 1, n)
    n.parent = container.parent
  }

  private def doCommentContinuation(tok: String): Unit = {
    var n = 0
    var k = tok.length - 1
    while (k > 0 && tok.charAt(k) == '/') { n += 1; k -= 1 }
    val trimmed = Trim.unComment("/" * n + tok)
    elementLast match {
      case c: XComment => c.content += "\n" + trimmed
      case _ =>
    }
  }

  def createNode(name: String): Unit = {
    if (name == "!DOCTYPE") { parsingDoctype = true; return }
    if (name.startsWith("?")) { parsingPi = true; piName = name.substring(1); return }

    val newNode = new XElem(name)
    if (!rootCreated && doc.root == null) {
      rootCreated = true
      if (implicitRoot != null && implicitRoot != name) {
        val root = new XElem(implicitRoot)
        doc.appendChild(root)
        stack(depth - 1) = root
      }
    }
    appendAtCurrent(newNode)

    if (elementNamespace != null) {
      newNode.nsPrefix = elementNamespace
      if (elementNamespace != "xml" && findNs(newNode, elementNamespace) == null)
        newNode.nsDefs += NsDef(elementNamespace, null)
      elementNamespace = null
    }
    elementLast = newNode
  }

  /** json reader: pending namespace prefix consumed by the next createNode. */
  def setElementNamespace(prefix: String): Unit = { elementNamespace = prefix }

  def setContainerName(name: String): Unit = { // json "_":"name"
    val t = top
    if (t != null) t.name = name
  }

  def setContainerNamespace(prefix: String): Unit = {
    val t = top
    if (t != null) {
      t.nsPrefix = prefix
      if (prefix != "xml" && findNs(t, prefix) == null) t.nsDefs += NsDef(prefix, null)
    }
  }

  private def findNs(from: XElem, prefix: String): NsDef = {
    var cur: XElem = from
    while (cur != null) {
      val found = cur.nsDefs.find(d => (prefix == null && d.prefix == null) ||
                                       (prefix != null && prefix == d.prefix))
      if (found.isDefined) return found.get
      cur = cur.parent
    }
    null
  }

  def doNsDeclaration(isDefault: Boolean, prefixPart: String): Unit = {
    val element = top
    if (isDefault) {
      var ns = element.nsDefs.find(_.prefix == null).orNull
      if (ns == null) { ns = NsDef(null, null); element.nsDefs += ns }
      defaultNamespace = ns
      declaringXmlnsNs = ns
    } else {
      val name = prefixPart.stripPrefix(":")
      var ns = findNs(element, name)
      if (ns == null) { ns = NsDef(name, null); element.nsDefs += ns }
      declaringXmlnsNs = ns
    }
    declaringXmlns = true
  }

  private def updateNamespaceHref(ns: NsDef, href: String): Unit = {
    ns.href = href
    if (href.isEmpty && (ns eq defaultNamespace)) defaultNamespace = null
  }

  def doAttrKey(key: String): Unit = {
    val parent = top
    val attr = new XAttr(attributeNamespace, key)
    if (attributeNamespace != null) {
      // the xml prefix is predefined (libxml2 xmlSearchNs) — never declared
      if (attributeNamespace != "xml" && findNs(parent, attributeNamespace) == null)
        parent.nsDefs += NsDef(attributeNamespace, null)
      attributeNamespace = null
    }
    parent.attrs += attr
    elementLast = attr
  }

  def doAttrValueText(v: String): Unit = {
    if (declaringXmlns) {
      updateNamespaceHref(declaringXmlnsNs, v)
      declaringXmlns = false; declaringXmlnsNs = null
      return
    }
    elementLast.asInstanceOf[XAttr].appendText(v, mergeText)
  }

  def doAttrValueQuote(trimmed: String): Unit = {
    if (declaringXmlns) {
      updateNamespaceHref(declaringXmlnsNs, trimmed)
      declaringXmlns = false; declaringXmlnsNs = null
      return
    }
    elementLast.asInstanceOf[XAttr].appendText(trimmed, mergeText)
  }

  private def attrAppendQuote(trimmed: String): Unit =
    elementLast.asInstanceOf[XAttr].appendText(trimmed, mergeText)

  private def doAttrValueEntity(name: String): Unit = attrAppendEntity(name)

  private def attrAppendEntity(name: String): Unit = {
    val a = elementLast.asInstanceOf[XAttr]
    if (name.startsWith("#") && mergeText) a.appendText(codepointStr(name), merge = true)
    else a.ensureValues() += new XEntityRef(name)
  }

  def doElementValueText(v: String): Unit = {
    if (parsingPi) {
      appendAtCurrent(new XPi(piName, TextUtil.potentiallyAddLeadingEndingSpace(v)))
      parsingPi = false; piName = null
    } else if (parsingDoctype) {
      addDoctype(v)
    } else {
      elementLast.asInstanceOf[XElem].appendText(v, merge = true)
    }
  }

  def doElementValueQuote(trimmed: String): Unit = {
    if (parsingPi) {
      appendAtCurrent(new XPi(piName, TextUtil.potentiallyAddLeadingEndingSpace(trimmed)))
      parsingPi = false; piName = null
    } else if (parsingDoctype) {
      addDoctype(trimmed)
    } else {
      elementLast.asInstanceOf[XElem].appendText(trimmed, merge = true)
    }
  }

  private def addDoctype(v: String): Unit = {
    val dtd = DoctypeUtil.normalize(v)
    val d = new XDoctype(dtd.name, dtd.canonical)
    if (addPreNodeBefore) insertRelativeToContainer(d, before = true) else appendAtCurrent(d)
    parsingDoctype = false; doctypeFound = true
  }

  def doElementValueEntity(name: String): Unit = {
    val e = elementLast.asInstanceOf[XElem]
    if (name.startsWith("#") && mergeText) e.appendText(codepointStr(name), merge = true)
    else e.appendChild(new XEntityRef(name))
  }

  // json reader helpers
  def pushContainer(): Unit = pushStack()
  def popContainer(): Unit = popStack()
  def currentContainer: XElem = top
}

object XmqBuilder {
  /** Parse xmq/htmq content into a document tree. */
  def parse(content: Array[Byte], implicitRoot: String = null,
            mergeText: Boolean = true, noTrimQuotes: Boolean = false): XDoc = {
    val b = new XmqBuilder(implicitRoot, mergeText, noTrimQuotes)
    b.buf = content
    new XmqTokenizer(content, b).tokenize()
    b.doc
  }
}
