package graft.xmq

import scala.collection.mutable

final class XmlParseError(msg: String) extends Exception(msg)

/** From-scratch XML/HTML reader replicating the libxml2 behaviors the
  * reference relies on (xmlReadMemory with NOCDATA|NONET, htmlReadMemory
  * lenient mode): predefined/char entities substituted into merged text,
  * declared entities kept as refs, CDATA → text, attribute-value
  * normalization, comment ␐-unescape on read-in, html void/raw elements.
  */
object XmlParser {

  val VoidElements: Set[String] = Set(
    "area", "base", "basefont", "br", "col", "embed", "frame", "hr", "img",
    "input", "isindex", "link", "meta", "param", "source", "track", "wbr")

  val RawTextElements: Set[String] = Set("script", "style")

  /** HTML implied-end-tag relation: starting `key` implicitly closes any
    * current element in its set, walking up the stack level by level
    * (libxml2's htmlStartClose/htmlCheckAutoClose semantics). Derived
    * EMPIRICALLY from the reference binary by pairwise probing
    * (HtmlProbeTool) — 175 pairs plus the head/title rows — so the table
    * encodes observed behavior, not a transcription. */
  val HtmlAutoClose: Map[String, Set[String]] = {
    val probed: Map[String, Set[String]] = Map(
      "a" -> Set("a"),
      "address" -> Set("p", "ul"),
      "blockquote" -> Set("p"),
      "caption" -> Set("p"),
      "center" -> Set("b", "font", "i", "p"),
      "colgroup" -> Set("caption", "colgroup", "p"),
      "dd" -> Set("address", "dir", "dt", "listing", "menu", "p", "pre", "xmp"),
      "dir" -> Set("p"),
      "div" -> Set("p"),
      "dl" -> Set("address", "dir", "dt", "listing", "menu", "p", "pre", "xmp"),
      "dt" -> Set("address", "dd", "dir", "listing", "menu", "p", "pre", "xmp"),
      "fieldset" -> Set("a", "h1", "h2", "h3", "h4", "h5", "h6", "legend", "listing", "p", "pre", "xmp"),
      "form" -> Set("address", "dir", "dl", "form", "h1", "h2", "h3", "h4", "h5", "h6", "listing", "menu", "ol", "p", "pre", "ul", "xmp"),
      "frameset" -> Set("p", "head", "title"),
      "h1" -> Set("p"),
      "h2" -> Set("p"),
      "h3" -> Set("p"),
      "h4" -> Set("p"),
      "h5" -> Set("p"),
      "h6" -> Set("p"),
      "hr" -> Set("p"),
      "li" -> Set("address", "dl", "h1", "h2", "h3", "h4", "h5", "h6", "li", "listing", "p", "pre", "xmp"),
      "listing" -> Set("p"),
      "menu" -> Set("p", "ul"),
      "ol" -> Set("p", "ul"),
      "optgroup" -> Set("option"),
      "option" -> Set("option"),
      "p" -> Set("b", "big", "h1", "h2", "h3", "h4", "h5", "h6", "i", "p", "s", "small", "strike", "tt", "u"),
      "pre" -> Set("p", "ul"),
      "table" -> Set("a", "h1", "h2", "h3", "h4", "h5", "h6", "listing", "p", "pre", "xmp"),
      "tbody" -> Set("caption", "colgroup", "p", "tbody", "td", "tfoot", "th", "thead", "tr"),
      "td" -> Set("a", "b", "font", "i", "p", "span", "td", "th", "u"),
      "tfoot" -> Set("caption", "colgroup", "p", "tbody", "td", "th", "thead", "tr"),
      "th" -> Set("a", "b", "font", "i", "p", "span", "td", "th", "u"),
      "thead" -> Set("caption", "colgroup"),
      "tr" -> Set("caption", "colgroup", "p", "td", "th", "tr"),
      "ul" -> Set("address", "dir", "listing", "menu", "ol", "p", "pre", "xmp"),
      "xmp" -> Set("p"),
      "body" -> Set("head", "title", "p"))
    // every known body-content element also closes an open <head> (probed:
    // unknown names like section/article do NOT — they nest inside head)
    val closesHead = Set(
      "a", "abbr", "address", "b", "big", "blockquote", "br", "center",
      "cite", "code", "dd", "dfn", "dir", "div", "dl", "dt", "em",
      "fieldset", "font", "form", "frameset", "h1", "h2", "h3", "h4", "h5",
      "h6", "hr", "i", "iframe", "img", "kbd", "li", "listing", "menu",
      "ol", "p", "pre", "q", "s", "samp", "small", "span", "strike",
      "strong", "sub", "sup", "table", "tt", "u", "ul", "var", "xmp")
    closesHead.foldLeft(probed) { (m, t) =>
      m.updated(t, m.getOrElse(t, Set.empty) + "head")
    }
  }

  /** End-tag out-rank table (libxml2 htmlEndPriority): `</X>` closes
    * through open elements only when none of them outranks X. */
  val HtmlEndPriority: Map[String, Int] = Map(
    "div" -> 150, "td" -> 160, "table" -> 160, "head" -> 170,
    "body" -> 170, "html" -> 180)
  def htmlEndPriority(name: String): Int = HtmlEndPriority.getOrElse(name, 100)

  /** Elements that imply an open <head> when met directly under <html>
    * (everything else implies <body>). */
  val HtmlImpliesHead: Set[String] = Set("script", "style", "meta", "link", "title", "base")

  /** Minimal HTML named-entity table (extend as corpus requires). */
  val HtmlEntities: Map[String, Int] = Map(
    "amp" -> '&', "lt" -> '<', "gt" -> '>', "quot" -> '"', "apos" -> '\'',
    "nbsp" -> 160, "copy" -> 169, "reg" -> 174, "deg" -> 176, "plusmn" -> 177,
    "sup2" -> 178, "sup3" -> 179, "middot" -> 183, "frac12" -> 189,
    "laquo" -> 171, "raquo" -> 187, "iexcl" -> 161, "cent" -> 162,
    "pound" -> 163, "curren" -> 164, "yen" -> 165, "sect" -> 167,
    "uml" -> 168, "ordf" -> 170, "not" -> 172, "shy" -> 173, "macr" -> 175,
    "para" -> 182, "cedil" -> 184, "sup1" -> 185, "ordm" -> 186,
    "frac14" -> 188, "frac34" -> 190, "iquest" -> 191,
    "agrave" -> 224, "aacute" -> 225, "acirc" -> 226, "atilde" -> 227,
    "auml" -> 228, "aring" -> 229, "aelig" -> 230, "ccedil" -> 231,
    "egrave" -> 232, "eacute" -> 233, "ecirc" -> 234, "euml" -> 235,
    "igrave" -> 236, "iacute" -> 237, "icirc" -> 238, "iuml" -> 239,
    "ntilde" -> 241, "ograve" -> 242, "oacute" -> 243, "ocirc" -> 244,
    "otilde" -> 245, "ouml" -> 246, "divide" -> 247, "oslash" -> 248,
    "ugrave" -> 249, "uacute" -> 250, "ucirc" -> 251, "uuml" -> 252,
    "yacute" -> 253, "thorn" -> 254, "yuml" -> 255,
    "Agrave" -> 192, "Aacute" -> 193, "Auml" -> 196, "Aring" -> 197,
    "Ouml" -> 214, "Uuml" -> 220,
    "hellip" -> 8230, "ndash" -> 8211, "mdash" -> 8212,
    "lsquo" -> 8216, "rsquo" -> 8217, "ldquo" -> 8220, "rdquo" -> 8221,
    "bull" -> 8226, "dagger" -> 8224, "Dagger" -> 8225,
    "euro" -> 8364, "trade" -> 8482, "times" -> 215, "nabla" -> 8711,
    "alpha" -> 945, "beta" -> 946, "gamma" -> 947, "delta" -> 948,
    "pi" -> 960, "sigma" -> 963, "omega" -> 969,
    "larr" -> 8592, "uarr" -> 8593, "rarr" -> 8594, "darr" -> 8595)

  def parse(content: String, html: Boolean): XDoc =
    new XmlParser(content, html).parseDocument()

  /** `name.toLowerCase`, returning `name` itself when it has no upper-case
    * ASCII letter and no non-ASCII char (the usual html tag or attribute). */
  def lowerName(name: String): String = {
    var i = 0
    while (i < name.length) {
      val c = name.charAt(i)
      if (c >= 128 || (c >= 'A' && c <= 'Z')) return name.toLowerCase
      i += 1
    }
    name
  }
}

final class XmlParser(s: String, html: Boolean) {
  import XmlParser._

  private var i = 0
  private val stop = s.length
  val doc = new XDoc
  /** entity declarations from the internal DTD subset */
  val entityDecls = mutable.HashMap.empty[String, String]
  private val attDefaults = mutable.ArrayBuffer.empty[DoctypeUtil.AttDef]

  private def err(msg: String): Nothing = throw new XmlParseError(s"$msg at offset $i")

  private def cur: Char = if (i < stop) s.charAt(i) else 0.toChar
  private def at(p: String): Boolean = s.startsWith(p, i)
  private def skipWs(): Unit = { while (i < stop && TextUtil.isXmlWhitespace(s.charAt(i))) i += 1 }

  /** open-element name stack (html mode): drives the implied-end-tag and
    * end-tag-priority machinery. */
  private val openNames = mutable.ArrayBuffer.empty[String]

  /** lower-cased tag name at `i` (positioned on '<') without consuming. */
  private def peekName: String = {
    var k = i + 1
    val start = k
    while (k < stop && nameChar(s.charAt(k))) k += 1
    lowerName(s.substring(start, k))
  }

  /** does starting `tag` implicitly close the current element `cur`? */
  private def autoCloses(tag: String, cur: String): Boolean =
    HtmlAutoClose.get(tag).exists(_.contains(cur))

  def parseDocument(): XDoc = {
    // prolog
    if (at("﻿")) i += 1
    parseMisc(doc.children, topLevel = true)
    applyAttDefaults()
    if (html) doc.standalone = 1 // htmlReadMemory marks the doc standalone
    if (html && !doc.children.exists(_.isInstanceOf[XDoctype])) {
      // htmlParseDocument inserts the default HTML 4.0 Transitional doctype
      // when the input has none.
      doc.children.insert(0, new XDoctype("html",
        "html PUBLIC \"-//W3C//DTD HTML 4.0 Transitional//EN\" \"http://www.w3.org/TR/REC-html40/loose.dtd\""))
    }
    doc
  }

  /** parse a sequence of nodes into list until EOF or closing tag of parent. */
  private def parseMisc(list: mutable.ArrayBuffer[XNode], topLevel: Boolean): Unit = {
    var htmlRootSeen = false
    while (i < stop) {
      if (topLevel && at("<?xml") &&
          (i + 5 >= stop || TextUtil.isXmlWhitespace(s.charAt(i + 5)) || s.charAt(i + 5) == '?')) {
        val declEnd = s.indexOf("?>", i)
        if (declEnd > 0) {
          val decl = s.substring(i, declEnd)
          if (decl.contains("standalone=\"yes\"") || decl.contains("standalone='yes'")) doc.standalone = 1
          else if (decl.contains("standalone=\"no\"") || decl.contains("standalone='no'")) doc.standalone = 0
        }
        skipPast("?>")
      } else if (at("<!DOCTYPE") || (html && at("<!doctype")) || (html && regionIC("<!DOCTYPE"))) {
        parseDoctype(list)
      } else if (at("<!--")) {
        parseComment(list)
      } else if (at("<![CDATA[")) {
        parseCData(list)
      } else if (at("<?")) {
        parsePi(list)
      } else if (at("</")) {
        return // unbalanced close at this level; caller handles
      } else if (cur == '<') {
        if (html && topLevel && !htmlRootSeen &&
            (i + 1 >= stop || nameChar(s.charAt(i + 1))) && peekName != "html") {
          // htmlCheckImplied: a rootless HTML document gets a synthesized
          // <html> wrapper (and head/body per parseHtmlChildren's rules)
          val root = new XElem("html")
          list += root
          openNames += "html"
          parseHtmlChildren(root)
          openNames.remove(openNames.length - 1)
          setParent(root)
        } else parseElement(list)
        htmlRootSeen = true
      } else if (i < stop) {
        if (topLevel) {
          // libxml2 drops character data outside the root element
          while (i < stop && cur != '<') i += 1
        } else parseText(list)
      }
    }
  }

  private def regionIC(p: String): Boolean = s.regionMatches(true, i, p, 0, p.length)

  /** libxml2 applies DTD default/#FIXED attribute values to parsed elements. */
  private def applyAttDefaults(): Unit = {
    if (attDefaults.isEmpty) return
    def walk(e: XElem): Unit = {
      attDefaults.foreach { ad =>
        if (ad.elem == e.name && ad.dflt != null) {
          if (ad.attr == "xmlns") {
            if (!e.nsDefs.exists(_.prefix == null)) e.nsDefs += NsDef(null, ad.dflt)
          } else if (ad.attr.startsWith("xmlns:")) {
            val p = ad.attr.substring(6)
            if (!e.nsDefs.exists(_.prefix == p)) e.nsDefs += NsDef(p, ad.dflt)
          } else {
            val (pfx, local) = splitPrefix(ad.attr)
            if (!e.attrs.exists(a => a.key == local && a.nsPrefix == pfx)) {
              val a = new XAttr(pfx, local)
              a.values = mutable.ArrayBuffer(new XText(ad.dflt))
              e.attrs += a
            }
          }
        }
      }
      e.children.foreach { case c: XElem => walk(c); case _ => }
    }
    doc.children.foreach { case e: XElem => walk(e); case _ => }
  }

  private def skipPast(end: String): Unit = {
    val idx = s.indexOf(end, i)
    if (idx < 0) err(s"missing $end")
    i = idx + end.length
  }

  private def parseDoctype(list: mutable.ArrayBuffer[XNode]): Unit = {
    i += "<!DOCTYPE".length
    skipWs()
    val start = i
    var depth = 0
    var done = false
    while (i < stop && !done) {
      val c = s.charAt(i)
      if (c == '[') depth += 1
      else if (c == ']') depth -= 1
      else if (c == '>' && depth == 0) done = true
      if (!done) i += 1
    }
    val raw = s.substring(start, i).trim
    if (i < stop) i += 1 // >
    val dtd = DoctypeUtil.normalize(raw)
    dtd.entities.foreach { case (k, v) => entityDecls(k) = v }
    attDefaults ++= dtd.attDefs
    list += new XDoctype(dtd.name, dtd.canonical)
  }

  private def parseComment(list: mutable.ArrayBuffer[XNode]): Unit = {
    i += 4
    val idx = s.indexOf("-->", i)
    if (idx < 0) err("comment not closed")
    var content = s.substring(i, idx)
    i = idx + 3
    content = unescapeDleComment(content)
    val n = new XComment(content)
    list += n
  }

  /** fixup_comments after readin: -␐ escapes collapse (xmq.c:3609-3650). */
  private def unescapeDleComment(c: String): String = {
    if (c.indexOf('␐') < 0) return c
    val sb = new StringBuilder
    var k = 0
    while (k < c.length) {
      val ch = c.charAt(k)
      sb.append(ch)
      if (ch == '-' && k + 1 < c.length && c.charAt(k + 1) == '␐') k += 1 // skip one ␐
      k += 1
    }
    sb.toString
  }

  private def parseCData(list: mutable.ArrayBuffer[XNode]): Unit = {
    i += 9
    val idx = s.indexOf("]]>", i)
    if (idx < 0) err("cdata not closed")
    appendText(list, s.substring(i, idx))
    i = idx + 3
  }

  private def parsePi(list: mutable.ArrayBuffer[XNode]): Unit = {
    i += 2
    val nameStart = i
    while (i < stop && !TextUtil.isXmlWhitespace(s.charAt(i)) && !at("?>")) i += 1
    val name = s.substring(nameStart, i)
    skipWs()
    val contentStart = i
    val idx = s.indexOf("?>", i)
    if (idx < 0) err("pi not closed")
    val content = s.substring(contentStart, idx)
    i = idx + 2
    list += new XPi(name, content)
  }

  private def appendText(list: mutable.ArrayBuffer[XNode], text: String): Unit = {
    if (list.nonEmpty && list.last.isInstanceOf[XText])
      list.last.asInstanceOf[XText].content += text
    else list += new XText(text)
  }

  /** character data up to the next '<': plain runs are copied in bulk, and
    * a run without references becomes the text as one substring. */
  private def parseText(list: mutable.ArrayBuffer[XNode]): Unit = {
    var sb: java.lang.StringBuilder = null
    var run = i
    while (i < stop && s.charAt(i) != '<') {
      if (s.charAt(i) == '&') {
        if (sb == null) sb = new java.lang.StringBuilder
        sb.append(s, run, i)
        parseReference() match {
          case Left(str) => sb.append(str)
          case Right(name) =>
            if (sb.length > 0) { appendText(list, sb.toString); sb.setLength(0) }
            list += new XEntityRef(name)
        }
        run = i
      } else i += 1
    }
    if (sb == null) { if (i > run) appendText(list, s.substring(run, i)) }
    else {
      sb.append(s, run, i)
      if (sb.length > 0) appendText(list, sb.toString)
    }
  }

  /** Left = decoded text, Right = kept entity-ref name. */
  private def parseReference(): Either[String, String] = {
    val amp = i
    i += 1
    if (cur == '#') {
      i += 1
      var cp = 0
      if (cur == 'x' || cur == 'X') {
        i += 1
        while (i < stop && TextUtil.isHex(s.charAt(i))) { cp = cp * 16 + TextUtil.hexValue(s.charAt(i)); i += 1 }
      } else {
        while (i < stop && s.charAt(i).isDigit) { cp = cp * 10 + (s.charAt(i) - '0'); i += 1 }
      }
      if (cur == ';') i += 1
      Left(new String(Character.toChars(cp)))
    } else {
      val nameStart = i
      while (i < stop && (s.charAt(i).isLetterOrDigit) && i - nameStart < 48) i += 1
      if (i >= stop || s.charAt(i) != ';') {
        // not a real entity (html leniency): emit the raw text
        val raw = s.substring(amp, i)
        return Left(raw)
      }
      val name = s.substring(nameStart, i)
      i += 1
      name match {
        case "amp" => Left("&")
        case "lt" => Left("<")
        case "gt" => Left(">")
        case "quot" => Left("\"")
        case "apos" => Left("'")
        case _ =>
          if (html) {
            HtmlEntities.get(name) match {
              case Some(cp) => Left(new String(Character.toChars(cp)))
              case None => Left(s.substring(amp, i)) // unknown html entity: keep raw
            }
          } else if (entityDecls.contains(name)) Right(name)
          else throw new XmlParseError(s"Entity '$name' not defined")
      }
    }
  }

  private def nameChar(c: Char): Boolean =
    !TextUtil.isXmlWhitespace(c) && c != '>' && c != '/' && c != '=' && c != '<' && c != 0

  private def parseElement(list: mutable.ArrayBuffer[XNode]): Unit = {
    i += 1 // <
    val nameStart = i
    while (i < stop && nameChar(s.charAt(i))) i += 1
    var rawName = s.substring(nameStart, i)
    if (html) rawName = lowerName(rawName)
    val (prefix, localName) = splitPrefix(rawName)
    val e = new XElem(localName, prefix)

    // attributes
    var selfClosed = false
    var done = false
    while (i < stop && !done) {
      skipWs()
      val c = cur
      if (c == '>') { i += 1; done = true }
      else if (c == '/' && i + 1 < stop && s.charAt(i + 1) == '>') { i += 2; selfClosed = true; done = true }
      else if (c == 0) err("element not closed")
      else parseAttribute(e)
    }

    list += e

    val isVoid = html && VoidElements.contains(e.name)
    if (!selfClosed && !isVoid) {
      if (html) openNames += e.name
      if (html && RawTextElements.contains(e.name)) {
        // raw text until </name>
        val close = "</" + e.name
        val idx0 = indexOfIC(close, i)
        val end = if (idx0 < 0) stop else idx0
        if (end > i) {
          val t = new XText(s.substring(i, end))
          t.cdata = true // libxml2 html parser makes script/style content CDATA
          e.appendChild(t)
        }
        i = if (idx0 < 0) stop else {
          val gt = s.indexOf('>', idx0)
          if (gt < 0) stop else gt + 1
        }
      } else if (html && e.name == "html") {
        parseHtmlChildren(e)
      } else {
        parseChildren(e)
      }
      if (html) openNames.remove(openNames.length - 1)
    }
    // re-parent children
    setParent(e)
  }

  private def setParent(e: XElem): Unit = {
    var k = 0
    while (k < e.children.length) { e.children(k).parent = e; k += 1 }
  }

  private def indexOfIC(needle: String, from: Int): Int = {
    var k = from
    while (k + needle.length <= stop) {
      if (s.regionMatches(true, k, needle, 0, needle.length)) return k
      k += 1
    }
    -1
  }

  /** children of e up to its end tag; the caller sets their parent. */
  private def parseChildren(e: XElem): Unit = {
    var done = false
    while (i < stop && !done) {
      val c1 = if (s.charAt(i) == '<' && i + 1 < stop) s.charAt(i + 1) else 0.toChar
      if (c1 == '/') {
        val save = i
        i += 2
        val nameStart = i
        while (i < stop && nameChar(s.charAt(i))) i += 1
        var closeName = s.substring(nameStart, i)
        if (html) closeName = lowerName(closeName)
        skipWs()
        if (cur == '>') i += 1
        val full = if (e.nsPrefix != null) e.nsPrefix + ":" + e.name else e.name
        if (closeName == full || closeName == e.name) done = true
        else if (html) {
          // htmlParseEndTag semantics: the end tag closes through open
          // elements only when X is actually open and no element between
          // it and the top outranks it (htmlEndPriority) — otherwise the
          // tag is consumed and IGNORED ("</p>" with no open p, "</b>"
          // across a div boundary)
          val idx = openNames.lastIndexOf(closeName)
          if (idx >= 0) {
            val pr = htmlEndPriority(closeName)
            val blocked =
              (idx + 1 until openNames.length).exists(j => htmlEndPriority(openNames(j)) > pr)
            if (!blocked) { i = save; done = true } // unwind; the named ancestor consumes
          } // not open or blocked: ignored, continue with this element
        } else err(s"mismatched closing tag $closeName for $full")
      } else if (c1 == '!' && at("<!--")) parseComment(e.children)
      else if (c1 == '!' && at("<![CDATA[")) parseCData(e.children)
      else if (c1 == '?') parsePi(e.children)
      else if (cur == '<' && (i + 1 >= stop || nameChar(s.charAt(i + 1)))) {
        if (html && autoCloses(peekName, e.name)) done = true // implied end tag
        else parseElement(e.children)
      } else if (cur == '<') parseElement(e.children)
      else {
        if (html && e.name == "head") {
          // blank character data stays in the head as a text node (visible
          // under --trim=none); anything else closes head (and implies
          // body upstream)
          var k = i
          while (k < stop && s.charAt(k) != '<') k += 1
          if (s.substring(i, k).forall(TextUtil.isXmlWhitespace)) parseText(e.children)
          else done = true
        } else parseText(e.children)
      }
    }
    // xmlReadMemory: "Premature end of data in tag X" — EOF with the element
    // still open is a parse error in xml mode (html stays lenient)
    if (!done && !html) err(s"premature end of data in tag ${e.name}")
  }

  /** children of <html> (explicit or implied): libxml2's implied-structure
    * rules — head-only elements imply <head>, other elements imply <body>,
    * character data implies <body><p> (or a bare <p> once body has closed),
    * blanks between the structural elements are dropped. Behavior derived
    * from the reference binary (HtmlProbeTool + targeted probes). */
  private def parseHtmlChildren(e: XElem): Unit = {
    var headDone = false
    var bodyDone = false
    var done = false
    def impliedParagraph(list: mutable.ArrayBuffer[XNode]): Unit = {
      val p = new XElem("p")
      list += p
      openNames += "p"
      parseText(p.children)
      parseChildren(p)
      openNames.remove(openNames.length - 1)
      setParent(p)
    }
    def implied(name: String)(body: XElem => Unit): Unit = {
      val el = new XElem(name)
      e.children += el
      el.parent = e
      openNames += name
      body(el)
      openNames.remove(openNames.length - 1)
      setParent(el)
    }
    while (i < stop && !done) {
      if (at("</")) {
        val save = i
        i += 2
        val nameStart = i
        while (i < stop && nameChar(s.charAt(i))) i += 1
        val closeName = lowerName(s.substring(nameStart, i))
        skipWs()
        if (cur == '>') i += 1
        if (closeName == e.name) done = true
        else {
          val idx = openNames.lastIndexOf(closeName)
          if (idx >= 0 && !(idx + 1 until openNames.length)
                .exists(j => htmlEndPriority(openNames(j)) > htmlEndPriority(closeName))) {
            i = save; done = true
          } // else: stray close under html — ignored
        }
      } else if (at("<!--")) parseComment(e.children)
      else if (at("<![CDATA[")) parseCData(e.children)
      else if (at("<?")) parsePi(e.children)
      else if (cur == '<' && (i + 1 >= stop || nameChar(s.charAt(i + 1)))) {
        val t = peekName
        if (t == "head") { parseElement(e.children); headDone = true }
        else if (t == "body") { headDone = true; parseElement(e.children); bodyDone = true }
        else if (t == "html") parseElement(e.children) // stray nested html: literal
        else if (HtmlImpliesHead.contains(t) && !headDone && !bodyDone)
          implied("head") { h => parseChildren(h); headDone = true }
        else if (HtmlImpliesHead.contains(t)) parseElement(e.children) // head closed: stays under html
        else if (!bodyDone) {
          headDone = true
          implied("body") { b => parseChildren(b); bodyDone = true }
        } else parseElement(e.children) // after </body>: directly under html
      } else if (cur == '<') parseElement(e.children)
      else if (i < stop) {
        var k = i
        while (k < stop && s.charAt(k) != '<') k += 1
        if (s.substring(i, k).forall(TextUtil.isXmlWhitespace))
          parseText(e.children) // blanks stay as text children of html
        else if (!bodyDone) {
          headDone = true
          implied("body") { b =>
            impliedParagraph(b.children)
            parseChildren(b)
            bodyDone = true
          }
        } else impliedParagraph(e.children) // after </body>: bare implied <p>
      }
    }
    setParent(e)
  }

  private def splitPrefix(n: String): (String, String) = {
    val c = n.indexOf(':')
    if (c > 0) (n.substring(0, c), n.substring(c + 1)) else (null, n)
  }

  private def parseAttribute(e: XElem): Unit = {
    val nameStart = i
    while (i < stop && nameChar(s.charAt(i))) i += 1
    if (i == nameStart) { i += 1; return } // skip stray char
    var rawName = s.substring(nameStart, i)
    if (html) rawName = lowerName(rawName)
    skipWs()
    var value: String = null
    var hasValue = false
    if (cur == '=') {
      i += 1
      skipWs()
      hasValue = true
      val q = cur
      if (q == '"' || q == '\'') {
        i += 1
        // plain runs are copied in bulk; a value without references or
        // normalized whitespace is one substring
        var vs: java.lang.StringBuilder = null
        val parts = new mutable.ArrayBuffer[XNode](1)
        var run = i
        while (i < stop && s.charAt(i) != q) {
          val c = s.charAt(i)
          if (c == '&' || (!html && (c == '\n' || c == '\t' || c == '\r'))) {
            if (vs == null) vs = new java.lang.StringBuilder
            vs.append(s, run, i)
            if (c == '&') {
              parseReference() match {
                // char refs in attr values are NOT whitespace-normalized (&#10; stays \n)
                case Left(str) => vs.append(str)
                case Right(name) =>
                  if (vs.length > 0) { parts += new XText(vs.toString); vs.setLength(0) }
                  parts += new XEntityRef(name)
              }
            } else { // xml attr normalization: \n, \t, \r and \r\n become one space
              vs.append(' '); i += 1
              if (c == '\r' && i < stop && s.charAt(i) == '\n') i += 1
            }
            run = i
          } else i += 1
        }
        val last = if (vs == null) s.substring(run, i) else vs.append(s, run, i).toString
        if (i < stop) i += 1 // closing quote
        if (last.nonEmpty || parts.isEmpty) parts += new XText(last)
        attachAttr(e, rawName, parts, hasValue = true)
        return
      } else {
        // unquoted (html): runs to whitespace or '>' — a trailing '/' is
        // PART of the value (libxml2: <meta k=63/> parses as k="63/"),
        // never an XML-style self-close
        val start = i
        while (i < stop && !TextUtil.isXmlWhitespace(cur) && cur != '>') i += 1
        value = s.substring(start, i)
      }
    }
    if (hasValue) {
      val parts = new mutable.ArrayBuffer[XNode](1)
      parts += new XText(value)
      attachAttr(e, rawName, parts, hasValue = true)
    } else {
      attachAttr(e, rawName, null, hasValue = false)
    }
  }

  private def attachAttr(e: XElem, rawName: String, parts: mutable.ArrayBuffer[XNode],
                         hasValue: Boolean): Unit = {
    val flat = if (parts == null) null else parts
    val (p, local) = splitPrefix(rawName)
    if (p == null && rawName == "xmlns") {
      e.nsDefs += NsDef(null, if (flat == null) "" else flatString(flat))
    } else if (p == "xmlns") {
      e.nsDefs += NsDef(local, if (flat == null) "" else flatString(flat))
    } else {
      val a = new XAttr(p, local)
      if (hasValue) a.values = flat
      e.attrs += a
    }
  }

  private def flatString(parts: mutable.ArrayBuffer[XNode]): String = {
    val sb = new StringBuilder
    parts.foreach {
      case t: XText => sb.append(t.content)
      case r: XEntityRef =>
        val cp = TextUtil.decodeEntityRef(r.name)
        if (cp > 0) sb.appendAll(Character.toChars(cp))
        else entityDecls.get(r.name).foreach(sb.append)
      case _ =>
    }
    sb.toString
  }
}
