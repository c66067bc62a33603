package graft.xmq

/** JSON → xmq tree reader. Re-expression of the reference's simulated-token
  * json parser (/root/reference/src/main/c/parts/json.c:735-1101): duplicate
  * sibling keys carry [i] suffixes that are stripped; "_"/"A"/"S" markers,
  * "|" text keys, "//" comment keys, "_attr" attributes, "_xmlns" namespace
  * declarations, "!DOCTYPE".
  */
final class JsonParseError(msg: String) extends Exception(msg)

object JsonParser {

  def parse(content: String, implicitRoot: String = null): XDoc = {
    val b = new XmqBuilder(implicitRoot, mergeText = false, noTrimQuotes = true)
    val p = new JsonParser(content, b)
    p.parseValue(null)
    p.skipWs()
    if (p.i < content.length) throw new JsonParseError("trailing content")
    b.doc
  }

  /** json.c is_jnumber: returns end index of the number or -1. */
  def isJNumber(s: String, from: Int, to: Int): Int = {
    if (from == to) return -1
    var foundE = false
    var foundESign = false
    var leadingZero = false
    var lastIsDigit = false
    var foundDot = false
    def ended(c: Char) = c == ' ' || c == '\n' || c == ',' || c == '}' || c == ']'
    var i = from
    while (i < to) {
      val c = s.charAt(i)
      lastIsDigit = false
      val notDigit = c < '0' || c > '9'
      if (i == from) {
        if (notDigit && c != '-') return -1
        if (c == '0') leadingZero = true
        if (c != '-') lastIsDigit = true
      } else if (leadingZero) {
        leadingZero = false
        if (ended(c)) return i
        if (c != '.') return -1
        foundDot = true
      } else if (c == '.') {
        if (foundDot) return -1
        foundDot = true
      } else if (c == 'e' || c == 'E') {
        if (foundE) return -1
        foundE = true
      } else if (foundE && !foundESign) {
        if (ended(c)) return i
        if (notDigit && c != '-' && c != '+') return -1
        if (c == '+' || c == '-') foundESign = true else lastIsDigit = true
      } else {
        foundESign = false
        if (ended(c)) return i
        if (notDigit) return -1
        lastIsDigit = true
      }
      i += 1
    }
    if (!lastIsDigit) -1 else i
  }

  def jsonIsNumber(s: String): Boolean = s.nonEmpty && isJNumber(s, 0, s.length) == s.length
  def jsonIsKeyword(s: String): Boolean = s == "true" || s == "false" || s == "null"
}

final class JsonParser(s: String, b: XmqBuilder) {
  import JsonParser._

  var i = 0
  private val stop = s.length

  def skipWs(): Unit = {
    while (i < stop && TextUtil.isXmlWhitespace(s.charAt(i))) i += 1
  }

  private def err(msg: String): Nothing = throw new JsonParseError(s"$msg at offset $i")

  /** the first backslash at or after the scan position (Int.MaxValue:
    * none); it moves forward only, so the scans stay linear. */
  private var nextBackslash = -1

  /** a quoted string's content; one without escapes is a substring. */
  private def eatQuote(): String = {
    if (s.charAt(i) != '"') err("expected quote")
    i += 1
    var run = i
    if (nextBackslash < i) {
      val k = s.indexOf('\\', i)
      nextBackslash = if (k < 0) Int.MaxValue else k
    }
    val close = s.indexOf('"', i)
    if (close >= 0 && close < nextBackslash) { i = close + 1; return s.substring(run, close) }
    val sb = new java.lang.StringBuilder
    var done = false
    while (i < stop && !done) {
      val c = s.charAt(i)
      if (c == '"') { sb.append(s, run, i); i += 1; done = true }
      else if (c == '\\') {
        sb.append(s, run, i)
        i += 1
        if (i >= stop) err("bad escape")
        s.charAt(i) match {
          case '"' => sb.append('"'); i += 1
          case '\\' => sb.append('\\'); i += 1
          case '/' => sb.append('/'); i += 1
          case 'b' => sb.append('\b'); i += 1
          case 'f' => sb.append('\f'); i += 1
          case 'n' => sb.append('\n'); i += 1
          case 'r' => sb.append('\r'); i += 1
          case 't' => sb.append('\t'); i += 1
          case 'u' =>
            i += 1
            if (i + 3 >= stop || !(0 to 3).forall(k => TextUtil.isHex(s.charAt(i + k))))
              err("invalid json escape")
            val uc = (TextUtil.hexValue(s.charAt(i)) << 12) | (TextUtil.hexValue(s.charAt(i + 1)) << 8) |
                     (TextUtil.hexValue(s.charAt(i + 2)) << 4) | TextUtil.hexValue(s.charAt(i + 3))
            sb.append(uc.toChar)
            i += 4
          case _ => err("invalid json escape")
        }
        run = i
      } else i += 1
    }
    if (!done) err("quote not closed")
    sb.toString
  }

  /** "path[32]" → "path" (json.c trim_index_suffix). */
  private def trimIndexSuffix(key: String): String = {
    if (key == null || key.isEmpty || key.last != ']') return key
    var k = key.length - 2
    while (k > 0 && key.charAt(k) >= '0' && key.charAt(k) <= '9') k -= 1
    if (k > 0 && key.charAt(k) == '[') key.substring(0, k) else key
  }

  def parseValue(key0: String): Unit = {
    skipWs()
    if (i >= stop) err("unexpected eof")
    val c = s.charAt(i)
    if (c == '"') parseQuote(key0)
    else if (s.startsWith("true", i) || s.startsWith("false", i)) parseScalar(key0, eatKeyword())
    else if (s.startsWith("null", i)) parseNull(key0)
    else if (isJNumber(s, i, stop) > 0) parseScalar(key0, eatNumber())
    else if (c == '{') parseObject(key0)
    else if (c == '[') parseArray(key0)
    else err("invalid json char")
    skipWs()
  }

  private def eatKeyword(): String = {
    val w = if (s.charAt(i) == 't') "true" else "false"
    i += w.length
    w
  }

  private def eatNumber(): String = {
    val e = isJNumber(s, i, stop)
    val w = s.substring(i, e)
    i = e
    w
  }

  /** Key normalization: returns (elemName, nsPrefix, unsafeOriginalKey). */
  private def normalizeKey(key0: String): (String, String, String) = {
    val key = trimIndexSuffix(key0)
    if (key == null || key.isEmpty) return ("_", null, null)
    val colon = TextUtil.xmqElementNameColon(key)
    if (colon == TextUtil.NotAnElementName) return ("_", null, key)
    if (colon >= 0) (key.substring(colon + 1), key.substring(0, colon), null)
    else (key, null, null)
  }

  /** create element for key; add _ attr for unsafe keys and optional S marker. */
  private def emitElement(key0: String, needStringType: Boolean = false,
                          arrayMarker: Boolean = false): Unit = {
    val (name, ns, unsafe) = normalizeKey(key0)
    if (ns != null) b.setElementNamespace(ns)
    b.createNode(name)
    if (unsafe != null || needStringType || arrayMarker) {
      b.pushContainer()
      if (unsafe != null) { b.doAttrKey("_"); b.doAttrValueQuote(unsafe) }
      if (needStringType) b.doAttrKey("S")
      if (arrayMarker) b.doAttrKey("A")
      b.popContainer()
    }
  }

  private def parseScalar(key0: String, value: String): Unit = {
    emitElement(key0)
    b.doElementValueText(value)
  }

  private def parseNull(key0: String): Unit = {
    i += 4
    val key = trimIndexSuffix(key0)
    if (key != null && key.length > 1 && key.charAt(0) == '_') {
      b.doAttrKey(key.substring(1)) // "_async":null → boolean attribute
      return
    }
    emitElement(key0)
    b.doElementValueText("null")
  }

  private def parseQuote(key0: String): Unit = {
    val content = eatQuote()
    val key = trimIndexSuffix(key0)

    if (key == "|") { b.simQuote(content, raw = true); return }
    if (key == "//") { b.simComment(content, raw = true); return }
    if (key == "_//") {
      if (!b.rootFound) b.addPreNodeBefore = true else b.addPostNodeAfter = true
      b.simComment(content, raw = true)
      b.addPreNodeBefore = false; b.addPostNodeAfter = false
      return
    }
    if (key == "_") {
      val colon = TextUtil.xmqElementNameColon(content)
      if (colon != TextUtil.NotAnElementName) {
        if (colon < 0) b.setContainerName(content)
        else {
          b.setContainerName(content.substring(colon + 1))
          b.setContainerNamespace(content.substring(0, colon))
        }
        b.rootFound = true
        return
      }
      // invalid element name: reference warns and falls through
    }
    if (key == "!DOCTYPE" && !b.doctypeFound) {
      b.createNode("!DOCTYPE")
      b.addPreNodeBefore = true
      b.doElementValueQuote(content)
      b.addPreNodeBefore = false
      return
    }

    if (key != null && key.length > 1 && key.charAt(0) == '_' && key != "_") {
      if (key.startsWith("_xmlns")) {
        val colon = key.indexOf(':')
        if (colon >= 0) b.doNsDeclaration(isDefault = false, prefixPart = key.substring(colon))
        else b.doNsDeclaration(isDefault = true, prefixPart = "")
        b.doAttrValueQuote(content)
      } else {
        b.doAttrKey(key.substring(1))
        b.doAttrValueQuote(content)
      }
      return
    }

    val needStringType = content.nonEmpty &&
      (content == "true" || content == "false" || content == "null" || jsonIsNumber(content))
    emitElement(key0, needStringType = needStringType)
    b.doElementValueText(content)
  }

  private def parseObject(key0: String): Unit = {
    i += 1 // {
    emitElement(key0)
    b.pushContainer()
    var done = false
    var expectMore = true
    while (i < stop && expectMore && !done) {
      skipWs()
      if (i < stop && s.charAt(i) == '}') done = true
      else {
        if (i >= stop || s.charAt(i) != '"') err("invalid json char (expected key)")
        val key = eatQuote()
        skipWs()
        if (i >= stop || s.charAt(i) != ':') err("expected colon")
        i += 1
        parseValue(key)
        if (i < stop && s.charAt(i) == ',') i += 1 else expectMore = false
      }
    }
    skipWs()
    if (i >= stop || s.charAt(i) != '}') err("object not closed")
    i += 1
    b.popContainer()
  }

  private def parseArray(key0: String): Unit = {
    i += 1 // [
    emitElement(key0, arrayMarker = true)
    b.pushContainer()
    var done = false
    var expectMore = true
    while (i < stop && expectMore && !done) {
      skipWs()
      if (i < stop && s.charAt(i) == ']') done = true
      else {
        parseValue(null)
        if (i < stop && s.charAt(i) == ',') i += 1 else expectMore = false
      }
    }
    skipWs()
    if (i >= stop || s.charAt(i) != ']') err("array not closed")
    i += 1
    b.popContainer()
  }
}
