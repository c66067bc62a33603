package graft.xmq

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import scala.collection.mutable
import org.scalatest.funsuite.AnyFunSuite
import graft.expr.XmqExprs
import graft.synth.SourceFiles

/** Golden-output oracle for the xmq kernel: digests of `roundtrip` and of
  * `convert` to xmq, compact xmq, xml, html and json over a deterministic
  * corpus, checked against `kernel-golden.txt`. The resource records what
  * the kernel printed before its hot paths were reworked; a change that
  * moves one output byte fails here, without the reference binary.
  *
  * Regenerating the resource accepts the current outputs as correct, so a
  * performance change must never do it:
  * `sbt "Test/runMain graft.xmq.KernelGolden src/test/resources/graft/xmq/kernel-golden.txt"` */
class KernelGoldenSpec extends AnyFunSuite {

  private def recorded: Map[String, String] = {
    val in = getClass.getResourceAsStream(KernelGolden.Resource)
    assert(in != null, s"missing resource ${KernelGolden.Resource}")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map { l => val Array(k, d) = l.split(' '); k -> d }.toMap
    finally in.close()
  }

  test("every kernel output digest equals the recorded one") {
    val want = recorded
    val got = KernelGolden.digests().toMap
    assert(got.keySet == want.keySet,
      s"corpus keys differ: missing ${(want.keySet -- got.keySet).toSeq.sorted.take(10)}, " +
        s"extra ${(got.keySet -- want.keySet).toSeq.sorted.take(10)}")
    val bad = want.keys.toSeq.sorted.filter(k => got(k) != want(k))
    assert(bad.isEmpty, s"${bad.size} of ${want.size} digests differ: ${bad.take(20).mkString(", ")}")
  }

  test("json duplicate-key suffixes of an 18-sibling object") {
    // wider than any corpus object; the expected print is the unchanged
    // kernel's
    val kids = (0 until 18).map { i =>
      val n = Seq("a", "b", "a", "c", "_")(i % 5); s"<$n>$i</$n>" }.mkString
    assert(XmqExprs.convert(s"<r>$kids<!--x--></r>", "xml", "json", false) ==
      """{"_":"r","a[0]":0,"b[0]":1,"a[1]":2,"c[0]":3,"":4,"a[2]":5,"b[1]":6,"a[3]":7,""" +
      """"c[1]":8,"":9,"a[4]":10,"b[2]":11,"a[5]":12,"c[2]":13,"":14,"a[6]":15,"b[3]":16,""" +
      """"a[7]":17,"//":"x"}""" + "\n")
  }

  test("the corpus covers every edge-case family and all three row seeds") {
    val keys = recorded.keySet
    for (fam <- Seq("entity", "cdata", "comment", "doctype", "ns", "compound", "bom",
                    "json-marker", "crlf", "nonbmp"))
      assert(keys.exists(_.startsWith(s"edge/$fam")), s"no edge case of family $fam")
    for (seed <- KernelGolden.RowSeeds)
      assert(keys.count(_.startsWith(s"rows/$seed/")) ==
        (KernelGolden.RowsPerSeed + KernelGolden.Chunk - 1) / KernelGolden.Chunk)
  }
}

object KernelGolden {
  val Resource = "/graft/xmq/kernel-golden.txt"
  val RowSeeds: Seq[Long] = Seq(11L, 42L, 301L)
  val RowsPerSeed = 4000
  val Chunk = 64

  private val Null = "\u0000null"

  /** the six kernel outputs of one document, null marked as `Null`. */
  def outputs(content: String, lang: String): Seq[String] =
    (XmqExprs.roundtrip(content, lang) +:
      Seq(("xmq", false), ("xmq", true), ("xml", false), ("html", false), ("json", false))
        .map { case (to, compact) => XmqExprs.convert(content, lang, to, compact) })
      .map(o => if (o == null) Null else o)

  private final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = { md.update(s.getBytes(UTF_8)); md.update(1.toByte) }
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def docDigest(content: String, lang: String): String = {
    val d = new Digest
    d.add(content); d.add(lang)
    outputs(content, lang).foreach(d.add)
    d.hex
  }

  /** printer outputs of a built tree; json last, since it collapses text. */
  private def treePrints(doc: => XDoc): Seq[String] = Seq(
    XmqPrinter.print(doc), XmqPrinter.print(doc, compact = true),
    XmlPrinter.printXml(doc), HtmlPrinter.printHtml(doc), JsonPrinter.print(doc))

  /** hand-written edge cases: (family/name, lang, content). */
  val edgeCases: Seq[(String, String, String)] = Seq(
    ("entity/predefined", "xml", "<a>x &amp; y &lt; z &gt; &quot;q&quot; &apos;s&apos;</a>"),
    ("entity/charref", "xml", "<a k=\"&#65;&#x42;&#10;\">&#65;&#x1F600;&#160;</a>"),
    ("entity/declared", "xml", "<!DOCTYPE a [<!ENTITY foo \"bar\">]><a>t &foo; u</a>"),
    ("entity/declared-attr", "xml", "<!DOCTYPE a [<!ENTITY foo \"bar\">]><a k=\"x&foo;y\"/>"),
    ("entity/html-named", "html", "<html><body><p>a&nbsp;b &copy; &hellip; &bogus; & c</p></body></html>"),
    ("entity/xmq", "xmq", "a = &#10;\nb = ( 'x' &#9; 'y' &nbsp; )\n&amp;\nc(k = &lt;)"),
    ("entity/json", "json", "{\"a\":\"&amp; x\",\"&\":\"&nbsp;\"}"),
    ("cdata/xml", "xml", "<a><![CDATA[x < y && z]]> tail <![CDATA[]]></a>"),
    ("cdata/html-script", "html", "<html><head><script>if (a<b && c>d) x();</script><style>p>a{}</style></head><body></body></html>"),
    ("comment/xml-dle", "xml", "<a><!-- x -␐- y --><b/><!--\n  multi\n  line\n--></a>"),
    ("comment/xmq-dashes", "xmq", "// lead -- comment\na {\n    // x -- y --\n    b = 1\n    /* c\n       d */\n}"),
    ("comment/xmq-compact", "xmq", "a{/*x*/b=1/**/c=2///*y*///}"),
    ("comment/continuation", "xmq", "/* a *//* b */\nx = 1"),
    ("comment/json", "json", "{\"_//\":\"pre\",\"a\":{\"//\":\"in\",\"b\":1}}"),
    ("doctype/html5", "html", "<!DOCTYPE html><html><body><p>hi</p></body></html>"),
    ("doctype/system", "xml", "<!DOCTYPE greeting SYSTEM \"hello.dtd\"><greeting>hi</greeting>"),
    ("doctype/implied", "html", "<p>text only"),
    ("doctype/xmq", "xmq", "!DOCTYPE = html\nhtml { body { p = hi } }"),
    ("doctype/json", "json", "{\"!DOCTYPE\":\"html\",\"_\":\"html\",\"body\":{}}"),
    ("ns/xml", "xml", "<x:a xmlns:x=\"urn:x\" xmlns=\"urn:d\"><x:b x:k=\"v\" xml:lang=\"en\"/><c/></x:a>"),
    ("ns/xmq", "xmq", "x:a(xmlns:x = urn:x xmlns = urn:d) { x:b(x:k = v) c }"),
    ("ns/json", "json", "{\"_\":\"x:a\",\"_xmlns:x\":\"urn:x\",\"_xmlns\":\"urn:d\",\"x:b\":\"v\"}"),
    ("compound/value", "xmq", "a = ( 'x' &#10; 'y' )\nb = ('''it's''' \"q\")\nc = ( &#32; 'sp' &#32; )"),
    ("compound/attr", "xmq", "a(k = ( 'x' &#10; 'y' ) j = ('''it's''' &quot;))"),
    ("compound/leading-nl", "xml", "<a k=\"&#10; x &#10;\">\n  \n x y \n  \n</a>"),
    ("compound/quotes", "xml", "<a><b>'''</b><c>\"\"</c><d>it's \"q\"</d><e>'x\"</e><f>  </f><g>\n\n</g></a>"),
    ("bom/xml", "xml", "\uFEFF<a>x</a>"),
    ("bom/xmq", "xmq", "\uFEFFa = 1"),
    ("bom/json", "json", "\uFEFF{\"a\":1}"),
    ("bom/auto", "auto", "\uFEFF<?xml version=\"1.0\"?><a>x</a>"),
    ("json-marker/array", "json", "[1,\"2\",true,null,{\"k\":\"v\"},[],{}]"),
    ("json-marker/string", "json", "{\"n\":\"12\",\"t\":\"true\",\"e\":\"\",\"f\":1.5e3,\"z\":-0.25}"),
    ("json-marker/name", "json", "{\"_\":\"root\",\"a\":[1,2],\"_attr\":\"v\",\"_b\":null,\"|\":\"text\",\"x y\":\"unsafe\",\"a[1]\":3}"),
    ("json-marker/dup", "json", "{\"a\":1,\"a\":2,\"b\":{\"c\":[{\"d\":1},{\"d\":2}]}}"),
    ("json-marker/xmq", "xmq", "_(A) { _ = 1 _ = '2' _(S) = 3 }"),
    ("json-marker/xml", "xml", "<r><a A=\"\"><_>1</_><_ S=\"\">2</_></a><k _=\"x y\" S=\"\">true</k><t>x<!--c-->y</t></r>"),
    ("json-marker/scalar", "json", "\"just a string\""),
    ("crlf/xml", "xml", "<a k=\"x\r\ny\">\r\nline\r\n</a>\r\n"),
    ("crlf/xmq", "xmq", "a = 'x\r\ny'\r\nb {\r\n    c = 1\r\n}\r\n"),
    ("crlf/json", "json", "{\r\n\"a\":\"x\\r\\ny\"\r\n}"),
    ("crlf/html", "html", "<html>\r\n<body>\r\n<p>a\r\nb</p>\r\n</body>\r\n</html>"),
    ("nonbmp/xml", "xml", "<a k=\"😀\">𝄞 music é中</a>"),
    ("nonbmp/xmq", "xmq", "a = '😀 x'\nb = 𝄞\nc(k = '\u00a0x\u2003')\nd = '\u2001'"),
    ("nonbmp/json", "json", "{\"a\":\"\\ud83d\\ude00\",\"b\":\"𝄞\",\"c\":\"\\u00e9\\t\\\\\\\"\"}"),
    ("nonbmp/html", "html", "<html><body><P CLASS=x>😀<BR>b</P></body></html>"),
    ("misc/pi", "xml", "<?xml version=\"1.0\" standalone=\"yes\"?><?pi some data?><a/><!-- after -->"),
    ("misc/html-void", "html", "<HTML><BODY><DIV ID=\"a\" hidden><IMG SRC=x.png><INPUT value=63/>t</DIV><ul><li>a<li>b</ul></BODY></HTML>"),
    ("misc/indent", "xmq", "a = '''\n    x\n      y\n    z\n    '''\nb = '\n  two\n'"),
    ("misc/unsafe", "xmq", "a = 'x=y'\nb = '{'\nc = 'it''s'\nd = ''''\ne = '\t'\nf = 'a  b'\ng = ''\n"),
    ("misc/whitespace", "xml", "<a>   <b> x </b>\n\t<c> </c><d> </d></a>"),
    ("misc/empty", "xmq", ""),
    ("misc/blank", "xml", "   \n"),
    ("misc/auto-json", "auto", "[true,false]"),
    ("misc/auto-xmq", "auto", "a { b = c }"),
    ("misc/text", "text", "plain <text> & more"),
    ("invalid/xml", "xml", "<a><b></a>"),
    ("invalid/json", "json", "{\"a\":"),
    ("invalid/xmq", "xmq", "a = ("),
    ("invalid/entity", "xml", "<a>&undefined;</a>"))

  /** (key, digest) for the whole corpus, in key order. */
  def digests(): Seq[(String, String)] = {
    val out = mutable.ArrayBuffer.empty[(String, String)]
    for (seed <- RowSeeds) {
      val repos = math.max(4, math.sqrt(RowsPerSeed.toDouble).toInt)
      (0 until RowsPerSeed).grouped(Chunk).zipWithIndex.foreach { case (idx, c) =>
        val d = new Digest
        idx.foreach { i =>
          val r = SourceFiles.row(seed, i.toLong, repos)
          d.add(r.content); d.add(r.lang)
          d.add(docDigest(r.content, r.lang))
        }
        out += (f"rows/$seed/$c%03d" -> d.hex)
      }
    }
    val trees = mutable.ArrayBuffer.empty[XElem]
    PropertySpec.forAllN(PropertySpec.elemGen(0), 256)(trees += _)
    trees.grouped(Chunk).zipWithIndex.foreach { case (ts, c) =>
      val d = new Digest
      ts.foreach { root =>
        def doc = { val x = new XDoc; x.appendChild(root); x }
        val prints = treePrints(doc)
        prints.foreach(d.add)
        // the prints as inputs: pretty and compact xmq, xml
        for ((c, lang) <- Seq((prints(0), "xmq"), (prints(1), "xmq"), (prints(2), "xml")))
          d.add(docDigest(c, lang))
      }
      out += (f"prop/$c%03d" -> d.hex)
    }
    edgeCases.foreach { case (name, lang, content) =>
      out += (s"edge/$name" -> docDigest(content, lang))
    }
    out.sortBy(_._1).toSeq
  }

  /** writes the resource: `Test/runMain graft.xmq.KernelGolden <file>`. */
  def main(args: Array[String]): Unit = {
    val lines = digests().map { case (k, d) => s"$k $d" }
    Files.createDirectories(Paths.get(args(0)).getParent)
    Files.write(Paths.get(args(0)), (lines.mkString("\n") + "\n").getBytes(UTF_8))
    println(s"wrote ${lines.size} digests to ${args(0)}")
  }
}
