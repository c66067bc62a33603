package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import graft.expr.{XmqExprs, XmqRoundTripOk}
import graft.xmq._
import Ctx._

/** Single-threaded, warm timings of the xmq kernel and the round-trip
  * expression on a fixed sample of the staged corpus (traced run only, on
  * every workload). */
object Kernel {
  private val SampleRows = 2000

  private def contentType(lang: String): Xmq.ContentType = lang match {
    case "xml" => Xmq.XML
    case "html" => Xmq.HTML
    case "json" => Xmq.JSON
    case _ => Xmq.XMQ
  }

  private def parse(c: String, lang: String): XDoc =
    XmqEngine.parse(c.getBytes(UTF_8), XmqEngine.ParseFlags(forced = contentType(lang)))

  private def print(doc: XDoc, lang: String): String = lang match {
    case "xml" => XmqEngine.toXml(doc)
    case "html" => XmqEngine.toHtml(doc)
    case "json" => XmqEngine.toJson(doc)
    case _ => XmqEngine.toXmq(doc)
  }

  /** ns per unit of `body`, which processes `units` units: 120 ms of warm
    * calls, then the median of five windows of at least 40 ms each. */
  private def nsPer(units: Long)(body: => Unit): Double = {
    require(units > 0, "kernel sample is empty")
    val warm = System.nanoTime()
    while (System.nanoTime() - warm < 120000000L) body
    medianOf((1 to 5).map { _ =>
      var reps = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 40000000L) { body; reps += 1 }
      (System.nanoTime() - t0).toDouble / (reps * units)
    })
  }

  def run(ctx: Ctx, staged: Staged): Unit = {
    // commit is a hash, so its order mixes the four languages evenly
    val rows = staged.read(ctx.spark).select("lang", "content").orderBy(col("commit"))
      .limit(SampleRows).collect().map(r => (r.getString(0), r.getString(1)))
    def bytes(docs: Seq[String]): Long = docs.map(_.getBytes(UTF_8).length.toLong).sum

    for (lang <- Seq("xml", "html", "json", "xmq")) {
      val docs = rows.collect { case (`lang`, c) => c }.toSeq
      val arrays = docs.map(_.getBytes(UTF_8))
      val n = bytes(docs)
      val flags = XmqEngine.ParseFlags(forced = contentType(lang))
      ctx.layer(s"xmq.parse_ns_per_byte.$lang") =
        (nsPer(n)(arrays.foreach(b => XmqEngine.parse(b, flags))), "ns/byte")
      val trees = docs.map(parse(_, lang))
      ctx.layer(s"xmq.print_ns_per_byte.$lang") =
        (nsPer(n)(trees.foreach(print(_, lang))), "ns/byte")
    }

    // the tokenizer reads xmq, so every sampled document is tokenized in
    // its xmq form
    val xmqDocs = rows.map { case (l, c) => XmqExprs.convert(c, l, "xmq", false) }
      .filter(_ != null).map(_.getBytes(UTF_8))
    val sink = new TokenSink {
      def token(tpe: String, line: Int, col: Int, start: Int, stop: Int, suffix: Int): Unit = ()
    }
    ctx.layer("xmq.tokenize_ns_per_byte") = (nsPer(xmqDocs.map(_.length.toLong).sum)(
      xmqDocs.foreach(b => new XmqTokenizer(b, sink).tokenize())), "ns/byte")

    // as maintain's merge converts its updated rows: lang → lang
    ctx.layer("xmq.convert_ns_per_byte") = (nsPer(bytes(rows.map(_._2)))(rows.foreach {
      case (l, c) => XmqExprs.convert(c, l, l, false)
    }), "ns/byte")

    val expr = XmqRoundTripOk(BoundReference(0, StringType, nullable = true),
                              BoundReference(1, StringType, nullable = true))
    val internal = rows.map { case (l, c) =>
      InternalRow(UTF8String.fromString(c), UTF8String.fromString(l))
    }
    // alternate the two, so a slow host moment does not land on one only
    val (evals, kernels) = (1 to 3).map { _ =>
      (nsPer(rows.length)(internal.foreach(expr.eval)),
       nsPer(rows.length)(rows.foreach { case (l, c) => print(parse(c, l), l) == c }))
    }.unzip
    val evalNs = medianOf(evals)
    val kernelNs = medianOf(kernels)
    ctx.layer("expr.roundtrip_ok_ns_per_row") = (evalNs, "ns/row")
    ctx.layer("expr.overhead_ns_per_row") = (evalNs - kernelNs, "ns/row")
  }
}
