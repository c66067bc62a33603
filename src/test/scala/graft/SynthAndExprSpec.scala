package graft

import graft.synth.SourceFiles
import graft.expr.{XmqExprs, ZOrderInterleave, HilbertIndex, XmqFunctions}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SynthSpec extends AnyFunSuite {
  test("generation is deterministic") {
    val a = SourceFiles.generate(200, seed = 42)
    val b = SourceFiles.generate(200, seed = 42)
    assert(a == b)
    val c = SourceFiles.generate(200, seed = 43)
    assert(a != c)
  }

  test("every generated row is a round-trip fixed point (sha256 invariant)") {
    val rows = SourceFiles.generate(400, seed = 42)
    rows.foreach { r =>
      val rt = XmqExprs.roundtrip(r.content, r.lang)
      assert(rt != null, s"parse failed for ${r.lang}: ${r.content.take(100)}")
      assert(rt == r.content,
        s"not a fixed point (${r.lang}):\n--- content:\n${r.content}\n--- roundtrip:\n$rt")
    }
  }

  test("skew: top repo holds ~20% of rows") {
    val rows = SourceFiles.generate(5000, seed = 42)
    val byRepo = rows.groupBy(_.repo).view.mapValues(_.size).toMap
    val top = byRepo.values.max.toDouble / rows.size
    assert(top > 0.15 && top < 0.25, s"top repo share $top")
    assert(byRepo.size > 20, s"too few repos ${byRepo.size}")
  }

  test("all four langs appear") {
    val langs = SourceFiles.generate(200, seed = 42).map(_.lang).toSet
    assert(langs == Set("xml", "json", "xmq", "html"))
  }
}

class XmqExprSpec extends SparkTestBase {
  import org.apache.spark.sql.Row

  private def synthDf(n: Int) = {
    import spark.implicits._
    SourceFiles.generate(n, seed = 42).toDF()
  }

  test("xmq_roundtrip_ok holds for all synth rows on Spark") {
    val df = synthDf(300)
    val ok = df.filter(XmqFunctions.xmq_roundtrip_ok(col("content"), col("lang"))).count()
    assert(ok == 300)
  }

  test("sha2 invariance through the expression") {
    val df = synthDf(100)
      .withColumn("rt", XmqFunctions.xmq_roundtrip(col("content"), col("lang")))
    val bad = df.filter(sha2(col("rt"), 256) =!= sha2(col("content"), 256)).count()
    assert(bad == 0)
  }

  test("xmq_tokenize explodes the token stream") {
    import spark.implicits._
    val df = Seq(("node(x=1){y = 'hi'}", "xmq")).toDF("content", "lang")
    val toks = df.select(explode(XmqFunctions.xmq_tokenize(col("content"))).as("t"))
      .select("t.type").as[String].collect()
    assert(toks.contains("element_name") && toks.contains("attr_key") &&
           toks.contains("element_value_quote"))
  }

  test("sql registration works") {
    XmqFunctions.register(spark)
    import spark.implicits._
    Seq(("a { b = 1 }", "xmq")).toDF("content", "lang").createOrReplaceTempView("t_xmq")
    val out = spark.sql("SELECT xmq_convert(content, lang, 'json', false) AS j FROM t_xmq")
      .as[String].head()
    assert(out.trim == """{"_":"a","b":1}""")
    val det = spark.sql("SELECT xmq_detect('<a/>')").head().getString(0)
    assert(det == "xml")
  }

  test("zorder interleave is monotone in locality and deterministic") {
    assert(ZOrderInterleave.interleave(0L, 0L, 0L) == 0L)
    val z1 = ZOrderInterleave.interleave(Long.MaxValue, 0L, 1L)
    val z2 = ZOrderInterleave.interleave(Long.MaxValue, 0L, 1L)
    assert(z1 == z2)
    // lang occupies low 8 bits
    assert((ZOrderInterleave.interleave(0L, 0L, 7L) & 0xff) == 7L)
  }

  test("parseLongC matches C strtol/atol branch semantics (xmq.c:4319)") {
    import graft.expr.XmqExprs.parseLongC
    assert(parseLongC("42") == 42L)
    assert(parseLongC("-42xyz") == -42L)
    assert(parseLongC("  +7") == 7L)       // atol skips whitespace, sign
    assert(parseLongC("0x1F") == 31L)
    assert(parseLongC("0xg") == 0L)        // no hex digits after prefix
    assert(parseLongC("017") == 15L)       // leading 0 → octal
    assert(parseLongC("017abc") == 15L)    // trailing garbage stops the scan
    assert(parseLongC("09") == 0L)         // 9 not octal: parses just the 0
    assert(parseLongC("0") == 0L)
    assert(parseLongC(" 0x10") == 0L)      // raw-first-byte checks: atol path
    assert(parseLongC("") == 0L)
    assert(parseLongC("abc") == 0L)
    assert(parseLongC("99999999999999999999") == Long.MaxValue) // strtol clamp
  }

  test("parseDoubleC keeps strtod's longest decimal prefix (xmq.c:4357)") {
    import graft.expr.XmqExprs.parseDoubleC
    val table = Seq(
      "42" -> 42.0, "  3.5abc" -> 3.5, "-1e3x" -> -1000.0, "+.5" -> 0.5,
      "12." -> 12.0, "5e-1" -> 0.5, "1.5e+2" -> 150.0, "  +7.25E2 rest" -> 725.0,
      "1e" -> 1.0, "1.2.3" -> 1.2, "\t\n 7" -> 7.0, "1,5" -> 1.0,
      "." -> 0.0, "-" -> 0.0, "abc" -> 0.0, "" -> 0.0, "\u00a09" -> 0.0,
      // hex significand, optional binary exponent; "0x" alone reads its 0
      "0x10" -> 16.0, "0x1.8p1" -> 3.0, " -0X1Fz" -> -31.0, "0x.8" -> 0.5,
      "0x1p" -> 1.0, "0x1p-2" -> 0.25, "0x" -> 0.0, "0xg" -> 0.0,
      // case-insensitive infinity, its long form, any trailing text
      "-INF" -> Double.NegativeInfinity, "infx" -> Double.PositiveInfinity,
      " +Infinity" -> Double.PositiveInfinity, "in" -> 0.0)
    table.foreach { case (in, want) => assert(parseDoubleC(in) == want, s"strtod($in)") }
    assert(parseDoubleC("1e400").isPosInfinity) // overflow: HUGE_VAL
    Seq("nan", "NaN(123)", "-nan", " nanx").foreach(in => assert(parseDoubleC(in).isNaN, in))
    // the getter parses the first match's text the same way
    assert(XmqExprs.getDouble("<a><r> 2.5e1x</r></a>", "xml", "/a/r") == 25.0)
    assert(XmqExprs.getDouble("<a/>", "xml", "/a/r") == 0.0)
  }

  test("the getter parse memo pins no document once its task ends") {
    import graft.expr.XmqFunctions._
    import org.apache.spark.sql.functions.{col, concat, lit}
    val got = spark.range(0, 256, 1, 16)
      .select(xmq_get_string(concat(lit("<a>"), col("id").cast("string"), lit("</a>")),
        lit("xml"), lit("/a")))
      .collect().map(_.getString(0).toLong).toSet
    assert(got == (0L until 256L).toSet)
    // the executor pool hands new tasks to its most recently idle threads,
    // i.e. the ones that just ran the getters
    val held = spark.sparkContext.parallelize(0 until 64, 64)
      .map(_ => XmqExprs.memoHeld).collect()
    assert(!held.contains(true),
      s"${held.count(identity)} of 64 probe tasks found a memoized document")
  }

  test("typed getters return 0 (not null) on null inputs") {
    import spark.implicits._
    import graft.expr.XmqFunctions._
    import org.apache.spark.sql.functions.{col, lit}
    val df = Seq((Option.empty[String], "xmq")).toDF("content", "lang")
      .select(
        xmq_get_long(col("content"), col("lang"), lit("/a")).as("l"),
        xmq_get_double(col("content"), col("lang"), lit("/a")).as("d"),
        xmq_count(col("content"), col("lang"), lit("/a")).as("c"))
    val r = df.head()
    assert(r.getLong(0) == 0L && r.getDouble(1) == 0.0 && r.getLong(2) == 0L)
  }

  test("xmq_probe agrees with the single-output expressions (one parse)") {
    import spark.implicits._
    import graft.expr.XmqFunctions._
    import org.apache.spark.sql.functions.{col, lit, length}
    val df = Seq(
      ("a { b = 1 c = 2 }", "xmq"),
      ("<r><x>42abc</x></r>", "xml"),
      ("not { valid", "xmq")).toDF("content", "lang")
    val both = df.select(
      xmq_probe(col("content"), col("lang"), lit("//*"), lit("//*/text()"), lit("o")).as("p"),
      xmq_count(col("content"), col("lang"), lit("//*")).as("c"),
      is_wellformed(col("content"), col("lang")).as("w"),
      xmq_get_long(col("content"), col("lang"), lit("//*/text()")).as("l"),
      length(xmq_annotate_offsets(col("content"), col("lang"), lit("o"))).as("alen"))
    both.collect().foreach { r =>
      val p = r.getStruct(0)
      assert(p.getLong(0) == r.getLong(1), "count differs")
      assert(p.getBoolean(1) == r.getBoolean(2), "wellformed differs")
      assert(p.getLong(2) == r.getLong(3), "first_long differs")
      val alen = if (p.isNullAt(3)) null else Integer.valueOf(p.getString(3).length)
      val expAlen = if (r.isNullAt(4)) null else Integer.valueOf(r.getInt(4))
      assert(alen == expAlen, "annotated length differs")
    }
  }

  test("hilbert index covers the square bijectively for order 3") {
    val seen = collection.mutable.Set.empty[Long]
    for (x <- 0 until 8; y <- 0 until 8) seen += HilbertIndex.xy2d(x, y, 3)
    assert(seen.size == 64 && seen.min == 0 && seen.max == 63)
    // adjacent cells along the curve are adjacent in space (locality property)
    val pos = (for (x <- 0 until 8; y <- 0 until 8) yield HilbertIndex.xy2d(x, y, 3) -> (x, y)).toMap
    for (d <- 0L until 63L) {
      val (x1, y1) = pos(d); val (x2, y2) = pos(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1, s"jump at $d")
    }
  }
}
