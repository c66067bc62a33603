package graft.lake

import graft.SparkTestBase
import graft.synth.SourceFiles
import java.nio.file.Files
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** The manifest pruning rule, one definition reached two ways: the
  * driver-local planner's direct call and `manifestPredicate` over a
  * manifest DataFrame must agree on every (entry, filter) pair. Then the
  * z rule for (repo, path) points on tables whose `z` is, and is not, the
  * Z-order key, each read checked against plain Spark. */
class ScanPruningSpec extends SparkTestBase {

  private def entry(minRepo: String = "b", maxRepo: String = "d",
                    minPath: String = "p", maxPath: String = "r",
                    langs: Seq[String] = Seq("xml"), rh: (Long, Long) = (0L, 0L),
                    nulls: Option[Long] = Some(0L), records: Long = 10L) =
    ManifestEntry("data/x/f.parquet", "x", records, 100L, minRepo, maxRepo,
      minPath, maxPath, langs, 0L, 0L, rh._1, rh._2, 0L, nulls, nulls, nulls)

  private def hash(repo: String): Long =
    XxHash64Function.hash(UTF8String.fromString(repo), StringType, 42L)

  private val unknown = entry(null, null, null, null, null, nulls = None)
  private val hc = hash("c")
  private val smile = "\uD83D\uDE00" // U+1F600: below U+FF00 in UTF-16, above it in UTF-8

  /** (what the row checks, entry, filter, keep) */
  private val grid: Seq[(String, ManifestEntry, Filter, Boolean)] = Seq(
    ("repo inside the bounds", entry(), EqualTo("repo", "c"), true),
    ("repo above max", entry(), EqualTo("repo", "e"), false),
    ("repo below min", entry(), EqualTo("repo", "a"), false),
    ("non-string literal", entry(), EqualTo("repo", 5), true),
    ("unsupported column", entry(), EqualTo("commit", "x"), true),
    ("null stats keep =", unknown, EqualTo("repo", "zz"), true),
    ("null stats keep >", unknown, GreaterThan("path", "zz"), true),
    ("null stats keep startsWith", unknown, StringStartsWith("repo", "q"), true),
    ("null langs keep lang =", unknown, EqualTo("lang", "json"), true),
    ("null counts keep IS NULL", unknown, IsNull("repo"), true),
    ("null counts keep IS NOT NULL", unknown, IsNotNull("repo"), true),
    ("unknown AND false is false", entry(minRepo = null), EqualTo("repo", "e"), false),
    ("rh bounds hold the hash", entry(rh = (hc, hc)), EqualTo("repo", "c"), true),
    ("rh bounds exclude the hash", entry(rh = (hc + 1, hc + 10)), EqualTo("repo", "c"), false),
    ("(0, 0) rh bounds carry no stats", entry(rh = (0L, 0L)), EqualTo("repo", "c"), true),
    ("null min_repo carries no hash stats",
      entry(minRepo = null, maxRepo = null, rh = (hc + 1, hc + 10)), EqualTo("repo", "c"), true),
    ("IN prunes on hash and string bounds",
      entry(rh = (hc + 1, hc + 10)), In("repo", Array("c", "zz")), false),
    ("IN keeps on any value", entry(), In("repo", Array("zz", "c")), true),
    ("IN keeps a non-string value", entry(), In("repo", Array("zz", 5)), true),
    ("path IN keeps on any value", entry(), In("path", Array("zz", "q")), true),
    ("path IN misses every value", entry(), In("path", Array("a", "zz")), false),
    ("path IN keeps a non-string value", entry(), In("path", Array("zz", 5)), true),
    ("UTF-8 order: U+FF00 lies inside [U+E000, U+1F600]",
      entry(minRepo = "\uE000", maxRepo = smile), EqualTo("repo", "\uFF00"), true),
    ("UTF-8 order: max U+1F600 > U+FF00",
      entry(minRepo = "\uE000", maxRepo = smile), GreaterThan("repo", "\uFF00"), true),
    ("UTF-8 order: U+1F601 above max", entry(minRepo = "\uE000", maxRepo = smile),
      EqualTo("repo", "\uD83D\uDE01"), false),
    ("all-U+FFFF prefix inside", entry(minRepo = "\uFFFF\uFFFF", maxRepo = "\uFFFF\uFFFFz"),
      StringStartsWith("repo", "\uFFFF"), true),
    ("all-U+FFFF prefix, min equal", entry(minRepo = "\uFFFF", maxRepo = "\uFFFF\uFFFF"),
      StringStartsWith("repo", "\uFFFF\uFFFF"), true),
    ("all-U+FFFF prefix below the file", entry(minRepo = smile, maxRepo = smile + "z"),
      StringStartsWith("repo", "\uFFFF"), false),
    ("all-U+FFFF prefix above the file", entry(minRepo = "a", maxRepo = "b"),
      StringStartsWith("repo", "\uFFFF"), false),
    ("prefix between the bounds", entry(), StringStartsWith("path", "q"), true),
    ("prefix extending min", entry(), StringStartsWith("path", "pa"), true),
    ("prefix above max", entry(), StringStartsWith("path", "s"), false),
    ("prefix below min", entry(), StringStartsWith("path", "o"), false),
    ("repo > max", entry(), GreaterThan("repo", "d"), false),
    ("repo >= max", entry(), GreaterThanOrEqual("repo", "d"), true),
    ("repo < min", entry(), LessThan("repo", "b"), false),
    ("repo <= min", entry(), LessThanOrEqual("repo", "b"), true),
    ("path < min", entry(), LessThan("path", "p"), false),
    ("path <= min", entry(), LessThanOrEqual("path", "p"), true),
    ("path > max", entry(), GreaterThan("path", "r"), false),
    ("path >= max", entry(), GreaterThanOrEqual("path", "r"), true),
    ("lang present", entry(), EqualTo("lang", "xml"), true),
    ("lang absent", entry(), EqualTo("lang", "json"), false),
    ("lang absent but a null in the set", entry(langs = Seq("xml", null)),
      EqualTo("lang", "json"), true),
    ("lang IN hit", entry(), In("lang", Array("json", "xml")), true),
    ("lang IN miss", entry(), In("lang", Array("json", "html")), false),
    ("IS NULL on a null-free file", entry(), IsNull("repo"), false),
    ("IS NULL with nulls", entry(nulls = Some(3L)), IsNull("path"), true),
    ("IS NOT NULL on an all-null file", entry(nulls = Some(10L)), IsNotNull("lang"), false),
    ("IS NOT NULL with values", entry(nulls = Some(3L)), IsNotNull("repo"), true),
    ("IS NULL on an unsupported column", entry(), IsNull("commit"), true),
    ("AND with one side false", entry(), And(EqualTo("repo", "c"), EqualTo("lang", "json")), false),
    ("AND with both sides true", entry(), And(EqualTo("repo", "c"), EqualTo("lang", "xml")), true),
    ("OR with one side true", entry(), Or(EqualTo("repo", "e"), EqualTo("lang", "xml")), true),
    ("OR with both sides false", entry(), Or(EqualTo("repo", "e"), EqualTo("lang", "json")), false))

  test("the pruning grid: the direct call and manifestPredicate agree with the expected keep") {
    import spark.implicits._
    grid.foreach { case (what, e, f, keep) =>
      assert(GraftScan.mayMatch(Array(f))(e) == keep, s"direct: $what ($f)")
      val n = Seq(e).toDF().filter(GraftScan.manifestPredicate(Array(f))).count()
      assert(n == (if (keep) 1 else 0), s"manifestPredicate: $what ($f)")
    }
  }

  private def zKey(repo: String, path: String): Long =
    graft.expr.ZOrderInterleave.interleave(hash(repo), hash(path), 0L)

  private def zEntry(lo: Long, hi: Long, flag: Option[Boolean] = Some(true)) =
    entry().copy(min_z = lo, max_z = hi, z_order = flag)

  private val pcq = zKey("c", "q")
  private val pairs = for (a <- Seq("c", "d"); b <- Seq("q", "r")) yield zKey(a, b)
  /** a z value no range of the (c | d, q | r) pairs meets */
  private val between = {
    val z = pairs.min + 0x100
    require(pairs.forall(p => z < p || z > (p | 0xff)))
    z
  }
  private def point(repo: String, path: String): Filter =
    And(EqualTo("repo", repo), EqualTo("path", path))

  /** (what the row checks, entry, filters, keep): multi-filter arrays */
  private val zGrid: Seq[(String, ManifestEntry, Array[Filter], Boolean)] = Seq(
    ("the range inside the bounds", zEntry(pcq - 1000, pcq + 1000),
      Array(EqualTo("repo", "c"), EqualTo("path", "q")), true),
    ("the range meets min_z at its top", zEntry(pcq | 0xff, pcq + 0x10000),
      Array(EqualTo("repo", "c"), EqualTo("path", "q")), true),
    ("the range meets max_z at its start", zEntry(pcq - 0x10000, pcq),
      Array(EqualTo("repo", "c"), EqualTo("path", "q")), true),
    ("the range below the bounds", zEntry(pcq + 0x100, pcq + 0x10000),
      Array(EqualTo("repo", "c"), EqualTo("path", "q")), false),
    ("the range above the bounds", zEntry(pcq - 0x10000, pcq - 1),
      Array(EqualTo("repo", "c"), EqualTo("path", "q")), false),
    ("pushed IS NOT NULLs beside the point", zEntry(pcq + 0x100, pcq + 0x10000),
      Array(IsNotNull("repo"), IsNotNull("path"), EqualTo("repo", "c"), EqualTo("path", "q")), false),
    ("z_order None keeps", zEntry(pcq + 0x100, pcq + 0x10000, None),
      Array(EqualTo("repo", "c"), EqualTo("path", "q")), true),
    ("z_order Some(false) keeps", zEntry(pcq + 0x100, pcq + 0x10000, Some(false)),
      Array(EqualTo("repo", "c"), EqualTo("path", "q")), true),
    ("(0, 0) z bounds carry no stats", zEntry(0L, 0L),
      Array(EqualTo("repo", "c"), EqualTo("path", "q")), true),
    ("repo alone has no z test", zEntry(pcq + 0x100, pcq + 0x10000),
      Array(EqualTo("repo", "c")), true),
    ("path alone has no z test", zEntry(pcq + 0x100, pcq + 0x10000),
      Array(EqualTo("path", "q")), true),
    ("IN x IN meets one pair", zEntry(pairs.max, pairs.max),
      Array(In("repo", Array("c", "d")), In("path", Array("q", "r"))), true),
    ("IN x IN misses every pair", zEntry(between, between),
      Array(In("repo", Array("c", "d")), In("path", Array("q", "r"))), false),
    ("repo values intersect: (c, d) and c", zEntry(zKey("d", "q"), zKey("d", "q")),
      Array(In("repo", Array("c", "d")), EqualTo("repo", "c"), EqualTo("path", "q")),
      zKey("d", "q") == pcq),
    ("a point as one And node", zEntry(pcq + 0x100, pcq + 0x10000),
      Array(point("c", "q")), false),
    ("an And under an Or, both points missed", zEntry(between, between),
      Array(Or(point("c", "q"), point("d", "r"))), false),
    ("an And under an Or, one point met", zEntry(zKey("d", "r"), zKey("d", "r")),
      Array(Or(point("c", "q"), point("d", "r"))), true),
    ("a null path literal disables the z test", zEntry(pcq + 0x100, pcq + 0x10000),
      Array(EqualTo("repo", "c"), EqualTo("path", null)), true),
    ("a null in path IN disables the z test", zEntry(pcq + 0x100, pcq + 0x10000),
      Array(EqualTo("repo", "c"), In("path", Array("q", null))), true),
    ("a non-string repo literal disables the z test", zEntry(pcq + 0x100, pcq + 0x10000),
      Array(EqualTo("repo", 5), EqualTo("path", "q")), true),
    ("the string bounds still prune a z hit", zEntry(pcq, pcq),
      Array(EqualTo("repo", "c"), EqualTo("path", "zz")), false))

  test("the z grid: the direct call and manifestPredicate agree with the expected keep") {
    import spark.implicits._
    zGrid.foreach { case (what, e, fs, keep) =>
      assert(GraftScan.mayMatch(fs)(e) == keep, s"direct: $what (${fs.mkString(", ")})")
      val n = Seq(e).toDF().filter(GraftScan.manifestPredicate(fs)).count()
      assert(n == (if (keep) 1 else 0), s"manifestPredicate: $what (${fs.mkString(", ")})")
    }
  }

  test("repo = ? on a z-clustered 16-file table prunes on the repo-hash bounds") {
    import spark.implicits._
    val t = new GraftTable(spark, Files.createTempDirectory("graft-rh").toString)
    val df = SourceFiles.generate(4000, 5).toDF()
    t.append(df)
    Maintenance.cluster(t, "rh", numFiles = 16)
    val entries = t.manifestEntries(t.currentSnapshot.get)
    assert(entries.size == 16)
    val repo = SourceFiles.repoName(1)
    // the string bounds of z-clustered files span most repos: the files a
    // string-bounds-only rule plans (repo names are ASCII, so String order
    // is UTF-8 order)
    val byString = entries.count(e => e.min_repo <= repo && repo <= e.max_repo)
    val q = spark.read.format("graft").load(t.location).filter(col("repo") === repo)
      .select(col("path"), sha2(col("content"), 256))
    val got = q.as[(String, String)].collect().sorted.toSeq
    val want = df.filter(col("repo") === repo).select(col("path"), sha2(col("content"), 256))
      .as[(String, String)].collect().sorted.toSeq
    assert(got.nonEmpty && got == want)
    val desc = q.queryExecution.executedPlan.toString
    val planned = "files=(\\d+)/16".r.findFirstMatchIn(desc).map(_.group(1).toInt)
    assert(planned.exists(_ < byString), s"planned $planned of 16, string bounds keep $byString:\n$desc")
  }

  // ---- the z rule on whole tables -----------------------------------------

  private def freshTable(name: String) =
    new GraftTable(spark, Files.createTempDirectory(name).toString)

  private def entriesOf(t: GraftTable) = t.manifestEntries(t.currentSnapshot.get)

  private val digest = Seq(col("repo"), col("path"), sha2(col("content"), 256))

  /** `(repo, path)` point lookups through format("graft") for `keys`, each
    * checked against plain Spark over `all`; the files each planned. */
  private def points(t: GraftTable, all: org.apache.spark.sql.DataFrame,
                     keys: Seq[(String, String)]): Seq[Int] = {
    import spark.implicits._
    keys.map { case (repo, path) =>
      val key = col("repo") === repo && col("path") === path
      val q = spark.read.format("graft").load(t.location).filter(key).select(digest: _*)
      val got = q.as[(String, String, String)].collect().sorted.toSeq
      val want = all.filter(key).select(digest: _*).as[(String, String, String)].collect().sorted.toSeq
      assert(got.nonEmpty && got == want, s"($repo, $path)")
      val desc = q.queryExecution.executedPlan.toString
      "files=(\\d+)/".r.findFirstMatchIn(desc).map(_.group(1).toInt)
        .getOrElse(fail(s"no files= in:\n$desc"))
    }
  }

  private def keysOf(df: org.apache.spark.sql.DataFrame, n: Int): Seq[(String, String)] = {
    import spark.implicits._
    df.select("repo", "path").distinct().orderBy("path").limit(n).as[(String, String)].collect().toSeq
  }

  test("a z-clustered 16-file table plans a (repo, path) point in the files holding it") {
    import spark.implicits._
    val t = freshTable("graft-z-clustered")
    val df = SourceFiles.generate(4000, 5).toDF()
    t.append(df)
    Maintenance.cluster(t, "z", numFiles = 16)
    val entries = entriesOf(t)
    assert(entries.size == 16 && entries.forall(_.z_order.contains(true)))
    val keys = keysOf(df, 12)
    val planned = points(t, df, keys)
    keys.zip(planned).foreach { case ((repo, path), n) =>
      val holding = t.readFiles(entries.map(_.file_path))
        .filter(col("repo") === repo && col("path") === path)
        .select(input_file_name()).distinct().count()
      assert(n >= holding && n <= 2, s"($repo, $path): planned $n, $holding hold it")
    }
    // a distributed manifest plans the same files as the driver-local one
    spark.conf.set("spark.graft.manifest.localReadMaxBytes", "0")
    try assert(points(t, df, keys) == planned)
    finally spark.conf.unset("spark.graft.manifest.localReadMaxBytes")
    keys.foreach { case (repo, path) =>
      val fs: Array[Filter] = Array(EqualTo("repo", repo), EqualTo("path", path))
      val direct = entries.filter(GraftScan.mayMatch(fs)).map(_.file_path).toSet
      val viaDf = t.manifest(t.currentSnapshot.get).filter(GraftScan.manifestPredicate(fs))
        .select("file_path").as[String].collect().toSet
      assert(direct == viaDf && direct.size <= 2)
    }
  }

  test("Hilbert files, appends, a user's own z and their compaction: no wrong prune") {
    import spark.implicits._
    val t = freshTable("graft-z-hilbert")
    val base = SourceFiles.generate(2000, 6).toDF()
    t.append(base)
    Maintenance.cluster(t, "h", useHilbert = true, numFiles = 8)
    val hilbert = entriesOf(t)
    assert(hilbert.nonEmpty && hilbert.forall(_.z_order.contains(false)))
    // files appended after clustering derive their z: Z-order
    val appended = SourceFiles.generate(300, 7).toDF()
    val before = hilbert.map(_.file_path).toSet
    t.append(appended.repartition(2))
    val added = entriesOf(t).filterNot(e => before(e.file_path))
    assert(added.nonEmpty && added.forall(_.z_order.contains(true)))
    // an append carrying its own z passes it through: not Z-order
    val own = SourceFiles.generate(200, 8).toDF().withColumn("z", lit(7L))
    val before2 = entriesOf(t).map(_.file_path).toSet
    t.append(own)
    val ownEntries = entriesOf(t).filterNot(e => before2(e.file_path))
    assert(ownEntries.nonEmpty && ownEntries.forall(_.z_order.contains(false)))
    val all = base.unionByName(appended).unionByName(own.drop("z"))
    val keys = keysOf(base, 4) ++ keysOf(appended, 4) ++ keysOf(own, 4)
    points(t, all, keys)
    // compaction packs Hilbert and Z-order rows together: those files are
    // not Z-order, and each flag matches its rows
    val live = entriesOf(t).map(_.file_path).toSet
    assert(Maintenance.compact(t, "c").outputFiles > 0)
    val compacted = entriesOf(t).filterNot(e => live(e.file_path))
    assert(compacted.exists(_.z_order.contains(false)))
    val want = StatsOracle.entriesFor(t, compacted.map(_.file_path), compacted.head.partition)
    assert(compacted.sortBy(_.file_path).map(_.z_order) == want.sortBy(_.file_path).map(_.z_order))
    points(t, all, keys)
    spark.conf.set("spark.graft.manifest.localReadMaxBytes", "0")
    try points(t, all, keys)
    finally spark.conf.unset("spark.graft.manifest.localReadMaxBytes")
  }
}
