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
  * manifest DataFrame must agree on every (entry, filter) pair. */
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
}
