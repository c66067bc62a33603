package graft.lake

import graft.SparkTestBase
import graft.expr.XmqFunctions
import graft.lake.Maintenance.MergeResult
import graft.synth.SourceFiles
import graft.synth.SourceFiles.SourceFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

/** MERGE INTO against a plain-Spark oracle: the target rows whose key the
  * source does not touch (an anti-join, so a key with a null component never
  * matches) plus every source row. Each case runs twice, at the default gate,
  * where a small source merges against a driver-held key set, and with
  * `broadcastBytes = 1`, which forces the shuffle regime; both runs must give
  * the oracle's MergeResult, rows and digest. Then the guards: the job
  * budget of each regime, a commit that overtakes the merge, and the cache
  * after a failed merge. */
class MergeOracleSpec extends SparkTestBase {
  private val keys = Seq("repo", "path", "commit")

  private def synth(n: Int, seed: Long): Seq[SourceFile] = SourceFiles.generate(n, seed)

  private def toDf(rows: Seq[SourceFile]): DataFrame = {
    import spark.implicits._
    rows.toDF()
  }

  private def fresh(name: String): GraftTable =
    new GraftTable(spark, Files.createTempDirectory(s"merge-oracle-$name").toString)

  /** the live rows of `t` (its written data columns), as sorted strings */
  private def rowsOf(t: GraftTable, df: DataFrame): Seq[String] =
    df.select(t.dataColumnNames.map(col): _*).collect().map(_.toString).sorted.toSeq

  private final case class Expected(rows: Seq[String], digest: Long, result: MergeResult)

  /** what merging `src` into `t` as it stands must leave and report */
  private def oracle(t: GraftTable, src: DataFrame): Expected = {
    val target = t.scan().withColumn("_file", input_file_name())
    val srcKeys = src.select(keys.map(col): _*).distinct()
    val hit = target.join(srcKeys, keys, "left_semi")
    val inserted = src.join(target.select(keys.map(col): _*).distinct(), keys, "left_anti")
    val merged = target.drop("_file").join(srcKeys, keys, "left_anti")
      .unionByName(src, allowMissingColumns = true)
    Expected(rowsOf(t, merged), Lineage.digestOf(spark, merged),
      MergeResult(hit.count(), inserted.count(), hit.select("_file").distinct().count().toInt))
  }

  /** Builds a table with `build` once per regime, merges `source` into it,
    * checks the result against the oracle and the two regimes against each
    * other, and returns each regime's table and result. */
  private def differential(name: String)(build: GraftTable => Unit)
                          (source: GraftTable => DataFrame): Seq[(GraftTable, MergeResult)] = {
    val runs = Seq("small" -> None, "large" -> Some(1L)).map { case (regime, gate) =>
      val t = fresh(name)
      build(t)
      val src = source(t)
      val want = oracle(t, src)
      val got = gate.fold(Maintenance.mergeInto(t, name, src))(
        Maintenance.mergeInto(t, name, src, _))
      assert(got == want.result, s"$name, $regime regime: $got, oracle ${want.result}")
      assert(rowsOf(t, t.scan()) == want.rows, s"$name, $regime regime: rows differ")
      assert(t.currentSnapshot.get.recordCount == want.rows.size,
        s"$name, $regime regime: the snapshot's record count is off")
      val digest = Lineage.digestOf(spark, t.scan())
      assert(digest == want.digest, s"$name, $regime regime: digest differs")
      (t, got, digest)
    }
    assert(runs(0)._2 == runs(1)._2 && runs(0)._3 == runs(1)._3,
      s"$name: the regimes disagree: ${runs.map(r => (r._2, r._3))}")
    runs.map(r => (r._1, r._2))
  }

  private def files(t: GraftTable): Set[String] =
    t.manifestEntries(t.currentSnapshot.get).map(_.file_path).toSet

  test("duplicate source keys are all written, each matched target row counts once") {
    val base = synth(200, 1)
    val runs = differential("dups")(_.append(toDf(base).repartition(4))) { _ =>
      val upd = base.take(5)
      val ins = synth(1, 901)
      toDf(upd.map(_.copy(content = "v2")) ++ upd.map(_.copy(content = "v3")) ++ ins ++ ins)
    }
    runs.foreach { case (t, r) =>
      assert(r.updated == 5 && r.inserted == 2, s"$r")
      assert(t.scan().count() == 200 - 5 + 12)
    }
  }

  test("a null repo, path or commit matches nothing on either side") {
    val base = synth(100, 2)
    val k = base.head
    val nulls = Seq(k.copy(repo = null), k.copy(path = null), k.copy(commit = null))
    val runs = differential("nulls") { t =>
      t.append(toDf(base).repartition(2))
      t.append(toDf(nulls))
    } { _ => toDf(nulls.map(_.copy(content = "v2")) :+ base(1).copy(content = "v2")) }
    runs.foreach { case (t, r) =>
      assert(r.updated == 1 && r.inserted == 3, s"$r")
      assert(t.scan().filter(col("content") === "v2").count() == 4)
      assert(t.scan().count() == 100 + 3 + 3)
    }
  }

  test("a source that matches no row rewrites no file") {
    val runs = differential("nomatch") { t =>
      t.append(toDf(synth(150, 3)).repartition(3))
    } { _ => toDf(synth(30, 903)) }
    runs.foreach { case (_, r) => assert(r == MergeResult(0, 30, 0)) }
  }

  test("a source confined to one file rewrites that file; the others keep their paths") {
    var before = Map.empty[String, Set[String]]
    var target = Map.empty[String, String]
    val runs = differential("onefile") { t =>
      t.append(toDf(synth(400, 4)).repartition(8))
      Maintenance.cluster(t, "pre", numFiles = 8)
      before += t.location -> files(t)
      target += t.location -> t.manifestEntries(t.currentSnapshot.get).head.file_path
    } { t =>
      import spark.implicits._
      val rows = t.readFiles(Seq(target(t.location))).select("repo", "path", "commit", "lang", "content")
        .as[SourceFile].collect().take(10).toSeq
      toDf(rows.map(_.copy(content = "v2")) ++ synth(5, 904))
    }
    runs.foreach { case (t, r) =>
      assert(r.updated == 10 && r.inserted == 5 && r.rewrittenFiles == 1, s"$r")
      assert(before(t.location) -- files(t) == Set(target(t.location)))
    }
  }

  test("an evolved column the source lacks is null on updated rows, kept on the rest") {
    val base = synth(60, 5)
    val starred = synth(20, 905)
    val runs = differential("evolved") { t =>
      t.append(toDf(base).repartition(2))
      t.evolveSchema("stars INT")
      t.append(toDf(starred).withColumn("stars", lit(5)).repartition(2))
    } { _ =>
      toDf((starred.take(10) ++ base.take(10)).map(_.copy(content = "v2")) ++ synth(3, 906))
    }
    runs.foreach { case (t, r) =>
      assert(r.updated == 20 && r.inserted == 3, s"$r")
      val got = t.scan()
      assert(got.filter(col("stars") === 5).count() == 10)
      assert(got.filter(col("content") === "v2" && col("stars").isNull).count() == 20)
    }
  }

  test("a bucketed table's merge writes bucket-pure files") {
    val base = synth(300, 6)
    val runs = differential("bucketed") { t =>
      t.append(toDf(base).repartition(3))
      Maintenance.bucketize(t, 4)
    } { _ => toDf(base.slice(40, 50).map(_.copy(content = "v2")) ++ synth(5, 907)) }
    runs.foreach { case (t, r) =>
      assert(r.updated == 10 && r.inserted == 5, s"$r")
      assert(t.bucketSpec.contains(("repo", 4)))
      t.manifestEntries(t.currentSnapshot.get).foreach { e =>
        assert(e.bucket.isDefined, s"${e.file_path} lost its bucket")
        val ids = t.readFiles(Seq(e.file_path)).select(Bucketing.bucketCol("repo", 4))
          .distinct().collect().map(_.getInt(0)).toSet
        assert(ids == e.bucket.toSet, s"${e.file_path} holds buckets $ids, entry says ${e.bucket}")
      }
    }
  }

  test("an empty source reports nothing and changes no row") {
    val runs = differential("empty") { t =>
      t.append(toDf(synth(50, 7)).repartition(2))
    } { _ => toDf(synth(5, 907)).filter(lit(false)) }
    runs.foreach { case (t, r) =>
      assert(r == MergeResult(0, 0, 0))
      assert(t.scan().count() == 50)
    }
  }

  test("a second call with the same jobId returns the lineage summary and commits nothing") {
    val base = synth(120, 8)
    def source = toDf(base.take(6).map(_.copy(content = "v2")) ++ synth(4, 908))
    val runs = differential("resume")(_.append(toDf(base).repartition(3)))(_ => source)
    runs.foreach { case (t, first) =>
      assert(first == MergeResult(6, 4, first.rewrittenFiles), s"$first")
      val v = t.currentVersion
      val again = Maintenance.mergeInto(t, "resume", source)
      assert(again == first, s"resumed $again, first $first")
      assert(t.currentVersion == v, "a resumed merge committed")
      // lineage written without the counts keeps the summary answer
      val rows = Lineage.rows(t, "resume", "merge")
      val written = rows.map(_.row_count).sum
      val outputs = rows.flatMap(_.output_files).toSet
      Lineage.record(t, "resume", "merge", rows.head.input_files,
        t.manifestEntries(t.currentSnapshot.get).filter(e => outputs(e.file_path)))
      assert(Lineage.rows(t, "resume", "merge").forall(r => r.updated.isEmpty && r.inserted.isEmpty))
      assert(Maintenance.mergeInto(t, "resume", source) ==
        MergeResult(0, written, first.rewrittenFiles))
      assert(t.currentVersion == v, "a resumed merge committed")
    }
  }

  // ---- guards -------------------------------------------------------------

  /** the jobs `body` runs, counted from their job group once the listener
    * has seen a later marker job (listener events arrive in order but
    * asynchronously) */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
          groups.add(g)
          if (g == "merge-oracle-marker") marker.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("merge-oracle-counted", "merge under count")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("merge-oracle-marker", "listener marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marker.await(60, TimeUnit.SECONDS), "the marker job never reached the listener")
      groups.asScala.count(_ == "merge-oracle-counted")
    } finally sc.removeSparkListener(listener)
  }

  /** a maintain-shaped merge: 2% of the rows updated through xmq_convert
    * (evaluated inside the merge), 1% new rows */
  private def maintainMerge(name: String, gate: Option[Long]): (MergeResult, Int) = {
    val base = synth(1000, 9)
    val t = fresh(name)
    base.grouped(125).foreach(slice => t.append(toDf(slice).coalesce(1)))
    Maintenance.compact(t, name, smallBytes = 4L << 20, targetBytes = 256L << 10)
    Maintenance.cluster(t, name)
    t.rewriteManifests()
    val src = toDf(base.filter(_.path.hashCode % 50 == 0))
      .withColumn("content", XmqFunctions.xmq_convert(col("content"), col("lang"),
        col("lang"), lit(false)))
      .unionByName(toDf(synth(10, 909)))
    var r: MergeResult = null
    val jobs = jobsOf {
      r = gate.fold(Maintenance.mergeInto(t, name, src))(Maintenance.mergeInto(t, name, src, _))
    }
    (r, jobs)
  }

  test("job budget: a small source merges in at most 4 jobs, a large one in no more than before") {
    val (small, smallJobs) = maintainMerge("jobs-small", None)
    val (large, largeJobs) = maintainMerge("jobs-large", Some(1L))
    assert(small == large && small.updated > 0 && small.inserted == 10, s"$small / $large")
    assert(smallJobs <= 4, s"the small regime ran $smallJobs jobs")
    // before the driver-held key set, both regimes ran this merge in 13
    // jobs, two of them a metadata query at commit for the removed record
    // count; the shuffle regime must not run more
    assert(largeJobs <= 13, s"the large regime ran $largeJobs jobs")
  }

  /** a table whose merge write is preceded by `before`, on the merge's own
    * thread: a commit injected there lands between the merge's planning and
    * its commit every time */
  private def hooked(name: String)(before: GraftTable => Unit): GraftTable = {
    val loc = Files.createTempDirectory(s"merge-oracle-$name").toString
    new GraftTable(spark, loc) {
      private var fired = false
      override def writeDataFilesRouted(df: DataFrame, tag: String): Seq[ManifestEntry] = {
        if (tag == "merge" && !fired) { fired = true; before(new GraftTable(spark, loc)) }
        super.writeDataFilesRouted(df, tag)
      }
    }
  }

  /** the session CacheManager's entry count (package-private in Scala,
    * public in bytecode) */
  private def cachedEntries: Int = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
  }

  test("a merge overtaken by an append conflicts and leaves the append's snapshot, nothing cached") {
    val base = synth(100, 10)
    Seq("small" -> None, "large" -> Some(1L)).foreach { case (regime, gate) =>
      var appended: Option[Snapshot] = None
      val t = hooked(s"conflict-$regime") { other =>
        appended = Some(other.append(toDf(synth(7, 910))))
      }
      t.append(toDf(base).repartition(2))
      val cachedBefore = cachedEntries
      val src = toDf(base.take(4).map(_.copy(content = "v2")) ++ synth(2, 911))
      intercept[CommitConflictException] {
        gate.fold(Maintenance.mergeInto(t, s"c-$regime", src))(
          Maintenance.mergeInto(t, s"c-$regime", src, _))
      }
      val head = t.currentSnapshot.get
      assert(appended.map(_.version).contains(head.version), s"$regime: head is v${head.version}")
      assert(head.operation == "append" && head.recordCount == 107, s"$regime: $head")
      assert(t.scan().count() == 107)
      assert(t.scan().filter(col("content") === "v2").count() == 0)
      assert(cachedEntries == cachedBefore, s"$regime: the failed merge left frames cached")
    }
  }
}
