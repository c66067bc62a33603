package graft.lake

import graft.SparkTestBase
import graft.synth.SourceFiles
import java.io.OutputStream
import java.net.URI
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicReference
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The local file system under the `racefault:` scheme: the first data file
  * created after [[RaceFaultFileSystem.beforeDataFile]] runs that hook
  * first, synchronously, in the task creating it — a commit that lands
  * inside a rewrite's write window, made deterministic. */
class RaceFaultFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("racefault:///")
  override def getScheme: String = "racefault"
  override protected def createOutputStreamWithMode(f: Path, append: Boolean,
                                                    permission: FsPermission): OutputStream = {
    if (f.toString.contains("/data/"))
      Option(RaceFaultFileSystem.hook.getAndSet(null)).foreach(_())
    super.createOutputStreamWithMode(f, append, permission)
  }
}

object RaceFaultFileSystem {
  private[lake] val hook = new AtomicReference[() => Unit]()
  def beforeDataFile(f: => Unit): Unit = hook.set(() => f)
}

/** Validated rebase for rewrite commits (the rebase policy of
  * GraftTable.publish — the Iceberg RewriteFiles stance): a
  * compaction/clustering planned against snapshot S commits at S+k when
  * every interleaved commit is compatible (adds, removes/posdels disjoint
  * from the replaced files), and conflicts only on genuine overlap — so
  * maintenance can land on a table under continuous ingest instead of
  * re-planning on every interleaved append. The overlap reads run no Spark
  * job under the local-read gate; every stale-basis test also runs with
  * the gate at 0, on the broadcast-join fallback. */
class RewriteRebaseSpec extends SparkTestBase {
  import spark.implicits._

  private def synthDf(n: Int, seed: Long = 42) = SourceFiles.generate(n, seed).toDF()
  private def fresh(): GraftTable =
    new GraftTable(spark, Files.createTempDirectory("graft-rebase").toString)

  private def keys(df: org.apache.spark.sql.DataFrame) =
    df.select($"repo", $"path", $"commit").as[(String, String, String)].collect().toSeq

  /** `body` on a fresh table under the `racefault:` scheme. */
  private def withRaceTable[A](body: GraftTable => A): A = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.racefault.impl", classOf[RaceFaultFileSystem].getName)
    hc.setBoolean("fs.racefault.impl.disable.cache", true)
    try body(new GraftTable(spark,
      "racefault://" + Files.createTempDirectory("graft-rebase-race")))
    finally {
      RaceFaultFileSystem.hook.set(null)
      hc.unset("fs.racefault.impl")
      hc.unset("fs.racefault.impl.disable.cache")
    }
  }

  /** Run a multi-batch rewrite of 8 files in batches of 2 while another
    * writer deletes the last file of `order` (the rewrite's planned order,
    * so a file of its last batch) the moment the first batch creates its
    * first data file. The last batch must conflict, and the batches before
    * it stay: the deleted rows stay deleted, no row is doubled and the
    * record count matches the rows. */
  private def raceRemoval(order: GraftTable => Seq[String])(
      rewrite: GraftTable => Unit): Unit = withRaceTable { t =>
      t.append(synthDf(200, seed = 91).repartition(8))
      val planned = order(t)
      assert(planned.size == 8)
      val victim = planned.last
      val victimKeys = keys(t.readFiles(Seq(victim))).toSet
      val victimRows = t.manifestEntries(t.currentSnapshot.get)
        .find(_.file_path == victim).get.record_count
      val expected = keys(t.scan()).toSet -- victimKeys
      @volatile var fired = false
      RaceFaultFileSystem.beforeDataFile {
        new GraftTable(spark, t.location)
          .commit(Seq.empty, Set(victim), "delete", removedRecords = victimRows)
        fired = true
      }
      val e = intercept[CommitConflictException](rewrite(t))
      assert(fired, "the racing delete never ran")
      assert(e.getMessage.contains("removed a file this rewrite replaces"), e)
      assert(t.listSnapshots().count(s => Set("compact", "cluster_zorder")(s.operation)) == 3,
        "the batches before the conflicting one did not all commit")
      val live = keys(t.scan())
      assert(live.size == live.distinct.size, "a row was doubled")
      assert(live.toSet == expected, "the deleted file's rows came back")
      assert(t.currentSnapshot.get.recordCount == live.size)
  }

  /** a stale-basis test, run at the default local-read gate and again at
    * `localReadMaxBytes = 0`, where every overlap read takes the
    * broadcast-join fallback and every manifest the distributed path */
  private def staleBasisTest(name: String)(body: => Unit): Unit = {
    test(name)(body)
    test(s"$name (over the local-read gate)") {
      spark.conf.set("spark.graft.manifest.localReadMaxBytes", "0")
      try body finally spark.conf.unset("spark.graft.manifest.localReadMaxBytes")
    }
  }

  /** plan a rewrite of `paths` at the current head: same rows, new files. */
  private def planRewrite(t: GraftTable, paths: Seq[String]) =
    t.writeDataFiles(t.readFiles(paths), "compact")

  staleBasisTest("rewrite rebases over an interleaved append instead of conflicting") {
    val t = fresh()
    t.append(synthDf(200, seed = 7).repartition(4))
    val basis = t.currentSnapshot
    val paths = t.manifestEntries(basis.get).map(_.file_path)
    val added = planRewrite(t, paths)
    t.append(synthDf(30, seed = 8)) // interleaved ingest while the rewrite ran
    val snap = t.commitRewrite(basis, added, paths.toSet, "compact", 200L)
    assert(snap.operation == "compact")
    assert(snap.parent > basis.get.version) // rebased onto the append's head
    assert(t.currentSnapshot.get.recordCount == 230L)
    assert(t.scan().count() == 230L)
    // the interleaved rows survived the rewrite
    assert(t.scan().join(synthDf(30, seed = 8),
      Seq("repo", "path", "commit"), "left_semi").count() == 30L)
    // counts stayed arithmetic through the rebase
    assert(t.currentSnapshot.get.fileCount ==
      t.manifest(t.currentSnapshot.get).count())
  }

  staleBasisTest("rewrite rebases over several interleaves incl. a disjoint rewrite") {
    val t = fresh()
    t.append(synthDf(120, seed = 11).repartition(3))
    val aPaths = t.manifestEntries(t.currentSnapshot.get).map(_.file_path)
    t.append(synthDf(60, seed = 12).repartition(2))
    val basis = t.currentSnapshot
    val bPaths = t.manifestEntries(basis.get).map(_.file_path)
      .filterNot(aPaths.contains)
    val addedA = planRewrite(t, aPaths)
    // interleave 1: an append; interleave 2: a DISJOINT rewrite of B's files
    t.append(synthDf(25, seed = 13))
    val addedB = planRewrite(t, bPaths)
    t.commitRewrite(t.currentSnapshot, addedB, bPaths.toSet, "compact", 60L)
    // the A rewrite walks both interleaves and rebases
    val snap = t.commitRewrite(basis, addedA, aPaths.toSet, "compact", 120L)
    assert(snap.operation == "compact")
    assert(t.scan().count() == 205L)
    assert(t.currentSnapshot.get.recordCount == 205L)
  }

  staleBasisTest("conflict when an interleaved rewrite removed a replaced file") {
    val t = fresh()
    t.append(synthDf(100, seed = 21).repartition(2))
    val basis = t.currentSnapshot
    val paths = t.manifestEntries(basis.get).map(_.file_path)
    val mine = planRewrite(t, paths)
    // a concurrent rewrite of the SAME files wins first
    val theirs = planRewrite(t, paths)
    t.commitRewrite(basis, theirs, paths.toSet, "compact", 100L)
    val e = intercept[CommitConflictException] {
      t.commitRewrite(basis, mine, paths.toSet, "compact", 100L)
    }
    assert(e.getMessage.contains("removed a file this rewrite replaces"))
    assert(t.scan().count() == 100L) // table intact
  }

  staleBasisTest("conflict on a pending equality delete (resurrection guard)") {
    val t = fresh()
    t.append(synthDf(80, seed = 31))
    val basis = t.currentSnapshot
    val paths = t.manifestEntries(basis.get).map(_.file_path)
    val added = planRewrite(t, paths)
    val k = t.scan().select($"repo", $"path", $"commit").head()
    assert(MorDelete.deleteWhere(t,
      $"repo" === k.getString(0) && $"path" === k.getString(1) &&
        $"commit" === k.getString(2)) >= 1L)
    val e = intercept[CommitConflictException] {
      t.commitRewrite(basis, added, paths.toSet, "compact", 80L)
    }
    assert(e.getMessage.contains("pending equality-delete"))
  }

  staleBasisTest("disjoint positional delete stays pending and valid across a rebase") {
    val t = fresh()
    t.append(synthDf(100, seed = 41).repartition(2))
    val aPaths = t.manifestEntries(t.currentSnapshot.get).map(_.file_path)
    t.append(synthDf(50, seed = 42).repartition(1))
    val basis = t.currentSnapshot
    val added = planRewrite(t, aPaths) // rewrite A's files only
    // interleave: position-delete ONE row that lives in B's file
    val bKey = synthDf(50, seed = 42).select($"repo", $"path", $"commit").head()
    val deleted = MorDelete.deleteWherePositional(t,
      $"repo" === bKey.getString(0) && $"path" === bKey.getString(1) &&
        $"commit" === bKey.getString(2))
    assert(deleted == 1L)
    val snap = t.commitRewrite(basis, added, aPaths.toSet, "compact", 100L)
    assert(snap.operation == "compact")
    assert(t.scan().count() == 149L) // the posdel still applies post-rebase
    assert(t.currentSnapshot.get.recordCount == 149L)
  }

  staleBasisTest("conflict when a pending positional delete addresses a replaced file") {
    val t = fresh()
    t.append(synthDf(60, seed = 51))
    val basis = t.currentSnapshot
    val paths = t.manifestEntries(basis.get).map(_.file_path)
    val added = planRewrite(t, paths)
    val k = t.scan().select($"repo", $"path", $"commit").head()
    assert(MorDelete.deleteWherePositional(t,
      $"repo" === k.getString(0) && $"path" === k.getString(1) &&
        $"commit" === k.getString(2)) >= 1L)
    val e = intercept[CommitConflictException] {
      t.commitRewrite(basis, added, paths.toSet, "compact", 60L)
    }
    assert(e.getMessage.contains("positional-delete shard addresses a file"))
  }

  staleBasisTest("conflict when an interleave restructured the manifest list") {
    val t = fresh()
    t.append(synthDf(40, seed = 61))
    t.append(synthDf(40, seed = 62))
    val basis = t.currentSnapshot
    val paths = t.manifestEntries(basis.get).map(_.file_path)
    val added = planRewrite(t, paths)
    t.rewriteManifests() // rebases the shard list onto one shard
    val e = intercept[CommitConflictException] {
      t.commitRewrite(basis, added, paths.toSet, "compact", 80L)
    }
    assert(e.getMessage.contains("restructured the manifest list"))
  }

  /** `compact` a table of 8 small files while three appends race it */
  private def compactRacingAppends(compact: GraftTable => Maintenance.CompactionResult): Unit = {
    val t = fresh()
    // many small files so compaction has real work
    t.append(synthDf(200, seed = 71).repartition(8))
    val pool = Executors.newFixedThreadPool(4)
    val start = new CountDownLatch(1)
    val appends = (0 until 3).map { i =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          new GraftTable(spark, t.location).append(synthDf(20, seed = 80L + i))
        }
      })
    }
    val compaction = pool.submit(new java.util.concurrent.Callable[Maintenance.CompactionResult] {
      def call(): Maintenance.CompactionResult = {
        start.await()
        compact(new GraftTable(spark, t.location))
      }
    })
    start.countDown()
    appends.foreach(_.get(300, TimeUnit.SECONDS))
    val res = compaction.get(300, TimeUnit.SECONDS)
    pool.shutdown()
    assert(res.inputFiles >= 8) // ≥: appends landing pre-plan join the pack
    assert(t.scan().count() == 260L)
    assert(t.currentSnapshot.get.recordCount == 260L)
    // single linear chain — racing never forked the table
    val chain = t.ancestorsOf(t.currentVersion)
    assert(t.listSnapshots().forall(s => chain(s.version)))
  }

  test("Maintenance.compact lands while appends race it") {
    compactRacingAppends(Maintenance.compact(_, "race-job"))
  }

  test("multi-batch Maintenance.compact lands while appends race it") {
    // batches of 3: of the 8 to 11 small files only a trailing single stays
    compactRacingAppends(Maintenance.compact(_, "race-batched", batchFiles = 3))
  }

  test("multi-batch compact never resurrects a file a racing commit removed") {
    raceRemoval(t => t.manifest(t.currentSnapshot.get).select("file_path")
      .as[String].collect().toSeq) { t =>
      Maintenance.compact(t, "race-remove", batchFiles = 2)
    }
  }

  test("multi-batch cluster never resurrects a file a racing commit removed") {
    raceRemoval(t => t.manifest(t.currentSnapshot.get).orderBy("partition", "min_z")
      .select("file_path").as[String].collect().toSeq) { t =>
      Maintenance.cluster(t, "race-remove", numFiles = 2, batchFiles = 2)
    }
  }

  /** the Spark jobs `body` runs, counted from their job group once the
    * listener has seen a later marker job (listener events arrive in order
    * but asynchronously) */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
          groups.add(g)
          if (g == "rebase-marker") marker.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("rebase-counted", "rewrite under count")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("rebase-marker", "listener marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marker.await(60, TimeUnit.SECONDS), "the marker job never reached the listener")
      groups.asScala.count(_ == "rebase-counted")
    } finally sc.removeSparkListener(listener)
  }

  /** the jobs of `compact(batchFiles = 2)` over a 16-file table; with
    * `race`, another writer commits a metadata-only append (entries of a
    * file written beforehand, no Spark job of its own) when the first
    * batch creates its first data file */
  private def multiBatchCompactJobs(race: Boolean): Int = withRaceTable { t =>
    t.append(synthDf(320, seed = 101).repartition(16))
    val extra = t.writeDataFiles(synthDf(10, seed = 102), "append")
    @volatile var fired = false
    if (race) RaceFaultFileSystem.beforeDataFile {
      new GraftTable(spark, t.location).commit(extra, Set.empty, "append")
      fired = true
    }
    val jobs = jobsOf {
      assert(Maintenance.compact(t, "jobs", batchFiles = 2).inputFiles == 16)
    }
    assert(fired == race)
    val compacts = t.listSnapshots().filter(_.operation == "compact")
    assert(compacts.size == 8)
    // the racing append landed inside the first batch's write window, so
    // every batch after it validated a walk from the planned snapshot
    val appends = t.listSnapshots().filter(_.operation == "append")
    assert(appends.size == (if (race) 2 else 1))
    assert(compacts.head.parent == appends.last.version)
    assert(t.scan().count() == (if (race) 330L else 320L))
    assert(t.currentSnapshot.get.recordCount == (if (race) 330L else 320L))
    jobs
  }

  test("a racing append costs a multi-batch compact no Spark job") {
    val alone = multiBatchCompactJobs(race = false)
    assert(multiBatchCompactJobs(race = true) == alone)
  }
}
