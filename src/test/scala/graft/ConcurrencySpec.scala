package graft.lake

import graft.SparkTestBase
import graft.synth.SourceFiles
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import scala.util.Try

/** Optimistic-concurrency commit protocol: edge claims serialize writers per
  * ref (lost races are detected, never silent forks or lost updates),
  * adds-only commits rebase-and-retry, rewrites conflict, branches commit
  * independently, and stale claims from dead writers are repairable. */
class ConcurrencySpec extends SparkTestBase {
  import spark.implicits._

  private def synthDf(n: Int, seed: Long = 42) = SourceFiles.generate(n, seed).toDF()
  private def fresh(): GraftTable =
    new GraftTable(spark, Files.createTempDirectory("graft-occ").toString)

  test("createExclusive: N racing threads get exactly one winner") {
    val io = new LakeIO(Files.createTempDirectory("graft-cas").toString)
    val pool = Executors.newFixedThreadPool(16)
    val start = new CountDownLatch(1)
    val wins = (0 until 16).map { _ =>
      pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = { start.await(); io.createExclusive("claim-v1") }
      })
    }
    start.countDown()
    val results = wins.map(_.get(30, TimeUnit.SECONDS))
    pool.shutdown()
    assert(results.count(identity) == 1)
  }

  test("readString never sees a writeAtomic half-renamed with its .crc") {
    val root = Files.createTempDirectory("graft-hint").toString
    val writer = new LakeIO(root)
    val reader = new LakeIO(root)
    // different lengths, so a stale .crc never matches the new bytes
    val values = Seq("7", "1234567890123")
    writer.writeAtomic("hint", values.head)
    @volatile var done = false
    val pool = Executors.newSingleThreadExecutor()
    // a rewrite every millisecond: a faster hint stream than any commit
    // stream, each commit writing several files before its hint
    val writes = pool.submit(new Runnable {
      def run(): Unit = {
        var i = 0
        while (!done && i < 20000) {
          writer.writeAtomic("hint", values(i % 2)); i += 1; Thread.sleep(1)
        }
      }
    })
    try (0 until 4000).foreach(_ => assert(values.contains(reader.readString("hint"))))
    finally { done = true; writes.get(60, TimeUnit.SECONDS); pool.shutdown() }
  }

  test("concurrent appends: all survive on one linear chain, counts exact") {
    val t = fresh()
    t.append(synthDf(50, seed = 1)) // non-empty base
    val threads = 4
    val perThread = 3
    val pool = Executors.newFixedThreadPool(threads)
    val start = new CountDownLatch(1)
    val futures = (0 until threads).map { i =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          // each committer its own table handle, as separate processes would
          val h = new GraftTable(spark, t.location)
          (0 until perThread).foreach { j =>
            h.append(synthDf(20, seed = 100L * i + j))
          }
        }
      })
    }
    start.countDown()
    futures.foreach(_.get(300, TimeUnit.SECONDS))
    pool.shutdown()
    val expected = 50L + threads * perThread * 20L
    assert(t.currentSnapshot.get.recordCount == expected)
    assert(t.scan().count() == expected)
    // every append snapshot sits on the single main ancestry — no forks,
    // no lost updates
    val chain = t.ancestorsOf(t.currentVersion)
    val appends = t.listSnapshots().filter(_.operation == "append")
    assert(appends.size == 1 + threads * perThread)
    assert(appends.forall(s => chain(s.version)))
    assert(appends.forall(_.ref == "main"))
    // parents are pairwise distinct: at most one commit ever extends a parent
    assert(appends.map(_.parent).distinct.size == appends.size)
  }

  test("rewrite planned against a stale snapshot conflicts instead of rebasing") {
    val t = fresh()
    t.append(synthDf(200, seed = 7).repartition(4))
    val stale = t.currentSnapshot // basis a concurrent writer will invalidate
    t.append(synthDf(30, seed = 8)) // the interleaved commit
    val added = t.writeDataFiles(t.readFiles(
      t.manifestEntries(stale.get).map(_.file_path)), "compact")
    intercept[CommitConflictException] {
      t.commit(added, t.manifestEntries(stale.get).map(_.file_path).toSet,
        "compact", removedRecords = 200L, basis = stale)
    }
    // the table is untouched by the failed commit
    assert(t.currentSnapshot.get.recordCount == 230L)
    assert(t.scan().count() == 230L)
  }

  test("mor-delete conflicts when the head moves between plan and commit") {
    val t = fresh()
    t.append(synthDf(100, seed = 11))
    val basis = t.currentSnapshot
    val delSeq = t.nextEqDeleteSeq(basis)
    val keys = t.scan().limit(5)
      .select($"repo", $"path", $"commit")
      .withColumn("del_seq", org.apache.spark.sql.functions.lit(delSeq))
    val shardRel = "meta/manifest-eqdel-test.parquet"
    keys.write.parquet(t.io.abs(shardRel).toString)
    t.append(synthDf(10, seed = 12)) // head moves past the basis
    intercept[CommitConflictException] {
      t.publish(PendingCommit("mor-delete", basis, PendingCommit.Strict,
        shards = Seq(PendingCommit.Written("eqdel", shardRel)), recordDelta = -5L))
    }
    assert(t.currentSnapshot.get.recordCount == 110L)
  }

  test("append retries while a claim blocks, lands once it is repaired") {
    val t = fresh()
    t.append(synthDf(40, seed = 21))
    val head = t.currentVersion
    // simulate a writer that claimed the edge and died pre-publish
    assert(t.claimEdge("main", head))
    val pool = Executors.newSingleThreadExecutor()
    val f = pool.submit(new java.util.concurrent.Callable[Snapshot] {
      def call(): Snapshot = new GraftTable(spark, t.location).append(synthDf(15, seed = 22))
    })
    Thread.sleep(300) // the append is spinning on the wedged edge
    assert(!f.isDone)
    // repairRefs reaps the stale claim (mtime is in the past relative to now)
    val reaped = t.repairRefs(olderThanMillis = System.currentTimeMillis() + 1)
    assert(reaped == Seq(s"edge-main-v$head"))
    val snap = f.get(60, TimeUnit.SECONDS)
    pool.shutdown()
    assert(snap.parent == head)
    assert(t.currentSnapshot.get.recordCount == 55L)
  }

  test("repairRefs never reaps a consumed edge") {
    val t = fresh()
    t.append(synthDf(10, seed = 31))
    t.append(synthDf(10, seed = 32)) // consumed edge-main-v1
    assert(t.repairRefs(olderThanMillis = System.currentTimeMillis() + 1).isEmpty)
  }

  test("repairRefs reaps an empty head file from a crashed createBranch") {
    val t = fresh()
    t.append(synthDf(10, seed = 35))
    // simulate a writer that died between the exclusive create and the
    // head write: the name is neither usable nor re-creatable
    assert(t.io.createExclusive("meta/head-ghost.text"))
    assert(!t.branches.contains("ghost"))
    intercept[IllegalArgumentException] { t.createBranch("ghost") }
    val reaped = t.repairRefs(olderThanMillis = System.currentTimeMillis() + 1)
    assert(reaped.contains("head-ghost.text"))
    t.createBranch("ghost") // the name is usable again
    assert(t.branches.contains("ghost"))
  }

  test("branches commit concurrently with main without cross-talk") {
    val t = fresh()
    t.append(synthDf(60, seed = 41))
    t.createBranch("exp")
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    val onMain = pool.submit(new Runnable {
      def run(): Unit = { start.await()
        val h = new GraftTable(spark, t.location)
        (0 until 3).foreach(i => h.append(synthDf(10, seed = 50 + i))) }
    })
    val onBranch = pool.submit(new Runnable {
      def run(): Unit = { start.await()
        val h = new GraftTable(spark, t.location).forBranch("exp")
        (0 until 3).foreach(i => h.append(synthDf(5, seed = 60 + i))) }
    })
    start.countDown()
    onMain.get(300, TimeUnit.SECONDS); onBranch.get(300, TimeUnit.SECONDS)
    pool.shutdown()
    assert(t.currentSnapshot.get.recordCount == 90L)          // 60 + 3×10
    val b = t.forBranch("exp")
    assert(b.currentSnapshot.get.recordCount == 75L)          // 60 + 3×5
    assert(b.listSnapshots().filter(_.ref == "exp").size == 3)
    // version ids are globally unique across the two lines
    val all = t.listSnapshots().map(_.version)
    assert(all.distinct.size == all.size)
  }

  test("fast-forward competes under the same edge claim as main commits") {
    val t = fresh()
    t.append(synthDf(20, seed = 71))
    t.createBranch("wap")
    val b = t.forBranch("wap")
    b.append(synthDf(10, seed = 72)) // branch ahead; main still at the fork
    // a concurrent main committer holds the edge (claimed, not yet published)
    assert(t.claimEdge("main", t.mainVersion))
    intercept[CommitConflictException] { t.fastForward("wap") }
    // and a DIVERGED main is refused before any claim is attempted
    val t2 = fresh()
    t2.append(synthDf(20, seed = 75))
    t2.createBranch("wap")
    t2.forBranch("wap").append(synthDf(10, seed = 76))
    t2.append(synthDf(10, seed = 77))
    val e = intercept[IllegalArgumentException] { t2.fastForward("wap") }
    assert(e.getMessage.contains("non-fast-forward"))
  }

  test("same-name branch re-creation after drop can extend the same parents") {
    val t = fresh()
    t.append(synthDf(20, seed = 81))
    t.createBranch("b1")
    t.forBranch("b1").append(synthDf(5, seed = 82)) // consumes edge-b1-v1
    t.dropBranch("b1")
    t.createBranch("b1") // fresh incarnation forked at main's head v1
    t.forBranch("b1").append(synthDf(7, seed = 83)) // must re-claim edge-b1-v1
    assert(t.forBranch("b1").currentSnapshot.get.recordCount == 27L)
  }

  test("concurrent WAP publishes both land (rebase), audit isolation holds") {
    val t = fresh()
    t.append(synthDf(30, seed = 91))
    val id1 = t.stageAppend(synthDf(12, seed = 92))
    val id2 = t.stageAppend(synthDf(13, seed = 93))
    assert(t.currentSnapshot.get.recordCount == 30L) // staged rows invisible
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    val fs = Seq(id1, id2).map { id =>
      pool.submit(new java.util.concurrent.Callable[Snapshot] {
        def call(): Snapshot =
          { start.await(); new GraftTable(spark, t.location).publishStaged(id) }
      })
    }
    start.countDown()
    fs.foreach(_.get(300, TimeUnit.SECONDS))
    pool.shutdown()
    assert(t.currentSnapshot.get.recordCount == 55L)
    assert(t.scan().count() == 55L)
  }
}
