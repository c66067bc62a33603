package graft

import graft.lake.{GraftTable, Maintenance, Lineage}
import graft.synth.SourceFiles
import graft.expr.XmqFunctions
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** End-to-end lakehouse tests: append → compact → cluster → manifest rewrite
  * → merge → expire, with row-set equality, snapshot isolation, pruned scans
  * and idempotent lineage resume (north_rule acceptance criteria). */
class LakeSpec extends SparkTestBase {
  import org.apache.spark.sql.DataFrame

  private def freshTable(prefix: String): GraftTable = {
    val dir = Files.createTempDirectory(prefix).toString
    new GraftTable(spark, dir)
  }

  private def synthDf(n: Int, seed: Long = 42) = {
    import spark.implicits._
    SourceFiles.generate(n, seed).toDF()
  }

  private def keyset(df: DataFrame): Set[(String, String, String, String)] = {
    import spark.implicits._
    df.select(col("repo"), col("path"), col("commit"), sha2(col("content"), 256))
      .as[(String, String, String, String)].collect().toSet
  }

  test("append + scan round-trips the row set exactly") {
    val t = freshTable("graft-append")
    val df = synthDf(500)
    t.append(df.repartition(8))
    assert(t.currentVersion == 1)
    assert(keyset(t.scan()) == keyset(df))
  }

  test("full maintenance pipeline preserves the row set and the sha invariant") {
    val t = freshTable("graft-maint")
    val df = synthDf(600)
    // many small files to give compaction something to do
    t.append(df.repartition(24))
    val before = keyset(t.scan())

    val c = Maintenance.compact(t, "job1", smallBytes = Long.MaxValue, targetBytes = 1L << 20)
    assert(c.inputFiles == 24, s"expected 24 inputs, got ${c.inputFiles}")
    assert(c.outputFiles < c.inputFiles)
    assert(keyset(t.scan()) == before, "compaction changed the row set")

    Maintenance.cluster(t, "job1")
    assert(keyset(t.scan()) == before, "clustering changed the row set")

    t.rewriteManifests()
    assert(keyset(t.scan()) == before, "manifest rewrite changed the row set")

    // sha256 invariant still holds post-maintenance
    val okCount = t.scan()
      .filter(XmqFunctions.xmq_roundtrip_ok(col("content"), col("lang"))).count()
    assert(okCount == 600)
  }

  test("clustering makes z ranges disjoint-ish and pruning skips files") {
    val t = freshTable("graft-prune")
    t.append(synthDf(800).repartition(16))
    Maintenance.cluster(t, "jobp", numFiles = 8)
    val entries = t.manifestEntries(t.currentSnapshot.get).sortBy(_.min_z)
    assert(entries.size >= 4)
    // after a range partition on z, file z-ranges should not all overlap
    val overlaps = entries.sliding(2).count {
      case Seq(a, b) => b.min_z < a.max_z
      case _ => false
    }
    assert(overlaps <= 1, s"z ranges overlap too much: $overlaps")

    // prune on a repo: only files whose [min_repo, max_repo] covers it survive
    val repo = SourceFiles.repoName(0)
    val (df, total, kept) = t.prunedScan(col("min_repo") <= repo && col("max_repo") >= repo)
    assert(kept < total, s"pruning kept all $total files")
    val expected = t.scan().filter(col("repo") === repo).count()
    assert(df.filter(col("repo") === repo).count() == expected)
  }

  test("hilbert clustering preserves the row set and yields disjoint-ish ranges") {
    val t = freshTable("graft-hilbert")
    t.append(synthDf(400).repartition(8))
    val before = keyset(t.scan())
    Maintenance.cluster(t, "jobh", useHilbert = true, numFiles = 6)
    assert(keyset(t.scan()) == before, "hilbert clustering changed the row set")
    val entries = t.manifestEntries(t.currentSnapshot.get).sortBy(_.min_z)
    assert(entries.size >= 3)
    val overlaps = entries.sliding(2).count {
      case Seq(a, b) => b.min_z < a.max_z
      case _ => false
    }
    assert(overlaps <= 1, s"hilbert ranges overlap too much: $overlaps")
  }

  test("merge into: copy-on-write updates + inserts, row set matches reference semantics") {
    import spark.implicits._
    val t = freshTable("graft-merge")
    val base = synthDf(400)
    t.append(base.repartition(8))
    Maintenance.cluster(t, "jobm-pre", numFiles = 8) // locality so CoW touches few files
    val filesBefore = t.manifestEntries(t.currentSnapshot.get).map(_.file_path).toSet

    // source: 30 updates drawn from ONE data file (existing keys, new content)
    // + 20 inserts (new keys) — half land in the skewed top repo
    val oneFile = t.manifestEntries(t.currentSnapshot.get).head.file_path
    val updates = t.readFiles(Seq(oneFile)).limit(30)
      .select("repo", "path", "commit", "lang", "content")
      .withColumn("content", lit("updated_v2"))
      .withColumn("lang", lit("text"))
    val inserts = synthDf(20, seed = 777)
    val source = updates.unionByName(inserts)

    val r = Maintenance.mergeInto(t, "jobm", source)
    assert(r.updated == 30, s"updated=${r.updated}")
    assert(r.inserted == 20, s"inserted=${r.inserted}")

    val after = t.scan()
    assert(after.count() == 420)
    assert(after.filter($"content" === "updated_v2").count() == 30)
    // CoW: only affected files were rewritten, others untouched
    val filesAfter = t.manifestEntries(t.currentSnapshot.get).map(_.file_path).toSet
    assert((filesBefore -- filesAfter).size == r.rewrittenFiles)
    assert((filesBefore & filesAfter).nonEmpty, "merge rewrote everything — not CoW")
  }

  test("snapshot isolation: a reader pinned to the old snapshot sees old rows during maintenance") {
    val t = freshTable("graft-iso")
    t.append(synthDf(300).repartition(6))
    val pinned = t.currentSnapshot.get
    val oldRows = keyset(t.readFiles(t.manifestEntries(pinned).map(_.file_path)))

    Maintenance.cluster(t, "jobi") // rewrites all files, commits new snapshot
    assert(t.currentVersion > pinned.version)
    // pinned reader still resolves the old manifest and old files
    val pinnedRows = keyset(t.readFiles(t.manifestEntries(pinned).map(_.file_path)))
    assert(pinnedRows == oldRows)
  }

  test("expire deletes unreferenced files but never the current snapshot's") {
    val t = freshTable("graft-expire")
    t.append(synthDf(200).repartition(4))
    Maintenance.cluster(t, "jobe")
    val curFiles = t.manifestEntries(t.currentSnapshot.get).map(_.file_path)
    val (expired, deleted) = t.expireSnapshots(System.currentTimeMillis() + 1000)
    assert(expired >= 1)
    assert(deleted >= 1)
    curFiles.foreach { f =>
      assert(Files.exists(Paths.get(t.location, f)), s"expire deleted live file $f")
    }
    assert(keyset(t.scan()).size == 200)
  }

  test("rollback restores an old rowset as a new commit; history stays time-travelable") {
    val t = freshTable("graft-rollback")
    val good = synthDf(200)
    t.append(good.repartition(4))
    val goodV = t.currentVersion
    t.append(synthDf(50, seed = 7).repartition(2)) // the bad append
    val badV = t.currentVersion
    assert(t.scan().count() == 250)

    val snap = t.rollback(goodV)
    assert(snap.operation == s"rollback-to-v$goodV")
    assert(keyset(t.scan()) == keyset(good))
    assert(t.currentSnapshot.get.recordCount == 200)
    // the bad snapshot remains readable until expired
    assert(t.snapshot(badV).map(s => t.manifest(s).count()).get >= 1)
    // new work proceeds on top of the rollback
    t.append(synthDf(30, seed = 9).repartition(2))
    assert(t.scan().count() == 230)
    // expiring everything pre-rollback reaps the bad append's files but
    // never the rolled-back-to rowset (still referenced by the current line)
    val rollTs = snap.tsMillis
    val (expired, deleted) = t.expireSnapshots(rollTs)
    assert(expired >= 1 && deleted >= 1, s"expired=$expired deleted=$deleted")
    assert(keyset(t.scan()).size == 230)
  }

  test("write-audit-publish: staged appends are invisible until published; discard cleans up") {
    val t = freshTable("graft-wap")
    t.append(synthDf(100).repartition(2))
    val v1 = t.currentVersion
    val before = keyset(t.scan())

    val goodDf = synthDf(40, seed = 7)
    val goodId = t.stageAppend(goodDf.repartition(2))
    val badId = t.stageAppend(synthDf(10, seed = 13).repartition(1))
    // staged state is invisible: no snapshot, no rows
    assert(t.currentVersion == v1)
    assert(keyset(t.scan()) == before)
    // the audit sees exactly the staged rows
    assert(keyset(t.stagedScan(goodId)) == keyset(goodDf))
    // the orphan sweep must not eat unpublished stages, however old
    val (swept, _) = t.removeOrphanFiles(System.currentTimeMillis() + 60000)
    assert(keyset(t.stagedScan(goodId)) == keyset(goodDf),
      s"orphan sweep ate a staged append (swept $swept files)")

    // audit failed for the bad stage: discard removes files + markers
    t.discardStaged(badId)
    assert(!t.io.exists(s"meta/staged-add-$badId.parquet"))

    // publish is metadata-only: row set = base + staged, counts arithmetic
    val snap = t.publishStaged(goodId)
    assert(snap.operation == s"publish-wap-$goodId")
    assert(keyset(t.scan()) == before ++ keyset(goodDf))
    assert(t.currentSnapshot.get.recordCount == 140)
    // pre-publish snapshot still shows only the base (isolation)
    assert(t.manifest(t.snapshot(v1).get).count() >= 1)
    // published files survive a post-publish orphan sweep
    val (n2, _) = t.removeOrphanFiles(System.currentTimeMillis() + 60000)
    assert(keyset(t.scan()) == before ++ keyset(goodDf), s"sweep after publish broke the table ($n2)")
    // maintenance composes with the published shard
    Maintenance.compact(t, "wapc", smallBytes = Long.MaxValue, targetBytes = 4L << 20)
    assert(keyset(t.scan()) == before ++ keyset(goodDf))
  }

  test("removeOrphanFiles deletes aged crash debris, never live or fresh files") {
    val t = freshTable("graft-orphan")
    t.append(synthDf(200).repartition(4))
    Maintenance.compact(t, "jobo", smallBytes = Long.MaxValue, targetBytes = 4L << 20)
    val before = keyset(t.scan())
    // crash debris: files written by tasks that died before commit/abort —
    // the engine's writers put part files DIRECTLY in batch dirs, which is
    // the one level the sweep lists
    val strayDir = Paths.get(t.location, "data", "b-deadbeef-stream")
    Files.createDirectories(strayDir)
    (0 until 5).foreach(i =>
      Files.writeString(strayDir.resolve(s"part-$i.parquet"), "dead task output " * 10))
    // a FRESH stray (younger than the cutoff) must survive the sweep
    val freshStray = Paths.get(t.location, "data", "b-cafe-fresh")
    Files.createDirectories(freshStray)
    Files.writeString(freshStray.resolve("part-new.parquet"), "not yet committed")
    val cutoff = System.currentTimeMillis() + 60000
    Files.setLastModifiedTime(freshStray.resolve("part-new.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(cutoff + 3600000))

    val (n, bytes) = t.removeOrphanFiles(cutoff)
    assert(n >= 5 && bytes > 0, s"n=$n bytes=$bytes")
    assert(!Files.exists(strayDir), "emptied stray dir should be reaped")
    assert(Files.exists(freshStray.resolve("part-new.parquet")),
      "fresh in-flight file must survive the age fence")
    assert(keyset(t.scan()) == before, "orphan sweep touched live data")
    // compaction's logically-removed files are still referenced by the
    // pre-compaction snapshot -> NOT orphans; time travel still works
    assert(t.snapshot(1).map(s => t.manifest(s).count()).get >= 1)
    val (n2, _) = t.removeOrphanFiles(cutoff)
    assert(n2 == 0, "second sweep must find nothing")
  }

  test("DSv2 read: WHERE-clause filters prune files via manifest stats, rows match scan()") {
    import spark.implicits._
    val t = freshTable("graft-dsv2")
    t.append(synthDf(800).repartition(16))
    Maintenance.cluster(t, "jobd", numFiles = 8) // locality: repo ranges per file
    val total = t.manifestEntries(t.currentSnapshot.get).size

    val repo = SourceFiles.repoName(1)
    val df = spark.read.format("graft").load(t.location).filter($"repo" === repo)

    // pushed filter reaches the scan and prunes input partitions
    val scan = df.queryExecution.executedPlan.collectLeaves().head
    val desc = scan.toString + df.queryExecution.executedPlan.toString
    assert(desc.contains("PushedFilters=[") && desc.contains("repo"),
      s"no pushed filter in scan:\n$desc")
    val kept = keptFiles(df)
    assert(kept < total, s"no file pruning: $kept of $total files read")

    // row-set equality vs the plan-time pruned scan path
    val expected = keyset(t.scan().filter($"repo" === repo))
    assert(keyset(df) == expected)

    // column pruning: a two-column projection still returns correct values
    val langs = spark.read.format("graft").load(t.location)
      .filter($"repo" === repo).select($"lang", $"path")
    assert(langs.count() == expected.size)
    assert(langs.filter($"lang".isin("xml", "json", "xmq", "html")).count() == expected.size)
  }

  test("lineage makes phases idempotent: re-running a done phase is a no-op") {
    val t = freshTable("graft-resume")
    t.append(synthDf(300).repartition(12))
    val c1 = Maintenance.compact(t, "jobr", smallBytes = Long.MaxValue, targetBytes = 1L << 20)
    val v1 = t.currentVersion
    // re-run same job id: must skip (no new snapshot)
    val c2 = Maintenance.compact(t, "jobr", smallBytes = Long.MaxValue, targetBytes = 1L << 20)
    assert(t.currentVersion == v1, "re-run committed a new snapshot")
    assert(c2.rows == c1.rows)

    Maintenance.cluster(t, "jobr")
    val v2 = t.currentVersion
    Maintenance.cluster(t, "jobr")
    assert(t.currentVersion == v2)

    // PER-PARTITION lineage (north_rule): one row per output file, each with
    // its own row count and a real (non-zero) content digest
    val rows = Lineage.forJob(t, "jobr")
    assert(rows.map(_.phase).toSet == Set("compact", "cluster_zorder"))
    val clusterRows = rows.filter(_.phase == "cluster_zorder")
    assert(clusterRows.size > 1, s"expected per-partition lineage rows, got ${clusterRows.size}")
    assert(clusterRows.forall(r => r.output_files.size == 1 && r.row_count > 0))
    assert(clusterRows.forall(r => r.sha256_digest.nonEmpty && r.sha256_digest != "0"))
    // xor of per-partition digests == whole-table digest (order-independent)
    val combined = clusterRows.map(r => java.lang.Long.parseUnsignedLong(r.sha256_digest, 16))
      .reduce(_ ^ _)
    assert(combined == Lineage.digestOf(spark, t.scan()),
      "per-partition digests do not combine to the table digest")
  }

  test("merge lineage records per-partition rows with real digests") {
    val t = freshTable("graft-merge-lineage")
    t.append(synthDf(300).repartition(6))
    val src = synthDf(40, seed = 99)
    Maintenance.mergeInto(t, "jobml", src)
    val rows = Lineage.forJob(t, "jobml").filter(_.phase == "merge")
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.sha256_digest.nonEmpty && r.sha256_digest != "0"),
      s"merge recorded placeholder digests: ${rows.map(_.sha256_digest)}")
  }

  test("resume semantics: vanished outputs force a re-run") {
    val t = freshTable("graft-rerun")
    t.append(synthDf(200).repartition(8))
    Maintenance.compact(t, "jobx", smallBytes = Long.MaxValue, targetBytes = 1L << 20)
    val out = Lineage.rows(t, "jobx", "compact").flatMap(_.output_files).head
    Files.delete(Paths.get(t.location, out))
    assert(!Lineage.isDone(t, "jobx", "compact"))
  }

  test("compact plans distributed over a 10k-entry manifest; collects only survivors") {
    import graft.lake.{ManifestEntry, MetaIO}
    val t = freshTable("graft-bigmanifest")
    // a few REAL small files worth compacting...
    t.append(synthDf(200).repartition(4))
    val realRecords = t.currentSnapshot.get.recordCount
    // ...plus 10k fake LARGE-file manifest entries (metadata only): the
    // small-file predicate must eliminate them distributed — the driver
    // never materializes these as entry objects during planning
    val fakes = (0 until 10000).map { i =>
      ManifestEntry(s"data/fake/f$i.parquet", "fake", 1000L, 1L << 30,
        "r", "r", "p", "p", Seq("scala"), 0L, 0L, 0L, 0L, i.toLong)
    }
    t.commit(fakes, Set.empty, "fake-append")
    assert(t.currentSnapshot.get.recordCount == realRecords + 10000L * 1000L)

    val c = Maintenance.compact(t, "bigjob", smallBytes = 1L << 20, targetBytes = 1L << 30)
    assert(c.inputFiles == 4, s"expected the 4 real small files, got ${c.inputFiles}")
    assert(c.outputFiles >= 1 && c.rows == 200)
    // arithmetic record count held through the partial rewrite
    assert(t.currentSnapshot.get.recordCount == realRecords + 10000L * 1000L)
    // the real rows survived compaction byte-identically
    val live = t.manifest(t.currentSnapshot.get)
    assert(live.count() == 10000 + c.outputFiles)
    assert(keyset(t.readFiles(
      live.filter(col("partition") =!= "fake").select("file_path")
        .as[String](org.apache.spark.sql.Encoders.STRING).collect().toSeq)) ==
      keyset(synthDf(200)))
  }

  /** the live paths of each commit after `v0`, paired with its parent's */
  private def commitsAfter(t: GraftTable, v0: Long): Seq[(Set[String], Set[String])] = {
    def live(v: Long) = t.manifestEntries(t.snapshot(v).get).map(_.file_path).toSet
    (v0 + 1 to t.currentVersion).map(v => (live(v - 1), live(v)))
  }

  test("batched compaction: bounded per-batch collects, per-batch commits, rows preserved") {
    val t = freshTable("graft-compactbatch")
    t.append(synthDf(400).repartition(16)) // 16 small files
    val v0 = t.currentVersion
    val records = t.manifestEntries(t.currentSnapshot.get)
      .map(e => e.file_path -> e.record_count).toMap
    val res = Maintenance.compact(t, "jobcb",
      smallBytes = 1L << 20, targetBytes = 1L << 30, batchFiles = 5)
    // 16 paths in batches of <=5 (5, 5, 5, 1): the trailing 1-file batch
    // has nothing to pack, the other three are one commit each
    val commits = commitsAfter(t, v0)
    assert(commits.size == 3, s"expected 3 batch commits, got ${commits.size}")
    val removed = commits.map { case (parent, child) => parent -- child }
    // no commit replaced more than batchFiles files
    assert(removed.forall(r => r.nonEmpty && r.size <= 5), removed.map(_.size))
    assert(res.inputFiles == 15 && removed.map(_.size).sum == 15, s"res=$res")
    assert(removed.reduce(_ ++ _).size == 15) // each file in one batch only
    assert(res.rows == removed.flatten.map(records).sum)
    assert(keyset(t.scan()) == keyset(synthDf(400)))
    assert(t.currentSnapshot.get.recordCount == 400)
  }

  test("batched clustering: rewrites everything in bounded batches, rows preserved") {
    val t = freshTable("graft-clusterbatch")
    t.append(synthDf(300).repartition(9))
    val v0 = t.currentVersion
    val before = t.manifestEntries(t.currentSnapshot.get).map(_.file_path).toSet
    assert(before.size == 9)
    val rows = Maintenance.cluster(t, "jobclb", numFiles = 2, batchFiles = 4)
    assert(rows == 300)
    // 9 paths in batches of <=4 (4, 4, 1): one commit each
    val commits = commitsAfter(t, v0)
    assert(commits.size == 3, s"expected 3 batch commits, got ${commits.size}")
    val removed = commits.map { case (parent, child) => parent -- child }
    assert(removed.forall(r => r.nonEmpty && r.size <= 4), removed.map(_.size))
    assert(removed.reduce(_ ++ _) == before)
    assert(keyset(t.scan()) == keyset(synthDf(300)))
    assert(t.currentSnapshot.get.recordCount == 300)
    // every original file was rewritten: none of them is live any more
    val live = t.manifestEntries(t.currentSnapshot.get).map(_.file_path).toSet
    assert((live & before).isEmpty, live.mkString(","))
  }

  test("DSv2 planning prunes the manifest distributed: partitions == survivors over a 10k-entry manifest") {
    import spark.implicits._
    import graft.lake.ManifestEntry
    val t = freshTable("graft-dsv2-plan")
    t.append(synthDf(400).repartition(8))
    Maintenance.cluster(t, "jobdp", numFiles = 4)
    val realTotal = t.manifestEntries(t.currentSnapshot.get).size
    // 10k fake entries whose repo stats exclude every real repo AND whose
    // data files do not exist: if planning failed to prune them distributed,
    // the read below would either collect 10k+ entries or fail opening a
    // nonexistent file
    val fakes = (0 until 10000).map { i =>
      ManifestEntry(s"data/fake/f$i.parquet", "fake", 10L, 1L << 20,
        "zzz", "zzz", "p", "p", Seq("scala"), 0L, 0L, 0L, 0L, i.toLong)
    }
    t.commit(fakes, Set.empty, "fake-append")

    val repo = SourceFiles.repoName(1)
    val df = spark.read.format("graft").load(t.location).filter($"repo" === repo)
    val expected = keyset(t.readFiles(
      t.manifestEntries(t.currentSnapshot.get)
        .filter(e => e.partition != "fake" && e.min_repo <= repo && repo <= e.max_repo)
        .map(_.file_path)).filter($"repo" === repo))
    val survivors = t.manifestEntries(t.currentSnapshot.get)
      .count(e => e.partition != "fake" && e.min_repo <= repo && repo <= e.max_repo)
    // the scan kept exactly the surviving files — the collect was survivor-sized
    assert(keptFiles(df) == survivors,
      s"kept ${keptFiles(df)} files, expected $survivors of ${realTotal + 10000}")
    assert(keyset(df) == expected)
  }

  test("DSv2 prefix and OR filters prune via manifest stats") {
    import spark.implicits._
    val t = freshTable("graft-dsv2-prefix")
    // lexical-prefix pruning needs lexical file locality: range-partition by
    // repo (hash-z clustering gives HASH locality — equality prunes, prefix
    // ranges span everything; both layouts are legitimate table states)
    t.append(synthDf(600).repartitionByRange(8, col("repo")))
    val repo = SourceFiles.repoName(3)
    val prefix = repo.substring(0, repo.lastIndexOf('/') + 1) // "orgNN/"
    val total = t.manifestEntries(t.currentSnapshot.get).size

    val df = spark.read.format("graft").load(t.location)
      .filter($"repo".startsWith(prefix))
    val expected = t.scan().filter($"repo".startsWith(prefix)).count()
    assert(df.count() == expected)
    assert(keptFiles(df) < total,
      s"prefix filter pruned nothing: ${keptFiles(df)}/$total")

    // OR of two repo equalities also prunes (both sides supported)
    val r2 = SourceFiles.repoName(5)
    val dfOr = spark.read.format("graft").load(t.location)
      .filter($"repo" === repo || $"repo" === r2)
    val expOr = t.scan().filter($"repo" === repo || $"repo" === r2).count()
    assert(dfOr.count() == expOr)
    assert(keptFiles(dfOr) < total)
  }

  test("DSv2 scan description reports the pruning ratio after planning") {
    import spark.implicits._
    val t = freshTable("graft-dsv2-desc")
    t.append(synthDf(400).repartition(8))
    Maintenance.cluster(t, "jobdd", numFiles = 4)
    val repo = SourceFiles.repoName(2)
    val df = spark.read.format("graft").load(t.location).filter($"repo" === repo)
    df.count() // plan + execute
    val descs = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(descs.contains("files="), s"no pruning ratio in scan description:\n$descs")
  }

  test("DSv2 read is columnar: batches flow from the connector scan") {
    import spark.implicits._
    val t = freshTable("graft-dsv2-col")
    t.append(synthDf(300).repartition(4))
    val df = spark.read.format("graft").load(t.location)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    // columnar connector scans are bridged by a ColumnarToRow node; the
    // row-at-a-time reader would plan without one
    assert(plan.contains("ColumnarToRow"), s"connector scan is not columnar:\n$plan")
    assert(keyset(df) == keyset(t.scan()))
    // projection subset decodes only those columns, still columnar
    val two = spark.read.format("graft").load(t.location).select($"repo", $"z")
    assert(two.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(two.count() == 300 && two.filter($"z".isNotNull).count() == 300)
  }

  test("DSv2 columnar reader splices null vectors for columns a file lacks") {
    import org.apache.spark.sql.types._
    // a data file written WITHOUT z/commit (schema evolution): the batch
    // reader must keep the file's columns and null-fill the absent ones
    val dir = Files.createTempDirectory("graft-evolve").toString
    spark.range(5).selectExpr("concat('r', id) AS repo", "concat('p', id) AS path",
        "'xml' AS lang", "concat('c', id) AS content")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val file = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
    val reader = new graft.lake.GraftColumnarPartitionReader(
      file.getAbsolutePath, graft.lake.GraftDataSource.schema)
    var rows = 0
    var nullZ = 0
    while (reader.next()) {
      val b = reader.get()
      rows += b.numRows()
      val zIdx = graft.lake.GraftDataSource.schema.fieldIndex("z")
      val repoIdx = graft.lake.GraftDataSource.schema.fieldIndex("repo")
      for (i <- 0 until b.numRows()) {
        if (b.column(zIdx).isNullAt(i)) nullZ += 1
        assert(b.column(repoIdx).getUTF8String(i).toString.startsWith("r"))
      }
    }
    reader.close()
    assert(rows == 5 && nullZ == 5, s"rows=$rows nullZ=$nullZ")
  }

  test("DSv2 time travel: .option(snapshot, v) reads an old snapshot during maintenance") {
    import spark.implicits._
    val t = freshTable("graft-dsv2-tt")
    t.append(synthDf(200).repartition(4))
    val v1 = t.currentVersion
    val before = keyset(spark.read.format("graft").load(t.location))
    // maintenance rewrites data files and commits new snapshots
    Maintenance.compact(t, "jobtt", targetBytes = 1L << 20)
    Maintenance.cluster(t, "jobtt2", numFiles = 2)
    assert(t.currentVersion > v1)
    // pinned read through the PUBLIC connector API sees the v1 row set even
    // though the current snapshot has moved on
    val pinned = spark.read.format("graft").option("snapshot", v1)
      .load(t.location)
    assert(keyset(pinned) == before, "pinned snapshot read drifted")
    // unpinned read follows the current snapshot; row set preserved by
    // maintenance, but served from the rewritten files
    assert(keyset(spark.read.format("graft").load(t.location)) == before)
    // a never-committed snapshot fails loudly, not as an empty table
    val err = intercept[Exception] {
      spark.read.format("graft").option("snapshot", 99999L).load(t.location).count()
    }
    assert(err.getMessage != null)
  }

  test("DSv2 runtime filtering: filter() at execution re-prunes the file list") {
    import org.apache.spark.sql.sources.EqualTo
    val t = freshTable("graft-dsv2-rtf")
    t.append(synthDf(600).repartition(8))
    Maintenance.cluster(t, "jobrtf", numFiles = 8)
    val repo = SourceFiles.repoName(1)
    // the exact call sequence Spark's BatchScanExec makes when a join
    // produces a runtime filter on a declared filter attribute
    val scan = new graft.lake.GraftScanBuilder(t.location).build()
      .asInstanceOf[graft.lake.GraftScan]
    assert(scan.filterAttributes().map(_.describe()).toSet == Set("repo", "path", "lang"))
    scan.planInputPartitions()
    val before = scan.pruneInfo.get._1
    scan.filter(Array[org.apache.spark.sql.sources.Filter](EqualTo("repo", repo)))
    scan.planInputPartitions()
    val after = scan.pruneInfo.get._1
    assert(after < before, s"runtime filter pruned nothing: $after of $before")
    // end-to-end: a selective broadcast join through the connector stays
    // correct whether or not the optimizer injects the runtime filter
    import spark.implicits._
    val dim = Seq(repo).toDF("repo")
    val joined = spark.read.format("graft").load(t.location)
      .join(org.apache.spark.sql.functions.broadcast(dim), "repo")
    assert(keyset(joined) == keyset(t.scan().filter($"repo" === repo)))
  }

  test("catalog: SQL DDL/DML/time-travel over graft.ns.t") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-warehouse").toString
    spark.conf.set("spark.sql.catalog.graftcat", "graft.lake.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE graftcat.ns")
    spark.sql("CREATE TABLE graftcat.ns.t (repo STRING, path STRING, commit STRING, lang STRING, content STRING, z BIGINT)")
    assert(spark.sql("SHOW TABLES IN graftcat.ns").collect().map(_.getString(1)).contains("t"))

    synthDf(120).createOrReplaceTempView("src_rows")
    spark.sql("INSERT INTO graftcat.ns.t SELECT repo, path, commit, lang, content, xxhash64(repo) AS z FROM src_rows")
    val v1 = new graft.lake.GraftTable(spark, s"$wh/ns/t").currentVersion
    assert(spark.sql("SELECT count(*) FROM graftcat.ns.t").head().getLong(0) == 120)
    // pushed predicate prunes through the catalog path too
    val repo = SourceFiles.repoName(2)
    val expected = keyset(new graft.lake.GraftTable(spark, s"$wh/ns/t").scan()
      .filter($"repo" === repo))
    assert(keyset(spark.sql(s"SELECT * FROM graftcat.ns.t WHERE repo = '$repo'")
      .drop("z")) == expected)

    spark.sql("INSERT INTO graftcat.ns.t SELECT repo, path, commit, lang, content, xxhash64(repo) AS z FROM src_rows LIMIT 30")
    assert(spark.sql("SELECT count(*) FROM graftcat.ns.t").head().getLong(0) == 150)
    // SQL time travel pins the first snapshot
    assert(spark.sql(s"SELECT count(*) FROM graftcat.ns.t VERSION AS OF $v1")
      .head().getLong(0) == 120)
    assert(spark.sql("SHOW NAMESPACES IN graftcat").collect().map(_.getString(0)).contains("ns"))
  }

  test("delete: metadata-only drop when stats prove whole files match") {
    import spark.implicits._
    import org.apache.spark.sql.sources.EqualTo
    val t = freshTable("graft-del-meta")
    val df = synthDf(300)
    // repoName(0) = "org00/..." sorts strictly below every other repo, so
    // the second append's files all have min_repo > target — stats EXCLUDE
    // them from the candidate set entirely
    val target = SourceFiles.repoName(0)
    // two appends with disjoint repo sets: the target repo's files carry
    // min_repo == max_repo == target, every other file's stats EXCLUDE it
    t.append(df.filter($"repo" === target).repartition(3))
    t.append(df.filter($"repo" =!= target).repartition(4))
    val before = keyset(t.scan())
    val expectDeleted = df.filter($"repo" === target).count()

    val r = graft.lake.Delete.deleteWhere(t, Array(EqualTo("repo", target)))
    assert(r.droppedFiles == 3, s"expected 3 metadata drops, got $r")
    assert(r.rewrittenFiles == 0, s"aligned delete opened data files: $r")
    assert(r.deletedRows == expectDeleted)
    assert(t.currentSnapshot.get.operation == "delete")
    assert(t.currentSnapshot.get.recordCount == 300 - expectDeleted)
    assert(keyset(t.scan()) == before.filter(_._1 != target))
  }

  test("delete: copy-on-write keeps non-matching rows; time travel sees pre-delete") {
    import spark.implicits._
    import org.apache.spark.sql.sources.GreaterThan
    val t = freshTable("graft-del-cow")
    val df = synthDf(400)
    t.append(df.repartition(6)) // mixed files: nothing provably full-matches
    val v1 = t.currentVersion
    val before = keyset(t.scan())
    val filters: Array[org.apache.spark.sql.sources.Filter] =
      Array(GreaterThan("path", "m"))
    val expectKept = df.filter(!($"path" > "m"))

    val r = graft.lake.Delete.deleteWhere(t, filters)
    assert(r.rewrittenFiles > 0)
    assert(r.deletedRows == 400 - expectKept.count())
    assert(keyset(t.scan()) == keyset(expectKept))
    assert(t.currentSnapshot.get.recordCount == expectKept.count())
    // pre-delete snapshot still reads the full row set through the connector
    val pinned = spark.read.format("graft").option("snapshot", v1).load(t.location)
    assert(keyset(pinned) == before)
  }

  test("update: copy-on-write assignments, stats pruning, z recompute, time travel") {
    import spark.implicits._
    import org.apache.spark.sql.sources.StringStartsWith
    val t = freshTable("graft-upd")
    val df = synthDf(400)
    // range partitioning on repo → most files are repo-pure → pruning bites
    t.append(df.repartitionByRange(8, $"repo"))
    val v1 = t.currentVersion
    val before = keyset(t.scan())
    val repo0 = df.select($"repo").orderBy($"repo").head().getString(0)
    val filters: Array[org.apache.spark.sql.sources.Filter] =
      Array(StringStartsWith("repo", repo0))

    val r = graft.lake.Update.updateWhere(t, filters,
      Map("lang" -> lit("updated"), "content" -> concat(lit("v2 "), $"content")))
    assert(r.prunedFiles > 0, s"expected pruning, got $r")
    assert(r.updatedRows == df.filter($"repo".startsWith(repo0)).count())

    val after = t.scan()
    val expect = df.select($"repo", $"path", $"commit",
      when($"repo".startsWith(repo0), lit("updated")).otherwise($"lang").as("lang"),
      when($"repo".startsWith(repo0), concat(lit("v2 "), $"content"))
        .otherwise($"content").as("content"))
    assert(keyset(after) == keyset(expect))
    assert(after.filter($"lang" === "updated").count() == r.updatedRows)
    // z is derived from (repo, path, lang) — rewritten rows must carry the
    // recomputed key, not the stale pre-update one
    val zExpr = graft.expr.XmqFunctions.zorder_interleave(
      xxhash64($"repo"), xxhash64($"path"), pmod(xxhash64($"lang"), lit(256L)))
    assert(after.filter($"z" =!= zExpr).count() == 0)
    // pre-update snapshot still reads the original rows
    val pinned = spark.read.format("graft").option("snapshot", v1).load(t.location)
    assert(keyset(pinned) == before)
  }

  test("catalog: SQL DELETE FROM (mixed metadata/CoW) and TRUNCATE TABLE") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-wh-del").toString
    spark.conf.set("spark.sql.catalog.graftdel", "graft.lake.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftdel.warehouse", wh)
    spark.sql("CREATE NAMESPACE graftdel.ns")
    spark.sql("CREATE TABLE graftdel.ns.t (repo STRING, path STRING, commit STRING, lang STRING, content STRING, z BIGINT)")
    synthDf(200).createOrReplaceTempView("del_src")
    spark.sql("INSERT INTO graftdel.ns.t SELECT repo, path, commit, lang, content, xxhash64(repo) AS z FROM del_src")
    val lib = new graft.lake.GraftTable(spark, s"$wh/ns/t")
    val v1 = lib.currentVersion
    val rA = SourceFiles.repoName(0)
    val rB = SourceFiles.repoName(3)
    val expected = lib.scan()
      .filter(!($"repo" === rA || ($"repo" === rB && $"path" < "m")))

    spark.sql(
      s"DELETE FROM graftdel.ns.t WHERE repo = '$rA' OR (repo = '$rB' AND path < 'm')")
    assert(keyset(spark.sql("SELECT * FROM graftdel.ns.t").drop("z")) == keyset(expected))
    // SQL time travel still reads the pre-delete snapshot
    assert(spark.sql(s"SELECT count(*) FROM graftdel.ns.t VERSION AS OF $v1")
      .head().getLong(0) == 200)

    spark.sql("TRUNCATE TABLE graftdel.ns.t")
    assert(spark.sql("SELECT count(*) FROM graftdel.ns.t").head().getLong(0) == 0)
    // table metadata survives the truncate; history is intact
    assert(spark.sql(s"SELECT count(*) FROM graftdel.ns.t VERSION AS OF $v1")
      .head().getLong(0) == 200)
  }

  test("version-hint recovery: a lost hint resolves to the highest snapshot, not an empty table") {
    val t = freshTable("graft-hintloss")
    t.append(synthDf(120).repartition(2))
    t.append(synthDf(30, seed = 9).repartition(1))
    val v = t.currentVersion
    assert(v == 2)
    t.io.delete("meta/version-hint.text")
    assert(t.currentVersion == v, "lost hint fell back to 0 — next commit would orphan the table")
    assert(t.scan().count() == 150)
  }

  test("relativize: '+' survives, root matches as a path prefix only") {
    import graft.lake.LakeIO
    val root = Files.createTempDirectory("graft-rel").toString
    val io = new LakeIO(root)
    assert(io.relativize(s"file:$root/a+b/c d/f.parquet") == "a+b/c d/f.parquet")
    assert(io.relativize(s"file://$root/x.parquet") == "x.parquet")
    // a root string occurring mid-path must NOT match
    intercept[IllegalArgumentException] {
      io.relativize(s"file:/mnt$root/evil$root/f.parquet".replace("//", "/"))
    }
    // prefix-of-a-longer-name must not match either: /root-x is not under /root
    intercept[IllegalArgumentException] { io.relativize(s"file:$root-x/f.parquet") }
  }

  test("all-null stats columns commit and round-trip through driver-side metadata") {
    import graft.lake.ManifestEntry
    val t = freshTable("graft-nullstats")
    t.init()
    val e = ManifestEntry("data/n/f0.parquet", "n", 5L, 100L,
      null, null, null, null, null, 0L, 0L, 0L, 0L, 7L)
    t.commit(Seq(e), Set.empty, "append") // NPE'd before the appendOpt fix
    val back = t.manifestEntries(t.currentSnapshot.get)
    assert(back.size == 1 && back.head.min_repo == null && back.head.record_count == 5L)
    // and the null-stat file is KEPT by any stats predicate (coalesce-true)
    val kept = t.manifest(t.currentSnapshot.get)
      .filter(graft.lake.GraftScan.manifestPredicate(Array(
        org.apache.spark.sql.sources.EqualTo("repo", "anything")))).count()
    assert(kept == 1, "missing stats must keep the file, not drop it")
  }

  test("rewriteManifests shards the live manifest and drops vanished files via batched listing") {
    import spark.implicits._
    val t = freshTable("graft-rewrite-shard")
    t.append(synthDf(400).repartition(12))
    val before = t.manifestEntries(t.currentSnapshot.get)
    assert(before.size == 12)
    // vanish one data file out from under the manifest
    val vanished = before.head.file_path
    val vanishedRecords = before.head.record_count
    t.io.delete(vanished)

    t.rewriteManifests(targetEntriesPerShard = 3) // forces ceil(11/3)=4 shards
    val snap = t.currentSnapshot.get
    assert(snap.operation == "manifest_rewrite")
    val live = t.manifestEntries(snap)
    assert(live.size == 11, s"vanished file still live: ${live.size}")
    assert(!live.exists(_.file_path == vanished))
    assert(snap.recordCount == 400L - vanishedRecords)
    // the add shard is a DIRECTORY with multiple part files — no single-task funnel
    val shardDir = t.manifestShards(snap).filter(_.kind == "add").map(_.path).head
    val parts = t.io.list(shardDir).count(_.endsWith(".parquet"))
    assert(parts > 1, s"manifest rewrite funneled through one task: $parts part file(s)")
    assert(t.scan().count() == 400L - vanishedRecords)
  }

  test("merge with an EMPTY source on a non-empty table is a counted no-op") {
    // guards the observed-insert-count path: a zero-row write must still
    // resolve the observation (no hang) and report 0/0/0
    val t = freshTable("graft-merge-empty")
    t.append(synthDf(50).repartition(2))
    val before = t.currentSnapshot.get.recordCount
    val r = Maintenance.mergeInto(t, "jobme", synthDf(5).filter(lit(false)))
    assert(r.updated == 0 && r.inserted == 0 && r.rewrittenFiles == 0, s"$r")
    assert(t.scan().count() == before)
  }

  test("merge with a source past the broadcast key limit takes the shuffle path, same result") {
    import spark.implicits._
    val t = freshTable("graft-merge-big")
    t.append(synthDf(400).repartition(8))
    val oneFile = t.manifestEntries(t.currentSnapshot.get).head.file_path
    val updates = t.readFiles(Seq(oneFile)).limit(20)
      .select("repo", "path", "commit", "lang", "content")
      .withColumn("content", lit("updated_big"))
      .withColumn("lang", lit("text"))
    val inserts = synthDf(15, seed = 555)
    // broadcastBytes=1 forces the shuffle-join fallback for every key join
    val r = Maintenance.mergeInto(t, "jobbig", updates.unionByName(inserts),
      broadcastBytes = 1L)
    assert(r.updated == 20 && r.inserted == 15, s"shuffle-path merge wrong: $r")
    val after = t.scan()
    assert(after.count() == 415)
    assert(after.filter($"content" === "updated_big").count() == 20)
  }

  test("DSv2 write: df.write.format(graft) appends with full manifest stats") {
    import spark.implicits._
    val loc = Files.createTempDirectory("graft-dsv2-write").toString
    val df = synthDf(150)
    df.select("repo", "path", "commit", "lang", "content")
      .write.format("graft").mode("append").save(loc)
    // second append through the same path
    synthDf(50, seed = 9).select("repo", "path", "commit", "lang", "content")
      .write.format("graft").mode("append").save(loc)

    val t = new GraftTable(spark, loc)
    assert(t.currentVersion == 2)
    assert(t.currentSnapshot.get.recordCount == 200)
    assert(keyset(t.scan()) == keyset(synthDf(150).unionByName(synthDf(50, seed = 9))))
    // manifest entries carry real stats (z bounds, digest, sizes)
    val entries = t.manifestEntries(t.currentSnapshot.get)
    assert(entries.nonEmpty)
    assert(entries.forall(e => e.file_bytes > 0 && e.record_count > 0 && e.min_repo != null))
    assert(entries.exists(_.digest != 0L))
    // and the DSv2 READ path sees what the DSv2 write path wrote
    val back = spark.read.format("graft").load(loc)
    assert(back.count() == 200)
  }

  test("driver-side metadata writes interoperate with Spark-written shards") {
    import graft.lake.MetaIO
    val t = freshTable("graft-metaio")
    t.append(synthDf(100).repartition(2))          // MetaIO add shard
    val snap1 = t.currentSnapshot.get
    Maintenance.cluster(t, "mjob")                  // MetaIO removes, Spark data
    t.rewriteManifests()                            // Spark-written add shard
    val snap = t.currentSnapshot.get
    // shard list read driver-side; manifest (mixed writers) read by Spark
    val m = t.manifest(snap)
    assert(m.count() > 0)
    assert(keyset(t.scan()) == keyset(synthDf(100)))
    assert(snap.recordCount == 100L)
    // langs survived the driver-side LIST encoding round-trip
    val langs = m.select(explode(col("langs"))).distinct().count()
    assert(langs > 0)
  }

  test("incremental scan: appends-only changelog across maintenance; merge refuses") {
    import spark.implicits._
    val t = freshTable("graft-incr")
    t.append(synthDf(200).repartition(4))
    val v1 = t.currentVersion
    t.append(synthDf(60, seed = 7).repartition(2))
    val v2 = t.currentVersion
    // rowset-preserving maintenance between appends must contribute NOTHING
    Maintenance.compact(t, "jobi", targetBytes = 1L << 20)
    Maintenance.cluster(t, "jobi2", numFiles = 2)
    t.rewriteManifests()
    t.append(synthDf(40, seed = 9).repartition(2))

    // (v1, current]: exactly the second and third appended batches
    val inc = keyset(t.incrementalScan(v1))
    assert(inc == keyset(synthDf(60, seed = 7)) ++ keyset(synthDf(40, seed = 9)),
      s"changelog rows wrong: ${inc.size}")
    // sub-range (v1, v2]: only the second batch
    assert(keyset(t.incrementalScan(v1, v2)) == keyset(synthDf(60, seed = 7)))
    // empty range
    assert(t.incrementalScan(v1, v1).count() == 0)

    // the same changelog through the PUBLIC connector, with pruning intact
    val cdf = spark.read.format("graft").option("fromSnapshot", v1).load(t.location)
    assert(keyset(cdf) == inc)
    val repo = SourceFiles.repoName(1)
    val pruned = spark.read.format("graft").option("fromSnapshot", v1)
      .load(t.location).filter($"repo" === repo)
    assert(keyset(pruned) == inc.filter(_._1 == repo))
    assert(pruned.queryExecution.executedPlan.toString.contains("incrementalFrom=v"))

    // a merge inside the range changes rows additions cannot express
    Maintenance.mergeInto(t, "jobi3", synthDf(10, seed = 11))
    val err = intercept[IllegalArgumentException] { t.incrementalScan(v1).count() }
    assert(err.getMessage.contains("full refresh"), err.getMessage)
    // ranges that stop BEFORE the merge still work
    assert(keyset(t.incrementalScan(v1, v2)) == keyset(synthDf(60, seed = 7)))
  }

  test("DSv2 reported statistics: exact post-pruning rows/bytes drive the broadcast decision") {
    import spark.implicits._
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val t = freshTable("graft-dsv2-stats")
    t.append(synthDf(600).repartition(8))
    Maintenance.cluster(t, "jobstat", numFiles = 8) // repo locality → pruning bites
    val entries = t.manifestEntries(t.currentSnapshot.get)
    val fullBytes = entries.map(_.file_bytes).sum
    val fullRows = entries.map(_.record_count).sum

    def relStats(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.stats
    }.head

    // unfiltered: the relation reports the exact committed totals — not
    // spark.sql.defaultSizeInBytes (Long.MaxValue), the V2 fallback that
    // makes every un-reported connector read "too big to broadcast"
    val full = relStats(spark.read.format("graft").load(t.location))
    assert(full.sizeInBytes == BigInt(fullBytes), s"${full.sizeInBytes} != $fullBytes")
    assert(full.rowCount.contains(BigInt(fullRows)), s"rowCount=${full.rowCount}")

    // filtered: totals shrink to exactly the files the predicate kept
    val repo = SourceFiles.repoName(1)
    val fdf = spark.read.format("graft").load(t.location).filter($"repo" === repo)
    val pruned = relStats(fdf)
    assert(pruned.sizeInBytes > 0 && pruned.sizeInBytes < full.sizeInBytes,
      s"pruned=${pruned.sizeInBytes} full=${full.sizeInBytes}")

    // the stats drive planning: with the threshold strictly between the
    // pruned and full sizes, ONLY the pruned side can broadcast — a
    // stats-less V2 relation would sort-merge here
    val thr = (pruned.sizeInBytes + full.sizeInBytes) / 2
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr.toString)
      val joined = spark.read.format("graft").load(t.location)
        .join(fdf.select($"repo", $"path"), Seq("repo", "path"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("DSv2 aggregate pushdown: COUNT/MIN/MAX answered from manifest stats, zero files read") {
    import spark.implicits._
    val t = freshTable("graft-dsv2-agg")
    t.append(synthDf(600).repartition(8))
    Maintenance.compact(t, "jobagg", targetBytes = 1L << 20)

    val df = spark.read.format("graft").load(t.location)
      .agg(count(lit(1)).as("n"), min($"repo").as("min_repo"),
           max($"repo").as("max_repo"), min($"path").as("min_path"),
           max($"path").as("max_path"), min($"lang").as("min_lang"),
           max($"lang").as("max_lang"), min($"z").as("min_z"),
           max($"z").as("max_z"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates=[COUNT(*)"),
      s"aggregate not pushed:\n$plan")
    // no parquet data file is opened: the leaf is the agg scan, not a
    // per-file batch scan
    assert(!plan.contains("GraftScan location"), s"fell back to row scan:\n$plan")

    // values equal the full-scan ground truth
    val full = t.scan().agg(count(lit(1)), min($"repo"), max($"repo"),
      min($"path"), max($"path"), min($"lang"), max($"lang"),
      min($"z"), max($"z")).head()
    assert(df.head() == full, s"pushed=${df.head()} truth=$full")

    // a WHERE clause refuses the pushdown (file stats are may-match, so a
    // filtered aggregate MUST take the row path) — and stays correct
    val filtered = spark.read.format("graft").load(t.location)
      .filter($"repo" === SourceFiles.repoName(1))
      .agg(count(lit(1)).as("n"))
    val fplan = filtered.queryExecution.executedPlan.toString
    assert(!fplan.contains("PushedAggregates"), s"filtered agg wrongly pushed:\n$fplan")
    assert(filtered.head().getLong(0) ==
      t.scan().filter($"repo" === SourceFiles.repoName(1)).count())

    // GROUP BY refuses the pushdown; unsupported functions (COUNT DISTINCT
    // — no distinct counts in the stats) refuse it and stay correct
    // (sum(z) would be the natural probe but ANSI overflows on full-range
    // 64-bit z values, in the ground truth and pushed plan alike)
    val grouped = spark.read.format("graft").load(t.location)
      .groupBy($"lang").agg(count(lit(1)))
    assert(!grouped.queryExecution.executedPlan.toString.contains("PushedAggregates"))
    val distincts = spark.read.format("graft").load(t.location)
      .agg(count_distinct($"lang"))
    assert(!distincts.queryExecution.executedPlan.toString.contains("PushedAggregates"))
    assert(distincts.head().getLong(0) ==
      t.scan().agg(count_distinct($"lang")).head().getLong(0))

    // time travel composes: pinned COUNT(*) sees the pinned row count
    val v1 = t.currentVersion
    t.append(synthDf(50, seed = 99))
    val pinnedN = spark.read.format("graft").option("snapshot", v1)
      .load(t.location).agg(count(lit(1))).head().getLong(0)
    assert(pinnedN == 600L, s"pinned count $pinnedN")
    val curN = spark.read.format("graft").load(t.location)
      .agg(count(lit(1))).head().getLong(0)
    assert(curN == 650L, s"current count $curN")
  }

  test("TIMESTAMP AS OF resolves the newest main-ancestry snapshot at the instant") {
    val wh = Files.createTempDirectory("graft-tsaof").toString
    spark.conf.set("spark.sql.catalog.tscat", "graft.lake.GraftCatalog")
    spark.conf.set("spark.sql.catalog.tscat.warehouse", wh)
    try {
      val t = new GraftTable(spark, s"$wh/ns/t")
      t.append(synthDf(30))
      val ts1 = t.currentSnapshot.get.tsMillis
      Thread.sleep(5)
      t.append(synthDf(10, seed = 7).withColumn("path", concat(lit("b/"), col("path"))))
      // a branch commit AFTER ts1 must never be picked by a timestamp
      t.createBranch("side")
      t.forBranch("side").append(synthDf(5, seed = 9))
      val instant = java.time.Instant.ofEpochMilli(ts1)
        .atZone(java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
      val n = spark.sql(
        s"SELECT count(*) FROM tscat.ns.t TIMESTAMP AS OF '$instant'").head().getLong(0)
      assert(n == 30L, s"expected the v1 rowset at $instant, got $n rows")
      // the current read still sees both appends, not the branch
      assert(spark.sql("SELECT count(*) FROM tscat.ns.t").head().getLong(0) == 40L)
      // an instant before the first commit resolves nothing
      val early = intercept[Exception](spark.sql(
        "SELECT count(*) FROM tscat.ns.t TIMESTAMP AS OF '2000-01-01 00:00:00'").collect())
      assert(early.getMessage.toLowerCase.contains("table"))
    } finally {
      spark.conf.unset("spark.sql.catalog.tscat")
      spark.conf.unset("spark.sql.catalog.tscat.warehouse")
    }
  }

  test("expireSnapshots retainLast keeps the newest N main snapshots past the age cutoff") {
    val t = freshTable("graft-retain")
    t.append(synthDf(20))                                                   // v1
    t.append(synthDf(5, seed = 7).withColumn("path", concat(lit("b/"), col("path")))) // v2
    t.append(synthDf(5, seed = 9).withColumn("path", concat(lit("c/"), col("path")))) // v3
    // cutoff in the future: ONLY retainLast protects anything but the head
    val (expired, _) = t.expireSnapshots(System.currentTimeMillis() + 60000, retainLast = 2)
    assert(expired == 1, "v1 expires; v2 and v3 are the retained last 2")
    assert(t.snapshot(1).isEmpty && t.snapshot(2).isDefined && t.snapshot(3).isDefined)
    assert(t.scan().count() == 30)
  }

  test("cherry-pick: re-applies an append delta after rollback; refusals are loud") {
    val t = freshTable("graft-cherry")
    val base = synthDf(100)
    val bad = synthDf(50, seed = 7).withColumn("path", concat(lit("bad/"), col("path")))
    val good = synthDf(40, seed = 9).withColumn("path", concat(lit("good/"), col("path")))
    t.append(base)        // v1
    t.append(bad)         // v2 — the commit to erase
    t.append(good)        // v3 — the commit to keep
    t.rollback(1)         // v4 = base rowset again
    val cp = t.cherryPick(3)
    assert(cp.operation == "cherrypick-v3")
    assert(keyset(t.scan()) == keyset(base) ++ keyset(good))
    assert(t.scan().count() == 140)
    assert(t.currentSnapshot.get.recordCount == 140L)
    assert(t.currentSnapshot.get.fileCount ==
      t.snapshot(1).get.fileCount + t.snapshot(3).get.fileCount - t.snapshot(2).get.fileCount)

    // ancestor: v1's files are live at head — double-count refused
    val e1 = intercept[IllegalArgumentException](t.cherryPick(1))
    assert(e1.getMessage.contains("already live at head"))
    // a compaction snapshot is not an append delta
    Maintenance.compact(t, "cp-compact", smallBytes = Long.MaxValue)
    val vC = t.currentVersion
    val e2 = intercept[IllegalArgumentException](t.cherryPick(vC))
    assert(e2.getMessage.contains("append"))
  }

  test("cherry-pick: selective promote of one branch commit onto main") {
    val t = freshTable("graft-cherry-br")
    t.append(synthDf(60))
    t.createBranch("wip")
    val b = t.forBranch("wip")
    val extraA = synthDf(10, seed = 3).withColumn("path", concat(lit("a/"), col("path")))
    val extraB = synthDf(10, seed = 4).withColumn("path", concat(lit("b/"), col("path")))
    b.append(extraA)
    val vA = b.currentVersion
    b.append(extraB)
    // promote ONLY the first branch commit; main never sees extraB
    t.cherryPick(vA)
    assert(keyset(t.scan()) == keyset(synthDf(60)) ++ keyset(extraA))
    assert(b.scan().count() == 80) // the branch line is untouched
    // SQL procedure surface
    spark.conf.set("spark.sql.catalog.cpcat", "graft.lake.GraftCatalog")
    spark.conf.set("spark.sql.catalog.cpcat.warehouse",
      java.nio.file.Paths.get(t.location).getParent.toString)
    try {
      val tblName = java.nio.file.Paths.get(t.location).getFileName.toString
      val before = t.currentVersion
      t.rollback(1)
      val r = spark.sql(
        s"CALL cpcat.system.cherrypick_snapshot(`table` => '$tblName', version => $vA)").head()
      assert(r.getLong(0) > before)
      assert(keyset(t.scan()) == keyset(synthDf(60)) ++ keyset(extraA))
    } finally {
      spark.conf.unset("spark.sql.catalog.cpcat")
      spark.conf.unset("spark.sql.catalog.cpcat.warehouse")
    }
  }
}
