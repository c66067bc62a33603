package graft.lake

import graft.SparkTestBase
import graft.synth.SourceFiles
import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The Spark jobs of every operation that writes a metadata shard from a
  * task (delete shards, a distributed remove or add shard, a bloom
  * sidecar), run on fixed data and counted from a job group. */
class ShardJobCountSpec extends SparkTestBase {

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
          if (g == "shard-jobs-marker") marker.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("shard-jobs-counted", "shard write under count")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("shard-jobs-marker", "listener marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marker.await(60, TimeUnit.SECONDS), "the marker job never reached the listener")
      groups.asScala.count(_ == "shard-jobs-counted")
    } finally sc.removeSparkListener(listener)
  }

  private def synth(n: Int, seed: Long): DataFrame = {
    import spark.implicits._
    SourceFiles.generate(n, seed).toDF()
  }

  /** each operation's jobs, in run order. */
  private def measure(): Seq[(String, Int)] = {
    val wh = Files.createTempDirectory("graft-shard-jobs").toString
    val t = new GraftTable(spark, s"$wh/mor")
    (1 to 3).foreach(i => t.append(synth(120, i).repartition(2)))
    def keyed(n: Int, prefix: String): DataFrame =
      t.scan().drop("z").orderBy("repo", "path", "commit").limit(n)
        .withColumn("content", concat(lit(prefix), col("content")))
    def distributed(op: => Any): Unit = {
      spark.conf.set(CommitKinds.localReadMaxBytes, "0")
      try op finally spark.conf.unset(CommitKinds.localReadMaxBytes)
    }
    val b = new GraftTable(spark, s"$wh/big")
    (1 to 3).foreach(i => b.append(synth(120, 10L + i).repartition(2)))
    Seq(
      "mor-delete" -> (() => MorDelete.deleteWhere(t, length(col("content")) % 17 === 0)),
      "mor-posdelete" -> (() => MorDelete.deleteWherePositional(t, length(col("content")) % 19 === 0)),
      "mor-posdelete (second)" ->
        (() => MorDelete.deleteWherePositional(t, length(col("content")) % 23 === 0)),
      "mor-update" -> (() =>
        MorUpdate.updateWhereMor(t, length(col("content")) % 29 === 0, Map("lang" -> lit("mu")))),
      "mor-merge" -> (() =>
        MorUpdate.mergeIntoMor(t, keyed(6, "y ").unionByName(synth(3, 7)))),
      "mor-upsert" -> (() => MorUpdate.upsertBatch(t, keyed(5, "u ").unionByName(synth(3, 8)))),
      "compact-deletes" -> (() => MorDelete.compactDeleteShards(t)),
      "bucketize (distributed)" -> (() => distributed(Maintenance.bucketize(b, 2))),
      "rewriteManifests (distributed)" -> (() => distributed(b.rewriteManifests())),
      "bloom build" -> (() => BloomIndex.build(b))
    ).map { case (name, op) => name -> jobsOf(op()) }
  }

  /** each operation's jobs when its shards were written by Spark's file
    * writer (`df.write.parquet`) and counted or read back afterwards. */
  private val before = Seq("mor-delete" -> 1, "mor-posdelete" -> 4,
    "mor-posdelete (second)" -> 5, "mor-update" -> 7, "mor-merge" -> 38, "mor-upsert" -> 20,
    "compact-deletes" -> 3, "bucketize (distributed)" -> 4,
    "rewriteManifests (distributed)" -> 6, "bloom build" -> 7)

  test("no shard-writing operation runs more Spark jobs than with Spark's file writer") {
    val counts = measure()
    assert(counts.map(_._1) == before.map(_._1))
    counts.zip(before).foreach { case ((name, n), (_, was)) =>
      assert(n <= was, s"$name: $n jobs, $was with Spark's file writer")
    }
    // the sidecar's files-indexed count is the write's: the read-back's
    // schema-inference job and its count's two jobs are gone
    assert(counts.toMap.apply("bloom build") == before.toMap.apply("bloom build") - 3, counts)
  }
}
