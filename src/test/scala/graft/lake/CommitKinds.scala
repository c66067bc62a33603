package graft.lake

import graft.synth.SourceFiles
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.streaming.Trigger

/** One fixed run of every kind of snapshot commit on one table, through
  * the public API only: appends and a streaming epoch, library and SQL
  * DML (copy-on-write and merge-on-read), merge in both regimes, the
  * merge-on-read deletes, updates, upsert and their materialization,
  * compaction and clustering in one and several batches, bucketize and
  * manifest rewrite on the local and the distributed path, rollback,
  * cherry-pick, WAP publish and schema changes. `after` sees the table
  * after each commit, with the operation's name. Data comes from fixed
  * seeds, so two runs commit the same rows. */
object CommitKinds {

  /** the conf key that sends manifests, remove sets and rebase reads to
    * their distributed paths when set to 0. */
  val localReadMaxBytes = "spark.graft.manifest.localReadMaxBytes"

  def run(spark: SparkSession, warehouse: String, catalog: String)(
      after: (String, GraftTable) => Unit): Unit = {
    import spark.implicits._
    def synth(n: Int, seed: Long): DataFrame = SourceFiles.generate(n, seed).toDF()
    spark.conf.set(s"spark.sql.catalog.$catalog", "graft.lake.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$catalog.warehouse", warehouse)
    val t = new GraftTable(spark, s"$warehouse/ns/t")
    val sqlT = s"$catalog.ns.t"
    def step(name: String)(op: => Any): Unit = { op; after(name, t) }
    def distributed(op: => Any): Unit = {
      spark.conf.set(localReadMaxBytes, "0")
      try op finally spark.conf.unset(localReadMaxBytes)
    }
    def repoAt(i: Int): String =
      t.scan().select("repo").distinct().orderBy("repo").as[String].collect()(i)
    def keyed(df: DataFrame, n: Int, prefix: String): DataFrame =
      df.drop("z").orderBy("repo", "path", "commit").limit(n)
        .withColumn("content", concat(lit(prefix), col("content")))

    step("append")(t.append(synth(160, 1).repartition(4)))
    step("stream-append") {
      val src = new GraftTable(spark, s"$warehouse/src")
      src.append(synth(30, 2).repartition(2))
      spark.readStream.format("graft").load(src.location)
        .writeStream.format("graft").option("path", t.location)
        .option("checkpointLocation", s"$warehouse/ckpt")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    step("delete")(Delete.deleteWhere(t, Array[Filter](EqualTo("repo", repoAt(0)))))
    step("update")(Update.updateWhere(t, Array[Filter](EqualTo("repo", repoAt(1))),
      Map("lang" -> lit("upd"))))
    step("merge") {
      Maintenance.mergeInto(t, "merge-small",
        keyed(t.scan(), 10, "m ").unionByName(synth(5, 3)))
    }
    step("merge (shuffle regime)") {
      Maintenance.mergeInto(t, "merge-large",
        keyed(t.scan(), 10, "M ").unionByName(synth(5, 4)), broadcastBytes = 1L)
    }
    step("sql-delete")(spark.sql(s"DELETE FROM $sqlT WHERE length(content) % 11 = 0"))
    step("sql-update")(spark.sql(s"UPDATE $sqlT SET lang = 'sql' WHERE length(content) % 7 = 0"))
    step("sql-merge") {
      // a SQL MERGE source carries z too; the write recomputes it
      keyed(t.scan(), 8, "s ").unionByName(synth(4, 5))
        .withColumn("z", lit(0L)).createOrReplaceTempView("ck_src")
      spark.sql(s"""MERGE INTO $sqlT t USING ck_src s
                   |ON t.repo = s.repo AND t.path = s.path AND t.commit = s.commit
                   |WHEN MATCHED THEN UPDATE SET *
                   |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    t.setDmlMode("merge-on-read")
    step("sql-mor-update")(spark.sql(s"UPDATE $sqlT SET lang = 'mor' WHERE length(content) % 5 = 0"))
    step("sql-mor-merge") {
      keyed(t.scan(), 6, "x ").unionByName(synth(3, 6))
        .withColumn("z", lit(0L)).createOrReplaceTempView("ck_src")
      spark.sql(s"""MERGE INTO $sqlT t USING ck_src s
                   |ON t.repo = s.repo AND t.path = s.path AND t.commit = s.commit
                   |WHEN MATCHED THEN UPDATE SET *
                   |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    step("sql-mor-delete")(spark.sql(s"DELETE FROM $sqlT WHERE length(content) % 13 = 0"))
    t.setDmlMode("copy-on-write")
    step("mor-delete")(MorDelete.deleteWhere(t, length(col("content")) % 17 === 0))
    step("mor-delete")(MorDelete.deleteWhere(t, length(col("content")) % 19 === 0))
    step("mor-posdelete")(MorDelete.deleteWherePositional(t, length(col("content")) % 23 === 0))
    step("mor-update") {
      MorUpdate.updateWhereMor(t, length(col("content")) % 29 === 0, Map("lang" -> lit("mu")))
    }
    step("mor-merge")(MorUpdate.mergeIntoMor(t, keyed(t.scan(), 6, "y ").unionByName(synth(3, 7))))
    step("mor-upsert")(MorUpdate.upsertBatch(t, keyed(t.scan(), 5, "u ").unionByName(synth(3, 8))))
    step("compact-deletes")(MorDelete.compactDeleteShards(t))
    step("apply-deletes")(MorDelete.applyDeletes(t))
    (0 until 3).foreach(i => step("append")(t.append(synth(40, 10L + i).repartition(3))))
    step("compact")(Maintenance.compact(t, "compact-one"))
    (0 until 3).foreach(i => step("append")(t.append(synth(40, 20L + i).repartition(3))))
    step("compact (batches)")(Maintenance.compact(t, "compact-batches", batchFiles = 2))
    step("cluster")(Maintenance.cluster(t, "cluster-one", numFiles = 3))
    step("cluster (batches)") {
      Maintenance.cluster(t, "cluster-batches", useHilbert = true, numFiles = 2, batchFiles = 2)
    }
    step("cluster_bucket")(Maintenance.bucketize(t, 4))
    step("cluster_bucket (distributed)")(distributed(Maintenance.bucketize(t, 2)))
    step("append")(t.append(synth(30, 30)))
    step("manifest_rewrite")(t.rewriteManifests())
    step("append")(t.append(synth(30, 31)))
    step("manifest_rewrite (distributed)")(distributed(t.rewriteManifests()))
    val beforeAppend = t.currentVersion
    step("append")(t.append(synth(20, 32)))
    val picked = t.currentVersion
    step("rollback")(t.rollback(beforeAppend))
    step("cherrypick")(t.cherryPick(picked))
    step("publish-wap")(t.publishStaged(t.stageAppend(synth(20, 33))))
    step("evolve-schema")(t.evolveSchema("note STRING COMMENT 'a plain note'"))
    step("append") {
      t.append(synth(10, 34).withColumn("note", lit("noted")))
    }
    step("drop-column")(t.dropColumn("note"))
  }
}
