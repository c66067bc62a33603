package graft.lake

import graft.SparkTestBase
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[GraftDataFileWriter.writeShard]]: a shard is a directory of visible
  * part files holding exactly the rows of the write's winning attempts. */
class ShardWriterSpec extends SparkTestBase {
  import spark.implicits._

  private def freshIo(): LakeIO = new LakeIO(Files.createTempDirectory("graft-shards").toString)

  /** the remove-shard shape: MetaIO reads it back on the driver */
  private def paths(n: Int, parts: Int): DataFrame =
    (0 until n).map(i => f"data/b/f$i%03d.parquet").toDF("file_path").repartition(parts)

  private def visible(io: LakeIO, rel: String): Seq[String] =
    io.list(rel).filter(n => n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")).sorted

  private def viaMetaIO(io: LakeIO, rel: String): Seq[String] =
    MetaIO.readRemoves(io, io.status(rel).get).sorted

  private def viaSpark(io: LakeIO, rel: String): Seq[String] =
    spark.read.schema("file_path STRING").parquet(io.abs(rel).toString)
      .as[String].collect().toSeq.sorted

  test("a second attempt of a shard task leaves exactly one visible part") {
    val io = freshIo()
    val rel = "meta/manifest-remove-attempts.parquet"
    io.mkdirs(rel)
    val df = paths(6, 2)
    val task = GraftDataFileWriter.shardTask(io.abs(rel).toString, df.schema, LakeConf.capture())
    // every task runs its partition twice: a losing attempt that completed
    // (a zombie, or a speculative duplicate), then the attempt whose result
    // the job keeps
    val won = GraftDataFileWriter.runJob(df, "two attempts") { (ctx, rows) =>
      val buf = rows.map(_.copy()).toArray
      task(ctx.partitionId, ctx.attemptNumber + 1, buf.iterator)
      task(ctx.partitionId, ctx.attemptNumber, buf.iterator)
    }
    assert(won.count(_.isDefined) == 2)
    assert(GraftDataFileWriter.publishShard(io, rel, won.toSeq) == 6)
    assert(visible(io, rel) == Seq("part-00000.parquet", "part-00001.parquet"))
    assert(io.list(rel).count(_.startsWith("_attempt-")) == 2, io.list(rel))
    val want = (0 until 6).map(i => f"data/b/f$i%03d.parquet")
    assert(viaMetaIO(io, rel) == want)
    assert(viaSpark(io, rel) == want)
  }

  test("a write whose tasks are all empty leaves a directory that reads as 0 rows") {
    val io = freshIo()
    val rel = "meta/manifest-remove-empty.parquet"
    // the filter survives optimization, so three tasks run and find no row
    val none = paths(4, 3).filter(col("file_path") === "none")
    assert(GraftDataFileWriter.writeShard(io, none, rel) == 0L)
    assert(io.isDirectory(rel))
    assert(visible(io, rel).isEmpty)
    assert(viaMetaIO(io, rel).isEmpty)
    assert(viaSpark(io, rel).isEmpty)
  }

  test("re-writing an existing shard replaces its rows") {
    val io = freshIo()
    val rel = "meta/bloom-commit-v1-b1024.parquet"
    assert(GraftDataFileWriter.writeShard(io, paths(9, 3), rel) == 9L)
    assert(visible(io, rel).size == 3)
    val again = Seq("data/b/other.parquet").toDF("file_path")
    assert(GraftDataFileWriter.writeShard(io, again, rel) == 1L)
    assert(visible(io, rel) == Seq("part-00000.parquet"))
    assert(viaMetaIO(io, rel) == Seq("data/b/other.parquet"))
    assert(viaSpark(io, rel) == Seq("data/b/other.parquet"))
  }

  test("the returned count equals the rows read back, under a nullable schema") {
    val io = freshIo()
    val rel = "meta/manifest-posdel-count.parquet"
    // non-nullable columns over six partitions
    val df = spark.range(0, 500, 1, 4).filter(col("id") % 3 =!= 0 || col("id") < 100)
      .select(concat(lit("data/b/"), col("id").cast("string")).as("file_path"), col("id").as("pos"))
      .repartition(6)
    val n = GraftDataFileWriter.writeShard(io, df, rel)
    assert(n == df.count())
    val back = spark.read.schema(GraftTable.posDeleteSchema).parquet(io.abs(rel).toString)
    assert(back.count() == n)
    assert(back.except(df).isEmpty && df.except(back).isEmpty)
    // the files' own schema, as Spark's file sources write it
    assert(spark.read.parquet(io.abs(rel).toString).schema.forall(_.nullable))
  }
}
