package graft.perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.synth.SourceFiles
import graft.synth.SourceFiles.SourceFile

/** A staged corpus: `n` rows of `SourceFiles.row(seed, i, repos)` written
  * once to a staging parquet by plain Spark. The engine only ever receives
  * these generated rows. */
final case class Staged(dir: String, repos: Int, bytes: Long) {
  def read(spark: SparkSession): DataFrame = spark.read.parquet(dir)
}

object Corpus {
  /** The repo count `SourceFiles.generate` uses: the top repo keeps ~20% of
    * rows whatever the size. */
  def repos(n: Int): Int = math.max(4, math.sqrt(n.toDouble).toInt)

  def stage(ctx: Ctx, n: Int): Staged = ctx.span("synth", "stage") {
    val spark = ctx.spark
    import spark.implicits._
    val seed = ctx.seed
    val r = repos(n)
    val dir = ctx.freshDir(s"staging-$seed-$n")
    spark.range(n).as[Long]
      .mapPartitions(_.map(i => SourceFiles.row(seed, i, r)))
      .write.parquet(dir)
    Staged(dir, r, parquetBytes(dir))
  }

  /** Rows `from until to` of a corpus, generated on the driver. */
  def rows(seed: Long, from: Int, to: Int, repos: Int): Seq[SourceFile] =
    (from until to).map(i => SourceFiles.row(seed, i.toLong, repos))

  def parquetBytes(dir: String): Long = {
    val s = Files.list(Paths.get(dir))
    try s.filter(_.getFileName.toString.endsWith(".parquet"))
      .mapToLong(p => Files.size(p)).sum()
    finally s.close()
  }
}
