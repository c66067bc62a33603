package graft.lake

import graft.SparkTestBase
import graft.synth.SourceFiles
import java.net.URI
import java.nio.file.Files
import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The local file system under the `seamlocal:` scheme, which only a
  * session's Hadoop conf can resolve. */
class SeamLocalFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("seamlocal:///")
  override def getScheme: String = "seamlocal"
}

/** The Hadoop conf seam: a captured override bag restores the session's
  * conf on the executor side, on the caller's class loader. */
class LakeConfSpec extends SparkTestBase {

  test("restore(capture()) equals current() on every key, on the caller's class loader") {
    spark.conf.set("fs.graft.seam.probe", "session-only")
    try {
      val cur = LakeConf.current().iterator().asScala.map(e => e.getKey -> e.getValue).toMap
      assert(cur.get("fs.graft.seam.probe").contains("session-only"))
      val bag = LakeConf.capture()
      val loader = new java.net.URLClassLoader(Array.empty, getClass.getClassLoader)
      val thread = Thread.currentThread
      val before = thread.getContextClassLoader
      thread.setContextClassLoader(loader)
      val back = try LakeConf.restore(bag) finally thread.setContextClassLoader(before)
      assert(back.iterator().asScala.map(e => e.getKey -> e.getValue).toMap == cur)
      assert(back.getClassLoader eq loader)
    } finally spark.conf.unset("fs.graft.seam.probe")
  }

  test("a table on a scheme only the session conf registers reads through format(graft)") {
    import spark.implicits._
    val hc = spark.sparkContext.hadoopConfiguration
    // uncached, so every reader must resolve the scheme from its own conf
    hc.set("fs.seamlocal.impl", classOf[SeamLocalFileSystem].getName)
    hc.setBoolean("fs.seamlocal.impl.disable.cache", true)
    try {
      val t = new GraftTable(spark, "seamlocal://" + Files.createTempDirectory("graft-seam"))
      val df = SourceFiles.generate(200, 3).toDF()
      t.append(df.repartition(2))
      def read(df: org.apache.spark.sql.DataFrame) =
        df.select(sha2(col("content"), 256)).as[String].collect().sorted.toSeq
      assert(read(spark.read.format("graft").load(t.location)) == read(df))
      // once more with pending deletes: the executor-side delete-shard
      // loaders must resolve the scheme too
      val repo = df.select("repo").as[String].head()
      MorDelete.deleteWhere(t, col("repo") === repo)
      MorDelete.deleteWherePositional(t, length(col("content")) % 3 === 0)
      val s = t.currentSnapshot.get
      assert(t.hasEqDeletes(s) && t.hasPosDeletes(s))
      val want = read(df.filter(col("repo") =!= repo && length(col("content")) % 3 =!= 0))
      assert(want.length < 200)
      assert(read(spark.read.format("graft").load(t.location)) == want)
    } finally {
      hc.unset("fs.seamlocal.impl")
      hc.unset("fs.seamlocal.impl.disable.cache")
    }
  }
}
