package graft.lake

import graft.SparkTestBase
import graft.synth.SourceFiles
import java.nio.file.Files
import org.apache.hadoop.fs.{LocalFileSystem, Path => HPath}
import scala.jdk.CollectionConverters._

/** The pointer files LakeIO.writeAtomic replaces carry no `.crc`; a table
  * whose pointer files have one (as graft wrote them before) stays readable
  * and writable, and a reader that verifies checksums still reads it. */
class PointerFileSpec extends SparkTestBase {

  private def synthDf(n: Int, seed: Long) = {
    import spark.implicits._
    SourceFiles.generate(n, seed).toDF()
  }

  test("a table with checksummed pointer files stays readable and writable") {
    val t = new GraftTable(spark, Files.createTempDirectory("graft-crc").toString)
    t.append(synthDf(80, 1))
    t.append(synthDf(40, 2))
    val meta = java.nio.file.Paths.get(t.location, "meta")
    def pointers = Files.list(meta).iterator.asScala.map(_.getFileName.toString)
      .filter(n => n == "version-hint.text" || n == "max-version.text" ||
        (n.startsWith("snapshot-v") && n.endsWith(".json")))
      .toSeq.sorted
    def crc(n: String) = meta.resolve(s".$n.crc")
    assert(pointers.nonEmpty && pointers.forall(n => !Files.exists(crc(n))))

    // rewrite each pointer file through Hadoop's checksummed local
    // filesystem, which leaves a .crc beside it
    val stock = new LocalFileSystem()
    stock.initialize(java.net.URI.create("file:///"), LakeConf.current())
    def path(n: String) = new HPath(meta.resolve(n).toUri)
    def read(n: String) = {
      val in = stock.open(path(n))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    pointers.foreach { n =>
      val body = read(n)
      val out = stock.create(path(n), true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    assert(pointers.forall(n => Files.exists(crc(n))))

    val again = new GraftTable(spark, t.location)
    assert(again.scan().count() == 120)
    again.append(synthDf(30, 3))
    Maintenance.compact(again, "j1")
    val reread = new GraftTable(spark, t.location)
    assert(reread.scan().count() == 150)
    // the rewritten pointers dropped their stale .crc; everything still
    // reads through a checksum-verifying filesystem
    assert(!Files.exists(crc("version-hint.text")))
    pointers.foreach(n => assert(read(n).nonEmpty, n))
  }
}
