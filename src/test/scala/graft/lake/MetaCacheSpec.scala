package graft.lake

import graft.SparkTestBase
import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}

/** The local file system under the `statfault:` scheme, with every stat
  * failing with a plain IOException (not FileNotFoundException). */
class StatFaultFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("statfault:///")
  override def getScheme: String = "statfault"
  override def getFileStatus(p: Path): FileStatus = throw new IOException(s"injected stat fault: $p")
}

/** The (length, mtime)-validated metadata cache on the local file system:
  * hits skip the parse, a moved length or mtime re-parses, each kind keeps
  * its bound with LRU eviction, and misses keep their meaning. */
class MetaCacheSpec extends SparkTestBase {

  private def tempDir(): JPath = Files.createTempDirectory("graft-metacache")

  /** a cache lookup whose parse reads the file and counts its calls. */
  private final class Reader[V](cache: MetaCache[V], io: LakeIO, absent: V, parsed: String => V) {
    var parses = 0
    def apply(rel: String): V = cache.get(io, rel, absent) { _ =>
      parses += 1
      parsed(io.readString(rel))
    }
  }

  private def strings(dir: JPath) =
    new Reader[String](new MetaCache[String](8), new LakeIO(dir.toString), "absent", identity)

  test("a hit is served without re-parsing") {
    val dir = tempDir()
    Files.writeString(dir.resolve("a.json"), "one")
    val read = strings(dir)
    assert(read("a.json") == "one" && read("a.json") == "one" && read("a.json") == "one")
    assert(read.parses == 1)
  }

  test("a change in length or in mtime forces a re-parse") {
    val dir = tempDir()
    val f = dir.resolve("a.json")
    Files.writeString(f, "one")
    val read = strings(dir)
    assert(read("a.json") == "one")
    val mtime = Files.getLastModifiedTime(f)

    Files.writeString(f, "three")
    Files.setLastModifiedTime(f, mtime)
    assert(read("a.json") == "three" && read.parses == 2, "a new length must re-parse")

    Files.writeString(f, "seven")
    Files.setLastModifiedTime(f, mtime)
    assert(read("a.json") == "three" && read.parses == 2,
      "same length and mtime: served from the cache (the write-once assumption)")

    Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(mtime.toMillis + 1))
    assert(read("a.json") == "seven" && read.parses == 3, "a new mtime must re-parse")
  }

  /** fills `cap` entries, refreshes the first, then adds one more: the
    * least-recently-used second entry goes, the refreshed first stays. */
  private def checkBound[V](cache: MetaCache[V], cap: Int, absent: V, parsed: String => V): Unit = {
    val dir = tempDir()
    (0 to cap).foreach(i => Files.writeString(dir.resolve(s"f$i"), i.toString))
    val read = new Reader(cache, new LakeIO(dir.toString), absent, parsed)
    (0 until cap).foreach(i => read(s"f$i"))
    (0 until cap).foreach(i => read(s"f$i"))
    assert(read.parses == cap, s"$cap entries must fit the bound")
    read("f0")
    read(s"f$cap")
    assert(read.parses == cap + 1)
    read("f0")
    assert(read.parses == cap + 1, "the recently used entry was evicted")
    read("f1")
    assert(read.parses == cap + 2, "the least-recently-used entry was kept")
  }

  test("each kind's bound evicts its least-recently-used entry") {
    checkBound[Option[Snapshot]](MetaCache.snapshots, 1024, None,
      s => Some(Snapshot(s.toLong, 0L, 0L, "append", "", 0L)))
    checkBound[Seq[ManifestShard]](MetaCache.shardLists, 512, Seq.empty,
      s => Seq(ManifestShard(s.toInt, "add", s)))
    checkBound[Seq[ManifestEntry]](MetaCache.entries, 512, Seq.empty, _ => Seq.empty)
  }

  test("a missing snapshot is None; any other stat IOException reaches the caller") {
    val dir = tempDir()
    assert(new GraftTable(spark, dir.toString).snapshot(7).isEmpty)

    spark.sparkContext.hadoopConfiguration
      .set("fs.statfault.impl", classOf[StatFaultFileSystem].getName)
    val faulty = new GraftTable(spark, "statfault://" + dir)
    val e = intercept[IOException](faulty.snapshot(7))
    assert(e.getMessage.startsWith("injected stat fault"))
  }

  test("a directory shard is read on every lookup, never cached") {
    val dir = tempDir()
    Files.createDirectory(dir.resolve("shard"))
    val io = new LakeIO(dir.toString)
    var parses = 0
    def read() = MetaCache.entries.get(io, "shard", Seq.empty) { st =>
      assert(st.isDirectory)
      parses += 1
      Seq.empty
    }
    read(); read(); read()
    assert(parses == 3)
    // a missing shard reads as empty, without a parse
    assert(MetaCache.entries.get(io, "gone", Seq.empty)(_ => fail("parsed a missing path")).isEmpty)
  }

  test("a missing delete shard throws rather than reading as empty") {
    val gone = tempDir().resolve("gone").toUri.toString
    intercept[java.io.FileNotFoundException](GraftEqDeletes.keyMap(Seq(gone)))
    intercept[java.io.FileNotFoundException](GraftPosDeletes.forFile(Seq(gone), "data/f.parquet"))
  }
}
