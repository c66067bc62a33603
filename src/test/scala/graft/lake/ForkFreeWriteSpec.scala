package graft.lake

import graft.SparkTestBase
import graft.synth.SourceFiles
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import scala.jdk.CollectionConverters._

/** A session's own `fs.file.impl`: the checksummed local filesystem, noting
  * the path of every file created through it. */
class CountingLocalFileSystem extends LocalFileSystem {
  override def create(f: HPath, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    CountingLocalFileSystem.created.add(f.toUri.getPath)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CountingLocalFileSystem {
  val created: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
}

/** Graft's writes on `file:` start no process (ForkFreeLocalFileSystem),
  * leave the same bits on disk as Hadoop's stock local filesystem, and
  * never override a session's own `fs.file.impl`. */
class ForkFreeWriteSpec extends SparkTestBase {

  private def synthDf(n: Int, seed: Long) = {
    import spark.implicits._
    SourceFiles.generate(n, seed).toDF()
  }

  /** the `command` of every process the JVM started while body ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.delete(dump) }
  }

  test("graft writes on a file: table start no chmod process") {
    val root = Files.createTempDirectory("graft-forkfree").toRealPath()
    // Spark's own streaming checkpoint lives outside the tables
    val ckpt = Files.createTempDirectory("graft-forkfree-ck").toString
    val commands = processStarts {
      val t = new GraftTable(spark, root.resolve("t").toString)
      (1 to 3).foreach(i => t.append(synthDf(120, i).repartition(2)))
      Maintenance.compact(t, "j1")
      Maintenance.cluster(t, "j1")
      t.rewriteManifests()
      val live = t.scan().select("repo", "path", "commit", "lang", "content").limit(10)
        .withColumn("content", concat(col("content"), lit(" v2")))
      val merged = Maintenance.mergeInto(t, "j1", live.unionByName(synthDf(5, 99)))
      assert(merged.updated == 10 && merged.inserted == 5)
      t.expireSnapshots(System.currentTimeMillis() + 1000)
      val repo = t.scan().select("repo").head().getString(0)
      assert(MorDelete.deleteWhere(t, col("repo") === repo) > 0)

      val cat = "forkfreecat"
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.lake.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", root.resolve("wh").toString)
      try {
        spark.sql(s"CREATE NAMESPACE $cat.ns")
        val st = new GraftTable(spark, root.resolve("wh/ns/t").toString)
        st.append(synthDf(100, 7).repartition(2))
        spark.sql(s"UPDATE $cat.ns.t SET lang = 'zz' WHERE repo = '$repo'")
        assert(st.currentSnapshot.get.operation == "sql-update")
      } finally {
        spark.conf.unset(s"spark.sql.catalog.$cat")
        spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }

      // an append-only source: the stream reads no row rewrites
      val src = new GraftTable(spark, root.resolve("src").toString)
      src.append(synthDf(60, 11))
      val dst = root.resolve("dst").toString
      spark.readStream.format("graft").load(src.location)
        .writeStream.format("graft").option("path", dst)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      assert(new GraftTable(spark, dst).currentSnapshot.exists(_.operation.startsWith("stream-append")))
    }
    val chmods = commands.filter(c => c.startsWith("chmod") && c.contains(root.toString))
    assert(chmods.isEmpty,
      s"${chmods.size} chmod processes on table paths, e.g. ${chmods.take(3).mkString("; ")}")
  }

  /** (mode bits, .crc bytes) of a file and mode bits of each directory level
    * that `mkdirs` + `create` leave under root through fs. */
  private def layout(fs: LocalFileSystem, root: Path): Seq[(String, Any)] = {
    fs.mkdirs(new HPath(root.toUri.toString + "/a/b"))
    val out = fs.create(new HPath(root.toUri.toString + "/a/b/f.parquet"), true)
    try out.write("graft".getBytes("UTF-8")) finally out.close()
    def mode(rel: String) =
      Files.getAttribute(root.resolve(rel), "unix:mode").asInstanceOf[Integer].intValue & 0xfff
    Seq("a", "a/b", "a/b/f.parquet", "a/b/.f.parquet.crc").map(r => r -> mode(r)) ++
      Seq("crc" -> Files.readAllBytes(root.resolve("a/b/.f.parquet.crc")).toSeq,
        "names" -> Files.list(root.resolve("a/b")).iterator.asScala.map(_.getFileName.toString)
          .toSeq.sorted)
  }

  test("fork-free writes leave the stock LocalFileSystem's bits and .crc siblings") {
    for (umask <- Seq(None, Some("077")); setgid <- Seq(false, true)) {
      val conf = new Configuration(LakeConf.current())
      umask.foreach(conf.set("fs.permissions.umask-mode", _))
      def fresh(): Path = {
        val d = Files.createTempDirectory("graft-bits")
        // a setgid parent: new directories inherit the bit and chmod(1)
        // with a numeric mode keeps it
        if (setgid) Files.setAttribute(d, "unix:mode", Integer.valueOf(0x5ed)) // 02755
        d
      }
      val stock = new LocalFileSystem()
      stock.initialize(java.net.URI.create("file:///"), conf)
      val ours = new ForkFreeLocalFileSystem()
      ours.initialize(java.net.URI.create("file:///"), conf)
      val want = layout(stock, fresh())
      assert(layout(ours, fresh()) == want, s"umask $umask, setgid parent $setgid")
      if (umask.nonEmpty) assert((want.head._2.asInstanceOf[Int] & 0x1ff) == 0x1c0) // 0700
    }
  }

  test("a table's files and directories get the session umask's bits, each with a .crc") {
    spark.conf.set("fs.permissions.umask-mode", "077")
    try {
      val t = new GraftTable(spark, Files.createTempDirectory("graft-umask").toString)
      t.append(synthDf(100, 3).repartition(2))
      Maintenance.compact(t, "j1")
      val root = java.nio.file.Paths.get(t.location)
      val all = Files.walk(root).iterator.asScala.filter(_ != root).toSeq
      def mode(p: Path) =
        Files.getAttribute(p, "unix:mode").asInstanceOf[Integer].intValue & 0xfff
      val (dirs, files) = all.partition(Files.isDirectory(_))
      assert(dirs.nonEmpty && files.nonEmpty)
      dirs.foreach(d => assert(mode(d) == 0x1c0, s"$d")) // 0700
      files.foreach(f => assert(mode(f) == 0x180, s"$f")) // 0600
      // LakeIO's markers (createExclusive) and pointer files (writeAtomic)
      // carry no .crc by design; every other file has one
      val crcLess = Seq("claim-", "edge-", "head-", "refs-exist", "refs.json",
        "version-hint.text", "max-version.text", "snapshot-v", "stats.json")
      val (bare, checked) = files.filterNot(_.getFileName.toString.endsWith(".crc"))
        .partition(f => crcLess.exists(f.getFileName.toString.startsWith))
      assert(bare.nonEmpty && checked.nonEmpty)
      def crc(f: Path) = f.resolveSibling("." + f.getFileName + ".crc")
      checked.foreach(f => assert(Files.exists(crc(f)), s"$f"))
      bare.foreach(f => assert(!Files.exists(crc(f)), s"$f"))
    } finally spark.conf.unset("fs.permissions.umask-mode")
  }

  test("a session's own fs.file.impl still receives graft's creates") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.file.impl", classOf[CountingLocalFileSystem].getName)
    hc.setBoolean("fs.file.impl.disable.cache", true)
    try {
      // routing leaves the session's choice in place
      assert(ForkFreeLocalFileSystem.route(LakeConf.current()).get("fs.file.impl") ==
        classOf[CountingLocalFileSystem].getName)
      CountingLocalFileSystem.created.clear()
      val t = new GraftTable(spark, Files.createTempDirectory("graft-ownfs").toString)
      t.append(synthDf(100, 5).repartition(2))
      Maintenance.compact(t, "j1")
      assert(BloomIndex.build(t)._1 > 0)
      val repo = t.scan().select("repo").head().getString(0)
      assert(MorDelete.deleteWhere(t, col("repo") === repo) > 0)
      val root = java.nio.file.Paths.get(t.location)
      val written = Files.walk(root).iterator.asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc"))
        .map(p => root.relativize(p).toString).toSeq
      val data = written.filter(_.startsWith("data/"))
      val meta = written.filter(n => n.startsWith("meta/") && n.count(_ == '/') == 1)
      // the part files of shard directories: the delete shard's and the sidecar's
      val parts = written.filter(n => n.startsWith("meta/") && n.count(_ == '/') == 2)
      assert(data.nonEmpty && meta.nonEmpty)
      assert(parts.exists(_.startsWith("meta/manifest-eqdel-")) &&
        parts.exists(_.startsWith("meta/bloom-")), parts)
      val created = CountingLocalFileSystem.created.asScala
      def abs(n: String) = s"${t.location}/$n"
      // GraftDataFileWriter's data files, MetaIO's shards and LakeIO's JSON alike
      assert(data.forall(n => created(abs(n))), data)
      // writeAtomic creates a temp sibling and renames it over the target
      def through(n: String) = created.exists(c => c == abs(n) || c.startsWith(abs(n) + ".tmp-"))
      assert(meta.exists(n => n.endsWith(".json") && through(n)))
      assert(meta.exists(n => n.startsWith("meta/manifest-") && through(n)))
      // a shard's task creates its part under an attempt name, which the
      // driver renames to part-<pid>.parquet
      parts.foreach { n =>
        val pid = n.substring(n.lastIndexOf("/part-") + 6).stripSuffix(".parquet")
        val attempt = abs(n.substring(0, n.lastIndexOf('/'))) + s"/_attempt-$pid-"
        assert(created.exists(_.startsWith(attempt)), n)
      }
    } finally {
      hc.unset("fs.file.impl")
      hc.unset("fs.file.impl.disable.cache")
    }
  }
}
