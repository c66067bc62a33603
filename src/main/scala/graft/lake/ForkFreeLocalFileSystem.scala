package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, RawLocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import java.nio.file.{FileSystems, Files}

/** Hadoop's checksummed local filesystem (it still writes `.crc` siblings)
  * whose writes start no process.
  *
  * The fork-free invariant: graft writes on a `file:` table never fork.
  * Without the native `libhadoop`, `RawLocalFileSystem.setPermission` runs
  * `chmod` through `Shell.execCommand`, and it is called on every `create`
  * (once for the file, once for its `.crc`) and on every directory level
  * `mkdirs` makes: several milliseconds each, where the write itself takes
  * a tenth of one. Here the same mode bits are set with one `chmod(2)`
  * call, so mode bits, `.crc` siblings and file names come out as before,
  * under any `fs.permissions.umask-mode` (the umask is applied before
  * `setPermission` is called).
  *
  * Writes reach this class through [[ForkFreeLocalFileSystem.route]]:
  * [[LakeIO]]'s conf (which MetaIO's parquet writers copy) and the restored
  * conf of [[GraftDataFileWriter]]'s tasks, which write every data file and
  * every task-written metadata shard. Reads keep Spark's cached
  * filesystem. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** [[ForkFreeLocalFileSystem]]'s raw filesystem. */
private[lake] class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: HPath, permission: FsPermission): Unit =
    if (!ForkFreeLocalFileSystem.unixView) super.setPermission(p, permission)
    else {
      val f = pathToFile(p).toPath
      val mode = Files.getAttribute(f, "unix:mode").asInstanceOf[Integer].intValue
      // chmod(1) with a numeric mode keeps a directory's setuid and setgid
      // bits; chmod(2) would clear them (octal: S_IFMT 0170000, S_IFDIR
      // 0040000, setuid|setgid 06000, all permission bits 07777)
      val kept = if ((mode & 0xf000) == 0x4000) mode & 0xc00 else 0
      Files.setAttribute(f, "unix:mode", Integer.valueOf(permission.toShort & 0xfff | kept))
    }
}

object ForkFreeLocalFileSystem {
  private[lake] lazy val unixView: Boolean =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  private val implKey = "fs.file.impl"

  /** conf, changed in place to send `file:` paths here, uncached: Hadoop's
    * filesystem cache keys on scheme and user, not class, so a cached lookup
    * would return whichever local filesystem was created first. Unchanged
    * when the conf already names another `fs.file.impl`: a session's or
    * `core-site.xml`'s choice is never overridden. */
  private[lake] def route(conf: Configuration): Configuration = {
    val name = classOf[ForkFreeLocalFileSystem].getName
    if (Option(conf.get(implKey)).forall(_ == name)) {
      conf.set(implKey, name)
      conf.setBoolean(s"$implKey.disable.cache", true)
    }
    conf
  }
}
