package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local filesystem every snapshot-format read and write goes
  * through — Hadoop's `LocalFileSystem`, minus the process spawns.
  *
  * Without libhadoop's native `chmod`, `RawLocalFileSystem.setPermission`
  * forks `chmod` through `Shell.execCommand`, and it runs once per file
  * create (the data file AND its `.crc`) and once per mkdir. A snapshot
  * commit creates dozens of files and dirs — data files, task attempt
  * dirs, bucket dirs, `.bloom` sidecars, the manifest — so those forks
  * (about 3 ms each in a 2 GB JVM) were a quarter of its wall time.
  * [[NioRawLocalFileSystem]] sets the same mode bits with one
  * `Files.setPosixFilePermissions` call; [[GraftLocalFileSystem]] keeps
  * the checksum layer on top, so the bytes, file names and permissions
  * on disk are unchanged.
  *
  * [[resolve]] matches on the path's SCHEME, not on the class Hadoop
  * resolves it to: hive-exec's service loader registers Hive's
  * `ProxyLocalFileSystem` for `file:`, and which of the two registered
  * local classes wins depends on classpath order. */
object LocalFs {

  /** Hadoop conf entries that make a job's own `file:` resolution (the
    * output committer, the parquet writer, task-side renames) use
    * [[GraftLocalFileSystem]]. The cache stays off for `file:` in that
    * conf: Hadoop caches filesystems per scheme, not per conf, so with
    * the cache on a job would get whatever local instance the process
    * resolved first. */
  val JobConf: Map[String, String] = Map(
    "fs.file.impl" -> classOf[GraftLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  @volatile private var shared: GraftLocalFileSystem = _

  /** The filesystem for `path`: the process-wide [[GraftLocalFileSystem]]
    * when the path's scheme (or, for a scheme-less path, the default
    * filesystem's) is `file`, else the usual `path.getFileSystem(conf)`.
    * Like Hadoop's own cache, the shared instance keeps the conf of its
    * first caller. */
  def resolve(path: Path, conf: Configuration): FileSystem = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme == "file") local(conf) else path.getFileSystem(conf)
  }

  private def local(conf: Configuration): FileSystem = {
    if (shared == null) synchronized {
      if (shared == null) {
        val fs = new GraftLocalFileSystem
        fs.initialize(java.net.URI.create("file:///"), new Configuration(conf))
        shared = fs
      }
    }
    shared
  }
}

/** `RawLocalFileSystem` whose `setPermission` is an in-process
  * `Files.setPosixFilePermissions` for plain `rwx` modes. Sticky,
  * setuid and setgid bits, and filesystems without POSIX attributes,
  * still go through the stock implementation. */
final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission's ordinals run OWNER_READ (bit 8) down to
      // OTHERS_EXECUTE (bit 0)
      PosixFilePermission.values.foreach { pp =>
        if ((mode & (1 << (8 - pp.ordinal))) != 0) perms.add(pp)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch {
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
      }
    }
  }
}

/** Hadoop's checksummed `LocalFileSystem` (`.crc` sidecars included)
  * over [[NioRawLocalFileSystem]]. Has the no-arg constructor
  * `fs.file.impl` needs. */
final class GraftLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)
