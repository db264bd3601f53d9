package graft.core

import java.net.URI
import java.nio.file.{Files, attribute}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Fork-free `file:` storage for the engine's own writes.
  *
  * Without the native `libhadoop` (Spark's bundled hadoop-client ships
  * none), Hadoop's `RawLocalFileSystem` starts a child process through
  * `org.apache.hadoop.util.Shell` for every `chmod` (each created file,
  * its `.crc`, each directory level `mkdirs` creates) and every `readlink`
  * (each `getFileLinkStatus`, i.e. each `FileContext.rename` — every
  * streaming offset, commit and state-store file). A launch costs about
  * 5 ms; an NIO create plus chmod about 0.45 ms.
  *
  * [[RawFileSystem]] answers both in-process: plain rwx modes go through
  * `Files.setPosixFilePermissions` and a path NIO says is not a symlink
  * gets its `getFileStatus`; sticky bits and symlinks still go to Hadoop.
  * It sits under Hadoop's own checksum layers — `LocalFileSystem` for the
  * `FileSystem` API, `ChecksumFs` for `FileContext` (Spark's checkpoint
  * manager) — so `.crc` sidecars are written and verified as before.
  *
  * [[install]] points a session's `file:` scheme at these classes. Every
  * `sessionState.newHadoopConf()` copies the session conf, so file writes,
  * state stores and checkpoint logs all pick them up. The JVM-wide
  * `FileSystem` cache keys on scheme, not conf, and already holds a stock
  * `file:` instance from session start; hence the cache is off for
  * `file:` (an uncached lookup measured 9.2 µs against 8.8 µs cached).
  * `GraftExtensions.register` installs it, and so does every stateful
  * streaming entry point, which a caller can reach without the table
  * loader.
  */
object LocalStorage {

  private val Keys = Seq(
    "fs.file.impl" -> classOf[FileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[Fs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Idempotent: sets only the keys that differ. */
  def install(spark: SparkSession): Unit = Keys.foreach { case (k, v) =>
    if (!spark.conf.getOption(k).contains(v)) spark.conf.set(k, v)
  }

  /** `RawLocalFileSystem` without the `chmod`/`readlink` child processes. */
  class RawFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        // PosixFilePermission's order is owner rwx, group rwx, others rwx:
        // bit 8 down to bit 0 of the mode
        val perms = java.util.EnumSet.noneOf(classOf[attribute.PosixFilePermission])
        attribute.PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
          if ((mode & (1 << (8 - i))) != 0) perms.add(pp)
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      }
    }

    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** `fs.file.impl`: the checksummed `FileSystem` over [[RawFileSystem]]. */
  class FileSystem extends LocalFileSystem(new RawFileSystem)

  /** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` shape (a
    * `ChecksumFs` over a delegate) with [[RawFileSystem]] underneath.
    */
  class Fs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(uri, conf))

  /** Hadoop's `RawLocalFs` (package-private there) over [[RawFileSystem]]. */
  class RawFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new RawFileSystem, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path) = LocalConfigKeys.getServerDefaults()
    override def getServerDefaults() = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }
}
