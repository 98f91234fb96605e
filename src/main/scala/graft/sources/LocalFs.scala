package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermissions}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local Hadoop file system with system calls where Hadoop forks.
  *
  * Without `libhadoop` (the Spark jars ship none), Hadoop's
  * `RawLocalFileSystem` starts a `chmod` process for every file and
  * directory it creates and a `readlink` process for every link-status
  * check. A parquet write then forks 14 times (`_temporary` dirs, each
  * task's attempt dir, part file and `.crc`, `_SUCCESS` and its `.crc`)
  * and every rename of the streaming offset and commit logs forks too.
  * [[Raw]] does both with `java.nio.file` instead; mode bits, `.crc`
  * files and everything else stay Hadoop's.
  *
  * Two forms, because Hadoop has two client APIs:
  *  - [[Fs]], a checksummed `LocalFileSystem` for `FileSystem` users
  *    (a write's committer and tasks), selected by [[writeOptions]];
  *  - [[Afs]], a `ChecksumFs` over a `DelegateToFileSystem` (the shape
  *    of Hadoop's own `LocalFs`) for `FileContext` users (the streaming
  *    checkpoint logs), selected by [[AfsKey]].
  */
object LocalFs {

  /** Hadoop conf key naming the `FileContext` implementation of `file:`. */
  val AfsKey = "fs.AbstractFileSystem.file.impl"

  /** DataFrame write options that route the write's `file:` paths
    * through [[Fs]]. Hadoop caches one `FileSystem` per scheme and the
    * cache key ignores the conf, so the cache is bypassed for the
    * write; `FileContext` has no cache and needs only [[AfsKey]]. */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[Fs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** `RawLocalFileSystem` whose permission and link-status calls are
    * system calls. */
  class Raw extends RawLocalFileSystem {

    /** The same mode bits as Hadoop's `chmod`. Hadoop's own code runs
      * when the sticky bit is set (`java.nio` cannot express it) or the
      * file store has no POSIX view. */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val view = Files.getFileAttributeView(pathToFile(p).toPath, classOf[PosixFileAttributeView])
      if (permission.getStickyBit || view == null) super.setPermission(p, permission)
      else view.setPermissions(PosixFilePermissions.fromString(
        permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
          permission.getOtherAction.SYMBOL))
    }

    /** For a path that is not a symlink Hadoop returns `getFileStatus`
      * (or its exception) after a `readlink` process; links go to
      * Hadoop's code. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** `fs.file.impl` form: checksummed like Hadoop's `LocalFileSystem`. */
  class Fs extends LocalFileSystem(new Raw)

  /** [[Raw]] as an `AbstractFileSystem`, with the overrides of Hadoop's
    * `RawLocalFs` (which hard-wires its own `RawLocalFileSystem`). */
  class RawAfs(conf: Configuration) extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    @deprecated("use getServerDefaults(Path)", "Hadoop 2.9")
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** [[AfsKey]] form: checksummed like Hadoop's `LocalFs`, which also
    * ignores the URI it is built for (`file:` has no authority). */
  class Afs(uri: URI, conf: Configuration) extends ChecksumFs(new RawAfs(conf))
}
