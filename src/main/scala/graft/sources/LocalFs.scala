package graft.sources

import java.io.File
import java.net.URI
import java.nio.file.{FileSystems, Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local filesystem every `file:` path of the engine goes through once
  * the graft extensions are loaded: Spark's parquet writer and its commit
  * protocol, the streaming checkpoint, and the listings, directories and
  * deletes around the metadata files (whose reads and writes [[MetaFs]]
  * makes through java.nio).
  *
  * Without the Hadoop native library (a pip-installed PySpark, a plain
  * Spark tarball on a desktop) Hadoop's `RawLocalFileSystem` forks a
  * `chmod` process for every file and directory it creates, and a
  * `readlink` for every `getFileLinkStatus`, several of which each
  * `FileContext.rename` makes: one run of the benchmark's `arc_etl`
  * workload forked 440 times (4 cores, no native library), nearly all in
  * the streaming checkpoint and the commits of its writes.
  * [[NioRawLocalFileSystem]] does those two calls through java.nio and
  * nothing else; the two entry classes wrap it exactly as Hadoop wraps
  * its own raw class, checksum layer and `.crc` files included, so the
  * on-disk layout does not change:
  *  - [[GraftLocalFileSystem]] serves `FileSystem.get` (`fs.file.impl`);
  *  - [[GraftLocalFs]] serves `FileContext` (`fs.AbstractFileSystem.file.impl`).
  *
  * [[install]] names them in a Hadoop configuration; a user's own setting
  * of either key wins. HDFS and object stores are untouched.
  */
object LocalFs {

  private val FileSystemKey = "fs.file.impl"
  private val FileContextKey = "fs.AbstractFileSystem.file.impl"
  /** Hadoop's own `FileContext` class for `file:`, the `core-default.xml`
    * value of [[FileContextKey]]. */
  private val HadoopFileContextClass = "org.apache.hadoop.fs.local.LocalFs"

  /** True where the default file system has a POSIX attribute view (not
    * on Windows). */
  private[sources] val posixView: Boolean =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** Serve `file:` through the classes below in `conf`: `fs.file.impl`
    * only when it is unset, `fs.AbstractFileSystem.file.impl` only when it
    * still holds Hadoop's default. Idempotent. */
  def install(conf: Configuration): Unit = {
    if (Option(conf.getTrimmed(FileSystemKey)).forall(_.isEmpty))
      conf.set(FileSystemKey, classOf[GraftLocalFileSystem].getName)
    if (conf.getTrimmed(FileContextKey) == HadoopFileContextClass)
      conf.set(FileContextKey, classOf[GraftLocalFs].getName)
  }
}

/** Hadoop's raw local filesystem with its two forking calls done through
  * java.nio. Everything else is inherited unchanged. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `Files.setPosixFilePermissions` with the u/g/o actions, which follows
    * a symbolic link as `chmod` does. The sticky bit has no NIO form, and
    * a file system without a POSIX view has no NIO permissions: both keep
    * Hadoop's own path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit || !LocalFs.posixView)
      super.setPermission(p, permission)
    else
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
          permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL)): Unit

  /** For anything but a symbolic link Hadoop's answer is `getFileStatus`;
    * it learns that by forking `readlink` on `new File(f.toString)`. This
    * probes the same `File` (so a `file:`-qualified path, which that
    * `File` never names, behaves as before) with `Files.isSymbolicLink`,
    * and leaves symbolic links, and names NIO cannot parse, to Hadoop. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val link =
      try Files.isSymbolicLink(new File(f.toString).toPath)
      catch { case _: InvalidPathException => true }
    if (link) super.getFileLinkStatus(f) else getFileStatus(f)
  }
}

/** `FileSystem.get` for `file:`: Hadoop's checksummed `LocalFileSystem`
  * over [[NioRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `FileContext`'s raw `file:` filesystem over [[NioRawLocalFileSystem]]:
  * `org.apache.hadoop.fs.local.RawLocalFs`, whose constructors are
  * package-private, with its four overrides mirrored. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  @deprecated("use getServerDefaults(Path)", "Hadoop 2.8")
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `FileContext` for `file:` (`fs.AbstractFileSystem.file.impl`): the
  * checksum layer over [[NioRawLocalFs]], as Hadoop's
  * `org.apache.hadoop.fs.local.LocalFs` is over `RawLocalFs` — and like
  * it, always rooted at `file:///` whatever URI it is created for. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
