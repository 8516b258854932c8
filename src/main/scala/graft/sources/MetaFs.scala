package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, Paths}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import java.nio.file.StandardOpenOption.{CREATE_NEW, WRITE}
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** The store contract under every small metadata file of the storage
  * layer — snapshot pointers, version claims, commit records, statement
  * locks, schema sidecars, spec and stats markers, journals. How such a
  * file is read, created exclusively or replaced atomically on a given
  * store is decided here and nowhere else:
  *  - on the local filesystem (`file:`, or a store without a scheme) every
  *    call goes through java.nio and writes no `.crc` sibling. Hadoop's
  *    checksum layer keeps a file's data and its checksum as two files, so
  *    its replace is two moves and a read between them fails with a
  *    `ChecksumException`; here a replace is one POSIX rename and a read is
  *    one open. The local store must support hard links
  *    ([[createExclusive]]): a local disk does, FAT/exFAT volumes and some
  *    network mounts do not;
  *  - on every other store the calls go through Hadoop, whose renames are
  *    atomic there (HDFS).
  * A call that crashes mid-way can leave a temp sibling
  * (`.<name>.tmp.<8 hex>`), which [[vacuumTemps]] ages out. An
  * object-store port swaps [[createExclusive]] and [[replace]] for
  * conditional PUTs in this one object. */
private[graft] object MetaFs {

  def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** `p` as a java.nio path when its store is the local filesystem. */
  private def local(f: FileSystem, p: Path): Option[java.nio.file.Path] = {
    val scheme = f.getUri.getScheme
    if (scheme == null || scheme == "file")
      Some(Paths.get(f.makeQualified(p).toUri.getPath))
    else None
  }

  /** A temp sibling name for `name`, unique per call: two writers
    * converging on one target must not share a temp file. */
  private def tmpName(name: String): String =
    s".$name.tmp.${java.util.UUID.randomUUID().toString.take(8)}"

  private val TmpName = """\..+\.tmp\.[0-9a-f]{8}""".r

  /** The file's UTF-8 content, None when absent. One open, absence
    * decided by the open itself: a file that a [[replace]] swaps is never
    * seen missing or torn. */
  def read(spark: SparkSession, p: Path): Option[String] = {
    val f = fs(spark, p)
    try local(f, p) match {
      case Some(l) => Some(new String(Files.readAllBytes(l), UTF_8))
      case None =>
        val in = f.open(p)
        try Some(new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), UTF_8))
        finally in.close()
    } catch {
      case _: java.io.FileNotFoundException | _: NoSuchFileException => None
    }
  }

  /** Create-if-absent where absence is checked by the STORE, not the
    * client, and the file appears with its whole content. Locally: write a
    * temp sibling, then hard-link it to `p` (`link(2)` fails when `p`
    * exists), then drop the temp. Elsewhere: the namenode-atomic
    * `create(overwrite = false)`, whose content follows the creation. False
    * when the file already exists — the lost side of a claim race. */
  def createExclusive(spark: SparkSession, p: Path,
                      content: String = ""): Boolean = {
    val f = fs(spark, p)
    f.mkdirs(p.getParent): Unit
    val bytes = content.getBytes(UTF_8)
    local(f, p) match {
      case Some(target) =>
        val tmp = target.resolveSibling(tmpName(target.getFileName.toString))
        try {
          Files.write(tmp, bytes, CREATE_NEW, WRITE): Unit
          try { Files.createLink(target, tmp); true }
          catch { case _: FileAlreadyExistsException => false }
        } finally Files.deleteIfExists(tmp): Unit
      case None =>
        try {
          val out = f.create(p, false)
          try out.write(bytes) finally out.close()
          true
        } catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
    }
  }

  /** Complete-or-absent replace: a reader sees the old content or the
    * new, never a torn or missing file. Write a unique temp sibling, then
    * move it onto `p` in one rename: locally `rename(2)`, after dropping a
    * stale `.crc` sibling the checksum layer would otherwise check the new
    * content against; elsewhere `FileContext.rename(OVERWRITE)`. The parent
    * is created first. A failed write or rename (a non-empty directory at
    * `p`, say) throws and deletes the temp file. */
  def replace(spark: SparkSession, p: Path, content: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val f = p.getFileSystem(conf)
    val target = f.makeQualified(p)
    val tmp = new Path(target.getParent, tmpName(target.getName))
    val bytes = content.getBytes(UTF_8)
    try local(f, target) match {
      case Some(dst) =>
        f.mkdirs(target.getParent): Unit
        val from = dst.resolveSibling(tmp.getName)
        Files.write(from, bytes, CREATE_NEW, WRITE): Unit
        Files.deleteIfExists(dst.resolveSibling(s".${dst.getFileName}.crc")): Unit
        Files.move(from, dst, ATOMIC_MOVE, REPLACE_EXISTING): Unit
      case None =>
        val fc = FileContext.getFileContext(target.toUri, conf)
        val out = fc.create(tmp,
          java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        try out.write(bytes) finally out.close()
        fc.rename(tmp, target, Options.Rename.OVERWRITE)
    } catch { case t: Throwable =>
      try f.delete(tmp, false): Unit
      catch { case scala.util.control.NonFatal(_) => () }
      throw t
    }
  }

  /** Sets `p`'s modification time to now: a claim holder's heartbeat.
    * Throws when `p` is gone; a store that keeps creation times (an object
    * store) lets the claim lapse. */
  def touch(spark: SparkSession, p: Path): Unit = {
    val f = fs(spark, p)
    val now = System.currentTimeMillis()
    local(f, p) match {
      case Some(l) => Files.setLastModifiedTime(l,
        java.nio.file.attribute.FileTime.fromMillis(now)): Unit
      case None => f.setTimes(p, now, -1)
    }
  }

  /** Deletes the temp siblings that crashed calls left in `dir` when
    * older than `graceMs`; returns them. */
  def vacuumTemps(spark: SparkSession, dir: Path, graceMs: Long): Seq[Path] = {
    val f = fs(spark, dir)
    val now = System.currentTimeMillis()
    val stale =
      try f.listStatus(dir).toSeq.filter(st => st.isFile &&
        TmpName.matches(st.getPath.getName) &&
        now - st.getModificationTime > graceMs).map(_.getPath)
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    stale.foreach(f.delete(_, false))
    stale
  }

  /** Plain create for a file inside a PRIVATE staging directory, which
    * becomes visible only through that directory's publishing rename. */
  def stage(spark: SparkSession, p: Path, content: String): Unit = {
    val out = fs(spark, p).create(p, true)
    try out.write(content.getBytes(UTF_8)) finally out.close()
  }

  /** The N of every `v=N` entry in `dir`; empty when `dir` is absent. */
  def versions(spark: SparkSession, dir: Path): Seq[Int] =
    try fs(spark, dir).listStatus(dir).toSeq.flatMap(st =>
      versionOf(st.getPath.getName))
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** N of a `v=N` name (version folders, claims, commit records); None
    * for any other name. */
  def versionOf(name: String): Option[Int] =
    if (name.startsWith("v=") && name.length > 2 &&
        name.drop(2).forall(c => c >= '0' && c <= '9'))
      name.drop(2).toIntOption
    else None
}
