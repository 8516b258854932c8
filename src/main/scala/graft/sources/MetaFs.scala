package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** The store contract under every small metadata file of the storage
  * layer — snapshot pointers, version claims, commit records, statement
  * locks, schema sidecars, spec and stats markers, journals. How such a
  * file is read, created exclusively or replaced atomically on a given
  * store is decided here and nowhere else: an object-store port swaps
  * [[createExclusive]] and [[replace]] for conditional PUTs in this one
  * object. */
private[graft] object MetaFs {

  def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** The file's UTF-8 content, None when absent. Exists, then open: a file
    * deleted inside that window throws `FileNotFoundException`, which
    * readers racing a [[replace]] on the local checksum filesystem retry. */
  def read(spark: SparkSession, p: Path): Option[String] = {
    val f = fs(spark, p)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), UTF_8))
      finally in.close()
    }
  }

  /** Create-if-absent where absence is checked by the STORE, not the
    * client: O_CREAT|O_EXCL through NIO on local filesystems (Hadoop's
    * local create is check-then-create and can race), the namenode-atomic
    * `create(overwrite = false)` elsewhere. False when the file already
    * exists — the lost side of a claim race. `content` is written after
    * the creation, so a racing reader can observe the file empty. */
  def createExclusive(spark: SparkSession, p: Path,
                      content: String = ""): Boolean = {
    val f = fs(spark, p)
    f.mkdirs(p.getParent): Unit
    val bytes = content.getBytes(UTF_8)
    val scheme = f.getUri.getScheme
    if (scheme == null || scheme == "file")
      try {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(f.makeQualified(p).toUri.getPath), bytes,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE): Unit
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    else
      try {
        val out = f.create(p, false)
        try out.write(bytes) finally out.close()
        true
      } catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
  }

  /** Complete-or-absent replace: write a temp sibling, then ONE
    * `FileContext.rename(OVERWRITE)` onto `p` — atomic on HDFS, so a
    * reader sees the old content or the new, never a torn or missing
    * file. The local filesystem implements the overwrite as
    * check-delete-rename; in-process writers racing one target serialize
    * themselves (the snapshot pointer's swap lock). A failed write or
    * rename throws and deletes the temp file. */
  def replace(spark: SparkSession, p: Path, content: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val target = p.getFileSystem(conf).makeQualified(p)
    val fc = FileContext.getFileContext(target.toUri, conf)
    // unique per call: two writers converging on one target must not
    // share a temp file (the loser's rename would find its source gone)
    val tmp = new Path(target.getParent,
      s".${target.getName}.tmp.${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      val out = fc.create(tmp,
        java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
        Options.CreateOpts.createParent())
      try out.write(content.getBytes(UTF_8)) finally out.close()
      fc.rename(tmp, target, Options.Rename.OVERWRITE)
    } catch { case t: Throwable =>
      try fc.delete(tmp, false): Unit
      catch { case scala.util.control.NonFatal(_) => () }
      throw t
    }
  }

  /** Plain create for a file inside a PRIVATE staging directory, which
    * becomes visible only through that directory's publishing rename. */
  def stage(spark: SparkSession, p: Path, content: String): Unit = {
    val out = fs(spark, p).create(p, true)
    try out.write(content.getBytes(UTF_8)) finally out.close()
  }

  /** N of a `v=N` name (version folders, claims, commit records); None
    * for any other name. */
  def versionOf(name: String): Option[Int] =
    if (name.startsWith("v=") && name.length > 2 &&
        name.drop(2).forall(c => c >= '0' && c <= '9'))
      name.drop(2).toIntOption
    else None
}
