package graft.sources

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileStatus,
  FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The java.nio-backed local filesystem behaves as Hadoop's own on the same
  * tree — permissions, link status, checksummed renames — and is installed
  * by the graft extensions unless the user named a `file:` class. */
class LocalFsSpec extends AnyFunSuite {

  private val LocalUri = new URI("file:///")
  private val FsKey = "fs.file.impl"
  private val FcKey = "fs.AbstractFileSystem.file.impl"

  private def withTree(body: JPath => Unit): Unit = {
    val root = Files.createTempDirectory("graft_localfs_")
    try body(root)
    finally org.apache.commons.io.FileUtils.deleteQuietly(root.toFile): Unit
  }

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(LocalUri, new Configuration()); fs
  }

  /** The full mode bits, sticky bit included. */
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & Integer.parseInt("7777", 8)

  private def octal(m: Int): String = Integer.toOctalString(m)

  test("setPermission: the same mode bits as Hadoop's chmod on files and directories, sticky bit included") {
    withTree { root =>
      val stock = raw(new RawLocalFileSystem)
      val nio = raw(new NioRawLocalFileSystem)
      for (m <- Seq("000", "600", "640", "644", "700", "751", "755", "777", "1777");
           dir <- Seq(false, true)) {
        val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
        val paths = Seq("stock", "nio").map { side =>
          val p = root.resolve(s"$side-$m-${if (dir) "d" else "f"}")
          if (dir) Files.createDirectory(p) else Files.createFile(p)
          p
        }
        stock.setPermission(new Path(paths(0).toString), perm)
        nio.setPermission(new Path(paths(1).toString), perm)
        assert(mode(paths(0)) == Integer.parseInt(m, 8),
          s"stock $m dir=$dir: ${octal(mode(paths(0)))}")
        assert(mode(paths(1)) == mode(paths(0)),
          s"mode $m dir=$dir: nio ${octal(mode(paths(1)))} vs stock ${octal(mode(paths(0)))}")
      }
    }
  }

  test("create and mkdirs: the same modes as Hadoop's under the default umask, .crc files included") {
    withTree { root =>
      val conf = new Configuration()
      val stock = new LocalFileSystem(new RawLocalFileSystem)
      stock.initialize(LocalUri, conf)
      val graft = new GraftLocalFileSystem
      graft.initialize(LocalUri, conf)
      val made = Seq("stock" -> (stock: FileSystem), "graft" -> (graft: FileSystem)).map {
        case (side, fs) =>
          val base = new Path(root.resolve(side).toString)
          assert(fs.mkdirs(new Path(base, "a/b/c")))
          val out = fs.create(new Path(base, "a/b/c/part-0.parquet"))
          try out.write("rows".getBytes(UTF_8)) finally out.close()
          root.resolve(side)
      }
      val rel = Seq("a", "a/b", "a/b/c", "a/b/c/part-0.parquet", "a/b/c/.part-0.parquet.crc")
      for (r <- rel) {
        val Seq(s, g) = made.map(_.resolve(r))
        assert(Files.exists(g), r)
        assert(mode(g) == mode(s), s"$r: graft ${octal(mode(g))} vs stock ${octal(mode(s))}")
      }
      assert(octal(mode(made(1).resolve("a/b/c"))) == "755")
      assert(octal(mode(made(1).resolve("a/b/c/part-0.parquet"))) == "644")
    }
  }

  private def describe(st: FileStatus): (String, Boolean, Boolean, Long, Long, Option[String]) =
    (st.getPath.toString, st.isDirectory, st.isSymlink, st.getLen,
      st.getModificationTime, if (st.isSymlink) Some(st.getSymlink.toString) else None)

  test("getFileLinkStatus: files, directories, missing paths and symlinks, unqualified and file:-qualified, as Hadoop answers") {
    withTree { root =>
      val stock = raw(new RawLocalFileSystem)
      val nio = raw(new NioRawLocalFileSystem)
      val file = root.resolve("data.bin")
      Files.write(file, "0123456789".getBytes(UTF_8))
      val dir = Files.createDirectory(root.resolve("dir"))
      val relLink = Files.createSymbolicLink(root.resolve("rel-link"), Paths.get("data.bin"))
      val absLink = Files.createSymbolicLink(root.resolve("abs-link"), file)
      val missing = root.resolve("missing")
      for (p <- Seq(file, dir, relLink, absLink, missing);
           qualified <- Seq(false, true)) {
        val hp = new Path((if (qualified) "file:" else "") + p.toString)
        def answer(fs: FileSystem) =
          try Right(describe(fs.getFileLinkStatus(hp)))
          catch { case e: FileNotFoundException => Left(e.getClass) }
        val want = answer(stock)
        assert(answer(nio) == want, s"$hp")
        if (p == missing) assert(want == Left(classOf[FileNotFoundException]))
      }
      // the unqualified links are links, the file: forms follow them
      assert(nio.getFileLinkStatus(new Path(relLink.toString)).isSymlink)
      assert(nio.getFileLinkStatus(new Path(absLink.toString)).isSymlink)
      assert(!nio.getFileLinkStatus(new Path("file:" + absLink)).isSymlink)
    }
  }

  test("FileContext.rename(OVERWRITE) onto an existing file moves the data and its .crc as Hadoop's LocalFs does") {
    withTree { root =>
      val graftConf = new Configuration()
      LocalFs.install(graftConf)
      val results = Seq("stock" -> new Configuration(), "graft" -> graftConf).map {
        case (side, conf) =>
          val fc = FileContext.getFileContext(LocalUri, conf)
          val dir = new Path(root.resolve(side).toString)
          def write(p: Path, s: String): Unit = {
            val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
              Options.CreateOpts.createParent())
            try out.write(s.getBytes(UTF_8)) finally out.close()
          }
          val src = new Path(dir, ".target.tmp")
          val dst = new Path(dir, "target")
          write(dst, "old content")
          write(src, "new")
          fc.rename(src, dst, Options.Rename.OVERWRITE)
          val in = fc.open(dst)
          val content =
            try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), UTF_8)
            finally in.close()
          (fc.getDefaultFileSystem.getClass, content,
            new File(dir.toString).list().toSeq.sorted)
      }
      val Seq(stock, graft) = results
      assert(stock._1 == classOf[org.apache.hadoop.fs.local.LocalFs])
      assert(graft._1 == classOf[GraftLocalFs])
      assert(graft._2 == "new" && stock._2 == "new")
      assert(graft._3 == Seq(".target.crc", "target"))
      assert(graft._3 == stock._3)
    }
  }

  test("install on a bare Configuration: both keys set, a user's own class is left alone, idempotent") {
    val conf = new Configuration()
    assert(conf.get(FcKey) == "org.apache.hadoop.fs.local.LocalFs")
    LocalFs.install(conf)
    LocalFs.install(conf)
    assert(conf.get(FsKey) == classOf[GraftLocalFileSystem].getName)
    assert(conf.get(FcKey) == classOf[GraftLocalFs].getName)
    val fs = FileSystem.newInstance(LocalUri, conf)
    try {
      assert(fs.getClass == classOf[GraftLocalFileSystem])
      assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass == classOf[NioRawLocalFileSystem])
    } finally fs.close()
    assert(AbstractFileSystem.get(LocalUri, conf).getClass == classOf[GraftLocalFs])

    val user = new Configuration()
    user.set(FsKey, classOf[LocalFileSystem].getName)
    user.set(FcKey, "org.apache.hadoop.fs.local.RawLocalFs")
    LocalFs.install(user)
    assert(user.get(FsKey) == classOf[LocalFileSystem].getName)
    assert(user.get(FcKey) == "org.apache.hadoop.fs.local.RawLocalFs")
    val userFs = FileSystem.newInstance(LocalUri, user)
    try assert(userFs.getClass == classOf[LocalFileSystem])
    finally userFs.close()
  }

  test("a session built with the graft extensions serves file: through LocalFs") {
    val conf = graft.TestSpark.spark.sessionState.newHadoopConf()
    assert(conf.get(FsKey) == classOf[GraftLocalFileSystem].getName)
    assert(conf.get(FcKey) == classOf[GraftLocalFs].getName)
    val fs = FileSystem.newInstance(LocalUri, conf)
    try assert(fs.getClass == classOf[GraftLocalFileSystem])
    finally fs.close()
  }

  test("sessions rebuilt after stop() install again; a user-set spark.hadoop.fs.file.impl is left alone") {
    // a JVM holds one SparkContext, and the suites share theirs: the
    // stop/rebuild loop runs in a child JVM on this test's classpath
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = scala.jdk.CollectionConverters.ListHasAsScala(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments).asScala
      .filterNot(_.startsWith("-Xmx")).toSeq
    withTree { root =>
      val log = root.resolve("probe.log").toFile
      val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-Xmx1g",
        "-cp", System.getProperty("java.class.path"),
        "graft.sources.LocalFsSessionProbe", root.toString)
      val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
        .redirectOutput(log).start()
      assert(proc.waitFor(240, java.util.concurrent.TimeUnit.SECONDS), "probe JVM timed out")
      val lines = scala.io.Source.fromFile(log, "UTF-8").getLines().toSeq
      assert(proc.exitValue() == 0, lines.takeRight(40).mkString("\n"))
      val probes = lines.filter(_.startsWith("PROBE ")).map(_.split(' ').toSeq.tail)
        .map(l => l.head -> l.tail).toMap
      val installed = Seq(classOf[GraftLocalFileSystem].getName,
        classOf[GraftLocalFs].getName, classOf[GraftLocalFileSystem].getName)
      assert(probes.get("first").contains(installed))
      assert(probes.get("second").contains(installed))
      assert(probes.get("user").contains(Seq(classOf[LocalFileSystem].getName,
        classOf[GraftLocalFs].getName, classOf[LocalFileSystem].getName)))
    }
  }
}

/** Builds, reports and stops three sessions in turn — two plain, one with a
  * user-set `spark.hadoop.fs.file.impl` — printing per session
  * `PROBE <tag> <fs.file.impl> <fs.AbstractFileSystem.file.impl> <class of
  * FileSystem.newInstance(file:///)>`. */
object LocalFsSessionProbe {
  def main(args: Array[String]): Unit = {
    def run(tag: String, extra: (String, String)*): Unit = {
      val b = SparkSession.builder().master("local[1]").appName(s"localfs-$tag")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .config("spark.sql.warehouse.dir", s"${args(0)}/warehouse-$tag")
      extra.foreach { case (k, v) => b.config(k, v) }
      val spark = b.getOrCreate()
      try {
        val conf = spark.sessionState.newHadoopConf()
        val fs = FileSystem.newInstance(new URI("file:///"), conf)
        try println(s"PROBE $tag ${conf.get("fs.file.impl")} " +
          s"${conf.get("fs.AbstractFileSystem.file.impl")} ${fs.getClass.getName}")
        finally fs.close()
      } finally spark.stop()
    }
    run("first")
    run("second")
    run("user", "spark.hadoop.fs.file.impl" -> classOf[LocalFileSystem].getName)
  }
}
