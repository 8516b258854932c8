package graft.sources

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** The metadata-file store contract: exclusive create, atomic replace,
  * absent reads and the `v=N` name parser. */
class MetaFsSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  private def names(dir: Path): Seq[String] =
    MetaFs.fs(spark, dir).listStatus(dir).toSeq.map(_.getPath.getName)

  test("createExclusive: of 16 racing threads exactly one wins, and the file holds its content") {
    graft.Session.withScratch { s =>
      val p = new Path(s"${s.dir}/claims/v=1")
      val start = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
      try {
        val results = (0 until 16).map { i =>
          pool.submit(new java.util.concurrent.Callable[(Int, Boolean)] {
            def call(): (Int, Boolean) = {
              start.await()
              (i, MetaFs.createExclusive(spark, p, s"writer-$i"))
            }
          })
        }
        start.countDown()
        val winners = results.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
          .collect { case (i, true) => i }
        assert(winners.size == 1, s"winners: $winners")
        assert(MetaFs.read(spark, p).contains(s"writer-${winners.head}"))
      } finally pool.shutdownNow(): Unit
    }
  }

  test("createExclusive: a polling reader never sees a created file short of its content") {
    graft.Session.withScratch { s =>
      val files = (1 to 200).map(i => new Path(s"${s.dir}/commits/v=$i"))
      val size = 64 * 1024
      val start = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      try {
        val writers = Seq('a', 'b').map { c =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = {
              start.await()
              files.foreach(p => MetaFs.createExclusive(spark, p, c.toString * size): Unit)
            }
          })
        }
        val reader = pool.submit(new java.util.concurrent.Callable[Seq[String]] {
          def call(): Seq[String] = {
            start.await()
            // the store itself, polled as fast as a reader can: the file
            // must appear with all its bytes
            files.flatMap { p =>
              val l = java.nio.file.Paths.get(p.toUri.getPath)
              var seen: Option[Array[Byte]] = None
              while (seen.isEmpty) seen =
                try Some(java.nio.file.Files.readAllBytes(l))
                catch { case _: java.nio.file.NoSuchFileException => None }
              seen.filter(_.length != size).map(b => s"${p.getName}: ${b.length} bytes")
            }
          }
        })
        start.countDown()
        writers.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
        val short = reader.get(120, java.util.concurrent.TimeUnit.SECONDS)
        val shortReads = short.size
        assert(shortReads == 0, short.take(5).mkString("; "))
        files.foreach(p => assert(MetaFs.read(spark, p).exists(_.length == size), p))
        assert(names(new Path(s"${s.dir}/commits")).sorted == files.map(_.getName).sorted,
          "no temp sibling may outlive its create")
      } finally pool.shutdownNow(): Unit
    }
  }

  test("replace racing read: every read returns one whole written content, never None or a throw") {
    graft.Session.withScratch { s =>
      val p = new Path(s"${s.dir}/tbl/_latest")
      // lengths vary, so a torn read cannot pass for a whole one
      def content(i: Int) = s"$i:" + ("x" * (i % 7 * 300))
      MetaFs.replace(spark, p, content(0))
      val writes = 2000
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val reads = new java.util.concurrent.atomic.AtomicInteger(0)
      val reader = new Thread(() =>
        while (!done.get()) {
          try MetaFs.read(spark, p) match {
            case Some(c) =>
              val i = c.takeWhile(_ != ':').toIntOption
              if (!i.exists(content(_) == c)) bad.add(s"torn: ${c.take(20)}...(${c.length})"): Unit
            case None => bad.add("None"): Unit
          } catch { case t: Throwable => bad.add(t.toString): Unit }
          reads.incrementAndGet(): Unit
        })
      reader.start()
      try (1 to writes).foreach(i => MetaFs.replace(spark, p, content(i)))
      finally { done.set(true); reader.join() }
      val failed = bad.size
      assert(failed == 0, s"of ${reads.get} reads, e.g. ${bad.peek()}")
      assert(MetaFs.read(spark, p).contains(content(writes)))
      assert(names(p.getParent) == Seq("_latest"))
    }
  }

  test("replace: a stale checksum sibling is dropped, so a checksummed read still sees the new content") {
    graft.Session.withScratch { s =>
      val p = new Path(s"${s.dir}/tbl/_marker")
      // a file the checksum layer wrote, with its .crc beside it
      val f = MetaFs.fs(spark, p)
      val out = f.create(p, true)
      try out.write("old".getBytes("UTF-8")) finally out.close()
      MetaFs.replace(spark, p, "a longer new content")
      val in = f.open(p)
      try assert(new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        "UTF-8") == "a longer new content")
      finally in.close()
    }
  }

  test("replace: the target holds the whole new content and no temp sibling is left") {
    graft.Session.withScratch { s =>
      val dir = new Path(s"${s.dir}/tbl")
      val p = new Path(dir, "_marker")
      MetaFs.replace(spark, p, "first")
      val big = "x" * 100000
      MetaFs.replace(spark, p, big)
      assert(MetaFs.read(spark, p).contains(big))
      assert(names(dir) == Seq("_marker"))
    }
  }

  test("replace: a rename that cannot succeed throws, keeps the target and leaves no temp file") {
    graft.Session.withScratch { s =>
      val dir = new Path(s"${s.dir}/tbl")
      val p = new Path(dir, "_latest")
      // a non-empty DIRECTORY at the target: no file rename can replace it
      val blocker = new Path(p, "blocker")
      MetaFs.replace(spark, blocker, "keep")
      intercept[java.io.IOException](MetaFs.replace(spark, p, "7"))
      assert(MetaFs.fs(spark, p).getFileStatus(p).isDirectory)
      assert(MetaFs.read(spark, blocker).contains("keep"))
      assert(names(dir) == Seq("_latest"))
      assert(names(p) == Seq("blocker"))
    }
  }

  test("read: an absent path is None") {
    graft.Session.withScratch { s =>
      assert(MetaFs.read(spark, new Path(s"${s.dir}/nope/_latest")).isEmpty)
    }
  }

  test("versionOf: parses v=N names only") {
    assert(MetaFs.versionOf("v=12").contains(12))
    assert(MetaFs.versionOf("v=0").contains(0))
    Seq("v=", "v=1a", "x=3", "v=-1", "v=+1", "v=99999999999", "_latest")
      .foreach(n => assert(MetaFs.versionOf(n).isEmpty, n))
  }
}
