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
