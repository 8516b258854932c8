package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.{Session, Tables}

/** The batch-read planner contract: a footer-planned read serves exactly
  * the schema Spark's inference would, starts no Spark job, and keeps
  * Spark's own behaviour and errors wherever it falls back. */
class FooterSchemaSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  private val fixtures = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")

  /** Drain Spark's async listener bus so every event posted so far has
    * been delivered (`listenerBus` is `private[spark]`). */
  private def drainListenerBus(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus): Unit
  }

  private def jobsStartedBy(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    drainListenerBus()
    spark.sparkContext.addSparkListener(listener)
    try { body; drainListenerBus() }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  /** A fresh copy of a fixture's table files: [[Tables.load]] caches by
    * (session, dir, name), so only a new dir shows what an open costs. */
  private def copyFixture(src: String, dst: String): Unit = {
    Files.createDirectories(Paths.get(dst))
    Tables.All.foreach { n =>
      Files.copy(Paths.get(Tables.path(src, n)), Paths.get(Tables.path(dst, n)))
    }
  }

  /** An events table whose `ts` is parquet TIMESTAMP(NANOS), the encoding
    * Spark reads only as raw int64 (`nanosAsLong`). */
  private def writeNanosEvents(file: String): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional binary event_type (STRING);
        |}""".stripMargin)
    val conf = spark.sessionState.newHadoopConf()
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(file), conf))
      .withType(schema)
      .withConf(conf)
      .build()
    val g = new SimpleGroupFactory(schema)
    try (0 until 5).foreach { i =>
      w.write(g.newGroup()
        .append("event_id", i.toLong)
        .append("ts", 1704067200123456789L + i * 86400000000000L)
        .append("event_type", s"t$i"))
    } finally w.close()
  }

  private def condition(body: => DataFrame): String =
    intercept[AnalysisException](body).getCondition

  test("every fixture table opens with the schema Spark's inference gives") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for (dir <- fixtures; n <- Tables.All) {
      val inferred = spark.read.parquet(Tables.path(dir, n))
      assert(FooterSchema.read(spark, Tables.path(dir, n)).schema.json ==
        inferred.schema.json, s"$dir/$n raw")
      val served = if (n == "events") Tables.normalizeEventTs(inferred) else inferred
      assert(Tables.load(spark, dir, n).schema.json == served.schema.json, s"$dir/$n")
    }
  }

  test("a nanosecond events ts plans as int64 like inference and loads as TIMESTAMP") {
    Session.withScratch { s =>
      val dir = s"${s.dir}/nanos"
      Files.createDirectories(Paths.get(dir))
      writeNanosEvents(Tables.path(dir, "events"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val inferred = spark.read.parquet(Tables.path(dir, "events"))
      val planned = FooterSchema.read(spark, Tables.path(dir, "events"))
      assert(planned.schema.json == inferred.schema.json)
      assert(planned.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      val loaded = Tables.load(spark, dir, "events")
      assert(loaded.schema.json == Tables.normalizeEventTs(inferred).schema.json)
      assert(loaded.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
      assert(loaded.orderBy("event_id").select(col("ts").cast("string"))
        .collect().map(_.getString(0)).toSeq ==
        (1 to 5).map(d => f"2024-01-0$d 00:00:00.123456"))
    }
  }

  test("registerAll over a fresh fixture copy starts no Spark job") {
    Session.withScratch { s =>
      val dir = s"${s.dir}/ws"
      copyFixture(fixtures.head, dir)
      // a session of its own: its temp views die with the scratch copy
      val fresh = spark.newSession()
      val jobs = jobsStartedBy(Tables.registerAll(fresh, dir))
      assert(jobs == 0, s"opening ${Tables.All.size} tables started $jobs jobs")
      assert(fresh.table("region").count() ==
        spark.read.parquet(Tables.path(dir, "region")).count())
    }
  }

  test("a missing path still throws Spark's PATH_NOT_FOUND") {
    Session.withScratch { s =>
      val missing = s"${s.dir}/no_such_table.parquet"
      assert(FooterSchema.of(spark, Seq(missing)).isEmpty)
      assert(condition(FooterSchema.read(spark, missing)) == "PATH_NOT_FOUND")
      assert(condition(spark.read.parquet(missing)) == "PATH_NOT_FOUND")
    }
  }

  test("a directory holding only _SUCCESS still throws Spark's unable-to-infer error") {
    Session.withScratch { s =>
      val dir = s"${s.dir}/empty"
      Files.createDirectories(Paths.get(dir))
      Files.createFile(Paths.get(dir, "_SUCCESS"))
      assert(FooterSchema.of(spark, Seq(dir)).isEmpty)
      assert(condition(FooterSchema.read(spark, dir)) == "UNABLE_TO_INFER_SCHEMA")
      assert(condition(spark.read.parquet(dir)) == "UNABLE_TO_INFER_SCHEMA")
    }
  }

  test("a hive-partitioned ivfWriteIndex layout still reads with centroid_id") {
    import spark.implicits._
    Session.withScratch { s =>
      val path = s"${s.dir}/ivf"
      graft.operators.Similarity.ivfWriteIndex(
        Seq((0, 1L), (0, 2L), (1, 3L), (2, 4L)).toDF("centroid_id", "id"), path)
      val df = graft.operators.Similarity.ivfOpenIndex(spark, path)
      assert(df.schema.json == spark.read.parquet(path).schema.json)
      assert(df.columns.contains("centroid_id"))
      assert(df.filter(col("centroid_id") === 0).select("id").as[Long]
        .collect().sorted.toSeq == Seq(1L, 2L))
    }
  }

  test("with mergeSchema on, two files of different shapes read as their merged schema") {
    import spark.implicits._
    Session.withScratch { s =>
      val dir = s"${s.dir}/shapes"
      Seq(1L, 2L).toDF("k").coalesce(1).write.parquet(s"${s.dir}/a")
      Seq((3L, "x")).toDF("k", "extra").coalesce(1).write.parquet(s"${s.dir}/b")
      // both files side by side in one dir, the narrow one first by name
      def only(sub: String) = new java.io.File(s"${s.dir}/$sub").listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      Files.createDirectories(Paths.get(dir))
      Files.move(only("a"), Paths.get(dir, "part-0-a.parquet"))
      Files.move(only("b"), Paths.get(dir, "part-1-b.parquet"))
      Session.withConfs(spark, "spark.sql.parquet.mergeSchema" -> "true") {
        val df = FooterSchema.read(spark, dir)
        assert(df.columns.toSeq == Seq("k", "extra"))
        assert(df.schema.json == spark.read.parquet(dir).schema.json)
        assert(df.filter(col("extra") === lit("x")).count() == 1)
      }
    }
  }
}
