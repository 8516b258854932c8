package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.queries.Q
import graft.sources.SchemaEvolution

/** The tracer on a live local session: jobs that the benchmark's noop sink
  * launches on a face's lazy plan carry no program frame in their call
  * site, and are charged to the modules that built the plan. */
class TracerSpec extends AnyFunSuite with BeforeAndAfterAll {
  // Scratch under the harness's own build output, not the system tmpdir.
  private def scratch(name: String): Path =
    Files.createTempDirectory(Files.createDirectories(Paths.get("target", "test-scratch")), name)
  private lazy val spark = Main.session(2, scratch("session"))

  override def afterAll(): Unit = spark.stop()

  private val docs = (1 to 200).map(i => (i.toLong, s"the quick brown fox ${i % 17} jumps over ${i % 5}"))

  /** One traced pass of `face`; its per-layer metrics and the long-form
    * call sites of the jobs it ran. */
  private def tracedPass(face: Q): (Map[String, Double], Seq[String]) = {
    val sites = mutable.ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = sites.synchronized {
        sites += e.stageInfos.maxBy(_.stageId).details
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val run = new Run(spark, 2, Seq(face), "", 1L, 1, traced = true, scratch("run"))
    val layers = run.pass(1, trace = true).layers
    spark.sparkContext.removeSparkListener(listener)
    (layers, sites.synchronized(sites.toSeq))
  }

  private def jobSeconds(layers: Map[String, Double]): Double =
    layers.collect { case (k, v) if k.endsWith(".job_s") => v }.sum

  test("a plan built by an operator charges the sink's jobs to operators") {
    val face = Q.noOracle("dedup") { (s, _) =>
      val sig = Dedup.minhashSignature(s.createDataFrame(docs).toDF("doc_id", "text"), "text", "doc_id", 8, 3)
      Dedup.lshCandidatePairs(sig, "doc_id", 4, 2)
    }
    val (layers, sites) = tracedPass(face)
    assert(sites.nonEmpty)
    // every job was launched by the sink, from the benchmark's own frames
    sites.foreach(site => assert(Stats.moduleOf(site).isEmpty, site))
    assert(layers("operators.job_s") > 0.0)
    assert(layers("operators.job_s") > 0.9 * jobSeconds(layers), layers)
  }

  test("a plan conformed by a source charges the sink's jobs to sources") {
    val target = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("rev", IntegerType)))
    val face = Q.noOracle("conform") { (s, _) =>
      SchemaEvolution.conform(s.createDataFrame(docs).toDF("doc_id", "text"), target)
        .groupBy(col("rev")).count()
    }
    val (layers, sites) = tracedPass(face)
    assert(sites.nonEmpty)
    sites.foreach(site => assert(Stats.moduleOf(site).isEmpty, site))
    assert(layers("sources.job_s") > 0.5 * jobSeconds(layers), layers)
  }

  test("a plan built outside the program is the face's own, queries") {
    val face = Q.noOracle("plain") { (s, _) =>
      s.createDataFrame(docs).toDF("doc_id", "text").groupBy(length(col("text")).as("n")).count()
    }
    val (layers, sites) = tracedPass(face)
    assert(sites.nonEmpty)
    assert(layers("queries.job_s") > 0.0)
    assert(layers("queries.job_s") == jobSeconds(layers), layers)
  }
}
