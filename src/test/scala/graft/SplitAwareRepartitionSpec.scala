package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, FilterExec,
  InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextMetricExprs

/** Physical-plan probes for [[SplitAwareRepartition]]'s exchange. */
object SplitPlans {
  /** The static physical plan: AQE off, so every exchange is in the tree. */
  def physical(s: SparkSession)(df: => DataFrame): SparkPlan =
    Session.withConfs(s, "spark.sql.adaptive.enabled" -> "false")(
      df.queryExecution.executedPlan)

  def exchanges(p: SparkPlan): Seq[ShuffleExchangeExec] =
    p.collect { case e: ShuffleExchangeExec => e }

  @scala.annotation.tailrec
  def overScan(p: SparkPlan): Boolean = p match {
    case _: FileSourceScanExec => true
    case q @ (_: ColumnarToRowExec | _: WholeStageCodegenExec | _: InputAdapter |
              _: FilterExec | _: ProjectExec) => overScan(q.children.head)
    case _ => false
  }

  /** The rule's exchange: round-robin to `n` partitions, directly above a scan. */
  def isRuleExchange(e: ShuffleExchangeExec, n: Int): Boolean =
    e.outputPartitioning == RoundRobinPartitioning(n) &&
      e.shuffleOrigin == REPARTITION_BY_NUM && overScan(e.child)
}

/** [[SplitAwareRepartition]]: where it adds its round-robin exchange, and
  * every place it must stay out of. Plans are inspected with AQE off, so
  * the static physical tree holds every exchange. */
class SplitAwareRepartitionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val n = spark.sparkContext.defaultParallelism

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  /** 200 short documents written as `files` parquet files. */
  private def docs(files: Int): String = {
    val dir = tmp("split_rule_").resolve("docs").toString
    spark.range(200)
      .select(col("id").as("doc_id"),
        concat(lit("the cat and the dog "), col("id").cast("string")).as("text"))
      .repartition(files).write.parquet(dir)
    dir
  }
  private lazy val oneFile = docs(1)

  /** A graft kernel: the token count out of the compiled word-stats. */
  private def kernel(text: Column): Column =
    element_at(TextMetricExprs.wordStats(text), 1)

  import SplitPlans._

  private def roundRobin(p: SparkPlan): Seq[ShuffleExchangeExec] =
    exchanges(p).filter(_.outputPartitioning.isInstanceOf[RoundRobinPartitioning])

  test("a kernel over a one-file scan gets one round-robin exchange, directly above the scan") {
    val plan = physical(spark)(spark.read.parquet(oneFile)
      .select(col("doc_id"), kernel(col("text")).as("k")))
    val ex = exchanges(plan)
    assert(ex.length == 1 && isRuleExchange(ex.head, n), plan)
  }

  test("a kernel in a generator over a one-file scan fires too; a filter stays at the scan") {
    val plan = physical(spark)(spark.read.parquet(oneFile)
      .filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), explode(TextMetricExprs.wordStats(col("text"))).as("s")))
    val rr = roundRobin(plan)
    assert(rr.length == 1 && overScan(rr.head.child), plan)
    assert(rr.head.collectFirst { case s: FileSourceScanExec => s }.get
      .dataFilters.nonEmpty, plan)
  }

  test("the same data as defaultParallelism files gets no exchange") {
    val split = docs(n)
    assert(spark.read.parquet(split).inputFiles.length == n)
    val plan = physical(spark)(spark.read.parquet(split)
      .select(col("doc_id"), kernel(col("text")).as("k")))
    assert(exchanges(plan).isEmpty, plan)
  }

  test("a projection of built-ins only gets no exchange") {
    val plan = physical(spark)(spark.read.parquet(oneFile)
      .select(col("doc_id"), upper(col("text")), length(col("text"))))
    assert(exchanges(plan).isEmpty, plan)
  }

  test("a global count and sum over a kernel column match the plan without the rule") {
    def q = spark.read.parquet(oneFile)
      .select(kernel(col("text")).as("k"))
      .agg(count(lit(1)), sum(col("k")))
    assert(roundRobin(physical(spark)(q)).length == 1)
    val withRule = q.collect().toSeq
    val without = Session.withConfs(spark,
        "spark.sql.optimizer.excludedRules" -> "graft.SplitAwareRepartition") {
      assert(roundRobin(physical(spark)(q)).isEmpty)
      q.collect().toSeq
    }
    assert(withRule == without)
    assert(withRule.head.getLong(0) == 200L && withRule.head.getLong(1) == 1200L)
  }

  test("limit, nondeterminism and arrival-order aggregates keep it out") {
    def scan = spark.read.parquet(oneFile)
    val k = kernel(col("text")).as("k")
    Seq[(String, () => DataFrame)](
      "limit" -> (() => scan.select(k).limit(5)),
      "rand" -> (() => scan.select(k, rand(7).as("r"))),
      "monotonically_increasing_id" ->
        (() => scan.select(k, monotonically_increasing_id().as("i"))),
      "collect_list" -> (() => scan.select(k).agg(collect_list(col("k")))),
      "dropDuplicates" -> (() => scan.select(col("doc_id"), k).dropDuplicates("k"))
    ).foreach { case (what, df) =>
      assert(roundRobin(physical(spark)(df())).isEmpty, what)
    }
  }

  test("a global sort re-admits it under a limit (top-k)") {
    val plan = physical(spark)(spark.read.parquet(oneFile)
      .select(col("doc_id"), kernel(col("text")).as("k"))
      .orderBy(col("k").desc, col("doc_id")).limit(5))
    val rr = roundRobin(plan)
    assert(rr.length == 1 && overScan(rr.head.child), plan)
  }

  test("a write keeps it out: one input split still writes one file") {
    val out = tmp("split_rule_out_").resolve("o").toString
    spark.read.parquet(oneFile)
      .select(col("doc_id"), kernel(col("text")).as("k"))
      .write.parquet(out)
    val parts = spark.read.parquet(out).inputFiles
    assert(parts.length == 1, parts.mkString(", "))
  }

  test("an availableNow stream keeps it out: one micro-batch file per input split") {
    val out = tmp("split_rule_stream_")
    val src = spark.read.parquet(oneFile)
    val q = spark.readStream.schema(src.schema).parquet(oneFile)
      .select(col("doc_id"), kernel(col("text")).as("k"))
      .writeStream.format("parquet")
      .option("checkpointLocation", out.resolve("ck").toString)
      .trigger(Trigger.AvailableNow())
      .start(out.resolve("o").toString)
    try q.awaitTermination() finally q.stop()
    val parts = spark.read.parquet(out.resolve("o").toString).inputFiles
    assert(parts.length == 1, parts.mkString(", "))
  }

  test("a user's own repartition is not doubled") {
    val below = physical(spark)(spark.read.parquet(oneFile).repartition(3)
      .select(col("doc_id"), kernel(col("text")).as("k")))
    assert(exchanges(below).length == 1, below)
    assert(exchanges(below).head.outputPartitioning == RoundRobinPartitioning(3), below)
    val above = physical(spark)(spark.read.parquet(oneFile)
      .select(col("doc_id"), kernel(col("text")).as("k")).repartition(3))
    assert(exchanges(above).length == 1, above)
  }

  test("idempotent: the rule leaves its own output alone") {
    val rule = SplitAwareRepartition(spark)
    val df = spark.read.parquet(oneFile).select(kernel(col("text")).as("k"))
    val once = rule(df.queryExecution.analyzed)
    assert(once != df.queryExecution.analyzed)
    assert(rule(once) == once)
    assert(rule(df.queryExecution.optimizedPlan) == df.queryExecution.optimizedPlan)
  }

  test("a session without the graft extensions plans as before") {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val plain = classOf[org.apache.spark.sql.classic.SparkSession]
      .getConstructors.find(_.getParameterCount == 6).get
      .newInstance(classic.sparkContext, Some(classic.sharedState), None,
        new org.apache.spark.sql.SparkSessionExtensions,
        Map.empty[String, String], Map.empty[String, String])
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val plan = physical(plain)(plain.read.parquet(oneFile)
      .select(col("doc_id"), kernel(col("text")).as("k")))
    assert(exchanges(plan).isEmpty, plan)
  }
}
