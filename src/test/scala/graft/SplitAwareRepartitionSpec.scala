package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, RoundRobinPartitioning}
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

  /** The rule's exchange under a global sort: a range split to `n`
    * partitions on the scan columns `keys`, directly above a scan. */
  def isRangeRuleExchange(e: ShuffleExchangeExec, n: Int, keys: String*): Boolean =
    e.outputPartitioning match {
      case RangePartitioning(order, m) =>
        m == n && order.map(_.child.references.head.name) == keys &&
          e.shuffleOrigin == REPARTITION_BY_NUM && overScan(e.child)
      case _ => false
    }
}

/** [[SplitAwareRepartition]]: where it adds its round-robin exchange, where
  * a global sort's range exchange takes its place, and every place it must
  * stay out of. Plans are inspected with AQE off, so the static physical
  * tree holds every exchange. */
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

  test("a global sort on a scan column runs the kernel once per row") {
    val calls = spark.sparkContext.longAccumulator("split_rule_kernel_calls")
    val bump = udf((t: String) => { calls.add(1); t.length })
    val rows = spark.read.parquet(oneFile)
      .select(col("doc_id").as("id"), bump(col("text")).as("k"))
      .orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == (0L until 200L))
    assert(calls.value == 200L, s"the kernel ran ${calls.value} times for 200 rows")
  }

  test("a global sort on a scan column puts one range exchange below the kernel") {
    val plan = physical(spark)(spark.read.parquet(oneFile)
      .select(col("doc_id"), kernel(col("text")).as("k"))
      .orderBy(col("doc_id")))
    val ex = exchanges(plan)
    assert(ex.length == 1 && isRangeRuleExchange(ex.head, n, "doc_id"), plan)
    assert(!ex.head.child.toString.contains("graft_word_stats"), plan)
    assert(roundRobin(plan).isEmpty, plan)
  }

  test("a sort key the kernel computes keeps the round-robin") {
    val plan = physical(spark)(spark.read.parquet(oneFile)
      .select(col("doc_id"), kernel(col("text")).as("k"))
      .orderBy(col("k"), col("doc_id")))
    val rr = roundRobin(plan)
    assert(rr.length == 1 && isRuleExchange(rr.head, n), plan)
    assert(exchanges(plan).length == 2, plan)
  }

  test("a sort key renamed by an alias is traced to the scan column") {
    val plan = physical(spark)(spark.read.parquet(oneFile)
      .select(col("doc_id").as("id"), kernel(col("text")).as("k"))
      .orderBy(col("id"), col("k")))
    val ex = exchanges(plan)
    assert(ex.length == 1 && isRangeRuleExchange(ex.head, n, "doc_id"), plan)
  }

  test("the traced key prefix stops at a generator's output") {
    def exploded = spark.read.parquet(oneFile)
      .select(col("doc_id"), explode(TextMetricExprs.wordStats(col("text"))).as("s"))
    val prefix = physical(spark)(exploded.orderBy(col("doc_id"), col("s")))
    assert(exchanges(prefix).length == 1 &&
      isRangeRuleExchange(exchanges(prefix).head, n, "doc_id"), prefix)
    val none = physical(spark)(exploded.orderBy(col("s"), col("doc_id")))
    assert(roundRobin(none).length == 1 && exchanges(none).length == 2, none)
  }

  test("desc_nulls_last over nullable scan keys returns the rows the plan without the rule does") {
    val dir = tmp("split_rule_nulls_").resolve("t").toString
    spark.range(200)
      .select(when(col("id") % 7 =!= 0, col("id") % 50).as("key"), col("id").as("doc_id"),
        concat(lit("the cat "), col("id").cast("string")).as("text"))
      .coalesce(1).write.parquet(dir)
    def q = spark.read.parquet(dir)
      .select(col("key"), col("doc_id"), kernel(col("text")).as("k"))
      .orderBy(col("key").desc_nulls_last, col("doc_id"))
    val plan = physical(spark)(q)
    assert(exchanges(plan).length == 1 &&
      isRangeRuleExchange(exchanges(plan).head, n, "key", "doc_id"), plan)
    val withRule = q.collect().toSeq
    val without = Session.withConfs(spark,
        "spark.sql.optimizer.excludedRules" -> "graft.SplitAwareRepartition") {
      assert(roundRobin(physical(spark)(q)).isEmpty)
      q.collect().toSeq
    }
    assert(withRule == without)
    assert(withRule.head.getLong(0) == 49L && withRule.last.isNullAt(0))
  }

  test("under AQE the sort's output keeps defaultParallelism partitions") {
    val df = spark.read.parquet(oneFile)
      .select(col("doc_id"), kernel(col("text")).as("k"))
      .orderBy(col("doc_id"))
    val sizes = Session.withConfs(spark, "spark.sql.adaptive.enabled" -> "true")(
      df.queryExecution.toRdd.mapPartitions(it => Iterator(it.size)).collect().toSeq)
    assert(sizes.length == n && sizes.sum == 200, sizes)
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
