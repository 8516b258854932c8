package perfbench

import java.time.Instant
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, FilterExec, InputAdapter, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span; times are epoch microseconds. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Long, end: Long, attrs: Map[String, String] = Map.empty)

/** One execution of a face: construction ends at `buildEnd`, the noop-sink
  * materialization at `end`. `planModules` counts, per program module, the
  * expressions its code built into the plan the face returned. */
final case class QuerySpan(id: Long, name: String, start: Long, buildEnd: Long, end: Long,
                           planModules: Map[String, Int] = Map.empty)

private object Tracer {
  final case class Job(id: Int, start: Long, stageIds: Seq[Int], site: String,
                       execId: Option[Long], streaming: Boolean, var end: Long = -1L)
  final case class Exec(id: Long, root: Option[Long], start: Long, site: String, desc: String,
                        var end: Long = -1L)
  final case class Stage(id: Int, attempt: Int, name: String, start: Long, end: Long, tasks: Int)
  /** A streaming query run: its start and its micro-batches (id, start, end). */
  final case class Stream(id: String, start: Long, var batches: Int = 0, var batchMs: Long = 0L,
                          var lastEnd: Long = -1L,
                          spans: mutable.ArrayBuffer[(Long, Long, Long)] = mutable.ArrayBuffer.empty)

  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Expressions per program module in a plan, each charged to the
    * innermost program frame of its origin: the DataFrame call site Spark
    * records when a column is built through the Column API. */
  def planModules(plan: LogicalPlan): Map[String, Int] = {
    val counts = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    plan.foreach(_.expressions.foreach(_.foreach { e =>
      e.origin.stackTrace
        .flatMap(st => Stats.moduleOf(st.map(f => s"${f.getClassName}.${f.getMethodName}").mkString("\n")))
        .foreach(m => counts(m) += 1)
    }))
    counts.toMap
  }
}

/** Records one traced pass from the benchmark's side only: spans around the
  * calls into a face, plus Spark's own listener interfaces. Nothing inside
  * the program is instrumented. Listeners are registered for the pass and
  * removed after it, so an untraced pass pays nothing. */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(1L)
  def newId(): Long = ids.getAndIncrement()

  /** Every span of the run, written out once the run ends. */
  val spans = mutable.ArrayBuffer.empty[Span]

  // Per-pass state, reset by `begin`. Guarded by `this`: listener queues
  // deliver on their own threads.
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val execs = mutable.LinkedHashMap.empty[Long, Exec]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  private val taskTimes = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Double]]
  private val streams = mutable.LinkedHashMap.empty[String, Stream]
  private val sums = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = sums(k) = sums(k) + v

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      jobs(e.jobId) = Job(e.jobId, e.time * 1000L, e.stageIds, site,
        prop("spark.sql.execution.id").map(_.toLong), prop("sql.streaming.queryId").isDefined)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time * 1000L)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val s = e.stageInfo
      for (a <- s.submissionTime; b <- s.completionTime)
        stages += Stage(s.stageId, s.attemptNumber(), s.name, a * 1000L, b * 1000L, s.numTasks)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      add("spark.tasks", 1)
      taskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration / 1000.0
      val m = e.taskMetrics
      if (m != null) {
        add("spark.task_s", m.executorRunTime / 1000.0)
        add("spark.task_cpu_s", m.executorCpuTime / 1e9)
        add("spark.gc_s", m.jvmGCTime / 1000.0)
        add("spark.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("sources.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("sources.input_rows", m.inputMetrics.recordsRead.toDouble)
        add("sources.bytes_written", m.outputMetrics.bytesWritten.toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Tracer.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          execs(s.executionId) = Exec(s.executionId, s.rootExecutionId.filter(_ != s.executionId),
            s.time * 1000L, s.details, s.description)
        case s: SparkListenerSQLExecutionEnd =>
          execs.get(s.executionId).foreach(_.end = s.time * 1000L)
        case _ =>
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized(planMetrics(qe.executedPlan))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = Tracer.this.synchronized {
      streams(e.runId.toString) = Stream(e.runId.toString, Instant.parse(e.timestamp).toEpochMilli * 1000L)
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = Tracer.this.synchronized {
      val p = e.progress
      val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val start = Instant.parse(p.timestamp).toEpochMilli * 1000L
      val st = streams.getOrElseUpdate(p.runId.toString, Stream(p.runId.toString, start))
      st.batches += 1
      st.batchMs += ms
      st.lastEnd = math.max(st.lastEnd, start + ms * 1000L)
      st.spans += ((p.batchId, start, start + ms * 1000L))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Scan, filter and write counts from an executed plan's SQL metrics. */
  private def planMetrics(root: SparkPlan): Unit = {
    def metric(p: SparkPlan, k: String): Double = p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    def scanBelow(p: SparkPlan): Option[SparkPlan] = p match {
      case s: FileSourceScanExec => Some(s)
      case s: BatchScanExec => Some(s)
      case c: ColumnarToRowExec => scanBelow(c.child)
      case i: InputAdapter => scanBelow(i.child)
      case q: QueryStageExec => scanBelow(q.plan)
      case _ => None
    }
    val scans = mutable.ArrayBuffer.empty[SparkPlan]
    val filtered = mutable.Set.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = {
      p match {
        case s: FileSourceScanExec =>
          scans += s
          add("sources.files_read", metric(s, "numFiles"))
        case s: BatchScanExec =>
          scans += s
          add("sources.files_read", s.inputPartitions.collect { case f: FilePartition => f.files.length }.sum)
        case f: FilterExec =>
          scanBelow(f.child).foreach { s =>
            filtered += s
            add("scan.kept", metric(f, "numOutputRows"))
          }
        case w: DataWritingCommandExec =>
          add("sources.files_written", metric(w, "numFiles"))
        case _ =>
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ => p.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(root)
    scans.foreach { s =>
      add("scan.rows", metric(s, "numOutputRows"))
      if (!filtered.contains(s)) add("scan.kept", metric(s, "numOutputRows"))
    }
  }

  /** Drain Spark's listener bus so every event of the pass has arrived. */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def begin(): Unit = {
    drain()
    synchronized {
      jobs.clear(); execs.clear(); stages.clear(); taskTimes.clear(); streams.clear(); sums.clear()
    }
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Close the pass: drain, unregister, turn the pass's events into spans
    * and return its per-layer metrics. */
  def end(passName: String, passStart: Long, passEnd: Long,
          queries: Seq[QuerySpan]): Map[String, Double] = {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
    val storage = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    synchronized {
      val out = mutable.LinkedHashMap.empty[String, Double]
      val local = mutable.ArrayBuffer.empty[Span]
      val passId = newId()
      local += Span(passId, 0L, "pass", passName, passStart, passEnd)
      // query -> build | exec; a child event belongs to the phase it started in
      val phases = mutable.ArrayBuffer.empty[(Long, Long, Long)]
      queries.foreach { q =>
        val b = newId(); val x = newId()
        local += Span(q.id, passId, "query", q.name, q.start, q.end)
        local += Span(b, q.id, "build", q.name, q.start, q.buildEnd)
        local += Span(x, q.id, "exec", q.name, q.buildEnd, q.end)
        phases += ((b, q.start, q.buildEnd)); phases += ((x, q.buildEnd, q.end))
      }
      def phaseAt(t: Long): Long =
        phases.find { case (_, a, b) => t >= a && t <= b }.map(_._1).getOrElse(passId)
      def planAt(t: Long): Map[String, Int] =
        queries.find(q => t >= q.start && t <= q.end).map(_.planModules).getOrElse(Map.empty)

      val execSpan = mutable.HashMap.empty[Long, Long]
      execs.values.foreach { e => execSpan(e.id) = newId() }
      execs.values.foreach { e =>
        val parent = e.root.flatMap(execSpan.get).getOrElse(phaseAt(e.start))
        local += Span(execSpan(e.id), parent, "sql", e.desc.take(80), e.start,
          if (e.end >= 0) e.end else passEnd, Map("execution_id" -> e.id.toString))
      }
      val moduleSecs = mutable.LinkedHashMap("sources" -> 0.0, "operators" -> 0.0,
        "streaming" -> 0.0, "queries" -> 0.0)
      val jobSpan = mutable.HashMap.empty[Int, Long]
      jobs.values.foreach { j =>
        val end = if (j.end >= 0) j.end else passEnd
        val exec = j.execId.flatMap(execs.get)
        val shares = Stats.attribute(j.site, exec.map(_.site),
          exec.flatMap(_.root).flatMap(execs.get).map(_.site), j.streaming, planAt(j.start))
        shares.foreach { case (m, f) => moduleSecs(m) = moduleSecs.getOrElse(m, 0.0) + f * (end - j.start) / 1e6 }
        val module = shares.toSeq.sortBy(-_._2).map { case (m, f) => f"$m:$f%.3f" }.mkString(",")
        val id = newId()
        j.stageIds.foreach(s => jobSpan.getOrElseUpdate(s, id))
        local += Span(id, j.execId.flatMap(execSpan.get).getOrElse(phaseAt(j.start)), "job",
          s"job ${j.id}", j.start, end, Map("module" -> module))
      }
      stages.foreach { s =>
        local += Span(newId(), jobSpan.getOrElse(s.id, passId), "stage", s.name.take(80),
          s.start, s.end, Map("stage" -> s"${s.id}.${s.attempt}", "tasks" -> s.tasks.toString))
      }
      streams.values.foreach { st =>
        val id = newId()
        local += Span(id, phaseAt(st.start), "stream", st.id, st.start, math.max(st.lastEnd, st.start))
        st.spans.foreach { case (batch, a, b) =>
          local += Span(newId(), id, "batch", s"batch $batch", a, b)
        }
      }

      val jobIntervals = jobs.values.map(j => (j.start, if (j.end >= 0) j.end else passEnd)).toSeq
      val wall = queries.map(q => (q.end - q.start) / 1e6).sum
      out("queries.build_s") = queries.map(q => (q.buildEnd - q.start) / 1e6).sum
      out("queries.exec_s") = queries.map(q => (q.end - q.buildEnd) / 1e6).sum
      out("driver.gap_s") = queries.map(q =>
        Stats.selfTime(q.start, q.end, jobIntervals) / 1e6).sum
      moduleSecs.foreach { case (m, s) => out(s"$m.job_s") = s }
      out("spark.jobs") = jobs.size.toDouble
      Seq("spark.tasks", "spark.task_s", "spark.task_cpu_s", "spark.gc_s").foreach(k => out(k) = sums(k))
      out("spark.core_util") = Stats.coreUtil(sums("spark.task_s"), wall, cores)
      out("spark.straggler_s") = Stats.straggler(taskTimes.values.map(_.toSeq))
      Seq("spark.shuffle_bytes", "spark.spill_bytes").foreach(k => out(k) = sums(k))
      out("spark.storage_bytes") = storage.toDouble
      Seq("sources.input_bytes", "sources.input_rows").foreach(k => out(k) = sums(k))
      out("sources.rows_kept_frac") =
        if (sums("scan.rows") > 0) sums("scan.kept") / sums("scan.rows") else 1.0
      Seq("sources.files_read", "sources.bytes_written", "sources.files_written")
        .foreach(k => out(k) = sums(k))
      out("streaming.batches") = streams.values.map(_.batches).sum.toDouble
      out("streaming.batch_s") = streams.values.map(_.batchMs).sum / 1000.0
      out("streaming.wait_s") = streams.values.map { st =>
        math.max(0L, st.lastEnd - st.start) / 1e6 - st.batchMs / 1000.0
      }.map(math.max(0.0, _)).sum
      spans ++= local
      out.toMap
    }
  }

  /** Write every span as one JSON object per line, with its self time. */
  def write(path: java.nio.file.Path): Unit = synchronized {
    val children = spans.groupBy(_.parent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq
      val attrs = s.attrs.map { case (k, v) => s""","$k":${Json.str(v)}""" }.mkString
      w.write(s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":${Json.str(s.name)},""" +
        s""""start_us":${s.start},"end_us":${s.end},"self_us":${Stats.selfTime(s.start, s.end, kids)}$attrs}""")
      w.newLine()
    } finally w.close()
  }
}
