package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.{SparkEntry, Tables}
import graft.queries.Q

/** The benchmark's JVM. Modes:
  *
  *  - `run`: one closed-loop run of a workload with one client: a cold
  *    pass, the timed passes ([[Workload.passes]]), then an untimed check
  *    of the last pass's outputs. With `--trace 1` half the timed passes
  *    are traced, and the result carries per-layer metrics and spans.
  *  - `record`: the output digest of every face of a workload, required to
  *    be the same over two executions (`graft.Verify` makes the dump that
  *    proves the same outputs against the DuckDB oracle).
  *
  * Faces receive only `(spark, fixtureDir)`; the seed sets the face order
  * within each pass. The result is written as JSON to `--result`. */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupSamples = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = Workloads(args("workload"))
    val cores = args("cores").toInt
    val fixture = s"${args("fixtures")}/${workload.fixture}"
    val runDir = Paths.get(args("run-dir")).toAbsolutePath
    val result = Paths.get(args("result"))

    // The first set-up is timed from JVM start; the others stop the session
    // and build a new one. All happen before any face runs.
    val setups = mutable.ArrayBuffer.empty[Interval]
    var spark: SparkSession = null
    while (setups.size < SetupSamples) {
      val sinceJvmStart = if (spark == null) {
        (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
      } else { spark.stop(); 0.0 }
      val watch = Stopwatch.start()
      spark = session(cores, runDir)
      Tables.All.foreach(t => Tables.load(spark, fixture, t))
      val i = watch()
      setups += i.copy(wall = i.wall + sinceJvmStart)
    }

    val byName = SparkEntry.packs.map(q => q.name -> q).toMap
    val faces = workload.faces.map(n => byName.getOrElse(n, sys.error(s"no face named $n")))
    args.getOrElse("mode", "run") match {
      case "record" => record(spark, faces, fixture, result)
      case "run" =>
        val out = new Run(spark, cores, faces, fixture, args("seed").toLong,
          workload.passes(args("seconds").toDouble), args("trace") == "1", runDir)
          .go(Json.read(Paths.get(args("expected"))).get(workload.name))
        Json.write(result, out ++ Map("setup_s" -> Stats.median(setups.map(_.seconds).toSeq),
          "setup_wall_s" -> setups.map(_.wall), "setup_steal" -> setups.map(_.stealShare)))
      case m => sys.error(s"unknown mode $m")
    }
    graft.Session.clearScratch()
    spark.stop()
  }

  /** The session a user of the program would open: `local[cores]`, one
    * shuffle partition per core, the graft extensions; warehouse and
    * scratch inside the run's own directory. */
  def session(cores: Int, runDir: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.local.dir", runDir.resolve("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Order-insensitive output digest: the row count and the sum of a 64-bit
    * hash over every column of every row. */
  def digest(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  private def record(spark: SparkSession, faces: Seq[Q], fixture: String, result: Path): Unit = {
    val digests = faces.map { q =>
      val twice = Seq.fill(2)(digest(q.fn(spark, fixture))).distinct
      require(twice.size == 1, s"${q.name}: digest differs between two executions: $twice")
      q.name -> twice.head
    }
    Json.write(result, Map("digests" -> digests.toMap, "fixture" -> fixture))
  }
}

/** One pass: its time, each successful face's latency and result, whether
  * every face succeeded, and (traced) its per-layer metrics. */
private final case class Pass(time: Interval, latencies: Seq[(String, Interval)], ok: Boolean,
                              layers: Map[String, Double], outputs: Map[String, DataFrame]) {
  def seconds: Double = time.seconds
}

/** One run of a workload in a live session. */
final class Run(spark: SparkSession, cores: Int, faces: Seq[Q], fixture: String, seed: Long,
                passes: Int, traced: Boolean, runDir: Path) {
  private var attempted = 0
  private val failures = mutable.ArrayBuffer.empty[String]
  private val tracer = if (traced) Some(new Tracer(spark, cores)) else None

  private def order(pass: Int): Seq[Q] = new Random(seed * 1000003L + pass).shuffle(faces)

  private def fail(q: Q, what: String, e: Throwable): Unit =
    failures += s"${q.name}: $what ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"

  /** Build and materialize every face once, through the noop sink so every
    * column of every row is computed. A face that throws is a failure and
    * contributes no timing; a pass with a failure has no pass time. */
  private[perfbench] def pass(index: Int, trace: Boolean): Pass = {
    val tr = tracer.filter(_ => trace)
    tr.foreach(_.begin())
    val spans = mutable.ArrayBuffer.empty[QuerySpan]
    val lat = mutable.ArrayBuffer.empty[(String, Interval)]
    val outputs = mutable.Map.empty[String, DataFrame]
    var ok = true
    val passWatch = Stopwatch.start()
    val p0us = Clock.nowUs
    order(index).foreach { q =>
      attempted += 1
      val watch = Stopwatch.start()
      val s0 = Clock.nowUs
      try {
        val df = q.fn(spark, fixture)
        val s1 = Clock.nowUs
        df.write.mode("overwrite").format("noop").save()
        lat += q.name -> watch()
        outputs(q.name) = df
        val s2 = Clock.nowUs
        tr.foreach(t => spans += QuerySpan(t.newId(), q.name, s0, s1, s2,
          Tracer.planModules(df.queryExecution.logical)))
      } catch {
        case e: Throwable => ok = false; fail(q, "run", e)
      }
    }
    val time = passWatch()
    val layers = tr.map(_.end(s"pass $index", p0us, Clock.nowUs, spans.toSeq)).getOrElse(Map.empty)
    Pass(time, lat.toSeq, ok, layers, outputs.toMap)
  }

  def go(expected: JsonNode): Map[String, Any] = {
    // Whole-stage codegen compiles in the cold pass: what a fresh JVM pays
    // before its generated code is cached.
    val compiles0 = Tracer.codegenCompiles
    val cold = pass(0, trace = false)
    val coldCompiles = Tracer.codegenCompiles - compiles0
    // Traced runs trace passes 2, 3, 6, 7, ...: untraced and traced passes in
    // ABBA order, so the drift of a warming session cancels in the overhead.
    val timed = (1 to passes).map(i => pass(i, trace = traced && (i % 4 == 2 || i % 4 == 3)))
    val rssMb = peakRssMb()
    val checkWatch = Stopwatch.start()
    check(expected, timed.last.outputs)
    val checkS = checkWatch().wall

    val (tracedPasses, plain) = timed.partition(_.layers.nonEmpty)
    val passTimes = plain.filter(_.ok).map(_.seconds)
    // Every timed execution: the cold pass's and the untraced passes'.
    val lat = (cold +: plain).flatMap(_.latencies).map { case (k, i) => k -> i.seconds }
    def median(xs: Seq[Double]) = if (xs.isEmpty) None else Some(Stats.median(xs))
    val out = mutable.LinkedHashMap[String, Any](
      "attempted" -> attempted, "failed" -> failures.size, "failures" -> failures.toSeq,
      "passes" -> plain.size,
      "cold_pass_s" -> Some(cold.seconds).filter(_ => cold.ok),
      "pass_s" -> median(passTimes),
      "query_p50_s" -> median(lat.map(_._2)),
      "query_n" -> lat.size,
      "peak_rss_mb" -> rssMb,
      "check_s" -> checkS,
      "pass_times_s" -> passTimes,
      "pass_wall_s" -> (cold +: timed).map(_.time.wall),
      "pass_steal" -> (cold +: timed).map(_.time.stealShare),
      "face_median_s" -> plain.flatMap(_.latencies).groupBy(_._1)
        .map { case (k, v) => k -> Stats.median(v.map(_._2.seconds)) },
      "cold_face_s" -> cold.latencies.map { case (k, i) => k -> i.seconds }.toMap,
      "pass_latencies_s" -> (cold +: timed).map(_.latencies.map { case (k, i) => k -> i.seconds }.toMap))
    Stats.tail(lat.map(_._2)).foreach { case (p, v) =>
      out("query_tail_s") = v
      out("query_tail_pct") = p
    }
    tracer.foreach { t =>
      t.write(runDir.resolve("spans.jsonl"))
      val layers = tracedPasses.head.layers.keys.map(k => k -> Stats.median(tracedPasses.map(_.layers(k))))
      val overhead = for (tr <- median(tracedPasses.filter(_.ok).map(_.seconds)); un <- median(passTimes))
        yield "trace.overhead" -> tr / un
      out("per_layer") = (layers ++ overhead).toMap + ("spark.codegen_compiles" -> coldCompiles.toDouble)
    }
    out.toMap
  }

  /** The untimed output check: the digest of every face's result from the
    * last timed pass (a fresh execution where that one failed) against the
    * recorded one. A mismatch or a throw is a failed execution. */
  private def check(expected: JsonNode, outputs: Map[String, DataFrame]): Unit =
    order(-1).foreach { q =>
      attempted += 1
      val want = Option(expected).flatMap(e => Option(e.get(q.name))).map(_.asText)
      try {
        val got = Main.digest(outputs.getOrElse(q.name, q.fn(spark, fixture)))
        if (!want.contains(got)) failures += s"${q.name}: digest $got, expected ${want.getOrElse("none recorded")}"
      } catch {
        case e: Throwable => fail(q, "check", e)
      }
    }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}


