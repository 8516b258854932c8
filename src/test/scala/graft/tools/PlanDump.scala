package graft.tools

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** Plan audit: run each declared face once through the noop sink (the
  * benchmark's consumer, so its plans are the benchmark's plans) and keep
  * every physical plan the face executes, setup statements included.
  *
  * Writes `<out>/<face>.txt` (the plans) and `<out>/exchanges.tsv`: one line
  * per face, its exchanges sorted, each with the first operator beneath it
  * that is not a projection, filter or row/columnar adapter; expression ids
  * and plan ids are stripped, so two commits' files `diff` cleanly.
  *
  * Usage: Test/runMain graft.tools.PlanDump <sfDir> <outDir> [name,substrings] */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val keep: String => Boolean = args.lift(2) match {
      case Some(pats) => n => pats.split(',').exists(n.contains)
      case None => _ => true
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val plans = ArrayBuffer.empty[String]
    spark.listenerManager.register(new QueryExecutionListener {
      private def add(qe: QueryExecution): Unit =
        plans.synchronized(plans += qe.executedPlan.toString)
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
    })
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    Files.createDirectories(Paths.get(outDir))
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).filter(q => keep(q._1)).map {
      case (name, fn) =>
        plans.synchronized(plans.clear())
        val status =
          try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); "ok" }
          catch { case e: Throwable => s"failed: ${e.getClass.getSimpleName}" }
        bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
        val text = plans.synchronized(plans.mkString("\n\n")).replaceAll("#\\d+", "#")
          .replaceAll("plan_id=\\d+", "plan_id=").replaceAll("\\[id=#\\]", "")
        Files.writeString(Paths.get(s"$outDir/$name.txt"), s"$status\n$text")
        s"$name\t$status\t${exchanges(text).sorted.mkString(" | ")}"
    }
    Files.writeString(Paths.get(s"$outDir/exchanges.tsv"), rows.mkString("", "\n", "\n"))
    graft.Session.clearScratch()
    spark.stop()
  }

  private val PassThrough =
    Set("Project", "Filter", "ColumnarToRow", "InputAdapter", "RowToColumnar")

  /** Each `Exchange` line of a plan dump with the first operator below it
    * that is not in [[PassThrough]] (the next lines hold its first child). */
  def exchanges(text: String): Seq[String] = {
    val lines = text.split('\n').map(l => l.replaceAll("^[\\s:+|-]*(\\*\\(\\d+\\) )?", ""))
    lines.indices.filter(i => lines(i).startsWith("Exchange ")).map { i =>
      val below = lines.drop(i + 1).map(_.split(' ').head.replaceAll("\\(\\d+\\)$", ""))
        .find(op => !PassThrough(op)).getOrElse("")
      s"${lines(i).replaceAll(", \\[plan_id=\\]", "")} <- $below"
    }
  }
}
