package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private val dedupSite =
    """org.apache.spark.sql.Dataset.collect(Dataset.scala:3400)
      |graft.operators.Dedup$.minhashLsh(Dedup.scala:210)
      |graft.queries.PipelineQueries$.$anonfun$all$31(PipelineQueries.scala:409)
      |perfbench.Run.$anonfun$pass$2(Main.scala:120)""".stripMargin
  private val aqeSite =
    """java.base/java.util.concurrent.CompletableFuture$AsyncSupply.run(CompletableFuture.java:1768)
      |java.base/java.util.concurrent.ThreadPoolExecutor.runWorker(ThreadPoolExecutor.java:1136)""".stripMargin
  private val sinkSite =
    """org.apache.spark.sql.DataFrameWriter.save(DataFrameWriter.scala:250)
      |perfbench.Run.$anonfun$pass$2(Main.scala:124)""".stripMargin

  test("a job is charged to the innermost program frame of its call site") {
    assert(Stats.moduleOf(dedupSite).contains("operators"))
    assert(Stats.attribute(dedupSite, None, None, streamingQuery = false) == Map("operators" -> 1.0))
    val catalog = "org.apache.spark.sql.Dataset.count(Dataset.scala:1)\n" +
      "graft.sources.WorkspaceDml$.publish(WorkspaceDml.scala:77)\n" +
      "graft.operators.Sinks$.write(Sinks.scala:12)"
    assert(Stats.attribute(catalog, None, None, streamingQuery = false) == Map("sources" -> 1.0))
  }

  test("top-level graft objects are the core module; benchmark frames are not program frames") {
    assert(Stats.moduleOf("graft.Tables$.load(Tables.scala:40)").contains("core"))
    assert(Stats.moduleOf(sinkSite).isEmpty)
    assert(Stats.moduleOf("graftish.Other.f(Other.scala:1)").isEmpty)
  }

  test("AQE stage jobs (CompletableFuture call site) go through their SQL execution") {
    assert(Stats.moduleOf(aqeSite).isEmpty)
    assert(Stats.attribute(aqeSite, Some(dedupSite), None, streamingQuery = false) == Map("operators" -> 1.0))
    // a nested execution with no program frame falls back to its root execution
    assert(Stats.attribute(aqeSite, Some(aqeSite), Some(dedupSite), streamingQuery = false) ==
      Map("operators" -> 1.0))
  }

  test("micro-batch jobs without a program frame are streaming") {
    assert(Stats.attribute(aqeSite, None, None, streamingQuery = true) == Map("streaming" -> 1.0))
  }

  test("sink-launched jobs are split over the modules that built the face's plan") {
    val plan = Map("operators" -> 30, "queries" -> 10)
    assert(Stats.attribute(sinkSite, Some(sinkSite), None, streamingQuery = false, plan) ==
      Map("operators" -> 0.75, "queries" -> 0.25))
    assert(Stats.attribute(aqeSite, Some(sinkSite), None, streamingQuery = false, plan) ==
      Map("operators" -> 0.75, "queries" -> 0.25))
    // an action inside the program still wins over the plan
    assert(Stats.attribute(dedupSite, Some(dedupSite), None, streamingQuery = false, Map("queries" -> 5)) ==
      Map("operators" -> 1.0))
    // a plan with no program-built expression is the face's own
    assert(Stats.attribute(sinkSite, Some(sinkSite), None, streamingQuery = false) == Map("queries" -> 1.0))
  }

  test("query_tail_s: the highest percentile with at least ten samples beyond it") {
    def xs(n: Int) = (1 to n).map(_.toDouble)
    def beyond(n: Int) = Stats.tail(xs(n)).map { case (_, v) => xs(n).count(_ > v) }
    assert(Stats.tail(xs(19)).isEmpty)
    assert(Stats.tail(xs(20)).map(_._1).contains(50.0))
    assert(Stats.tail(xs(24)).map(_._1).exists(p => math.abs(p - 58.333) < 1e-3))
    assert(Stats.tail(xs(40)).map(_._1).contains(75.0))
    assert(Stats.tail(xs(100)).map(_._1).contains(90.0))
    assert(Stats.tail(xs(1000)).map(_._1).contains(99.0))
    Seq(20, 24, 33, 40, 57, 100, 1000).foreach(n => assert(beyond(n).contains(10), s"n=$n"))
    // linear interpolation between closest ranks: p75 of 1..40 = 30.25
    assert(Stats.tail(xs(40)).map(_._2).contains(30.25))
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("self time subtracts the union of child intervals clipped to the span") {
    assert(Stats.selfTime(0, 100, Nil) == 100)
    assert(Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 40L), (60L, 70L))) == 60)
    // children reaching outside the parent count only inside it
    assert(Stats.selfTime(10, 50, Seq((0L, 20L), (45L, 90L))) == 25)
    assert(Stats.selfTime(0, 100, Seq((0L, 100L), (10L, 20L))) == 0)
  }

  test("core utilisation is task time over wall time times cores") {
    assert(Stats.coreUtil(8.0, 4.0, 4) == 0.5)
    assert(Stats.coreUtil(10.0, 2.5, 4) == 1.0)
    assert(Stats.coreUtil(1.0, 0.0, 4) == 0.0)
  }

  test("straggler time sums each stage's slowest task minus its mean task") {
    // one busy task among four (a single-row-group scan): 10 - 2.875
    assert(Stats.straggler(Seq(Seq(10.0, 0.5, 0.5, 0.5))) == 7.125)
    assert(Stats.straggler(Seq(Seq(1.0, 1.0), Seq(3.0, 1.0), Nil)) == 1.0)
  }

  test("a window loses the process's share of the stolen time, never more than its stolen share") {
    val tick = 10L
    assert(Stats.stealShare(0, 400) == 0.0)
    assert(Stats.stealShare(100, 300) == 0.25)
    assert(Stats.stealShare(0, 0) == 0.0)
    // the process busy on 4 CPUs throughout: 30 of 40 demanded ticks ran,
    // a quarter was stolen, the window loses a quarter of its length
    assert(Stats.stolenInWindow(100, 10, 30, 30, tick) == 25.0)
    // serial work throughout: 7.5 ticks ran, 2.5 were stolen
    assert(Stats.stolenInWindow(100, 10, 30, 7, tick) == 70.0 * 10 / 30)
    // serial work a fifth of the window, on a machine stealing half
    assert(Stats.stolenInWindow(100, 1, 1, 1, tick) == 10.0)
    // the process did not run: nothing lost, however much was stolen
    assert(Stats.stolenInWindow(100, 10, 30, 0, tick) == 0.0)
    assert(Stats.stolenInWindow(100, 0, 0, 0, tick) == 0.0)
  }

  test("an idle interval is not shrunk by steal, before, after or during it") {
    // (stolen, busy, own) ticks and the clock, advanced by hand
    var ticks = Ticks(0L, 0L, 0L)
    var now = 0L
    val meter = new StealMeter(() => ticks, () => now)
    val ms = 1000000L
    def window(stolen: Long, busy: Long, own: Long): Double = {
      now += 100 * ms
      ticks = Ticks(ticks.stolen + stolen, ticks.busy + busy, ticks.own + own)
      meter.stolenSeconds()
    }
    val busyStolen = window(10, 30, 30) // 4 CPUs busy, a quarter stolen
    assert(math.abs(busyStolen - 0.025) < 1e-12)
    val idle0 = meter.stolenSeconds()
    window(0, 0, 0); window(0, 0, 0)
    // the process waits while other processes run and lose CPU to steal
    window(10, 30, 0); window(20, 20, 0)
    assert(meter.stolenSeconds() == idle0)
    // one CPU busy a fifth of the window, half of it stolen: the window loses
    // the 10 ms of CPU time that was stolen, not half its length
    val after = window(1, 1, 1)
    assert(math.abs(after - idle0 - 0.01) < 1e-12)
    // an interval's net time is its wall time less what was stolen in it
    assert(Interval(0.3, 0.0).seconds == 0.3)
    assert(math.abs(Interval(0.4, 0.1).seconds - 0.3) < 1e-12)
  }
}
