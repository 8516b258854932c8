package perfbench

/** The arithmetic behind the reported metrics, kept free of Spark so the
  * benchmark's tests can pin it down. */
object Stats {

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** Linear interpolation between closest ranks (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile with at least `minBeyond` samples beyond it,
    * `100 * (1 - minBeyond / n)`, and its value; None below the median
    * (fewer than `2 * minBeyond` samples). */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[(Double, Double)] = {
    val p = 100.0 * (1.0 - minBeyond.toDouble / xs.size)
    if (xs.size < 2 * minBeyond) None else Some(p -> percentile(xs, p))
  }

  /** Share of the demanded CPU time that was stolen. */
  def stealShare(stolenTicks: Long, busyTicks: Long): Double =
    if (stolenTicks <= 0 || stolenTicks + busyTicks <= 0) 0.0
    else stolenTicks.toDouble / (stolenTicks + busyTicks)

  /** Wall time (ns) the benchmark's process lost to steal in a window of
    * `windowNs`, from the machine's stolen and busy CPU ticks in it and the
    * process's own CPU ticks (`tickNs` each). A tick the hypervisor takes is
    * counted as steal, not as busy, so CPU time the process got stood beside
    * `stolen / busy` as much stolen time: for serial work that is the wall
    * time lost. Parallel work loses at most the window's stolen share of its
    * length. A window in which the process did not run (a trigger wait, a
    * sleep, I/O) loses nothing, however busy the rest of the machine was. */
  def stolenInWindow(windowNs: Long, stolenTicks: Long, busyTicks: Long, ownTicks: Long,
                     tickNs: Long): Double =
    if (busyTicks <= 0 || stolenTicks <= 0 || ownTicks <= 0) 0.0
    else math.min(windowNs * stealShare(stolenTicks, busyTicks),
      ownTicks.toDouble * tickNs * stolenTicks / busyTicks)

  /** Length of the union of `intervals` clipped to `[lo, hi]`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part its children cover. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - covered(children, start, end)

  /** Busy share of the cores over a wall-clock window. */
  def coreUtil(taskSeconds: Double, wallSeconds: Double, cores: Int): Double =
    if (wallSeconds <= 0) 0.0 else taskSeconds / (wallSeconds * cores)

  /** Sum over stages of (slowest task − mean task): the time a stage waited
    * on its stragglers. */
  def straggler(stageTaskSeconds: Iterable[Seq[Double]]): Double =
    stageTaskSeconds.filter(_.nonEmpty).map(t => t.max - t.sum / t.size).sum

  /** Program modules a Spark job can be charged to; `core` is the top-level
    * `graft` package (Tables, Session, Api). */
  private val Frame = """^\s*(?:at\s+)?graft\.(?:(sources|operators|streaming|queries|functions|compat|tools)\.)?[\w$]+[.(].*""".r

  /** The module of the innermost program frame in a long-form call site. */
  def moduleOf(callSite: String): Option[String] =
    Option(callSite).iterator.flatMap(_.linesIterator).collectFirst {
      case Frame(m) => Option(m).getOrElse("core")
    }

  /** Charge a job to modules, as shares that sum to 1. A program frame in
    * the job's own call site wins: a face or an operator ran an action.
    * Jobs that AQE submits from its stage-materialization pool carry a call
    * site inside `CompletableFuture`, so they fall back to the call site of
    * their SQL execution, then of the root execution. Micro-batch jobs run
    * on a streaming thread with no program frame: they are `streaming`.
    * What is left was launched by the benchmark's sink on the lazy plan a
    * face returned, and is split over the modules whose code built that
    * plan, in proportion to the expressions each built (`planModules`,
    * counted from the expressions' origins); a plan with no program-built
    * expression is the face's own, `queries`. */
  def attribute(jobSite: String, executionSite: Option[String], rootSite: Option[String],
                streamingQuery: Boolean, planModules: Map[String, Int] = Map.empty): Map[String, Double] =
    moduleOf(jobSite)
      .orElse(executionSite.flatMap(moduleOf))
      .orElse(rootSite.flatMap(moduleOf))
      .orElse(if (streamingQuery) Some("streaming") else None) match {
      case Some(m) => Map(m -> 1.0)
      case None =>
        val built = planModules.filter(_._2 > 0)
        val n = built.values.sum.toDouble
        if (n == 0) Map("queries" -> 1.0) else built.map { case (m, c) => m -> c / n }
    }
}
