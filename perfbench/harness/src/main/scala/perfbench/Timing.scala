package perfbench

import java.nio.file.{Files, Paths}

/** The clock harness spans share with Spark's event times (epoch ms). */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
}

/** A timed interval: its wall time and the part of it the hypervisor took
  * from the process ([[StealMeter]]). */
final case class Interval(wall: Double, stolen: Double) {
  /** Wall time less the stolen time: what the interval would have taken
    * had the host not taken the CPUs away. Equal to `wall` on an
    * uncontended host, and for any part of the interval in which the
    * process did not run. */
  def seconds: Double = wall - stolen
  def stealShare: Double = if (wall > 0) stolen / wall else 0.0
}

/** CPU tick counters: the machine's stolen and busy ticks since boot,
  * summed over its CPUs, and the ticks the benchmark process has run. */
final case class Ticks(stolen: Long, busy: Long, own: Long)

/** Accumulates the wall time the process lost to CPU steal, one window at
  * a time ([[Stats.stolenInWindow]]). A window ends at every reading; a
  * sampler reads every [[StealMeter.WindowMs]] so that idle and busy
  * stretches fall into different windows. */
final class StealMeter(ticks: () => Ticks, nanos: () => Long) {
  private var last = ticks()
  private var lastNs = nanos()
  private var stolenNs = 0.0

  /** Stolen wall time since the meter was made, in seconds. */
  def stolenSeconds(): Double = synchronized {
    val now = nanos()
    val t = ticks()
    stolenNs += Stats.stolenInWindow(now - lastNs, t.stolen - last.stolen, t.busy - last.busy,
      t.own - last.own, StealMeter.TickNs)
    last = t
    lastNs = now
    stolenNs / 1e9
  }
}

object StealMeter {
  val WindowMs = 50L
  /** /proc/stat and /proc/self/stat count in USER_HZ ticks, 100 a second
    * on Linux. */
  val TickNs = 10000000L

  /** The machine's stolen and busy ticks from the first line of
    * /proc/stat, and this process's user and system ticks from
    * /proc/self/stat; zeros where they are not available. */
  def procTicks(): Ticks = {
    val stat = Paths.get("/proc/stat")
    val self = Paths.get("/proc/self/stat")
    if (!Files.isReadable(stat) || !Files.isReadable(self)) Ticks(0L, 0L, 0L)
    else {
      val f = Files.readAllLines(stat).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      // after the command name: state ppid ... utime (14th field) stime (15th)
      val line = new String(Files.readAllBytes(self))
      val p = line.substring(line.lastIndexOf(')') + 2).trim.split("\\s+")
      // user nice system idle iowait irq softirq steal ...
      Ticks(f(7), f(0) + f(1) + f(2) + f(5) + f(6), p(11).toLong + p(12).toLong)
    }
  }

  /** The process's meter, with a daemon thread closing a window every
    * [[WindowMs]]. */
  lazy val process: StealMeter = {
    val m = new StealMeter(() => procTicks(), () => System.nanoTime())
    val sampler = new Thread(() => while (true) { Thread.sleep(WindowMs); m.stolenSeconds() },
      "perfbench-steal-meter")
    sampler.setDaemon(true)
    sampler.start()
    m
  }
}

/** Times intervals by wall clock, net of CPU steal. On a shared virtual
  * machine the hypervisor takes CPU away in bursts (this benchmark measured
  * 10-40 % of the demanded CPU time stolen for minutes at a time), which
  * stretches whatever runs meanwhile. Every reported time has the stolen
  * time taken out, so runs on a busy host stay comparable with runs on a
  * quiet one; the raw wall times and steal shares go into the run's result
  * file alongside. */
object Stopwatch {
  def start(meter: StealMeter = StealMeter.process): () => Interval = {
    val s0 = meter.stolenSeconds()
    val t0 = System.nanoTime()
    () => {
      val wall = (System.nanoTime() - t0) / 1e9
      Interval(wall, math.min(wall, meter.stolenSeconds() - s0))
    }
  }
}
