package graft

/** Driver-side parallel foreach for METADATA fan-out (footer reads,
  * per-leaf manifest stamps, claim files): serial per-leaf FS round-trips
  * are the classic driver bottleneck of wide partitioned tables — locally
  * each op is a few ms, on an object store tens — and none of them need an
  * executor. A bounded pool (≤16 threads) keeps the namenode/inode churn
  * polite; the first failure propagates after the batch drains, so callers
  * keep their existing exception contracts. NOT for Spark actions — jobs
  * already parallelize; this is for the work BETWEEN jobs (optimization
  * guide §2.6, applied to the metadata path). */
object Par {
  private val Threads = 16

  def each[A](items: Seq[A])(f: A => Unit): Unit = {
    if (items.size <= 1) { items.foreach(f); return }
    val n = math.min(Threads, items.size)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    try {
      val futures = items.map { a =>
        pool.submit(new Runnable {
          override def run(): Unit =
            try f(a)
            catch { case t: Throwable => failure.compareAndSet(null, t) }
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    val t = failure.get()
    if (t != null) throw t
  }
}
