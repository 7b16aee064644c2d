package graft

/** Overlap INDEPENDENT Spark actions from driver threads (guide §2.6:
  * actions are only sequential because the driver calls them
  * sequentially; concurrent jobs back-fill each other's stragglers and
  * overlap their commit latency). Used by the index stores to write
  * unrelated components (nodes/edges/centroids/seeds) as concurrent
  * jobs instead of a serial chain of commit waits — the write ORDER
  * only matters for the commit point (meta/), which callers still
  * write strictly after the group completes. */
object Concurrent {

  /** Run every thunk on its own thread and join them ALL before
    * returning or throwing: a failed component write can never be
    * masked by a later successful one, and no writer thread outlives
    * the call. The first failure is thrown with every other failure
    * attached as suppressed. The joins are uninterruptible: an
    * interrupt of the calling thread is re-asserted after the joins,
    * not acted on while writers are still running. */
  def awaitAll(thunks: Seq[() => Unit]): Unit = {
    if (thunks.size <= 1) { thunks.foreach(_()); return }
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = thunks.map { t =>
      val th = new Thread(() =>
        try t() catch { case e: Throwable => errs.add(e); () })
      th.setDaemon(true)
      th.start()
      th
    }
    var interrupted = false
    ts.foreach { th =>
      while (th.isAlive)
        try th.join() catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
    if (!errs.isEmpty) {
      val first = errs.poll()
      errs.forEach(e => if (e ne first) first.addSuppressed(e))
      throw first
    }
  }
}
