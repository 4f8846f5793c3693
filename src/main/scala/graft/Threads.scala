package graft

/** Driver-side job overlap (optimization guide §2.6): Spark happily
  * runs several jobs at once inside one application — actions are
  * only sequential because driver code calls them sequentially.
  * Pipelines that run a handful of INDEPENDENT bounded actions
  * (per-table writes, key collects, read-back counts) submit them
  * from a small pool so the next job's tasks back-fill executors
  * freed by the current job's tail; at local bench scale this
  * collapses the per-job scheduling floor, at cluster scale it fills
  * stragglers' idle capacity. FIFO scheduling (the default) gives
  * exactly the back-fill behaviour. */
private[graft] object Threads {
  /** Run the thunks on up to `width` threads and return their results
    * in order. The first thunk to fail (in completion order) wins: its
    * own exception is rethrown — not the pool's `ExecutionException`
    * wrapper — after the thunks still queued or running are cancelled:
    * queued ones never start, running ones are interrupted. */
  def inParallel[T](work: Seq[() => T], width: Int = 4): Seq[T] = {
    if (work.size <= 1) work.map(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(width, work.size))
      val done = new java.util.concurrent.ExecutorCompletionService[T](pool)
      try {
        val futs = work.map(w => done.submit(
          new java.util.concurrent.Callable[T] { def call(): T = w() }))
        futs.foreach { _ =>
          try done.take().get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              futs.foreach(_.cancel(true))
              throw e.getCause
          }
        }
        futs.map(_.get())
      } finally pool.shutdownNow()
    }
  }

  /** Run `other` on a new thread while this thread runs `here`, and
    * return `here`'s result once both have ended. Neither is cancelled
    * when the other fails: each runs to its end, then `other`'s failure
    * is rethrown if it failed (with `here`'s suppressed), else `here`'s.
    * The caller's thread keeps its own work, so a thread-CPU account of
    * the caller sees exactly what it saw when the two ran in turn. */
  def alongside[T](other: () => Unit)(here: => T): T = {
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val fut = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = other()
      })
      val mine = try Right(here) catch { case e: Throwable => Left(e) }
      val theirs =
        try { fut.get(); None }
        catch { case e: java.util.concurrent.ExecutionException => Some(e.getCause) }
      (theirs, mine) match {
        case (Some(e), m) => m.left.foreach(e.addSuppressed); throw e
        case (None, Left(e)) => throw e
        case (None, Right(t)) => t
      }
    } finally pool.shutdown()
  }
}
