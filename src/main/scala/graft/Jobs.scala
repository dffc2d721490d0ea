package graft

/** Run independent Spark actions concurrently from the driver.
  *
  * Spark's scheduler happily runs several jobs at once inside one
  * application; actions are only sequential because driver code calls
  * them sequentially. Overlapping independent actions lets one job's
  * task tail back-fill with the next job's tasks (FIFO scheduling gives
  * exactly that behavior), which matters most for sequences of small
  * store writes whose per-job scheduling overhead otherwise adds up.
  * Failures propagate like a sequential loop (the first failed task's
  * exception is rethrown).
  *
  * Execution runs on a DEDICATED bounded daemon pool per call, not on
  * `ExecutionContext.global`: the global fork-join pool is shared and
  * sized to the host's cores, so blocking Spark actions submitted there
  * silently cap concurrency at the core count and can starve unrelated
  * users of the pool (including a nested mapConcurrently). A private
  * fixed pool of min(tasks, MaxInFlight) threads makes the concurrency
  * explicit and isolates failures. Nesting is safe (each call owns its
  * threads) but pointless — the scheduler is already fed; keep fan-out
  * at one level.
  *
  * Failure semantics: ALL in-flight siblings are awaited before the
  * first failure propagates — a caller tearing down shared state after
  * catching (e.g. [[CacheScope.withScope]] unpersisting frames) must
  * never race a sibling job that is still reading those frames. An
  * interrupt of the calling thread keeps the same promise: the siblings
  * are interrupted, awaited until every pool thread has exited, and the
  * caller's interrupt flag is restored before the
  * `InterruptedException` propagates.
  */
object Jobs {

  /** Upper bound on concurrently running tasks per call. A handful of
    * in-flight jobs is enough to back-fill executor tails (guide §2.6);
    * more just contend for the same task slots. */
  private val MaxInFlight = 8

  def mapConcurrently[A](tasks: Seq[() => A]): Seq[A] = {
    if (tasks.isEmpty) Nil
    else if (tasks.size == 1) Seq(tasks.head())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(tasks.size, MaxInFlight),
        new java.util.concurrent.ThreadFactory {
          private val n = new java.util.concurrent.atomic.AtomicInteger(0)
          def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-jobs-${n.incrementAndGet()}")
            t.setDaemon(true)
            t
          }
        })
      try {
        val futures = tasks.map(t => pool.submit(
          new java.util.concurrent.Callable[A] { def call(): A = t() }))
        // await EVERY task (success or failure) before propagating, so no
        // sibling is still running when the caller unwinds. Try does not
        // catch InterruptedException (not NonFatal): an interrupted caller
        // cancels the siblings and waits for them to stop instead
        val results =
          try futures.map(f => scala.util.Try(f.get()))
          catch {
            case e: InterruptedException =>
              cancelAndAwait(pool)
              Thread.currentThread().interrupt()
              throw e
          }
        results.collectFirst {
          case scala.util.Failure(e: java.util.concurrent.ExecutionException) =>
            throw e.getCause
          case scala.util.Failure(e) => throw e
        }
        results.map(_.get)
      } finally {
        pool.shutdown()
        ()
      }
    }
  }

  /** Interrupt every running task and block until all pool threads have
    * exited. Interrupts arriving while waiting are deferred, not lost: the
    * caller re-raises the flag once the pool is down. */
  private def cancelAndAwait(pool: java.util.concurrent.ExecutorService): Unit = {
    pool.shutdownNow()
    var done = false
    while (!done) {
      try done = pool.awaitTermination(Long.MaxValue, java.util.concurrent.TimeUnit.NANOSECONDS)
      catch { case _: InterruptedException => () }
    }
  }

  def runConcurrently(tasks: Seq[() => Unit]): Unit = {
    mapConcurrently(tasks)
    ()
  }
}
