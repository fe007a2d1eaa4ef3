package graft

import java.util.concurrent.{Callable, ExecutionException, ExecutorService, Executors, Future => JFuture, TimeUnit}

/**
 * Driver-side overlap of INDEPENDENT Spark actions (optimization guide
 * §2.6 "Overlap independent jobs"): Spark's scheduler happily runs
 * several jobs at once inside one application — actions are only
 * sequential because driver code calls them sequentially. Submitting
 * independent actions from a small pool lets one job's tasks back-fill
 * executors freed by another job's tail, and — the dominant effect at
 * bench scale — overlaps their fixed per-job scheduling floors
 * (wall ≈ max(job) instead of sum(job)).
 *
 * Scope: LIBRARY-INTERNAL, for probe/materialization actions that are
 * provably independent (no shared mutable driver state; each thunk
 * drives its own DataFrame/RDD action). Spark's SparkContext is
 * thread-safe for concurrent job submission; job groups/descriptions
 * are thread-local (pool threads inherit the submitter's at creation,
 * and [[withJobGroup]] scopes an explicit group inside the thunk).
 *
 * FIFO scheduling (the default) gives exactly the back-fill behaviour
 * wanted here — no FAIR-scheduler requirement.
 */
private[graft] object Overlap {

  /** Run the thunks concurrently (one pool thread each), await ALL, and
    * return results in order. The first failure is rethrown (unwrapped
    * from ExecutionException) after every thunk has settled — no thunk
    * is left running when this returns, so callers may release resources
    * the thunks read. Single-thunk and empty inputs run inline. */
  def inParallel[T](thunks: Seq[() => T]): Seq[T] = {
    if (thunks.lengthCompare(2) < 0) return thunks.map(_())
    val pool = Executors.newFixedThreadPool(thunks.size)
    try {
      val futs = thunks.map(t => pool.submit(new Callable[T] {
        override def call(): T = t()
      }))
      // settle ALL before rethrowing: a caller's finally may unpersist
      // blocks a still-running sibling is scanning
      val results = futs.map(f => try Right(f.get())
        catch { case e: Throwable => Left(e) })
      results.collectFirst { case Left(e) => e }.foreach(e => throw unwrap(e))
      results.collect { case Right(r) => r }
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(10, TimeUnit.SECONDS)
      ()
    }
  }

  /** Two-action convenience over [[inParallel]]. */
  def both[A, B](a: () => A, b: () => B): (A, B) = {
    val rs = inParallel[Any](Seq(a.asInstanceOf[() => Any], b.asInstanceOf[() => Any]))
    (rs(0).asInstanceOf[A], rs(1).asInstanceOf[B])
  }

  private def unwrap(e: Throwable): Throwable = e match {
    case ee: ExecutionException if ee.getCause != null => ee.getCause
    case other => other
  }

  /** A cancellable probe pool: submit actions tagged with one shared job
    * group so a short-circuiting caller can abort every still-running
    * probe job ([[cancel]]) the moment their results become irrelevant —
    * the overlap counterpart of the sequential code's "don't run probes
    * the first one makes moot". Wasted work on the short-circuit path is
    * bounded by the FASTEST probe's latency instead of zero; the win is
    * that the non-short-circuit path (the common one) pays
    * wall ≈ max(probe) instead of sum(probe). Always [[close]] in a
    * `finally`. */
  final class ProbeGroup(sc: org.apache.spark.SparkContext, desc: String) {
    private val tag = s"graft-probe-${java.util.UUID.randomUUID}"
    private val pool: ExecutorService = Executors.newCachedThreadPool()
    private val running = new java.util.concurrent.atomic.AtomicInteger(0)

    def submit[T](what: String)(body: => T): JFuture[T] =
      pool.submit(new Callable[T] {
        override def call(): T = {
          // thread-local: scopes this probe's jobs under the shared
          // cancellable group without touching the caller's properties
          sc.setJobGroup(tag, s"$desc: $what", interruptOnCancel = true)
          running.incrementAndGet()
          try body finally { running.decrementAndGet(); sc.clearJobGroup() }
        }
      })

    /** Await a probe result, rethrowing its failure unwrapped. */
    def get[T](f: JFuture[T]): T =
      try f.get() catch { case e: Throwable => throw unwrap(e) }

    /** Abort every probe job still running under the group. A no-op
      * once every probe has returned: there is no job left to cancel,
      * and Spark logs a WARN for each cancel of an idle group. */
    def cancel(): Unit = if (running.get > 0) sc.cancelJobGroup(tag)

    def close(): Unit = {
      pool.shutdownNow()
      pool.awaitTermination(10, TimeUnit.SECONDS)
      ()
    }
  }
}
