package graft

import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory}

/** Run independent driver-side work side by side.
  *
  * A day of the JobInsight cycle over a few thousand rows is bound by
  * per-job latency (planning, scheduling, codegen), not by data, so the
  * Spark actions that do not depend on each other — the four dimension
  * merges, the six table publishes, the served views — finish sooner in
  * flight together than one after another; the scheduler interleaves
  * their tasks on the executor slots.
  */
object Concurrent {

  /** Run every thunk on its own thread and return their results in input
    * order. The pool is created per call and sized to `thunks`; its
    * threads are created by the calling thread, so they inherit its
    * inheritable thread locals — Spark's job-local properties (job
    * group, scheduler pool, a tracer's phase) and the active session.
    *
    * If a thunk fails, every other thunk still runs to its end; then the
    * first failure, in input order, is rethrown as the thunk's own
    * exception (not wrapped in an `ExecutionException`).
    */
  def all[T](thunks: Seq[() => T]): Seq[T] = {
    if (thunks.isEmpty) return Nil
    val pool = Executors.newFixedThreadPool(thunks.size, Daemons)
    try {
      val futures = thunks.map(t => pool.submit(new Callable[T] { def call(): T = t() }))
      val ended = futures.map { f =>
        try Right(f.get()) catch { case e: ExecutionException => Left(e.getCause) }
      }
      ended.collectFirst { case Left(e) => e }.foreach(e => throw e)
      ended.collect { case Right(r) => r }
    } finally pool.shutdown()
  }

  /** Daemon threads: a thunk stuck in Spark never keeps the JVM alive. */
  private object Daemons extends ThreadFactory {
    private val n = new java.util.concurrent.atomic.AtomicInteger()
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"graft-concurrent-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }
}
