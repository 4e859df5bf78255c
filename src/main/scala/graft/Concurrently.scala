package graft

import java.util.concurrent.{Callable, ExecutionException, Executors}

/** Overlap INDEPENDENT driver-blocking work — an index build's table
  * writes, the two legs of a hybrid index, PQ subspace trainers. On
  * small batches the cost of each Spark job is its fixed per-job
  * overhead, not its data, so running such jobs serially pays that
  * overhead back-to-back; the threads here only block on Spark actions
  * whose tasks the scheduler interleaves.
  *
  * One JVM-wide CACHED daemon pool backs every call. It is unbounded on
  * purpose: fan-outs nest (saveIvfPqIndex overlaps coarse training with
  * pqCodebooks' m trainers; the CDC legs overlap the BM25 segment
  * writes), and a bounded pool could starve an outer call's threads
  * waiting on inner ones. Idle threads die after a minute. Callers whose
  * thunk count grows with the input bound their own window instead (see
  * sinks.Compact.compactPartitioned). */
object Concurrently {

  private lazy val pool = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-concurrently")
    t.setDaemon(true)
    t
  }

  /** Run `thunks` concurrently — the first on the calling thread, the
    * rest on the shared pool — and return their results in input order.
    * A failure never abandons a sibling: every thunk finishes before
    * this returns or throws, and the first failure in input order is
    * rethrown with the others added as suppressed. */
  def all[T](thunks: Seq[() => T]): Seq[T] =
    if (thunks.length <= 1) thunks.map(_())
    else {
      val rest = thunks.tail.map(th => pool.submit(new Callable[T] {
        def call(): T = th()
      }))
      val outcomes: Seq[Either[Throwable, T]] =
        attempt(thunks.head()) +: rest.map(f => attempt(
          try f.get()
          catch { case e: ExecutionException => throw e.getCause }))
      outcomes.collect { case Left(e) => e } match {
        case Seq() => outcomes.collect { case Right(v) => v }
        case first +: others =>
          others.filterNot(_ eq first).foreach(first.addSuppressed)
          throw first
      }
    }

  /** Two heterogeneous thunks, concurrently (see [[all]]). */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val Seq(x, y) = all[Any](Seq(() => a, () => b))
    (x.asInstanceOf[A], y.asInstanceOf[B])
  }

  private def attempt[T](body: => T): Either[Throwable, T] =
    try Right(body) catch { case e: Throwable => Left(e) }
}
