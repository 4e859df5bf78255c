package graft

import java.util.concurrent.{CompletableFuture, ExecutionException,
  Executors}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.SQLExecution

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
  * sinks.Compact.compactPartitioned).
  *
  * A pool thread runs each thunk with its CALLER's Spark thread-locals
  * (job group, SQL execution id and other local properties, the active
  * session), set per call: a thread would otherwise keep the ones it
  * inherited from whichever thread created it, so its jobs would carry
  * another caller's job group and escape that caller's cancellation
  * (a stopped stream could not cancel its legs' jobs). */
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
      val session = SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession)
      val rest = thunks.tail.map(th => session match {
        case Some(s: ClassicSession) =>
          SQLExecution.withThreadLocalCaptured(s, pool)(th())
        case _ => CompletableFuture.supplyAsync(() => th(), pool)
      })
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
