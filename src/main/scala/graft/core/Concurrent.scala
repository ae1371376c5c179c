package graft.core

import scala.concurrent.{blocking, Await, Future}
import scala.concurrent.duration.Duration
import scala.concurrent.ExecutionContext.Implicits.global

/** Independent driver-side closures run as concurrent Spark jobs. */
object Concurrent {

  /** Run `xs` concurrently and return their results in input order.
    * MLlib fits, k-means restarts and per-class branches spend much of
    * their wall in serial driver phases, so a sequential loop leaves the
    * executors mostly idle; submitted together their data-parallel
    * stages interleave. Each closure and the wait are both marked
    * `blocking`: nested use (search trials -> CV folds) parks pool
    * threads on inner waits, and the marker lets the global pool grow
    * instead of starving. Determinism stays with the caller: every
    * closure carries its own seed and inputs, and nothing shared
    * mutates. */
  def inParallel[A](xs: Seq[() => A]): Seq[A] = {
    val fs = xs.map(f => Future(blocking(f())))
    blocking(Await.result(Future.sequence(fs), Duration.Inf))
  }
}
