package graft

import scala.concurrent.{Await, ExecutionContext, Future, blocking}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Try}

/** The engine's one fork-join primitive: run independent driver-side
  * branches (staged side-writes, estate sections) concurrently and
  * join at a barrier before anything commits.
  */
object Par {

  /** Run every branch as a `Future` on the global pool, wait for ALL
    * of them, and return their results in argument order.
    *
    * No branch's failure is rethrown while a sibling is still running:
    * failing fast would let the caller swing an index pointer (or drop
    * a fixture copy) under a sibling that is still writing. Once all
    * have finished, the first failure in argument order is thrown with
    * the later ones attached via `addSuppressed`.
    *
    * Branch bodies run inside `blocking`: they block on Spark jobs and
    * may themselves call `Par.all`, so a parent waiting on its children
    * must not hold a pool slot those children need. `blocking` lets
    * the global pool add threads (up to its default maximum) instead of
    * deadlocking.
    */
  def all[T](branches: Seq[() => T]): Seq[T] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val futures = branches.map(b => Future(blocking(b())))
    val tried = futures.map(f => Try(Await.result(f, Duration.Inf)))
    tried.collect { case Failure(e) => e } match {
      case Seq() => tried.map(_.get)
      case first +: rest => rest.foreach(first.addSuppressed); throw first
    }
  }
}
