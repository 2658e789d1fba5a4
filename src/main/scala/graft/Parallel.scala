package graft

import java.util.concurrent.{Callable, ExecutionException, Executors}

/** Bounded driver-side parallelism for independent Spark jobs (guide
  * §2.6): legs that each submit their own jobs overlap on a fixed
  * driver pool, and Spark's scheduler handles the concurrent
  * submissions natively. */
object Parallel {

  /** Run `legs` on `poolSize` driver threads; results come back in leg
    * order. Waits for EVERY leg to finish before rethrowing the first
    * failure (in leg order), so no leg is still running — or still
    * writing into a directory the caller is about to clean up — when
    * the exception reaches the caller. */
  def parallelLegs[A](poolSize: Int)(legs: Seq[() => A]): Seq[A] = {
    val pool = Executors.newFixedThreadPool(poolSize)
    try {
      val futures = legs.map(leg =>
        pool.submit(new Callable[A] { def call(): A = leg() }))
      val outcomes = futures.map { f =>
        try Right(f.get())
        catch { case e: ExecutionException => Left(e.getCause) }
      }
      outcomes.collectFirst { case Left(t) => throw t }
      outcomes.collect { case Right(a) => a }
    } finally pool.shutdown()
  }
}
