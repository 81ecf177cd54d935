package graft

import java.util.concurrent.{Callable, ExecutionException, Executors}

/** Driver-side bounded-parallel map for independent metadata reads
  * (parquet footers, ORC heads) and per-partition work waves, with no
  * scala-parallel-collections dependency: one pool of at most `bound`
  * threads per call, results in input order. A failing task surfaces as
  * ITS OWN exception — the same class and message the serial loop would
  * throw, never wrapped in ExecutionException — and cancels the queued
  * rest. Safe for Spark actions: job submission is thread-safe.
  */
object Parallel {
  def map[A, B](in: Seq[A], bound: Int)(f: A => B): Seq[B] =
    if (in.size <= 1) in.map(f)
    else {
      val pool = Executors.newFixedThreadPool(math.min(bound, in.size))
      try in.toVector
        .map(a => pool.submit(new Callable[B] { def call(): B = f(a) }))
        .map(fut => try fut.get() catch {
          case e: ExecutionException if e.getCause != null => throw e.getCause
        })
      finally pool.shutdownNow()
    }
}
