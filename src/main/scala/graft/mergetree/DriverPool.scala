package graft.mergetree

import java.util.concurrent.{Callable, ExecutionException, Executors}

/** The one driver-side thread-pool idiom: the local part reads (the KV
  * short-circuit, the served range scan), the footer prefetch, and the
  * maintenance rewrites that launch one Spark job per bin.
  */
private[graft] object DriverPool {

  /** Run `f` over `items` on a pool of at most `threads` threads, results
    * in item order. A failure rethrows `f`'s own exception, after the items
    * before it finished. parquet-mr reader setup and footer reads are ~ms
    * each, so a serial walk puts O(parts) sequential latency on the query
    * path.
    */
  def inParallel[A, B](items: Seq[A],
      threads: Int = Runtime.getRuntime.availableProcessors())(f: A => B): Seq[B] =
    if (items.sizeIs <= 1) items.map(f)
    else {
      val pool = Executors.newFixedThreadPool(math.min(items.size, threads))
      try items.map(a => pool.submit(new Callable[B] { def call(): B = f(a) }))
        .map(r => try r.get() catch { case e: ExecutionException => throw e.getCause })
      finally pool.shutdown()
    }
}
