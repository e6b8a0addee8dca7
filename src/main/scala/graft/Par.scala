package graft

/** Run independent eager DataFrame constructions concurrently.
  *
  * Spark's scheduler happily runs several jobs at once inside one
  * application (guide §2.6) — actions are only sequential because the
  * driver code calls them sequentially. The composite surface queries
  * (the routed request batch, the recall reports) build legs whose
  * construction is itself eager (beam-descent localCheckpoints, probe
  * collects); built one after another, each leg's tiny jobs leave the
  * cores idle. Building the legs from a short-lived thread pool
  * overlaps those stages — the RESULT is unchanged (each thunk returns
  * its leg's DataFrame, consumed in the caller's original order), only
  * the wall-clock of the eager build shrinks.
  *
  * Legs that share a memoized byproduct (the graph store, the IVF
  * centroids) share ONE build: [[graft.ByproductCache]] builds each
  * key once, and a leg asking for a key another leg is building waits
  * for that build. A memo build must therefore never wait on a leg
  * that asks for the build's own key.
  */
object Par {
  def seq[T](thunks: Seq[() => T]): Seq[T] =
    if (thunks.lengthCompare(2) < 0) thunks.map(_())
    else {
      val pool =
        java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
      try {
        val futs = thunks.map { t =>
          pool.submit(new java.util.concurrent.Callable[T] {
            def call(): T = t()
          })
        }
        futs.map { f =>
          try f.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              throw e.getCause
          }
        }
      } finally pool.shutdown()
    }
}
