package graft

import java.util.concurrent.ConcurrentHashMap

/** The engine's one memo, for deterministic BUILD BYPRODUCTS of a
  * session: checkpointed frames (the kNN graph, the dedup cluster
  * fixpoint, the verified-pair set, near-miss pools) and driver-held
  * trained constants (IVF centroids, PQ codebooks, PCA moments,
  * quantizer ranges, the OPQ permutation, BPE merges). An operator
  * that consumes one reuses what another query already built.
  *
  * THE REUSE RULE: a value may be memoized here only when it is a
  * deterministic function of its key (the source directory and the
  * build parameters), so reuse cannot change an answer. Query results
  * are never memoized: every run of a query re-executes its plan.
  *
  * BUILD ONCE PER KEY: `computeIfAbsent` inserts only a cheap per-key
  * [[Entry]]; the build runs in the entry's `lazy val`, outside every
  * map lock. Racing callers of one key wait for that single build,
  * callers of other keys never block on it, and a build may read
  * other keys (nesting: opqPerm → moments, nswEdges → knnGraph →
  * centroids) — which a build inside one map's `computeIfAbsent`
  * could not (Java 17 throws "Recursive update"). A build that throws
  * is dropped, so the next call builds again. One condition: a build
  * must not wait on another thread (e.g. a `Par.seq` leg) that asks
  * for the build's OWN key — that thread would wait on the build.
  *
  * LIFETIME: entries are keyed by applicationId. Spark allows one
  * active context per JVM, so on every access entries of any OTHER
  * applicationId are unreachable garbage (a finished session's plans)
  * and are purged. A directory whose parquet is rewritten inside one
  * JVM keeps its memoized byproducts until `clear()` (IndexCache
  * likewise validates a directory once per JVM).
  */
object ByproductCache {
  private final class Entry(build: => Any) {
    lazy val value: Any = build
  }

  private val cache = new ConcurrentHashMap[(String, String), Entry]()

  /** Test probe: whether a byproduct's build has started (used to
    * pin that lazily-gated consumers — e.g. the routed API's NSW leg
    * — do NOT trigger a build they don't need).
    */
  private[graft] def cached(appId: String, key: String): Boolean =
    cache.containsKey((appId, key))

  /** Drop every memoized byproduct, frames and trained constants. The
    * Scale main calls this between replica factors (r15): the
    * memoized localCheckpointed frames of a FINISHED factor's dirs
    * otherwise stay referenced for the rest of the run, so their
    * executor blocks are never ContextCleaner-collected — SCALE_r15's
    * first attempt accumulated x1..x16 checkpoint blocks for ~45 min
    * and the x64/skew legs then died on the starved JVM (fresh-JVM
    * reruns of the same legs pass). Within a bench/verify run nothing
    * calls this: those runs serve many queries from one dir and the
    * reuse is the point.
    */
  def clear(): Unit = cache.clear()

  def getOrCompute[T](appId: String, key: String)(f: => T): T = {
    val it = cache.keySet.iterator
    while (it.hasNext) if (it.next()._1 != appId) it.remove()
    val k = (appId, key)
    val e = cache.computeIfAbsent(k, _ => new Entry(f))
    try e.value.asInstanceOf[T]
    catch { case t: Throwable => cache.remove(k, e); throw t }
  }
}
