package graft.operators

import java.util.concurrent.{Callable, CountDownLatch, CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.{ByproductCache, SparkSuite}

/** [[graft.ByproductCache]]'s build-once rule: each key's build runs
  * once, outside every map lock, so racing callers share it, builds
  * may nest, other keys never wait on it, and a failed build is
  * retried. Every case uses throwaway keys; every wait has a timeout.
  */
class ByproductCacheSpec extends SparkSuite {

  private def appId = spark.sparkContext.applicationId
  private def fresh(tag: String) = s"spec|$tag|${java.util.UUID.randomUUID}"

  /** Run `body` on `n` pool threads; fail if any does not finish. */
  private def onThreads[T](n: Int)(body: Int => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    try {
      val futs = (0 until n).map(i => pool.submit(call(body(i))))
      futs.map(_.get(30, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  private def call[T](body: => T): Callable[T] = new Callable[T] {
    def call(): T = body
  }

  test("8 racing callers of one cold key share a single build") {
    val key = fresh("race")
    val builds = new AtomicInteger
    val allThere = new CyclicBarrier(8)
    val res = onThreads(8) { _ =>
      allThere.await(30, TimeUnit.SECONDS)
      ByproductCache.getOrCompute(appId, key) {
        builds.incrementAndGet()
        Thread.sleep(300)
        new Object
      }
    }
    assert(builds.get == 1, s"${builds.get} builds of one key")
    assert(res.forall(_ eq res.head))
  }

  test("a build that reads other keys (nesting) completes") {
    val outer = fresh("outer")
    val inner = (0 until 64).map(i => fresh(s"inner$i"))
    val v = onThreads(1) { _ =>
      ByproductCache.getOrCompute(appId, outer) {
        inner.map(k => ByproductCache.getOrCompute(appId, k)(k.length)).sum
      }
    }.head
    assert(v == inner.map(_.length).sum)
    assert(ByproductCache.getOrCompute(appId, inner.head)(-1) == inner.head.length)
  }

  test("a slow build on one key does not block cold builds of others") {
    val slow = fresh("slow")
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(1)
    try {
      val slowF = pool.submit(call(ByproductCache.getOrCompute(appId, slow) {
        started.countDown()
        assert(release.await(30, TimeUnit.SECONDS))
        "slow"
      }))
      assert(started.await(30, TimeUnit.SECONDS))
      // enough cold keys to grow the map's table: a resize has to pass
      // every bin, so a build holding a bin lock would stall it
      val others = onThreads(1) { _ =>
        (0 until 2048).map { i =>
          ByproductCache.getOrCompute(appId, fresh(s"other$i"))(i)
        }.sum
      }.head
      assert(others == (0 until 2048).sum)
      assert(!slowF.isDone, "the slow build finished before it was released")
      release.countDown()
      assert(slowF.get(30, TimeUnit.SECONDS) == "slow")
    } finally { release.countDown(); pool.shutdownNow() }
  }

  test("a build that throws is not memoized; the next call builds again") {
    val key = fresh("throw")
    val builds = new AtomicInteger
    val e = intercept[IllegalStateException] {
      ByproductCache.getOrCompute[String](appId, key) {
        builds.incrementAndGet()
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage == "build failed")
    assert(!ByproductCache.cached(appId, key))
    val v = ByproductCache.getOrCompute(appId, key) {
      builds.incrementAndGet(); "built"
    }
    assert(v == "built" && builds.get == 2)
    assert(ByproductCache.getOrCompute(appId, key)("again") == "built")
  }

  test("withVersion builds each version once and releases a replaced one " +
    "once its last caller returns") {
    val fam = fresh("version")
    val builds = new AtomicInteger
    val released = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def at(v: String)(use: String => Unit): Unit =
      ByproductCache.withVersion(appId, fam, v)(
        { builds.incrementAndGet(); s"value-$v" })(released.add(_): Unit)(use)
    def gone = released.toArray.toSeq
    val inside = new CountDownLatch(1)
    val leave = new CountDownLatch(1)
    val pool = Executors.newSingleThreadExecutor()
    try {
      val reader = pool.submit(call(at("1") { _ =>
        inside.countDown(); leave.await(30, TimeUnit.SECONDS)
      }))
      assert(inside.await(30, TimeUnit.SECONDS))
      at("2")(v => assert(v == "value-2"))
      at("2")(v => assert(v == "value-2"))
      assert(builds.get == 2)
      assert(gone.isEmpty, "released a version a caller still reads")
      leave.countDown()
      reader.get(30, TimeUnit.SECONDS)
      assert(gone == Seq("value-1"))
      at("3")(_ => ())
      assert(gone == Seq("value-1", "value-2"), "a replaced idle version was kept")
      assert(!ByproductCache.cached(appId, s"$fam|2") && ByproductCache.cached(appId, s"$fam|3"))
    } finally { leave.countDown(); pool.shutdownNow() }
  }

  test("clear() drops trained constants with the frames") {
    val a = Ann.cachedCentroids(spark, sf)
    assert(Ann.cachedCentroids(spark, sf) eq a)
    ByproductCache.clear()
    val b = Ann.cachedCentroids(spark, sf)
    assert(!(b eq a), "clear() kept the memoized centroids")
    assert(b.map { case (c, v) => (c, v.toSeq) }.toSeq ==
      a.map { case (c, v) => (c, v.toSeq) }.toSeq)
  }
}
