package graft.spark

import org.scalatest.funsuite.AnyFunSuite

import graft.core.meta.BoundedCache

/** The executor cache's contract (reference SparkExecutorCache
  * semantics), on small `BoundedCache` instances with the budget and
  * entry cap passed to the constructor: load-once, LRU-by-weight
  * eviction, oversized bypass, single-flight loads. */
class ExecutorCacheSpec extends AnyFunSuite {

  private def cache(budget: Long = 1L << 20, entryCap: Long = Long.MaxValue) =
    new BoundedCache[Any, AnyRef](budget, entryCap = entryCap)

  private def v(s: String): String = s

  test("loads once per key while resident") {
    val c = cache()
    var loads = 0
    def load(): String = { loads += 1; "x" }
    (1 to 5).foreach { _ =>
      c.get(("k1", 1), (_: String) => 100L)(load())
    }
    assert(loads === 1)
  }

  test("evicts least-recently-used entries when over the weight budget") {
    val c = cache(budget = 1000)
    // three 400-weight entries: inserting the third must evict the
    // least recently USED (k-a was touched after k-b)
    c.get("k-a", (_: String) => 400L)(v("a"))
    c.get("k-b", (_: String) => 400L)(v("b"))
    c.get("k-a", (_: String) => 400L)(v("a2")) // touch a (hit)
    c.get("k-c", (_: String) => 400L)(v("c"))
    assert(c.weight === 800L) // two 400-weight entries left
    // k-b was evicted (re-load runs and pushes out k-a, now the LRU);
    // k-c stays resident through both evictions
    var reloads = 0
    c.get("k-b", (_: String) => 400L) { reloads += 1; v("b") }
    assert(reloads === 1)
    c.get("k-c", (_: String) => 400L) { reloads += 1; v("c") }
    assert(reloads === 1)
    c.get("k-a", (_: String) => 400L) { reloads += 1; v("a") }
    assert(reloads === 2)
  }

  test("loads on distinct keys run in parallel; same key loads once") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val c = cache()
    // two loads that each block until BOTH have started: deadlocks in
    // under-lock loading, passes with per-key latching
    val started = new CountDownLatch(2)
    val pool = Executors.newFixedThreadPool(2)
    val futs = Seq("pk-a", "pk-b").map { k =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          c.get(k, (_: String) => 10L) {
            started.countDown()
            assert(started.await(10, TimeUnit.SECONDS),
              "parallel load never started — loads are serialized")
            k
          }
          ()
        }
      })
    }
    futs.foreach(_.get(15, TimeUnit.SECONDS))
    pool.shutdown()

    // same key from many threads: exactly one load
    val loads = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool2 = Executors.newFixedThreadPool(8)
    val futs2 = (1 to 8).map { _ =>
      pool2.submit(new Runnable {
        override def run(): Unit = {
          val v = c.get("pk-same", (_: String) => 10L) {
            loads.incrementAndGet(); Thread.sleep(50); "V"
          }
          assert(v === "V")
        }
      })
    }
    futs2.foreach(_.get(15, TimeUnit.SECONDS))
    pool2.shutdown()
    assert(loads.get() === 1)
  }

  test("entries above max-entry-size bypass the cache") {
    val c = cache(entryCap = 100)
    var loads = 0
    (1 to 3).foreach { _ =>
      c.get("big", (_: String) => 10000L) { loads += 1; v("B") }
    }
    assert(loads === 3) // never cached, never evicted anyone
    assert(c.weight === 0L)
  }
}
