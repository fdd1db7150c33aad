package graft.core.meta

import java.nio.file.Files
import java.util.concurrent.{Executors, TimeUnit}

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.core.expr.{ColStats, Expr}

/** `BoundedCache`: per-entry LRU eviction within a weight budget,
  * single-flight loads, and the manifest parse cache built on it. */
class BoundedCacheSpec extends AnyFunSuite {

  private final class Box(val n: Int)
  private def weighed(budget: Long) = new BoundedCache[String, Box](budget, _.n.toLong)

  test("a recently read key survives an insert that evicts") {
    val c = new BoundedCache[String, String](3)
    Seq("a", "b", "c").foreach(k => c.get(k)(k))
    assert(c.get("a")(fail("a was evicted before the cache was full")) === "a")
    c.get("d")("d") // evicts the least recently used: b
    assert(c.get("a")(fail("a was read last, b should have gone")) === "a")
    assert(c.get("c")(fail("c was evicted")) === "c")
    assert(c.get("b")("reloaded") === "reloaded")
  }

  test("eviction is by weight: one heavy insert evicts several light entries") {
    val c = weighed(10)
    (1 to 5).foreach(i => c.get(s"k$i")(new Box(2)))
    assert(c.weight === 10L)
    c.get("big")(new Box(7))
    assert(c.weight <= 10L)
    // k1..k4 were the oldest; only k5 (2) fits beside big (7)
    var reloaded = 0
    (1 to 4).foreach(i => c.get(s"k$i") { reloaded += 1; new Box(0) })
    assert(reloaded === 4)
  }

  test("after every get the total weight is within the budget") {
    val c = weighed(50)
    val r = new Random(11)
    (0 until 5000).foreach { _ =>
      c.get(s"k${r.nextInt(200)}")(new Box(r.nextInt(20)))
      assert(c.weight <= 50L)
    }
  }

  test("a value heavier than the budget is returned, not kept, and evicts nothing") {
    val c = weighed(10)
    c.get("a")(new Box(4)); c.get("b")(new Box(5))
    val huge = new Box(11)
    assert(c.get("huge")(huge) eq huge)
    assert(c.weight === 9L)
    var loads = 0
    c.get("huge") { loads += 1; huge }
    assert(loads === 1, "an over-budget value must not be retained")
    c.get("a")(fail("a was evicted by an over-budget value"))
    c.get("b")(fail("b was evicted by an over-budget value"))
  }

  test("8 threads x 10k random gets keep the budget and return their loader's value") {
    val c = weighed(300)
    val pool = Executors.newFixedThreadPool(8)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    (0 until 8).foreach { t =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val r = new Random(t)
          (0 until 10000).foreach { _ =>
            val k = r.nextInt(500)
            // the loader for key k always yields weight k % 40
            val v = c.get(s"k$k")(new Box(k % 40))
            if (v.n != k % 40) errors.add(s"k$k gave ${v.n}")
            val w = c.weight
            if (w > 300L) errors.add(s"weight $w over budget")
          }
        }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(60, TimeUnit.SECONDS))
    assert(errors.isEmpty, errors.toArray.take(5).mkString("; "))
    assert(c.weight <= 300L)
  }

  test("a failed load reaches every waiter with its cause, keeps nothing, and is retried") {
    val c = new BoundedCache[String, String](10)
    val boom = new IllegalStateException("boom")
    val loads = new java.util.concurrent.atomic.AtomicInteger(0)
    val waiters = (1 to 4).map { _ =>
      new Thread(() => c.get("k") { loads.incrementAndGet(); "second load" })
    }
    val results = new java.util.concurrent.ConcurrentHashMap[Thread, Throwable]()
    waiters.foreach(_.setUncaughtExceptionHandler((t, e) => results.put(t, e)))
    // the owner fails only once every waiter is parked on its load
    val owner = new Thread(() => c.get("k") {
      loads.incrementAndGet()
      waiters.foreach(_.start())
      val deadline = System.nanoTime + 10000000000L
      while (waiters.exists(_.getState != Thread.State.WAITING) &&
          System.nanoTime < deadline) Thread.sleep(5)
      throw boom
    })
    owner.setUncaughtExceptionHandler((t, e) => results.put(t, e))
    owner.start()
    owner.join(15000)
    waiters.foreach(_.join(15000))
    assert(loads.get === 1, "a waiter loaded the key again instead of waiting")
    assert(results.size === 5)
    results.forEach((t, e) => assert(e eq boom, s"${t.getName} got $e"))
    assert(c.weight === 0L)
    assert(c.get("k")("loaded again") === "loaded again")
    assert(c.weight === 1L)
  }

  test("re-planning a table with more than 64 manifests parses none of them again") {
    // one manifest per partition from SyntheticMeta, then single-file
    // appends, each its own manifest (merging starts at 100): 4 + 70
    // manifests, more than a 64-manifest cap holds, and far fewer
    // entries than the entry budget
    val cat = new HadoopCatalog(Files.createTempDirectory("graft-parsecache").toString)
    val parts = 4
    val t = SyntheticMeta.build(cat, "hot", parts, filesPerPartition = 200)
    (0 until 70).foreach { i =>
      val p = (i % parts).toLong
      t.newAppend().appendFile(DataFile(s"${t.location}/data/p=$p/a$i.parquet",
        "parquet", t.spec.specId, Seq(p), recordCount = 10, fileSizeBytes = 1024,
        columnStats = Map(1 -> ColStats(Some(10L), Some(0L), None,
          Some(i.toLong), Some(i.toLong))))).commit()
    }
    val manifests = ManifestIO.readList(t.meta.currentSnapshot.get.manifestListPath)
    assert(manifests.size > 64)

    def planAll(): Seq[Int] =
      (0 until parts).map(p => t.newScan().filter(Expr.equalTo("p", p.toLong)).planFiles().size)
    val first = planAll()
    assert(first.sum === parts * 200 + 70)
    val before = ManifestIO.entryParses.get
    assert(planAll() === first)
    assert(ManifestIO.entryParses.get - before === 0L,
      "a second planning pass re-parsed manifests it had already parsed")
  }
}
