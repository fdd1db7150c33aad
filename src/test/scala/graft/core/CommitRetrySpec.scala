package graft.core

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.core.meta._
import graft.core.types._

/** `commit.retry.*` table properties (reference TableProperties.java:89-101
  * COMMIT_NUM_RETRIES / COMMIT_MIN_RETRY_WAIT_MS / COMMIT_MAX_RETRY_WAIT_MS
  * / COMMIT_TOTAL_RETRY_TIME_MS): the optimistic-commit loop's retry count
  * and backoff are per-table knobs, not hardcoded — a fail-fast pipeline
  * sets num-retries=0, a hot multi-writer table retries longer. */
class CommitRetrySpec extends AnyFunSuite {

  private val schema = GSchema(GStruct(Seq(
    GField(1, "id", GLong, required = true),
    GField(2, "data", GString))))

  /** delegates reads to the real ops, fails every CAS, counts attempts */
  private final class FailingOps(real: TableOps) extends TableOps {
    val calls = new AtomicInteger(0)
    override def location: String = real.location
    override def currentVersion(): Int = real.currentVersion()
    override def current(): Option[TableMetadata] = real.current()
    override def commit(baseVersion: Int, updated: TableMetadata): Boolean = {
      calls.incrementAndGet(); false
    }
  }

  private def tableWith(props: Map[String, String]): (GTable, FailingOps) = {
    val cat = new HadoopCatalog(Files.createTempDirectory("graft-retry").toString)
    val t = cat.createTable(Seq("db"), "t", schema, properties = props)
    val failing = new FailingOps(t.ops)
    (new GTable(failing), failing)
  }

  private def dataFile(path: String): DataFile =
    DataFile(path, "parquet", 0, Nil, recordCount = 5, fileSizeBytes = 1000)

  test("defaults match the reference: 4 retries, 100/60000 ms waits, 30 min budget") {
    assert(CommitRetry.of(Map.empty) ===
      CommitRetry.Knobs(4, 100L, 60000L, 1800000L))
  }

  test("num-retries=0 fails on the first conflict, exactly one CAS") {
    val (t, ops) = tableWith(Map(
      CommitRetry.NumRetriesKey -> "0", CommitRetry.MinWaitKey -> "1"))
    val e = intercept[CommitConflictException] {
      t.newAppend().appendFile(dataFile("a.parquet")).commit()
    }
    assert(ops.calls.get === 1)
    assert(e.getMessage.contains(CommitRetry.NumRetriesKey))
  }

  test("num-retries=N makes N+1 attempts (snapshot commit and commitUpdate)") {
    val (t, ops) = tableWith(Map(
      CommitRetry.NumRetriesKey -> "2", CommitRetry.MinWaitKey -> "1",
      CommitRetry.MaxWaitKey -> "2"))
    intercept[CommitConflictException] {
      t.newAppend().appendFile(dataFile("a.parquet")).commit()
    }
    assert(ops.calls.get === 3)
    ops.calls.set(0)
    intercept[CommitConflictException] {
      t.commitUpdate(b => b.copy(properties = b.properties + ("k" -> "v")))
    }
    assert(ops.calls.get === 3)
  }

  test("total-timeout-ms=0 exhausts the wall-clock budget before any retry") {
    val (t, ops) = tableWith(Map(
      CommitRetry.NumRetriesKey -> "5", CommitRetry.TotalTimeoutKey -> "0"))
    val e = intercept[CommitConflictException] {
      t.newAppend().appendFile(dataFile("a.parquet")).commit()
    }
    assert(ops.calls.get === 1)
    assert(e.getMessage.contains(CommitRetry.TotalTimeoutKey))
  }

  test("waits observe the configured bounds across the exponential schedule") {
    val k = CommitRetry.Knobs(10, 50L, 400L, Long.MaxValue)
    val rnd = new java.util.Random(42)
    (1 to 10).foreach { attempt =>
      val cap = math.min(400L, 50L << math.min(attempt - 1, 20))
      (1 to 200).foreach { _ =>
        val w = CommitRetry.waitMs(attempt, k, rnd)
        assert(w >= 50L && w <= cap, s"attempt $attempt wait $w cap $cap")
      }
    }
    // attempt 1 is deterministic minWait; deep attempts cap at maxWait
    assert(CommitRetry.waitMs(1, k, rnd) === 50L)
    assert(CommitRetry.waitMs(60, k, rnd) <= 400L)
    // degenerate knob shapes never produce a negative or unbounded sleep
    val inverted = CommitRetry.Knobs(3, 500L, 100L, Long.MaxValue)
    (1 to 5).foreach(a =>
      assert(CommitRetry.waitMs(a, inverted, rnd) === 100L))
    val huge = CommitRetry.Knobs(3, Long.MaxValue / 2, Long.MaxValue, Long.MaxValue)
    assert(CommitRetry.waitMs(5, huge, rnd) >= Long.MaxValue / 2)
  }

  test("a backoff never sleeps past the total-timeout wall clock") {
    // min-wait 60s with a 500ms total budget: unclamped, one backoff
    // would overshoot the budget 120×
    val props = Map(
      CommitRetry.NumRetriesKey -> "10",
      CommitRetry.MinWaitKey -> "60000",
      CommitRetry.MaxWaitKey -> "60000",
      CommitRetry.TotalTimeoutKey -> "500")
    val startedAt = System.currentTimeMillis() - 200 // 200ms already spent
    val w = CommitRetry.nextWaitOrThrow(1, startedAt, props, "t", "w")
    assert(w <= 300L, s"sleep $w must not extend past the remaining budget")
    // budget already spent → throws instead of sleeping
    intercept[CommitConflictException] {
      CommitRetry.nextWaitOrThrow(
        1, System.currentTimeMillis() - 600, props, "t", "w")
    }
  }

  test("a corrupt base metadata file fails the commit at once, not as a lost CAS") {
    val cat = new HadoopCatalog(Files.createTempDirectory("graft-corrupt").toString)
    val t0 = cat.createTable(Seq("db"), "t", schema, properties = Map(
      CommitRetry.MinWaitKey -> "1", CommitRetry.MaxWaitKey -> "2"))
    val good = t0.meta
    // a handle whose reads are served from a cache (as a caching catalog
    // would) sees the old, valid metadata; only the CAS reads the file
    val real = t0.ops
    val calls = new AtomicInteger(0)
    val stale = new TableOps {
      def location: String = real.location
      def currentVersion(): Int = real.currentVersion()
      def current(): Option[TableMetadata] = Some(good)
      def commit(baseVersion: Int, updated: TableMetadata): Boolean = {
        calls.incrementAndGet(); real.commit(baseVersion, updated)
      }
    }
    val base = java.nio.file.Paths.get(s"${real.location}/metadata/v1.metadata.json")
    Files.write(base, "{ not json".getBytes("UTF-8"))
    val e = intercept[Exception] {
      new GTable(stale).newAppend().appendFile(dataFile("a.parquet")).commit()
    }
    assert(!e.isInstanceOf[CommitConflictException], s"reported as a conflict: $e")
    assert(e.isInstanceOf[com.fasterxml.jackson.core.JsonProcessingException], e.toString)
    assert(calls.get === 1)
    assert(real.currentVersion() === 1, "nothing was published")
  }

  test("transactions honor the same budget") {
    val (t, ops) = tableWith(Map(
      CommitRetry.NumRetriesKey -> "1", CommitRetry.MinWaitKey -> "1",
      CommitRetry.MaxWaitKey -> "2"))
    intercept[CommitConflictException] {
      t.transaction { st =>
        st.newAppend().appendFile(dataFile("a.parquet")).commit()
      }
    }
    assert(ops.calls.get === 2)
  }
}
