package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.core.meta.{CommitReport, CommitReports, ScanReport, ScanReports}

/** Epoch milliseconds with sub-millisecond resolution. Spark's listener
  * events and graft's scan and commit reports carry epoch milliseconds,
  * so every span shares that base. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One traced interval. `parent` is -1 for an operation's root span;
  * spans of one operation share `op`. */
final case class Span(id: Int, parent: Int, op: Int, layer: String,
    name: String, t0: Double, t1: Double, attrs: Map[String, Double])

/** One operation the benchmark attempted. The run.py side decides
  * correctness: an op counts as failed when `error` is set or
  * `expected` differs from `actual`. */
final case class OpRecord(id: Int, kind: String, side: String,
    warmup: Boolean, traced: Boolean, t0: Double, t1: Double,
    error: Option[String], expected: String, actual: String)

final case class Check(expected: String, actual: String)

/** Spark job, stage and task figures, collected per job group. The
  * benchmark gives every traced operation its own job group. */
final class ExecListener extends SparkListener {
  import ExecListener.JobAcc
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobAcc]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
  private val taskSums = new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()
  // tasks, input bytes, records read, shuffle bytes, spill bytes,
  // executor run ms, scheduler delay ms
  private val NumSums = 7

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    // jobs of untraced operations carry no group and are not kept
    if (group.isEmpty) return
    e.stageIds.foreach(s => stageJob.put(s, Integer.valueOf(e.jobId)))
    jobs.put(e.jobId, JobAcc(group, e.time.toDouble, e.stageIds.toSet))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = stageJob.get(e.stageId)
    if (job == null) return
    val m = e.taskMetrics
    val info = e.taskInfo
    val sums = taskSums.computeIfAbsent(job.intValue, _ => new Array[Double](NumSums))
    sums.synchronized {
      sums(0) += 1
      if (m != null) {
        sums(1) += m.inputMetrics.bytesRead
        sums(2) += m.inputMetrics.recordsRead
        sums(3) += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        sums(4) += m.memoryBytesSpilled + m.diskBytesSpilled
        sums(5) += m.executorRunTime
        // the scheduler-delay formula of Spark's own UI
        sums(6) += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)

  /** Jobs of `group` that have ended, as (start, end, attrs); they are
    * forgotten once taken. Waits briefly for the listener bus to deliver
    * the end of every job the group started. */
  def take(spark: SparkSession, group: String): Seq[(Double, Double, Map[String, Double])] = {
    val ids = spark.sparkContext.statusTracker.getJobIdsForGroup(group).toSeq
    val deadline = System.nanoTime() + 2000000000L
    def pending = ids.exists(id => Option(jobs.get(id)).forall(_.end < 0))
    while (pending && System.nanoTime() < deadline) Thread.sleep(2)
    ids.flatMap { id =>
      val acc = Option(jobs.remove(id))
      acc.foreach(_.stages.foreach(stageJob.remove))
      val sums = Option(taskSums.remove(id)).getOrElse(new Array[Double](NumSums))
      acc.filter(_.end >= 0).map { a =>
        (a.start, a.end, Map(
          "stages" -> a.stages.size.toDouble, "tasks" -> sums(0),
          "input_bytes" -> sums(1), "records_read" -> sums(2),
          "shuffle_bytes" -> sums(3), "spill_bytes" -> sums(4),
          "task_busy_ms" -> sums(5), "scheduler_delay_ms" -> sums(6)))
      }
    }
  }
}

object ExecListener {
  private final case class JobAcc(group: String, start: Double,
      stages: Set[Int], var end: Double = -1)
}

/** Collector pauses, from the JVM's own GC notifications. */
final class GcWatcher {
  private val events = new ConcurrentLinkedQueue[(Double, Double, Double)]()
  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  private val listener = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit = {
      import com.sun.management.GarbageCollectionNotificationInfo
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        // concurrent cycles run beside the program; only pauses stop it
        if (!info.getGcName.contains("Concurrent")) {
          val gi = info.getGcInfo
          val oldAfter = gi.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if pool.contains("Old Gen") || pool.contains("Tenured") =>
              u.getUsed.toDouble
          }.sum
          events.add((jvmStart + gi.getStartTime, jvmStart + gi.getEndTime,
            oldAfter / (1 << 20)))
        }
      }
    }
  }
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  beans.foreach(_.asInstanceOf[javax.management.NotificationEmitter]
    .addNotificationListener(listener, null, null))

  /** Pauses since the last call, as (start, end, old-gen MB after). */
  def take(): Seq[(Double, Double, Double)] =
    Iterator.continually(events.poll()).takeWhile(_ != null).toSeq

  def close(): Unit = beans.foreach(b =>
    try b.asInstanceOf[javax.management.NotificationEmitter]
      .removeNotificationListener(listener)
    catch { case NonFatal(_) => () })
}

/** Runs and records the benchmark's operations. Tracing is decided per
  * operation: an untraced op records only its own timing and result
  * check; a traced op also records spans around every call the
  * benchmark makes into a layer (`span`), plus the spans of work graft
  * and Spark do inside such a call, taken afterwards from graft's
  * public scan and commit report rings, from an `ExecListener` and from
  * a `GcWatcher`. Spans live in memory until the run writes them out. */
final class Recorder(spark: Option[SparkSession], traceOn: Boolean) {
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val spans = mutable.ArrayBuffer.empty[Span]
  private val listener = if (traceOn) spark.map { s =>
    val l = new ExecListener; s.sparkContext.addSparkListener(l); l
  } else None
  private val gc = if (traceOn) Some(new GcWatcher) else None
  private var nextSpan = 0
  private var tracingNow = false
  private var opId = -1
  private val open = mutable.Stack.empty[(Int, String, String, Double)]
  private val pendingAttrs = mutable.Map.empty[Int, Map[String, Double]]
  private val opSpans = mutable.ArrayBuffer.empty[Span]

  /** Runs one operation. A failure is recorded, never thrown. */
  def op(kind: String, side: String = "graft", warmup: Boolean = false,
      traced: Boolean = false)(body: => Check): OpRecord = {
    opId = ops.size
    tracingNow = traceOn && traced
    val group = s"graftbench-op-$opId"
    if (tracingNow) spark.foreach(_.sparkContext.setJobGroup(group, kind))
    // an untraced op pays for nothing but its own timing
    val lastScan = if (tracingNow) ScanReports.recent.headOption else None
    val lastCommit = if (tracingNow) CommitReports.recent.headOption else None
    if (tracingNow) gc.foreach(_.take())
    opSpans.clear()
    val rootId = if (tracingNow) begin("op", s"$side.$kind") else -1
    val t0 = Clock.nowMs
    val (err, check) =
      try (None, body)
      catch { case NonFatal(e) =>
        (Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)), Check("", "")) }
    val t1 = Clock.nowMs
    while (open.nonEmpty) end()
    if (tracingNow) {
      spark.foreach(_.sparkContext.clearJobGroup())
      // the root span starts and ends with the timed interval
      val i = opSpans.indexWhere(_.id == rootId)
      opSpans(i) = opSpans(i).copy(t0 = t0, t1 = t1)
      // a span taken afterwards hangs under the narrowest span recorded
      // so far that holds its midpoint
      def parentOf(a: Double, b: Double): Int = {
        val mid = (a + b) / 2
        opSpans.filter(s => s.t0 <= mid && mid <= s.t1)
          .sortBy(s => s.t1 - s.t0).headOption.map(_.id).getOrElse(rootId)
      }
      ScanReports.recent.takeWhile(r => !lastScan.exists(_ eq r)).reverse
        .foreach { r =>
          val end = r.timestampMs.toDouble
          add(parentOf(end - r.planningMs, end), "core.meta", "plan",
            end - r.planningMs, end, scanAttrs(r))
        }
      CommitReports.recent.takeWhile(r => !lastCommit.exists(_ eq r)).reverse
        .foreach { r =>
          val end = r.timestampMs.toDouble
          add(parentOf(end - r.durationMs, end), "core.meta", "commit",
            end - r.durationMs, end, commitAttrs(r))
        }
      for (l <- listener; s <- spark; (a, b, attrs) <- l.take(s, group))
        add(parentOf(a, b), "exec", "job", a, b, attrs)
      gc.foreach(_.take().foreach { case (a, b, mb) =>
        add(parentOf(a, b), "jvm", "gc", a, b, Map("old_after_gc_mb" -> mb))
      })
      spans ++= opSpans
    }
    tracingNow = false
    val rec = OpRecord(opId, kind, side, warmup, traced && traceOn, t0, t1,
      err, check.expected, check.actual)
    ops += rec
    rec
  }

  /** Whether the running operation records spans. */
  def tracing: Boolean = tracingNow

  /** Sets the expected result of a recorded op, for a check that can
    * only be made once a later op (a native twin) has run. */
  def setExpected(id: Int, expected: String): Unit =
    ops(id) = ops(id).copy(expected = expected)

  /** Adds counts to the root span of a traced op that has ended, for
    * figures taken after the timed interval. */
  def annotate(op: OpRecord, kv: (String, Double)*): Unit =
    if (op.traced) {
      val i = spans.lastIndexWhere(s => s.op == op.id && s.parent == -1)
      spans(i) = spans(i).copy(attrs = spans(i).attrs ++ kv)
    }

  /** Times a call into `layer` when the current operation is traced. */
  def span[A](layer: String, name: String)(f: => A): A =
    if (!tracingNow) f
    else {
      begin(layer, name)
      try f finally end()
    }

  /** Adds counts to the innermost open span of a traced operation. */
  def attrs(kv: (String, Double)*): Unit =
    if (tracingNow && open.nonEmpty) {
      val id = open.top._1
      pendingAttrs(id) = pendingAttrs.getOrElse(id, Map.empty) ++ kv
    }

  def close(): Unit = {
    listener.foreach(l => spark.foreach(_.sparkContext.removeSparkListener(l)))
    gc.foreach(_.close())
  }

  private def begin(layer: String, name: String): Int = {
    val id = nextSpan; nextSpan += 1
    open.push((id, layer, name, Clock.nowMs))
    id
  }

  private def end(): Unit = {
    val (id, layer, name, t0) = open.pop()
    val parent = if (open.isEmpty) -1 else open.top._1
    opSpans += Span(id, parent, opId, layer, name, t0, Clock.nowMs,
      pendingAttrs.remove(id).getOrElse(Map.empty))
  }

  private def add(parent: Int, layer: String, name: String, t0: Double,
      t1: Double, attrs: Map[String, Double]): Unit = {
    val i = opSpans.indexWhere(_.id == parent)
    val p = opSpans(i)
    // a report of the very call the benchmark timed adds counts to the
    // benchmark's span instead of nesting a copy of it
    if (p.layer == layer && p.name == name) opSpans(i) = p.copy(attrs = p.attrs ++ attrs)
    else {
      val id = nextSpan; nextSpan += 1
      opSpans += Span(id, parent, opId, layer, name, t0, t1, attrs)
    }
  }

  private def scanAttrs(r: ScanReport): Map[String, Double] = Map(
    "manifests_total" -> r.totalManifests.toDouble,
    "manifests_scanned" -> r.scannedManifests.toDouble,
    "live_files" -> r.totalDataFiles.toDouble,
    "tasks" -> r.resultTasks.toDouble,
    "delete_files" -> r.resultDeleteFiles.toDouble)

  private def commitAttrs(r: CommitReport): Map[String, Double] = {
    def n(k: String) = r.summary.get(k).flatMap(_.toDoubleOption).getOrElse(0.0)
    Map("attempts" -> r.attempts.toDouble,
      "manifests" -> (n("manifests-created") + n("manifests-kept")),
      "added_files" -> (n("added-data-files") + n("added-delete-files")),
      "added_bytes" -> n("added-files-size"),
      "removed_bytes" -> n("removed-files-size"),
      "removed_delete_files" -> n("removed-delete-files"))
  }
}
