package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming._
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.catalyst.InternalRow

import graft.core.meta._

/** Micro-batch streaming source (reference SparkMicroBatchStream.java:59,
  * StreamingOffset.java): an offset is (sequenceNumber, fileIndex) — all
  * snapshots with a lower sequence number are fully processed, plus the
  * first `fileIndex` files (path-ordered) of the snapshot at that
  * sequence number. Each batch plans only the files appended in
  * (start, end]. Row-removing snapshots (delete/overwrite) FAIL the
  * stream unless streaming-skip-delete-snapshots /
  * streaming-skip-overwrite-snapshots opt into skipping them
  * (reference SparkMicroBatchStream + SparkReadOptions); `replace`
  * (compaction) passes silently. Admission control caps files per
  * micro-batch. Each micro-batch's reader factory is built from that
  * batch's own files, so each file reads in its own format.
  */
final class GraftMicroBatchStream(
    table: GTable,
    maxFilesPerBatch: Option[Int],
    readerFactory: Seq[FileScanTask] => PartitionReaderFactory,
    maxRecordsPerBatch: Option[Long] = None,
    branch: Option[String] = None,
    streamFromTs: Option[Long] = None,
    skipDelete: Boolean = false,
    skipOverwrite: Boolean = false,
    asyncPlanning: Boolean = false,
    pollingIntervalMs: Option[Long] = None)
  extends MicroBatchStream with SupportsAdmissionControl
  with SupportsTriggerAvailableNow {

  /** reference SparkMicroBatchStream: an append-only stream reaching a
    * snapshot that REMOVED rows is a correctness error by default —
    * those rows were already emitted and cannot be retracted. The skip
    * options opt into ignoring them; `replace` (compaction) never
    * changes data and is always safe to pass. */
  private def guardRemovals(snap: Snapshot): Unit = snap.operation match {
    case "append" | "replace" => ()
    case "delete" if !skipDelete =>
      throw new IllegalStateException(
        s"cannot process delete snapshot ${snap.snapshotId} in a streaming " +
          "read: set streaming-skip-delete-snapshots=true to skip it")
    case "overwrite" if !skipOverwrite =>
      throw new IllegalStateException(
        s"cannot process overwrite snapshot ${snap.snapshotId} in a streaming " +
          "read: set streaming-skip-overwrite-snapshots=true to skip it")
    case _ => ()
  }

  import GraftMicroBatchStream._

  // Trigger.AvailableNow: freeze the target offset at query start; batches
  // advance toward it under the admission limit, then the query stops
  @volatile private var availableNowTarget: Option[GraftStreamingOffset] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(reportLatestOffset().asInstanceOf[GraftStreamingOffset])

  private def computeLineage(): Seq[Snapshot] =
    // the requested branch's ancestry only (main by default) — staged
    // WAP/other-branch appends are not published and must not flow in
    table.refresh().ancestry(branch.getOrElse("main")).sortBy(_.sequenceNumber)

  // ---- async micro-batch planning (reference
  // spark/.../source/AsyncSparkMicroBatchPlanner.java; opt-in via
  // streaming-async-planning): the planning cost per trigger is metadata
  // IO — table refresh + manifest reads for newly appended snapshots. A
  // background thread does that IO BETWEEN triggers and publishes the
  // refreshed lineage (warming the added-files cache), so the trigger
  // path runs on prefetched state and sub-second triggers aren't gated
  // on metadata latency. The stream may observe a snapshot one trigger
  // late — the same freshness contract as the reference's async planner;
  // results are identical, only arrival latency shifts by ≤1 trigger.
  @volatile private var prefetched: Seq[Snapshot] = null
  private val prefetchPending = new java.util.concurrent.atomic.AtomicBoolean(false)
  private lazy val prefetchExec = java.util.concurrent.Executors
    .newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-async-microbatch-planner")
      t.setDaemon(true); t
    })

  private def schedulePrefetch(): Unit =
    if (prefetchPending.compareAndSet(false, true)) {
      prefetchExec.submit(new Runnable {
        override def run(): Unit = {
          try {
            val snaps = computeLineage()
            snaps.foreach(addedFiles) // warm manifest cache off-trigger
            prefetched = snaps
            lastPoll = (System.nanoTime(), snaps) // arms the poll window
          } catch {
            // the next trigger plans synchronously and meets the error there
            case scala.util.control.NonFatal(_) => ()
          }
          finally prefetchPending.set(false)
        }
      })
      ()
    }

  // streaming-snapshot-polling-interval-ms (reference SparkReadOptions):
  // rate-limit catalog refreshes under sub-interval triggers — a trigger
  // landing inside the window reuses the last lineage (same freshness
  // contract as the reference: new snapshots surface one poll late).
  // Monotonic clock: a wall-clock step-back must not freeze polling.
  @volatile private var lastPoll: (Long, Seq[Snapshot]) = null

  private def pollDue(): Boolean = pollingIntervalMs match {
    case None => true
    case Some(iv) =>
      val cached = lastPoll
      cached == null || (System.nanoTime() - cached._1) / 1000000L >= iv
  }

  private def pollLineage(): Seq[Snapshot] =
    if (!pollDue()) lastPoll._2
    else {
      val snaps = computeLineage()
      lastPoll = (System.nanoTime(), snaps)
      snaps
    }

  private def lineage(): Seq[Snapshot] =
    if (!asyncPlanning) pollLineage()
    else {
      val snap = prefetched
      // the polling interval throttles prefetches too: inside the window
      // the background refresh is skipped, not just the trigger-path one
      if (pollDue()) schedulePrefetch()
      // first trigger (nothing prefetched yet) plans synchronously
      if (snap != null) snap else computeLineage()
    }

  // snapshots are immutable: cache their added-file lists so latestOffset
  // + planInputPartitions on every trigger don't re-read manifests
  private val addedFilesCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Seq[FileScanTask]]()

  /** files appended by an append snapshot, in stable (path) order, as
    * whole-file tasks carrying each entry's sequence number and write
    * schema */
  private def addedFiles(snap: Snapshot): Seq[FileScanTask] =
    addedFilesCache.computeIfAbsent(snap.snapshotId, _ => addedFilesUncached(snap))

  private def addedFilesUncached(snap: Snapshot): Seq[FileScanTask] =
    if (snap.operation != "append") Nil
    else ManifestIO.addedEntries(snap)
      .map(e => FileScanTask(e.file, 0L, e.file.fileSizeBytes,
        graft.core.expr.TrueE, Nil, e.dataSequenceNumber,
        writeSchemaId = e.writeSchemaId.orElse(snap.schemaId).getOrElse(-1)))
      .sortBy(_.file.path)

  // stream-from-timestamp (reference SparkReadConf.streamFromTimestamp):
  // snapshots committed before the timestamp count as already processed
  override def initialOffset(): Offset = streamFromTs match {
    case None => GraftStreamingOffset(0L, 0)
    case Some(ts) =>
      lineage().filter(_.timestampMs < ts).lastOption
        .map(s => GraftStreamingOffset(s.sequenceNumber, addedFiles(s).size))
        .getOrElse(GraftStreamingOffset(0L, 0))
  }

  override def getDefaultReadLimit: ReadLimit = {
    val limits = maxFilesPerBatch.map(ReadLimit.maxFiles).toSeq ++
      maxRecordsPerBatch.map(ReadLimit.maxRows).toSeq
    limits match {
      case Nil      => ReadLimit.allAvailable()
      case Seq(one) => one
      case many     => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  override def reportLatestOffset(): Offset = {
    val snaps = lineage()
    snaps.lastOption.map(s => GraftStreamingOffset(s.sequenceNumber, addedFiles(s).size))
      .getOrElse(GraftStreamingOffset(0L, 0))
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GraftStreamingOffset]
    // admission control: files AND rows per micro-batch (row cap is soft —
    // at least one file is admitted so the stream always progresses)
    var fileBudget = Int.MaxValue
    var rowBudget = Long.MaxValue
    def applyLimit(l: ReadLimit): Unit = l match {
      case c: CompositeReadLimit => c.getReadLimits.foreach(applyLimit)
      case mf: ReadMaxFiles      => fileBudget = mf.maxFiles()
      case mr: ReadMaxRows       => rowBudget = mr.maxRows()
      case _                     => ()
    }
    applyLimit(limit)
    var last = s
    var tookAny = false
    var blocked = false // budget ran out with files still pending
    val target = availableNowTarget
    lineage().filter(_.sequenceNumber >= s.seq)
      .filter(sn => target.forall(t => sn.sequenceNumber <= t.seq))
      .foreach { snap =>
        if (!blocked) {
          if (snap.sequenceNumber > s.seq) guardRemovals(snap)
          val files = addedFiles(snap)
          val from = if (snap.sequenceNumber == s.seq) s.fileIdx else 0
          val untilCap = target match {
            case Some(t) if t.seq == snap.sequenceNumber => t.fileIdx
            case _                                       => files.size
          }
          var idx = from
          while (idx < untilCap && fileBudget > 0 && (rowBudget > 0 || !tookAny)) {
            rowBudget -= files(idx).file.recordCount
            fileBudget -= 1
            tookAny = true
            idx += 1
            last = GraftStreamingOffset(snap.sequenceNumber, idx)
          }
          if (idx < untilCap) blocked = true
          // fully consumed (or empty non-append) snapshot: advance past it
          else if (untilCap >= files.size && snap.sequenceNumber > last.seq)
            last = GraftStreamingOffset(snap.sequenceNumber, files.size)
        }
      }
    last
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftStreamingOffset]
    val e = end.asInstanceOf[GraftStreamingOffset]
    val files = lineage()
      .filter(sn => sn.sequenceNumber >= s.seq && sn.sequenceNumber <= e.seq)
      .flatMap { snap =>
        val fs = addedFiles(snap)
        val from = if (snap.sequenceNumber == s.seq) s.fileIdx else 0
        val until = if (snap.sequenceNumber == e.seq) e.fileIdx else fs.size
        fs.slice(from, until)
      }
    // one file per partition; streaming batches are small by construction.
    // Spark asks for the reader factory after the partitions, so the
    // factory is built for exactly these files
    planned = files
    val shreds = GraftSparkTable.shredSpecsOf(table.meta.properties, table.schema)
    files.map(t => GraftSparkTable.GraftInputPartition(
      Array(GraftSparkTable.toDesc(t, shreds))): InputPartition).toArray
  }

  /** the files the latest planInputPartitions returned */
  @volatile private var planned: Seq[FileScanTask] = Nil

  override def createReaderFactory(): PartitionReaderFactory = readerFactory(planned)

  override def deserializeOffset(json: String): Offset = GraftStreamingOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = if (asyncPlanning) prefetchExec.shutdownNow()
}

object GraftMicroBatchStream {
  final case class GraftStreamingOffset(seq: Long, fileIdx: Int) extends Offset {
    override def json(): String = s"""{"seq":$seq,"fileIdx":$fileIdx}"""
  }
  object GraftStreamingOffset {
    def fromJson(s: String): GraftStreamingOffset = {
      val n = MetaJson.mapper.readTree(s)
      GraftStreamingOffset(n.get("seq").asLong(), n.get("fileIdx").asInt())
    }
  }
}

/** Streaming sink (reference SparkWrite.asStreamingAppend): exactly-once
  * via idempotent commits — each epoch's snapshot records
  * (query-id, epoch-id) in its summary; a replayed epoch with an id at or
  * below the last committed one for the same query is skipped. */
final class GraftStreamingWrite(table: GTable, queryId: String,
    batchFactory: PhysicalWriteInfo => org.apache.spark.sql.connector.write.DataWriterFactory,
    truncateFirst: Boolean,
    snapshotProps: Map[String, String] = Map.empty)
  extends StreamingWrite {

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val inner = batchFactory(info)
    new StreamingDataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long,
          epochId: Long): DataWriter[InternalRow] =
        inner.createWriter(partitionId, taskId)
    }
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val lastCommitted = table.refresh().snapshots
      .filter(_.summary.get("streaming-query-id").contains(queryId))
      .flatMap(_.summary.get("streaming-epoch-id").flatMap(_.toLongOption))
      .maxOption
    if (lastCommitted.exists(_ >= epochId)) return // replayed epoch: no-op
    val msgs = messages.filter(_ != null)
    val dataFiles = msgs.flatMap {
      case m: GraftCommitMessage      => m.files
      case m: GraftDeltaCommitMessage => m.dataFiles
    }.toSeq
    val eqDeletes = msgs.collect {
      case m: GraftDeltaCommitMessage => m.deleteFiles
    }.flatten.toSeq
    def withProps[P <: graft.core.meta.SnapshotProducer](p: P): P = {
      snapshotProps.foreach { case (k, v) => p.set(k, v) }
      p.set("streaming-query-id", queryId)
        .set("streaming-epoch-id", epochId.toString)
      p
    }
    if (truncateFirst) {
      withProps(table.newOverwrite().overwriteByRowFilter(graft.core.expr.TrueE)
        .addFiles(dataFiles)).commit()
    } else if (eqDeletes.nonEmpty) {
      // streaming upsert: new rows + equality deletes of the epoch's keys
      val rd = table.newRowDelta()
      dataFiles.foreach(rd.addRows)
      eqDeletes.foreach(rd.addDeletes)
      withProps(rd).commit()
    } else {
      withProps(table.newAppend().appendFiles(dataFiles)).commit()
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.filter(_ != null).flatMap {
      case m: GraftCommitMessage      => m.files
      case m: GraftDeltaCommitMessage => m.dataFiles ++ m.deleteFiles
      case _                          => Nil
    }.foreach(f => GraftIO.delete(f.path))
}
