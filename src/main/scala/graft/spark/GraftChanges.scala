package graft.spark

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.meta._
import graft.core.types.SparkTypes
import graft.spark.GraftSparkTable.{GraftInputPartition, GraftReaderFactory, TaskDesc}

/** Changelog scan: `tbl.changes` (reference SparkChangelogTable /
  * BaseIncrementalChangelogScan / ChangelogRowReader). Emits every row
  * change between snapshots with `_change_type` (INSERT/DELETE),
  * `_change_ordinal` (commit order within the range) and
  * `_commit_snapshot_id`. Each snapshot S in the range is planned once by
  * the core planner, and its plan is the next snapshot's "before" state.
  * Per data file F:
  *   - F new in S                → INSERT rows (masked by S's deletes)
  *   - F in before, not in S     → DELETE rows: F masked by before's deletes
  *   - deletes S added for F     → DELETE rows: F masked by before's
  *     deletes, keeping only the rows the added deletes hit
  * The planner decides which deletes apply to a file (sequence number,
  * partition, referenced file), and the masks include equality deletes,
  * so a row is never reported deleted twice. Rows are read by the batch
  * scan's reader. Carryover removal and update pairing are DataFrame
  * transforms layered on top by the create_changelog_view procedure.
  */
object GraftChangesTable {
  val ChangeType = "_change_type"
  val ChangeOrdinal = "_change_ordinal"
  val CommitSnapshotId = "_commit_snapshot_id"

  def changeSchema(table: GTable): StructType =
    SparkTypes.toSparkSchema(table.schema)
      .add(ChangeType, StringType, nullable = false)
      .add(ChangeOrdinal, IntegerType, nullable = false)
      .add(CommitSnapshotId, LongType, nullable = false)

  /** one unit of changelog work: `read` is the data file with its mask
    * (the deletes that applied before this change), read by the batch
    * scan's reader. `added` is the same file with only the deletes this
    * snapshot added for it; when it has any, only the rows they hit are
    * emitted. */
  final case class ChangeTask(
      read: TaskDesc,
      added: TaskDesc,
      changeType: String, // INSERT | DELETE
      ordinal: Int,
      commitSnapshotId: Long) extends InputPartition
}

final class GraftChangesTable(table: GTable, fullName: String)
  extends Table with SupportsRead {

  override def name(): String = fullName
  override def schema(): StructType = GraftChangesTable.changeSchema(table)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // timestamp range (reference SparkReadOptions START_TIMESTAMP /
    // END_TIMESTAMP, millis): resolved against the main-branch ancestry —
    // start is exclusive (the baseline state), end inclusive — and
    // rejected when mixed with the id form, like the reference
    val startId = Option(options.get("start-snapshot-id")).map(_.toLong)
    val endId = Option(options.get("end-snapshot-id")).map(_.toLong)
    val startTs = Option(options.get("start-timestamp")).map(_.toLong)
    val endTs = Option(options.get("end-timestamp")).map(_.toLong)
    require(startId.isEmpty || startTs.isEmpty,
      "cannot set both start-snapshot-id and start-timestamp")
    require(endId.isEmpty || endTs.isEmpty,
      "cannot set both end-snapshot-id and end-timestamp")
    // ONE refresh resolves both bounds (they must agree on the lineage);
    // commit timestamps may be non-monotonic under writer clock skew, so
    // filter the whole ancestry, not a sorted prefix
    lazy val ancestry = table.refresh().ancestry("main").sortBy(_.sequenceNumber)
    def byTs(ts: Long): Option[Long] =
      ancestry.filter(_.timestampMs <= ts).lastOption.map(_.snapshotId)
    val start = startId.orElse(startTs.flatMap(byTs))
    val end = endId.orElse(endTs.flatMap(byTs))
    require(endTs.isEmpty || end.isDefined,
      s"end-timestamp ${endTs.get} precedes the first snapshot")
    // filter pushdown (reference BaseIncrementalChangelogScan takes the
    // scan's row filter): pushed predicates on DATA columns prune whole
    // change tasks at planning — partition projection + file metrics,
    // same funnel as the batch scan. A partition-filtered CDC read of a
    // 100 TB table must not open every changed file. All predicates
    // return to Spark for row-level evaluation (pruning is inclusive).
    new ScanBuilder
      with org.apache.spark.sql.connector.read.SupportsPushDownV2Filters {
      import org.apache.spark.sql.connector.expressions.filter.{Predicate => VPred}
      private var pushed: Array[VPred] = Array.empty
      private var exprs: Seq[graft.core.expr.Expr] = Nil
      override def pushPredicates(ps: Array[VPred]): Array[VPred] = {
        // only predicates that BIND against the table schema count as
        // pushed — a _change_type filter converts but can never prune,
        // and advertising it in the plan would mislead CDC tuning.
        // (Kept unbound here; the planner binds it at plan time against
        // the refreshed schema.)
        val conv = ps.flatMap { p =>
          SparkBridge.toExpr(p)
            .filter(e => scala.util.Try(
              graft.core.expr.Expr.bind(table.meta.schema, e)).isSuccess)
            .map(p -> _)
        }
        pushed = conv.map(_._1)
        exprs = conv.map(_._2).toSeq
        ps
      }
      override def pushedPredicates(): Array[VPred] = pushed
      override def build(): Scan = new GraftChangesScan(table, start, end,
        exprs.foldLeft[graft.core.expr.Expr](graft.core.expr.TrueE)(
          graft.core.expr.Expr.and))
    }
  }
}

final class GraftChangesScan(table: GTable, startId: Option[Long],
    endId: Option[Long],
    rowFilter: graft.core.expr.Expr = graft.core.expr.TrueE)
  extends Scan with Batch {

  import GraftChangesTable._

  override def readSchema(): StructType = changeSchema(table)
  override def toBatch: Batch = this
  override def description(): String = {
    val f = if (rowFilter == graft.core.expr.TrueE) ""
      else s", filter=$rowFilter"
    s"graft-changes(${table.location}$f)"
  }

  // the planned tasks the reader factory is built for: each change's mask
  // task, and the same file with its added deletes, so the batch reader
  // factory builds a reader for every data and delete format
  @volatile private var staged: Seq[FileScanTask] = Nil

  override def planInputPartitions(): Array[InputPartition] = {
    val m = table.refresh()
    // main-branch ancestry only: snapshots staged on other branches (WAP)
    // are not published changes and must not appear in CDC output
    val ordered = m.ancestry("main").sortBy(_.sequenceNumber)
    val startSeq = startId.map(id => m.snapshotById(id)
      .getOrElse(throw new IllegalArgumentException(s"unknown snapshot $id"))
      .sequenceNumber).getOrElse(0L)
    val endSeq = endId.map(id => m.snapshotById(id)
      .getOrElse(throw new IllegalArgumentException(s"unknown snapshot $id"))
      .sequenceNumber).getOrElse(Long.MaxValue)
    // (start, end]: the start snapshot's own state is the baseline
    val range = ordered.filter(sn => sn.sequenceNumber > startSeq && sn.sequenceNumber <= endSeq)
    // the pushed row filter prunes files exactly as the batch scan does
    // (partition projection + file metrics); delete files are attached
    // by the planner, never filtered
    def plan(snapshotId: Long): Map[String, FileScanTask] =
      table.newScan().useSnapshot(snapshotId).filter(rowFilter).planFiles()
        .map(t => t.file.path -> t).toMap
    val shreds = GraftSparkTable.shredSpecsOf(m.properties, m.schema)
    val tasks = Seq.newBuilder[ChangeTask]
    val readerTasks = Seq.newBuilder[FileScanTask]
    def change(mask: FileScanTask, added: Seq[DataFile], changeType: String,
        ordinal: Int, sn: Snapshot): Unit = {
      val withAdded = mask.copy(deletes = added)
      tasks += ChangeTask(GraftSparkTable.toDesc(mask, shreds),
        GraftSparkTable.toDesc(withAdded, shreds),
        changeType, ordinal, sn.snapshotId)
      readerTasks += mask
      if (added.nonEmpty) readerTasks += withAdded
    }
    // the range is a contiguous parent chain: each snapshot's plan is the
    // next one's "before"; the first is the plan of its parent (nothing
    // when the parent is absent or expired)
    var before: Map[String, FileScanTask] = range.headOption
      .flatMap(_.parentId).filter(m.snapshotById(_).isDefined)
      .map(plan).getOrElse(Map.empty)
    range.zipWithIndex.foreach { case (sn, ordinal) =>
      val after = plan(sn.snapshotId)
      after.values.foreach { t =>
        before.get(t.file.path) match {
          case None => change(t, Nil, "INSERT", ordinal, sn)
          case Some(b) =>
            val had = b.deletes.map(_.path).toSet
            val added = t.deletes.filterNot(d => had(d.path))
            if (added.nonEmpty) change(b, added, "DELETE", ordinal, sn)
        }
      }
      before.values.filterNot(b => after.contains(b.file.path))
        .foreach(b => change(b, Nil, "DELETE", ordinal, sn))
      before = after
    }
    staged = readerTasks.result()
    tasks.result().toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val dataSchema = SparkTypes.toSparkSchema(table.schema)
    // the batch scan over the staged tasks, row path, reading the table
    // columns plus each row's file position
    val scan = new GraftSparkTable.GraftScan(table, graft.core.expr.TrueE,
      dataSchema.add(GraftSparkTable.MetaPosCol, LongType, nullable = false),
      limit = None, snapshotId = None, branch = None, asOfTs = None,
      vecOverride = Some(false))
    new ChangeReaderFactory(scan.buildReaderFactory(staged), dataSchema)
  }
}

/** Reads a ChangeTask through the batch scan's reader: keeps the rows the
  * task's added deletes hit (all rows when it has none), drops `_pos` and
  * appends the three change columns. */
private final class ChangeReaderFactory(rows: GraftReaderFactory,
    dataSchema: StructType) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val t = partition.asInstanceOf[GraftChangesTable.ChangeTask]
    val nData = dataSchema.length
    val hitPositions = rows.deletedPositions(t.added.path,
      t.added.deletePaths, t.added.posDelFormats)
    val hitKeys = t.added.eqDeletes.map(rows.eqKeySet)
    def hit(row: InternalRow): Boolean =
      hitPositions.contains(row.getLong(nData)) ||
        hitKeys.exists { case (positions, keys) =>
          keys.contains(GraftSparkTable.keyAt(row, positions, dataSchema))
        }
    val keepAll = t.added.deletePaths.isEmpty && t.added.eqDeletes.isEmpty
    val data = UnsafeProjection.create(dataSchema.fields.zipWithIndex.map {
      case (f, i) => BoundReference(i, f.dataType, nullable = true)
    }.toSeq)
    val meta = new GenericInternalRow(Array[Any](
      UTF8String.fromString(t.changeType), t.ordinal, t.commitSnapshotId))
    val joined = new JoinedRow
    val in = rows.createReader(GraftInputPartition(Array(t.read)))
    new PartitionReader[InternalRow] {
      override def next(): Boolean = {
        var found = false
        while (!found && in.next()) found = keepAll || hit(in.get())
        found
      }
      override def get(): InternalRow = joined(data(in.get()), meta)
      override def close(): Unit = in.close()
    }
  }
}
