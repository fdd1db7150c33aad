package graft.core.meta

import scala.jdk.CollectionConverters._

import graft.core.expr._
import graft.core.types._

/** A planned read unit: one data file (or slice) + residual predicate +
  * the delete files that apply to it (reference FileScanTask). */
final case class FileScanTask(
    file: DataFile,
    start: Long,
    length: Long,
    residual: Expr,
    deletes: Seq[DataFile],
    // sequence number the file was added at (row lineage
    // _last_updated_sequence_number for unmodified rows)
    dataSequenceNumber: Long = 0L,
    // schema id current when the file was WRITTEN (from its adding
    // snapshot; -1 = unknown). Name-resolved formats (ORC) must read a
    // since-renamed column under its write-time name — without this a
    // rename silently nulls the column for pre-rename files.
    writeSchemaId: Int = -1)

/** Matches delete files to data files by partition + sequence number
  * (reference DeleteFileIndex.java). Position deletes apply when
  * deleteSeq >= dataSeq; equality deletes when deleteSeq > dataSeq. */
object DeleteFileIndex {
  /** reserved field id of the position-delete file_path column
    * (format/spec.md position-delete schema; reference
    * MetadataColumns.DELETE_FILE_PATH). Our writers store min/max of the
    * RELOCATION-STABLE suffix key (GraftIO.dataSuffix) so the bounds
    * survive a table move, where raw-path bounds would not. */
  val FilePathFieldId = 2147483546
  /** reserved field id of the position-delete pos column (reference
    * MetadataColumns.DELETE_FILE_POS) */
  val PosFieldId = 2147483545
}

final class DeleteFileIndex(deletes: Seq[ManifestEntry],
    schema: GSchema = null) extends Serializable {
  private def partKey(specId: Int, partition: Seq[Any]): (Int, Seq[Any]) =
    (specId, PartitionTuples.normalize(partition))

  private val (global, partitioned) = deletes.partition(_.file.partition.isEmpty)
  private val byPartition: Map[(Int, Seq[Any]), Seq[ManifestEntry]] =
    partitioned.groupBy(e => partKey(e.file.specId, e.file.partition))

  def isEmpty: Boolean = deletes.isEmpty

  def forDataFile(dataSeq: Long, f: DataFile): Seq[DataFile] = {
    val candidates = global ++
      byPartition.getOrElse(partKey(f.specId, f.partition), Nil)
    val pathKey = GraftIO.dataSuffix(f.path)
    candidates.filter { e =>
      val applies =
        if (e.file.content == FileContent.PositionDeletes) e.dataSequenceNumber >= dataSeq
        else e.dataSequenceNumber > dataSeq
      val targets = e.file.referencedDataFile.forall(_ == f.path)
      // partition-scoped position deletes: skip ones whose recorded
      // file_path range can't contain this data file (reference
      // DeleteFileIndex path-bounds filtering) — without this every
      // delete file in the partition rides along to every task
      val inPathBounds = e.file.content != FileContent.PositionDeletes ||
        e.file.columnStats.get(DeleteFileIndex.FilePathFieldId).forall { st =>
          st.lower.forall(l => pathKey.compareTo(l.toString) >= 0) &&
            st.upper.forall(u => pathKey.compareTo(u.toString) <= 0)
        }
      // equality deletes: a delete can only mask a row that EQUALS one of
      // its keys, so disjoint per-column [min,max] ranges prove it never
      // applies to this data file (reference DeleteFileIndex bounds
      // filtering). Requires both sides' bounds; a shared null makes the
      // ranges inconclusive.
      val eqOverlaps = e.file.content != FileContent.EqualityDeletes ||
        schema == null || !e.file.equalityIds.exists { fid =>
          schema.byId.get(fid).exists { field =>
            (e.file.columnStats.get(fid), f.columnStats.get(fid)) match {
              case (Some(d), Some(x)) =>
                // a NULL delete key matches NULL values regardless of the
                // ranges; pruning needs PROOF no null pair exists, i.e.
                // one side with a KNOWN-zero null count (an unknown count
                // may hide nulls — reference allNonNull semantics)
                val noNullPair =
                  d.nullCount.contains(0L) || x.nullCount.contains(0L)
                // an unexpected bound representation must degrade to
                // "keep the delete", never break the scan
                try noNullPair && (for (dl <- d.lower; du <- d.upper;
                    xl <- x.lower; xu <- x.upper) yield
                  TypeComparators.compare(field.tpe, du, xl) < 0 ||
                    TypeComparators.compare(field.tpe, dl, xu) > 0)
                  .contains(true)
                catch { case scala.util.control.NonFatal(_) => false }
              case _ => false
            }
          }
        }
      applies && targets && inPathBounds && eqOverlaps
    }.map(_.file)
  }
}

/** Serializable layer-3 planning input: ships to executors for
  * distributed planning of large metadata (manifest reads fan out on the
  * cluster; only surviving FileScanTasks come back to the driver). */
final case class PlanContext(
    schema: GSchema,
    bound: Expr,
    specs: Map[Int, PartitionSpec],
    partPreds: Map[Int, Expr],
    deleteIndex: DeleteFileIndex,
    // encrypted tables: resolved table key rides to executors in the
    // task closure (the driver-side CryptoRegistry doesn't travel)
    crypto: Option[TableCrypto] = None,
    // snapshotId → schemaId at commit time, for FileScanTask.writeSchemaId
    snapshotSchema: Map[Long, Int] = Map.empty)

object TableScan {
  /** Local layer-3 over many manifests: IO-bound, fan out on the common
    * pool (the cluster-job variant lives in the Spark layer). */
  def planManifests(ctx: PlanContext, mfs: Seq[ManifestFile]): Seq[FileScanTask] =
    if (mfs.size <= 1) mfs.flatMap(planManifest(ctx, _))
    else {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      Await.result(Future.traverse(mfs)(mf => Future(planManifest(ctx, mf))),
        Duration.Inf).flatten
    }

  /** Prune one data manifest's entries to FileScanTasks (runs on the
    * driver's fork-join pool or inside a Spark job). */
  def planManifest(ctx: PlanContext, mf: ManifestFile): Seq[FileScanTask] = {
    ManifestIO.readEntries(mf, ctx.crypto).filter(_.isLive).flatMap { e =>
      // resolve the spec per FILE, not per manifest: rewrite_manifests /
      // compaction can place entries written under an older spec inside a
      // manifest labeled with the current one, so the file's partition
      // tuple may not match the manifest spec's shape. When the file's
      // spec is unknown or its tuple doesn't match, skip partition
      // pruning entirely (conservative) — the row-level residual still
      // applies the full predicate.
      val fSpec = ctx.specs.get(e.file.specId)
        .filter(_.fields.length == e.file.partition.length)
      val partRow = ArrayRow(e.file.partition.toArray)
      val partKeep = fSpec.forall(sp =>
        RowEvaluator.eval(ctx.partPreds.getOrElse(sp.specId, TrueE), partRow))
      val keep = partKeep &&
        InclusiveMetricsEvaluator.rowsMightMatch(ctx.bound, e.file.fileStats)
      if (!keep) None
      else {
        val residual = fSpec match {
          case Some(sp) => Projections.residual(sp, ctx.schema, ctx.bound, partRow)
          case None     => ctx.bound
        }
        if (residual == FalseE) None
        else Some(FileScanTask(e.file, 0L, e.file.fileSizeBytes, residual,
          ctx.deleteIndex.forDataFile(e.dataSequenceNumber, e.file),
          e.dataSequenceNumber,
          writeSchemaId = e.writeSchemaId
            .getOrElse(ctx.snapshotSchema.getOrElse(e.snapshotId, -1))))
      }
    }
  }
}

/** Driver-side scan planning: the 3-layer metadata pruning funnel
  * (SURVEY.md §4; reference ManifestGroup.java):
  *   1. partition projection of the row filter (hidden partitioning)
  *   2. manifest pruning via manifest-list partition summaries
  *   3. per-file pruning: exact partition eval + column min/max stats
  * plus residual computation and delete-file attachment.
  */
/** One scan's planning-funnel counts (reference
  * api/.../metrics/ScanReport.java + core/.../metrics/): which snapshot
  * was planned, how many manifests the snapshot had vs how many survived
  * summary pruning, how many live files the surviving manifests carried
  * vs how many tasks planning produced, and how many delete files were
  * attached. At 100 TB this is the first thing to read when a query is
  * slow: it shows whether pruning actually pruned. */
final case class ScanReport(
    tableLocation: String, snapshotId: Long, filter: String,
    totalManifests: Int, scannedManifests: Int,
    totalDataFiles: Long, resultTasks: Int, resultDeleteFiles: Int,
    planningMs: Long, timestampMs: Long,
    distributedPlanning: Boolean = false)

/** Recent scan reports, newest first (bounded ring; served by the
  * `scan_reports` metadata table and GraftScan.description). */
object ScanReports {
  private val Max = 128
  private val buf = new java.util.concurrent.ConcurrentLinkedDeque[ScanReport]()
  // pluggable forwarders (e.g. the REST catalog posting reports to its
  // server, reference open-api reportMetrics); must never fail a scan
  private val sinks =
    new java.util.concurrent.CopyOnWriteArrayList[ScanReport => Unit]()
  def addSink(s: ScanReport => Unit): Unit = sinks.add(s)
  def add(r: ScanReport): Unit = {
    buf.addFirst(r)
    while (buf.size > Max) buf.pollLast()
    sinks.forEach(s => try s(r) catch { case _: Throwable => () })
  }
  def recent: Seq[ScanReport] = buf.iterator.asScala.toSeq
}

final class TableScan(table: GTable) {
  private var snapshotIdOpt: Option[Long] = None
  private var filterExpr: Expr = TrueE
  private var refName: Option[String] = None
  // bind/plan against the snapshot's write-time schema instead of the
  // table's current one (reference TableScanContext useSnapshotSchema /
  // open-api use-snapshot-schema) — after a rename, a snapshot-schema
  // filter must resolve the OLD name. A FLAG, resolved at plan time:
  // eager resolution would silently depend on useSnapshot()/asOfTime()
  // call order.
  private var snapshotSchemaBind: Boolean = false
  private var caseSensitiveBind: Boolean = false

  // planning-funnel counters captured by the last planParts() call
  private var rptSnapshotId = 0L
  private var rptTotalManifests = 0
  private var rptScannedManifests = 0
  private var rptTotalDataFiles = 0L

  /** report for the last planParts() + the given task result */
  def buildReport(resultTasks: Seq[FileScanTask], planningMs: Long,
      distributed: Boolean = false): ScanReport =
    ScanReport(table.location, rptSnapshotId, filterExpr.toString,
      rptTotalManifests, rptScannedManifests, rptTotalDataFiles,
      resultTasks.size, resultTasks.map(_.deletes.size).sum,
      planningMs, System.currentTimeMillis(), distributed)

  def useSnapshot(id: Long): TableScan = { snapshotIdOpt = Some(id); this }
  def useRef(name: String): TableScan = { refName = Some(name); this }
  def asOfTime(tsMs: Long): TableScan = {
    snapshotIdOpt = table.meta.snapshotAsOfTime(tsMs).map(_.snapshotId)
    if (snapshotIdOpt.isEmpty)
      throw new IllegalArgumentException(s"no snapshot as of $tsMs")
    this
  }
  def filter(e: Expr): TableScan = { filterExpr = Expr.and(filterExpr, e); this }

  /** bind and plan against the selected snapshot's write-time schema
    * (time travel; no-op when the snapshot predates schema tracking) */
  def useSnapshotSchema(): TableScan = { snapshotSchemaBind = true; this }

  def caseSensitive(on: Boolean): TableScan = { caseSensitiveBind = on; this }

  /** the schema this scan binds/plans with, resolved against the FINAL
    * snapshot selection (also what name-keyed request fields like
    * stats-fields must resolve against) */
  def planningSchema(snap: Snapshot): GSchema =
    if (!snapshotSchemaBind) table.meta.schema
    else snap.schemaId
      .flatMap(id => table.meta.schemas.find(_.schemaId == id))
      .getOrElse(table.meta.schema)

  def snapshot(): Option[Snapshot] = {
    val m = table.meta
    // an explicitly requested snapshot/ref must EXIST — silently serving
    // the current state would make time travel return wrong results
    // ("main" on an empty table legitimately resolves to no snapshot)
    snapshotIdOpt.foreach(id => require(m.snapshotById(id).isDefined,
      s"unknown snapshot id: $id"))
    refName.filter(_ != "main").foreach(r => require(m.ref(r).isDefined,
      s"unknown branch or tag: $r"))
    snapshotIdOpt.flatMap(m.snapshotById)
      .orElse(refName.flatMap(r => m.ref(r)).flatMap(r => m.snapshotById(r.snapshotId)))
      .orElse(if (refName.forall(_ == "main")) m.currentSnapshot else None)
  }

  /** summaries → pseudo-FileStats keyed by partition field id, so the
    * inclusive metrics evaluator doubles as the manifest evaluator */
  private def summaryStats(mf: ManifestFile, spec: PartitionSpec,
      schema: GSchema): FileStats = {
    val partType = spec.partitionType(schema)
    val cols = partType.fields.zipWithIndex.flatMap { case (pf, i) =>
      mf.partitionSummaries.lift(i).map { s =>
        pf.id -> ColStats(
          valueCount = None,
          nullCount = if (s.containsNull) None else Some(0L),
          nanCount = if (s.containsNan) None else Some(0L),
          // Avro-read lists keep bounds as raw Appendix-D bytes (their
          // type is only known here, with the spec in hand); JSON-read
          // bounds are already typed and pass through
          lower = s.lower.map(SingleValue.adapt(pf.tpe, _)),
          upper = s.upper.map(SingleValue.adapt(pf.tpe, _)))
      }
    }.toMap
    FileStats(1L, cols)
  }

  /** Layers 1+2 (partition projection + manifest-list pruning) plus the
    * delete index: everything layer 3 needs, packaged serializably so the
    * per-manifest entry pruning can run locally OR as a cluster job
    * (reference BaseDistributedDataScan / SparkDistributedDataScan). */
  def planParts(): Option[(PlanContext, Seq[ManifestFile])] = {
    val m = table.meta
    val snap = snapshot().getOrElse(return None)
    val schema = planningSchema(snap)
    val bound = Expr.bind(schema, filterExpr, caseSensitiveBind)
    val manifests = ManifestIO.readList(snap.manifestListPath)

    // per-spec inclusive partition projections (computed once)
    val partPreds = scala.collection.mutable.Map.empty[Int, Expr]
    def partPred(specId: Int): Expr =
      partPreds.getOrElseUpdate(specId,
        Projections.inclusive(m.specById(specId), schema, bound))

    // layer 2: manifest pruning via partition summaries
    val (dataManifests, deleteManifests) = manifests
      .filter(_.hasLiveFiles)
      .filter { mf =>
        val spec = m.specById(mf.specId)
        mf.partitionSummaries.isEmpty ||
          InclusiveMetricsEvaluator.rowsMightMatch(partPred(mf.specId),
            summaryStats(mf, spec, schema))
      }
      .partition(_.content == 0)

    // delete index from surviving delete manifests
    val deleteEntries = deleteManifests.flatMap { mf =>
      ManifestIO.readEntries(mf).filter(_.isLive)
    }
    val specIds = (dataManifests.map(_.specId) ++ deleteManifests.map(_.specId)).distinct
    rptSnapshotId = snap.snapshotId
    rptTotalManifests = manifests.size
    rptScannedManifests = dataManifests.size + deleteManifests.size
    // live-file counts come from manifest metadata — no extra IO
    rptTotalDataFiles = dataManifests
      .map(mf => mf.addedFilesCount.toLong + mf.existingFilesCount).sum
    // EVERY table spec, not just the manifest-declared ones: entries can
    // carry files written under a spec no surviving manifest is labeled
    // with (rewrite_manifests regroups them under the current spec)
    val allSpecIds = (specIds ++ m.specs.map(_.specId)).distinct
    val ctx = PlanContext(schema, bound,
      allSpecIds.map(id => id -> m.specById(id)).toMap,
      allSpecIds.map(id => id -> partPred(id)).toMap,
      new DeleteFileIndex(deleteEntries, schema),
      TableCrypto.resolve(m),
      snapshotSchema = m.snapshots
        .flatMap(s => s.schemaId.map(s.snapshotId -> _)).toMap)
    Some((ctx, dataManifests))
  }

  def planFiles(): Seq[FileScanTask] = planParts() match {
    case None => Nil
    case Some((ctx, dataManifests)) =>
      // layer 3: per-file pruning (exact partition eval + column stats)
      TableScan.planManifests(ctx, dataManifests)
  }

  /** Bin-pack tasks into groups of ~targetSize bytes (reference
    * TableScanUtil; default split 128 MB), one group per Spark
    * InputPartition. */
  def planTaskGroups(targetSize: Long = 128L * 1024 * 1024,
      openFileCost: Long = 4L * 1024 * 1024): Seq[Seq[FileScanTask]] = {
    val tasks = planFiles()
    val groups = Seq.newBuilder[Seq[FileScanTask]]
    var current = Seq.newBuilder[FileScanTask]
    var size = 0L
    var any = false
    tasks.foreach { t =>
      val w = math.max(t.length, openFileCost)
      if (any && size + w > targetSize) {
        groups += current.result()
        current = Seq.newBuilder[FileScanTask]
        size = 0L
        any = false
      }
      current += t
      size += w
      any = true
    }
    if (any) groups += current.result()
    groups.result()
  }

  /** total record count upper bound from metadata (for stats reporting) */
  def totalRecords(): Long = planFiles().map(_.file.recordCount).sum
}
