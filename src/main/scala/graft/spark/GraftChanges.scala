package graft.spark

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.meta._
import graft.core.types.SparkTypes

/** Changelog scan: `tbl.changes` (reference SparkChangelogTable /
  * BaseIncrementalChangelogScan / ChangelogRowReader). Emits every row
  * change between snapshots with `_change_type` (INSERT/DELETE),
  * `_change_ordinal` (commit order within the range) and
  * `_commit_snapshot_id`. Sources of changes per snapshot:
  *   - data files added        → INSERT rows
  *   - data files removed      → DELETE rows (whole file)
  *   - position deletes added  → DELETE rows (masked positions, emitted
  *     by reading the referenced data file and keeping ONLY deleted rows)
  * Carryover removal and update pairing are DataFrame transforms layered
  * on top by the create_changelog_view procedure — the scan itself stays
  * a flat file-parallel read.
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

  /** one unit of changelog work: read a data file, emit rows as changes */
  final case class ChangeTask(
      path: String,
      length: Long,
      changeType: String, // INSERT | DELETE
      ordinal: Int,
      commitSnapshotId: Long,
      // when set: emit ONLY the rows at these delete-file positions
      posDeletePaths: Array[String],
      // positions already deleted BEFORE this snapshot: excluded from the
      // emitted rows (a removed/re-deleted row must not be re-reported)
      maskPaths: Array[String] = Array.empty,
      // when set: emit ONLY rows whose identifier key appears in these
      // equality-delete files (MoR equality deletes / streaming upsert)
      eqDeletePaths: Array[String] = Array.empty,
      eqKeyPositions: Array[Int] = Array.empty,
      // per-entry formats of the three delete-path arrays (parallel;
      // entries past the end default to parquet) — delete files keep
      // their OWN manifest-recorded format, independent of the data's
      posDelFormats: Array[String] = Array.empty,
      maskFormats: Array[String] = Array.empty,
      eqDelFormats: Array[String] = Array.empty,
      // data-file format + write-time schema id: ORC resolves columns by
      // NAME, so files written before a rename read under their
      // write-time names through a per-schema reader
      format: String = "parquet",
      writeSchemaId: Int = -1,
      // spec id + partition tuple of the data file, for the identity-
      // constant fill over imported (nm/im) files that physically lack
      // their identity-partition columns — same rule as the batch scan
      specId: Int = -1,
      partition: Array[Any] = Array.empty) extends InputPartition
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
        // (Kept unbound here; the keeper rebinds at plan time against
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

  /** per-DATA-file keeper for the pushed row filter — the batch scan's
    * layer-3 funnel via the shared core FileKeeper. Delete files are
    * never filtered: they mask rows of KEPT files. */
  private def keeper(m: TableMetadata): DataFile => Boolean =
    FileKeeper.forFilter(m, rowFilter)

  // snapshotId -> the schema current at that commit (for write-time names)
  @volatile private var schemaIds: Map[Long, Int] = Map.empty
  private def schemaIdOf(snapshotId: Long): Int =
    schemaIds.getOrElse(snapshotId, -1)

  // `keep`: the pushed-filter keeper — filtering the STATE MAPS keeps
  // the before/after diff, pos-delete targets, and eq-delete fan-out all
  // consistently restricted to files whose rows can match (a pruned
  // file's change rows would be dropped by Spark's post-scan filter
  // anyway; pruning them here skips the file read entirely)
  private def liveDataFiles(sn: Snapshot,
      keep: DataFile => Boolean): Map[String, (DataFile, Int)] =
    ManifestIO.readList(sn.manifestListPath)
      .filter(_.content == 0)
      .flatMap(mf => ManifestIO.readEntries(mf).filter(_.isLive))
      .filter(e => keep(e.file))
      .map(e => e.file.path ->
        (e.file, e.writeSchemaId.getOrElse(schemaIdOf(e.snapshotId)))).toMap

  // formats present in the planned tasks: lets the reader factory skip
  // building ORC/Avro/name-based readers for pure-parquet tables
  @volatile private var plannedFormats: Set[String] = null
  // formats of the planned DELETE files (pos/mask/eq) — external trees
  // mix avro/orc deletes over parquet data
  @volatile private var plannedDelFormats: Set[String] = null

  override def planInputPartitions(): Array[InputPartition] = {
    val m = table.refresh()
    val keep = keeper(m)
    schemaIds = m.snapshots.flatMap(s => s.schemaId.map(s.snapshotId -> _)).toMap
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

    val tasks = Seq.newBuilder[InputPartition]
    // the range is a contiguous parent chain: each snapshot's state is the
    // next one's parent state — carry it forward instead of re-reading
    var carried: Option[Map[String, (DataFile, Int)]] = None
    range.zipWithIndex.foreach { case (sn, ordinal) =>
      val manifests = ManifestIO.readList(sn.manifestListPath)
      // data files added in this snapshot
      manifests.filter(mf => mf.content == 0 && mf.addedSnapshotId == sn.snapshotId)
        .flatMap(mf => ManifestIO.readEntries(mf))
        .filter(e => e.status == ManifestEntryStatus.Added && e.snapshotId == sn.snapshotId)
        .filter(e => keep(e.file))
        .foreach { e =>
          tasks += ChangeTask(e.file.path, e.file.fileSizeBytes, "INSERT",
            ordinal, sn.snapshotId, Array.empty,
            format = e.file.format,
            writeSchemaId = e.writeSchemaId.getOrElse(schemaIdOf(e.snapshotId)),
            specId = e.file.specId, partition = e.file.partition.toArray)
        }
      // position-delete files live in the PARENT state: rows they mask
      // were deleted by EARLIER snapshots and must not be re-reported by
      // this snapshot's removed-file or re-delete tasks
      val parentOpt = sn.parentId.flatMap(m.snapshotById)
      val parentPosDeletes: Seq[DataFile] = parentOpt.toSeq.flatMap { parent =>
        ManifestIO.readList(parent.manifestListPath)
          .filter(_.content == 1)
          .flatMap(mf => ManifestIO.readEntries(mf).filter(_.isLive).map(_.file))
          .filter(_.content == FileContent.PositionDeletes)
      }
      def maskFilesFor(path: String): Seq[DataFile] =
        parentPosDeletes.filter(_.referencedDataFile.forall(_ == path))
      def maskFor(path: String): Array[String] =
        maskFilesFor(path).map(_.path).toArray
      def maskFmts(path: String): Array[String] =
        maskFilesFor(path).map(_.format).toArray
      val beforeOpt: Option[Map[String, (DataFile, Int)]] =
        carried.orElse(parentOpt.map(liveDataFiles(_, keep)))
      val after = liveDataFiles(sn, keep)
      carried = Some(after)
      // data files removed vs parent (copy-on-write deletes/overwrites)
      beforeOpt.foreach { before =>
        (before.keySet -- after.keySet).foreach { path =>
          val (f, ws) = before(path)
          tasks += ChangeTask(f.path, f.fileSizeBytes, "DELETE",
            ordinal, sn.snapshotId, Array.empty, maskPaths = maskFor(path),
            maskFormats = maskFmts(path),
            format = f.format, writeSchemaId = ws,
            specId = f.specId, partition = f.partition.toArray)
        }
      }
      // delete files added in this snapshot (merge-on-read)
      val addedDeleteEntries = manifests.filter(mf => mf.content == 1 &&
          mf.addedSnapshotId == sn.snapshotId)
        .flatMap(mf => ManifestIO.readEntries(mf))
        .filter(e => e.status == ManifestEntryStatus.Added &&
          e.snapshotId == sn.snapshotId)
        .map(_.file)
      val addedDeletes = addedDeleteEntries.filter(_.content == FileContent.PositionDeletes)
      if (addedDeletes.nonEmpty) {
        val live = after
        // group known-ref deletes by target; only unknown-ref deletes fan
        // out against every live data file (reader filters by path)
        val (known, unknown) = addedDeletes.partition(_.referencedDataFile.isDefined)
        val targets: Seq[((DataFile, Int), Seq[DataFile])] = {
          val byRef = known.groupBy(_.referencedDataFile.get).toSeq
            .flatMap { case (p, ds) =>
              live.get(p).map(f => (f, ds ++ unknown)) }
          val covered = byRef.map(_._1._1.path).toSet
          byRef ++ (if (unknown.isEmpty) Nil
                    else live.values.filterNot(f => covered(f._1.path))
                      .map(f => (f, unknown)).toSeq)
        }
        targets.foreach { case ((dataFile, ws), deletes) =>
          tasks += ChangeTask(dataFile.path, dataFile.fileSizeBytes, "DELETE",
            ordinal, sn.snapshotId, deletes.map(_.path).toArray,
            maskPaths = maskFor(dataFile.path),
            posDelFormats = deletes.map(_.format).toArray,
            maskFormats = maskFmts(dataFile.path),
            format = dataFile.format, writeSchemaId = ws,
            specId = dataFile.specId, partition = dataFile.partition.toArray)
        }
      }
      // equality-delete files added in this snapshot (streaming upsert /
      // CDC writers): rows of PRIOR files whose identifier key matches are
      // the deleted rows; same-commit data files are unaffected (equality
      // deletes apply only to lower sequence numbers)
      val addedEqDeletes = addedDeleteEntries.filter(_.content == FileContent.EqualityDeletes)
      if (addedEqDeletes.nonEmpty) {
        val schema = m.schema
        beforeOpt.foreach { before =>
          addedEqDeletes.groupBy(_.equalityIds).foreach { case (ids, eqFiles) =>
            val keyPos = ids.map(id => schema.posOf(id)).toArray
            before.values.foreach { case (dataFile, ws) =>
              tasks += ChangeTask(dataFile.path, dataFile.fileSizeBytes, "DELETE",
                ordinal, sn.snapshotId, Array.empty,
                maskPaths = maskFor(dataFile.path),
                maskFormats = maskFmts(dataFile.path),
                eqDeletePaths = eqFiles.map(_.path).toArray,
                eqDelFormats = eqFiles.map(_.format).toArray,
                eqKeyPositions = keyPos,
                format = dataFile.format, writeSchemaId = ws,
                specId = dataFile.specId, partition = dataFile.partition.toArray)
            }
          }
        }
      }
    }
    val out = tasks.result().toArray
    plannedFormats = out.map(_.asInstanceOf[ChangeTask].format).toSet
    plannedDelFormats = out.iterator.map(_.asInstanceOf[ChangeTask])
      .flatMap(t => t.posDelFormats ++ t.maskFormats ++ t.eqDelFormats).toSet
    out
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    val dataSchema = SparkTypes.toSparkSchema(table.schema)
    val fmt = new ParquetFileFormat
    val conf = spark.sessionState.newHadoopConfWithOptions(Map.empty)
    conf.setBoolean("spark.sql.parquet.fieldId.read.enabled", true)
    // encrypted tables: parquet modular decryption factory + key list ride
    // the job conf to executors, mirroring the batch scan
    GraftParquetCrypto.configure(conf, table.meta)
    def freshConf = new org.apache.hadoop.conf.Configuration(conf)
    val rowFunc = fmt.buildReaderWithPartitionValues(spark, dataSchema,
      new StructType(), dataSchema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false",
        "enableVectorizedReader" -> "false"), freshConf)
    // ORC and imported-parquet data files resolve by NAME (per-write-
    // schema readers for since-renamed columns, like the batch scan),
    // avro via our own field-id reader. Only built for formats the plan
    // actually contains — a pure-parquet changelog pays nothing extra.
    val fmts = Option(plannedFormats)
      .getOrElse(Set("parquet", "parquet-nm", "parquet-im", "orc", "orc-nm",
        "avro"))
    val stripped = GraftSparkTable.stripFieldIds(dataSchema)
    val cur = table.schema
    lazy val nameDiffering = table.meta.schemas
      .filter(h => h.schemaId != cur.schemaId &&
        GraftSparkTable.namesDiffer(cur, h))
    // field-id matching OFF for the name-based formats
    lazy val nameConf = {
      val c = freshConf
      c.setBoolean("spark.sql.parquet.fieldId.read.enabled", false)
      c
    }
    val orcFmt = new org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
    def reader(isOrc: Boolean)(st: StructType)
        : PartitionedFile => Iterator[InternalRow] = {
      val opts = Map(FileFormat.OPTION_RETURNING_BATCH -> "false",
        "enableVectorizedReader" -> "false")
      if (isOrc) orcFmt.buildReaderWithPartitionValues(spark, st,
        new StructType(), st, Nil, opts, nameConf)
      else fmt.buildReaderWithPartitionValues(spark, st,
        new StructType(), st, Nil, opts, nameConf)
    }
    def funcsFor(isOrc: Boolean): (PartitionedFile => Iterator[InternalRow],
        Map[Int, PartitionedFile => Iterator[InternalRow]]) =
      (reader(isOrc)(stripped),
        nameDiffering.map(h => h.schemaId -> reader(isOrc)(
          GraftSparkTable.translateTopNames(stripped, cur, h))).toMap)
    val (orcFunc, orcHist) =
      if (fmts("orc") || fmts("orc-nm")) funcsFor(isOrc = true)
      else (null, Map.empty[Int,
        PartitionedFile => Iterator[InternalRow]])
    val (nmFunc, nmHist) =
      if (fmts("parquet-nm")) funcsFor(isOrc = false) else (null, Map.empty[Int,
        PartitionedFile => Iterator[InternalRow]])
    val avroFunc = if (fmts("avro")) GraftAvro.ReadFunc(dataSchema.json) else null
    // delete FILES dispatch on their own manifest-recorded format
    // (reference DeleteFilter): position deletes read (file_path, pos),
    // equality deletes read the full schema (absent columns null)
    val delFmts = Option(plannedDelFormats)
      .getOrElse(Set("parquet", "orc", "avro"))
    val (deleteFunc, avroDeleteFunc, orcDeleteFunc) =
      GraftSparkTable.positionDeleteReaders(spark, conf, delFmts + "parquet")
    val avroEqFunc: PartitionedFile => Iterator[InternalRow] =
      if (delFmts("avro")) GraftAvro.ReadFunc(dataSchema.json) else null
    val orcEqFunc =
      if (delFmts("orc")) reader(isOrc = true)(stripped) else null
    // identity-partition constants for imported (nm/im) files — same
    // construction as the batch scan's identityConsts (reference
    // PartitionUtil.constantsMap): specId -> (source name, tuple index)
    val identityConsts: Map[Int, Seq[(String, Int)]] =
      if (!fmts.exists(f => f == "parquet-nm" || f == "orc-nm" ||
          f == "parquet-im")) Map.empty
      else table.meta.specs.map { sp =>
        sp.specId -> sp.fields.zipWithIndex.flatMap { case (pfld, i) =>
          if (pfld.transform != graft.core.transform.IdentityT) None
          else table.schema.byId.get(pfld.sourceId).map(src => (src.name, i))
        }
      }.filter(_._2.nonEmpty).toMap
    new ChangesReaderFactory(rowFunc, deleteFunc, dataSchema,
      graft.core.meta.TableCrypto.resolve(table.meta),
      orcFunc, orcHist, avroFunc, nmFunc, nmHist,
      avroDeleteFunc, orcDeleteFunc, avroEqFunc, orcEqFunc,
      identityConsts)
  }

  private final class ChangesReaderFactory(
      rowFunc: PartitionedFile => Iterator[InternalRow],
      deleteFunc: PartitionedFile => Iterator[InternalRow],
      dataSchema: StructType,
      // resolved at plan time and serialized into the factory, mirroring
      // the batch scan: executor-side DV reads over encrypted tables must
      // not depend on a driver-populated CryptoRegistry
      crypto: Option[graft.core.meta.TableCrypto],
      orcFunc: PartitionedFile => Iterator[InternalRow],
      orcHist: Map[Int, PartitionedFile => Iterator[InternalRow]],
      avroFunc: PartitionedFile => Iterator[InternalRow],
      nmFunc: PartitionedFile => Iterator[InternalRow],
      nmHist: Map[Int, PartitionedFile => Iterator[InternalRow]],
      avroDeleteFunc: PartitionedFile => Iterator[InternalRow] = null,
      orcDeleteFunc: PartitionedFile => Iterator[InternalRow] = null,
      avroEqFunc: PartitionedFile => Iterator[InternalRow] = null,
      orcEqFunc: PartitionedFile => Iterator[InternalRow] = null,
      identityConsts: Map[Int, Seq[(String, Int)]] = Map.empty)
    extends PartitionReaderFactory {

    /** wrap an imported-format reader so identity-partition source
      * columns come from the task's partition tuple instead of the
      * (absent) file column — the batch scan's identityFill, for CDC */
    private def identityFill(t: ChangeTask,
        f: PartitionedFile => Iterator[InternalRow])
        : PartitionedFile => Iterator[InternalRow] = {
      if (f == null) return f
      val consts = identityConsts.getOrElse(t.specId, Nil)
      if (consts.isEmpty) return f
      GraftSparkTable.identityFillProjection(
          dataSchema, consts, t.partition.toSeq) match {
        case Some(proj) => pfile => f(pfile).map(proj)
        case None       => f
      }
    }

    /** format-dispatched reader for a change task's DATA file (equality-
      * delete files stay on the parquet rowFunc — the delta writer always
      * writes deletes as parquet) */
    private def dataFunc(t: ChangeTask): PartitionedFile => Iterator[InternalRow] =
      t.format match {
        case "orc"    => orcHist.getOrElse(t.writeSchemaId, orcFunc)
        case "orc-nm" =>
          identityFill(t, orcHist.getOrElse(t.writeSchemaId, orcFunc))
        case "parquet-nm" =>
          identityFill(t, nmHist.getOrElse(t.writeSchemaId, nmFunc))
        // parquet-im: the id-resolved reader serves column-mapped files
        // directly (ids are the table's ids by construction); the
        // partition columns still exist only in metadata
        case "parquet-im" => identityFill(t, rowFunc)
        case "avro"       => avroFunc
        case _            => rowFunc
      }

    private def pf(path: String, length: Long): PartitionedFile =
      PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path), 0L,
        length, Array.empty[String], 0L, length, Map.empty)

    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val t = partition.asInstanceOf[ChangeTask]
      val metaRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](UTF8String.fromString(t.changeType), t.ordinal, t.commitSnapshotId))
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      def positionsOf(paths: Array[String], formats: Array[String]) =
        GraftSparkTable.deletedPositions(t.path, paths, formats, crypto,
          deleteFunc, avroDeleteFunc, orcDeleteFunc)
      // rows deleted BEFORE this snapshot are never re-reported
      val masked = positionsOf(t.maskPaths, t.maskFormats)
      val base: Iterator[InternalRow] =
        if (t.eqDeletePaths.nonEmpty) {
          // emit rows whose identifier key appears in the added
          // equality-delete files (canonical value copies for hashing)
          def canonical(row: InternalRow, p: Int): Any =
            if (row.isNullAt(p)) null
            else SparkBridge.valueAt(row, p, dataSchema(p).dataType)
          val keys = new java.util.HashSet[Seq[Any]]()
          t.eqDeletePaths.zipWithIndex.foreach { case (ep, ei) =>
            // per-JVM cache, keyed by (path, key positions, key types):
            // one eq-delete file masks every lower-sequence data file in
            // the range, so each change task would otherwise re-parse it
            val cached = GraftSparkTable.executorCache.get(
              ("eq-chg", ep, t.eqKeyPositions.toSeq,
                t.eqKeyPositions.map(p => dataSchema(p).dataType.catalogString).toSeq),
              (s: java.util.HashSet[Seq[Any]]) =>
                GraftSparkTable.EqDeleteCache.weighKeySet(s, t.eqKeyPositions.length)) {
              val ks = new java.util.HashSet[Seq[Any]]()
              // the eq-delete FILE reads with its own format's
              // full-schema reader (absent columns resolve null)
              val eqRead =
                (if (ei < t.eqDelFormats.length) t.eqDelFormats(ei)
                 else "parquet") match {
                  case "avro" if avroEqFunc != null => avroEqFunc
                  case "orc" if orcEqFunc != null   => orcEqFunc
                  case _                            => rowFunc
                }
              eqRead(pf(ep, Long.MaxValue)).foreach { r =>
                ks.add(t.eqKeyPositions.map(p => canonical(r, p)).toSeq)
              }
              ks
            }
            keys.addAll(cached)
          }
          dataFunc(t)(pf(t.path, t.length)).zipWithIndex.collect {
            case (row, idx) if !masked.contains(idx.toLong) &&
              keys.contains(t.eqKeyPositions.map(p => canonical(row, p)).toSeq) => row
          }
        } else if (t.posDeletePaths.isEmpty) {
          if (masked.isEmpty) dataFunc(t)(pf(t.path, t.length))
          else dataFunc(t)(pf(t.path, t.length)).zipWithIndex.collect {
            case (row, idx) if !masked.contains(idx.toLong) => row
          }
        } else {
          val deleted = positionsOf(t.posDeletePaths, t.posDelFormats)
          // emit ONLY the newly deleted positions — these are the removed rows
          dataFunc(t)(pf(t.path, t.length)).zipWithIndex.collect {
            case (row, idx) if deleted.contains(idx.toLong) &&
              !masked.contains(idx.toLong) => row
          }
        }
      val it = base.map(row => joined(row, metaRow): InternalRow)
      new PartitionReader[InternalRow] {
        private var current: InternalRow = _
        override def next(): Boolean = { val has = it.hasNext; if (has) current = it.next(); has }
        override def get(): InternalRow = current
        override def close(): Unit = ()
      }
    }
  }
}
