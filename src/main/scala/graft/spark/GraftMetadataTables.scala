package graft.spark

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.meta._
import graft.core.types.SparkTypes

/** One field of the table's UNIFIED partition struct (reference
  * Partitioning.partitionType — core Partitioning.java:240-244,267-328):
  * the union of partition fields across ALL specs whose source column is
  * still in the current schema, the newest spec's name winning on id
  * collisions, sorted by partition-field id, every field nullable (a file
  * of another spec has no value for it). Serializable: rides input
  * partitions to executors. `gt` keeps the engine-side type so pushed
  * partition predicates can bind for manifest pruning. */
final case class UPartField(fieldId: Int, name: String, dt: DataType,
    gt: graft.core.types.GType)

/** Metadata tables: `SELECT * FROM cat.db.tbl.snapshots` etc. (reference
  * core/.../MetadataTableType.java:23-39 + {Snapshots,History,…}Table.java).
  *
  * Snapshot/ref/history/manifest tables are O(snapshots) and served as
  * driver-side LocalScans. The entry-level tables (files/entries and
  * their all_ variants) and position_deletes are DISTRIBUTED scans —
  * one input partition per manifest (or delete file), entries read
  * executor-side — because at 100 TB those are millions of rows
  * (reference BaseFilesTable.ManifestReadTask / PositionDeletesTable).
  *
  * `partition` renders as the TYPED unified struct on files/entries/
  * partitions/position_deletes (reference PartitionsTable.java:104-108,
  * BaseFilesTable.java calculateSchema), so operators can
  * `WHERE partition.day >= DATE '…'` and join tables on typed values;
  * like the reference, the column is dropped entirely when every spec is
  * unpartitioned (BaseFilesTable.java:53 selectNot PARTITION_ID). */
object GraftMetadataTables {

  val types: Set[String] = Set(
    "snapshots", "history", "refs", "manifests", "files", "entries",
    "partitions", "metadata_log_entries", "position_deletes",
    "data_files", "delete_files",
    "all_files", "all_manifests", "all_entries",
    "all_data_files", "all_delete_files", "scan_reports", "commit_reports")

  private[spark] val filesKinds = Set("files", "data_files", "delete_files",
    "all_files", "all_data_files", "all_delete_files")
  private[spark] val entriesKinds = Set("entries", "all_entries")

  private def s(v: String): UTF8String = UTF8String.fromString(v)

  /** Map[String,String] → MapData with keys and values from ONE
    * pairwise traversal. Never build the arrays from `.keys.map(...)` /
    * `.values.map(...)`: mapping the keySet yields a NEW hash-ordered
    * Set (UTF8String hashing ≠ String hashing) while the values keep
    * insertion order — above 4 entries the two silently misalign. */
  private def strMap(m: Map[String, String]): ArrayBasedMapData = {
    val kv = m.toSeq
    ArrayBasedMapData(kv.map(e => s(e._1)).toArray, kv.map(e => s(e._2)).toArray)
  }

  // ------------------------------------------------ unified partition type

  /** Reference Partitioning.partitionType: union over all specs, LIMITED
    * to fields whose source column exists in the CURRENT schema
    * (allActiveFieldIds), newest spec's name on id collisions, sorted by
    * field id. graft's VoidT keeps the source's result type, so the
    * reference's void-vs-real type reconciliation is a no-op here. */
  def unifiedPartitionFields(m: TableMetadata): Seq[UPartField] = {
    val cur = m.schema.byId
    val seen =
      scala.collection.mutable.Map.empty[Int, (String, graft.core.types.GType)]
    m.specs.sortBy(-_.specId).foreach { sp =>
      sp.fields.foreach { pf =>
        cur.get(pf.sourceId).foreach { src =>
          if (!seen.contains(pf.fieldId))
            seen(pf.fieldId) = (pf.name, pf.transform.resultType(src.tpe))
        }
      }
    }
    val raw = seen.toSeq.sortBy(_._1).map { case (id, (n, gt)) =>
      UPartField(id, n, SparkTypes.toSpark(gt), gt) }
    // add_partition_field recycles historical field ids (reference
    // BaseUpdatePartitionSpec), so one name normally maps to one id —
    // but metadata written before that fix, or imported, can still carry
    // two ids under one name. Disambiguate: the NEWEST field keeps the
    // bare name, older twins get an id suffix, and the claim loop keeps
    // appending until genuinely unique (a real field could already be
    // named like a suffixed one).
    val newestByName = raw.groupBy(_.name).map { case (n, fs) =>
      n -> fs.map(_.fieldId).max }
    // two phases: every bare-name OWNER claims first, so a synthetic
    // suffix can never displace a real field that happens to be named
    // like one (e.g. a genuine column "a_3" vs twin-of-"a" id 3)
    val taken = scala.collection.mutable.Set.empty[String]
    raw.filter(f => newestByName(f.name) == f.fieldId)
      .foreach(f => taken.add(f.name))
    raw.map { f =>
      if (newestByName(f.name) == f.fieldId) f
      else {
        var n = s"${f.name}_${f.fieldId}"
        while (!taken.add(n)) n = n + "_"
        f.copy(name = n)
      }
    }
  }

  def partitionStructType(uparts: Seq[UPartField]): StructType =
    StructType(uparts.map(f => StructField(f.name, f.dt)))

  /** Per-spec coercion indexes: unified-struct position → tuple index
    * (-1 when the spec lacks the field). Computed ONCE per scan/task so
    * the per-row coercion is a flat array walk, not an indexOf — these
    * tables serve millions of rows at 100 TB. */
  def coercionIndexes(uparts: Seq[UPartField],
      specFieldIds: Map[Int, Seq[Int]]): Map[Int, Array[Int]] =
    specFieldIds.map { case (sid, ids) =>
      sid -> uparts.map(f => ids.indexOf(f.fieldId)).toArray
    }

  /** Coerce one file's spec-shaped tuple into the unified struct
    * (reference PartitionUtil.coercePartition): match by partition-field
    * id, null where this spec has no such field. Bounds-guarded — tuples
    * written before global deletes got their own spec (r16) can be
    * shorter than their stamped spec. */
  def coercedPartitionRow(uparts: Seq[UPartField], idx: Array[Int],
      tuple: Seq[Any]): InternalRow = {
    val out = new Array[Any](uparts.length)
    var i = 0
    while (i < out.length) {
      val j = if (i < idx.length) idx(i) else -1
      out(i) =
        if (j >= 0 && j < tuple.length) EqDeleteFiles.toInternal(tuple(j), uparts(i).dt)
        else null
      i += 1
    }
    new GenericInternalRow(out)
  }

  private[spark] val NoIdx: Array[Int] = Array.empty[Int]

  /** THE manifest list for a (possibly pinned) read. A pin that no
    * longer resolves — the snapshot expired between time-travel
    * resolution and this refresh — must THROW, never silently serve the
    * current snapshot as if it were historical state. */
  private[spark] def pinnedManifests(m: TableMetadata,
      asOf: Option[Long]): Seq[ManifestFile] = {
    val sn = asOf match {
      case Some(id) => Some(m.snapshotById(id).getOrElse(
        throw new IllegalArgumentException(
          s"snapshot $id no longer exists (expired since time-travel resolution)")))
      case None => m.currentSnapshot
    }
    sn.map(x => ManifestIO.readList(x.manifestListPath)).getOrElse(Nil)
  }

  /** Snapshots the all_* kinds enumerate: every retained snapshot
    * normally; under a VERSION/TIMESTAMP AS OF pin only the pinned
    * snapshot's ancestry — and the pin must still RESOLVE. Silently
    * enumerating post-pin snapshots (or accepting an expired pin) would
    * serve current state dressed up as history. */
  private[spark] def allSnapshots(m: TableMetadata,
      asOf: Option[Long]): Seq[Snapshot] = asOf match {
    case None => m.snapshots
    case Some(id) =>
      val pinned = m.snapshotById(id).getOrElse(
        throw new IllegalArgumentException(
          s"snapshot $id no longer exists (expired since time-travel resolution)"))
      val buf = Seq.newBuilder[Snapshot]
      var cur: Option[Snapshot] = Some(pinned)
      while (cur.isDefined) {
        buf += cur.get
        cur = cur.get.parentId.flatMap(m.snapshotById)
      }
      buf.result()
  }

  /** Union of manifests across the enumerated snapshots, deduplicated by
    * path. An unreadable HISTORICAL manifest list (expired mid-read,
    * foreign metadata) renders as no rows from that snapshot — but only
    * for NonFatal failures; an OOM must fail the query, not fake an
    * empty history. */
  private[spark] def allManifests(m: TableMetadata,
      asOf: Option[Long]): Seq[ManifestFile] =
    allSnapshots(m, asOf)
      .flatMap(sn => try ManifestIO.readList(sn.manifestListPath)
        catch { case scala.util.control.NonFatal(_) => Nil })
      .groupBy(_.path).map(_._2.head).toSeq

  // ------------------------------------------- metadata-scan pruning
  /** Synthetic schema the PUSHED predicates bind against for pruning on
    * the entry-level kinds (reference BaseFilesTable.java:69-86 builds a
    * ManifestEvaluator over the transformed spec;
    * TestMetadataTableFilters pins the behavior): the prunable columns
    * are content, spec_id, the typed partition struct — nested under
    * data_file for the entries kinds, where the user's predicate
    * references them — and delete_file_path for position_deletes. Field
    * ids are synthetic and self-consistent with the per-manifest (or
    * per-delete-file) stats maps. Pruning is INCLUSIVE: Spark still
    * evaluates every predicate post-scan, so a predicate that fails to
    * bind or a field with no stats only costs pruning, never rows. */
  final case class PruneCtx(schema: graft.core.types.GSchema,
      contentId: Int, specIdId: Int, pathId: Int,
      // the UNIFIED type per partition-field id — the type predicates
      // bind with. A spec whose own result type differs for the same id
      // (recycled field id over a different source, pre-recycling or
      // imported metadata) must contribute NO stats for it: adapting its
      // bound would hand the comparator a value of the wrong type.
      partTypes: Map[Int, graft.core.types.GType] = Map.empty)

  def pruneCtx(uparts: Seq[UPartField], kind: String): PruneCtx = {
    import graft.core.types._
    val maxId = (uparts.map(_.fieldId) :+ 0).max
    val contentId = maxId + 1
    val specIdId = maxId + 2
    val partId = maxId + 3
    val pathId = maxId + 4
    val dfId = maxId + 5
    val partField =
      if (uparts.isEmpty) Nil
      else Seq(GField(partId, "partition",
        GStruct(uparts.map(u => GField(u.fieldId, u.name, u.gt)))))
    val partTypes = uparts.map(u => u.fieldId -> u.gt).toMap
    val fields =
      if (kind == "position_deletes")
        Seq(GField(specIdId, "spec_id", GInt),
          GField(pathId, "delete_file_path", GString)) ++ partField
      // partitions: ONLY partition columns may prune. The group key IS
      // the partition tuple, so a key matching the predicate keeps every
      // manifest holding its files (inclusive) and aggregates complete;
      // pruning by spec_id would be unsound — a partition spanning specs
      // would aggregate partially yet still pass Spark's post-filter.
      else if (kind == "partitions") partField
      else {
        val cols = Seq(GField(contentId, "content", GInt),
          GField(specIdId, "spec_id", GInt)) ++ partField
        if (entriesKinds(kind)) Seq(GField(dfId, "data_file", GStruct(cols)))
        else cols
      }
    PruneCtx(GSchema(GStruct(fields)), contentId, specIdId, pathId, partTypes)
  }

  /** One manifest's partition summaries + list-entry fields →
    * pseudo-FileStats keyed by the pruning-schema ids (mirrors
    * TableScan.summaryStats on the data path). Unresolvable bounds —
    * dropped source column, undecodable Avro bytes — degrade to "no
    * stats for that field", never to a wrong bound. */
  private[spark] def manifestPruneStats(mf: ManifestFile, m: TableMetadata,
      ctx: PruneCtx): graft.core.expr.FileStats = {
    import graft.core.expr.ColStats
    val base = Map(
      ctx.contentId -> ColStats(nullCount = Some(0L),
        lower = Some(if (mf.content == 0) 0 else 1),
        upper = Some(if (mf.content == 0) 0 else 2)),
      ctx.specIdId -> ColStats(nullCount = Some(0L),
        lower = Some(mf.specId), upper = Some(mf.specId)))
    val part = scala.util.Try(m.specById(mf.specId)).toOption.toSeq.flatMap {
      _.fields.zipWithIndex.flatMap { case (pf, i) =>
        for {
          s <- mf.partitionSummaries.lift(i)
          t <- scala.util.Try(
            pf.transform.resultType(m.schema.byId(pf.sourceId).tpe)).toOption
          // the bound predicate compares with the UNIFIED type; a spec
          // typing this field id differently must stay stat-less here
          if ctx.partTypes.get(pf.fieldId).contains(t)
        } yield pf.fieldId -> ColStats(
          nullCount = if (s.containsNull) None else Some(0L),
          nanCount = if (s.containsNan) None else Some(0L),
          lower = s.lower.flatMap(v =>
            scala.util.Try(SingleValue.adapt(t, v)).toOption),
          upper = s.upper.flatMap(v =>
            scala.util.Try(SingleValue.adapt(t, v)).toOption))
      }
    }.toMap
    graft.core.expr.FileStats(1L, base ++ part)
  }

  /** One live position-delete file's EXACT pruning stats: its own
    * partition tuple, spec id, and path are all known at planning, so
    * `WHERE partition.day = X` / `spec_id = 2` / `delete_file_path = p`
    * drop whole delete files before any content is read. */
  private[spark] def posDeletePruneStats(f: DataFile, m: TableMetadata,
      ctx: PruneCtx): graft.core.expr.FileStats = {
    import graft.core.expr.ColStats
    def exact(v: Any): ColStats =
      ColStats(valueCount = Some(1L), nullCount = Some(0L),
        lower = Some(v), upper = Some(v))
    val base = Map(
      ctx.specIdId -> exact(f.specId),
      ctx.pathId -> exact(f.path))
    val part = scala.util.Try(m.specById(f.specId)).toOption.toSeq.flatMap {
      _.fields.zipWithIndex.flatMap { case (pf, i) =>
        f.partition.lift(i).map {
          case null => pf.fieldId ->
            ColStats(valueCount = Some(1L), nullCount = Some(1L))
          case v =>
            // same unified-type guard as manifestPruneStats: a value of
            // a differently-typed recycled field contributes no bounds
            val adapted = scala.util.Try(
              pf.transform.resultType(m.schema.byId(pf.sourceId).tpe))
              .toOption
              .filter(t => ctx.partTypes.get(pf.fieldId).contains(t))
              .flatMap(t => scala.util.Try(SingleValue.adapt(t, v)).toOption)
            pf.fieldId -> adapted.map(exact)
              .getOrElse(ColStats(valueCount = Some(1L), nullCount = Some(0L)))
        }
      }
    }.toMap
    graft.core.expr.FileStats(1L, base ++ part)
  }

  /** THE one human-readable value rendering for metadata tables (bounds
    * maps, partition summaries): binary hex-dumps, everything else
    * stringifies. */
  private[spark] def showValue(v: Any): UTF8String = v match {
    case b: Array[Byte] => UTF8String.fromString(b.map("%02x".format(_)).mkString)
    case other          => UTF8String.fromString(String.valueOf(other))
  }

  /** readable_metrics (reference MetricsUtil.readableMetricsSchema —
    * MetricsUtil.java:193,354 — joined into the table at
    * BaseFilesTable.java:56): one nested struct per primitive leaf of
    * the data schema, with lower/upper bounds TYPED as the column, so a
    * user debugging why pruning didn't fire reads
    * `readable_metrics.ts.lower_bound` as a timestamp, not a hex blob.
    * column_size serves the manifest's column_sizes entry (spec field
    * 117, on-disk bytes from the write-time footer). */
  final case class MetricCol(id: Int, name: String, dt: DataType)

  def metricCols(schema: graft.core.types.GSchema): Seq[MetricCol] = {
    import graft.core.types._
    def walk(prefix: String, fs: Seq[GField]): Seq[MetricCol] = fs.flatMap { f =>
      val p = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
      f.tpe match {
        case s: GStruct           => walk(p, s.fields)
        case GVariant | GUnknown  => Nil // stats live in shredStats / absent
        case t if t.isPrimitive   => Seq(MetricCol(f.id, p, SparkTypes.toSpark(t)))
        case _                    => Nil // list/map: no per-column stats
      }
    }
    walk("", schema.fields)
  }

  def readableMetricsType(cols: Seq[MetricCol]): StructType =
    StructType(cols.map(c => StructField(c.name, StructType(Seq(
      StructField("column_size", LongType),
      StructField("value_count", LongType),
      StructField("null_value_count", LongType),
      StructField("nan_value_count", LongType),
      StructField("lower_bound", c.dt),
      StructField("upper_bound", c.dt))))))

  /** stat value (plain Scala, MetaJson.readValue shapes) → Spark
    * internal value of the column's type; null when unconvertible
    * rather than failing the whole metadata query */
  private[spark] def statInternal(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _)                          => null
    case (s: String, StringType)            => UTF8String.fromString(s)
    case (b: Array[Byte], BinaryType)       => b
    case (i: Int, IntegerType | DateType)   => i
    case (i: Int, LongType | TimestampType | TimestampNTZType) => i.toLong
    case (l: Long, LongType | TimestampType | TimestampNTZType) => l
    // out-of-range stored bounds render null, not a wrapped Int
    case (l: Long, IntegerType | DateType) if l.isValidInt => l.toInt
    case (f: Float, FloatType)              => f
    case (f: Float, DoubleType)             => f.toDouble
    case (d: Double, DoubleType)            => d
    case (b: Boolean, BooleanType)          => b
    case (d: java.math.BigDecimal, t: DecimalType) =>
      Decimal(d, t.precision, t.scale)
    case (other, StringType)                => UTF8String.fromString(String.valueOf(other))
    case _                                  => null
  }

  private[spark] def readableMetricsRow(
      stats: Map[Int, graft.core.expr.ColStats],
      cols: Seq[MetricCol]): InternalRow =
    new GenericInternalRow(cols.map[Any] { c =>
      stats.get(c.id) match {
        case None => new GenericInternalRow(
          Array[Any](null, null, null, null, null, null))
        case Some(cs) => new GenericInternalRow(Array[Any](
          cs.sizeBytes.map(Long.box).orNull,
          cs.valueCount.map(Long.box).orNull,
          cs.nullCount.map(Long.box).orNull,
          cs.nanCount.map(Long.box).orNull,
          statInternal(cs.lower.orNull, c.dt),
          statInternal(cs.upper.orNull, c.dt)))
      }
    }.toArray)

  // ------------------------------------------------------------- schemas

  /** The data-file column set served by the files kinds and nested as
    * `data_file` in the entries kinds (reference DataFile.getType field
    * order — api/.../DataFile.java:51-148). key_metadata is declared for
    * schema parity and always null — graft encrypts at manifest
    * granularity, not per data file. */
  def fileStructFields(uparts: Seq[UPartField]): Seq[StructField] = {
    val partField: Seq[StructField] =
      if (uparts.isEmpty) Nil
      else Seq(StructField("partition", partitionStructType(uparts)))
    Seq(
      StructField("content", IntegerType),
      StructField("file_path", StringType),
      StructField("file_format", StringType),
      StructField("spec_id", IntegerType)) ++ partField ++ Seq(
      StructField("record_count", LongType),
      StructField("file_size_in_bytes", LongType),
      // per-column metrics keyed by field id (reference BaseFilesTable
      // schema: column_sizes/value_counts/null_value_counts/
      // nan_value_counts/lower_bounds/upper_bounds); bounds render
      // human-readable, which also makes the metrics-mode policy
      // observable (g53); column_sizes (spec field 117) are on-disk
      // bytes from the parquet/ORC footers, kept under every mode
      StructField("column_sizes", MapType(IntegerType, LongType)),
      StructField("value_counts", MapType(IntegerType, LongType)),
      StructField("null_value_counts", MapType(IntegerType, LongType)),
      StructField("nan_value_counts", MapType(IntegerType, LongType)),
      StructField("lower_bounds", MapType(IntegerType, StringType)),
      StructField("upper_bounds", MapType(IntegerType, StringType)),
      StructField("key_metadata", BinaryType),
      // manifest fields 132/135/140/142/143 (reference DataFile.getType
      // order): row-group/stripe boundaries, eq-delete key ids, the
      // registered sort order the rows are clustered by, v3 row lineage
      // start, and the single data file a delete targets
      StructField("split_offsets", ArrayType(LongType)),
      StructField("equality_ids", ArrayType(IntegerType)),
      StructField("sort_order_id", IntegerType),
      StructField("first_row_id", LongType),
      StructField("referenced_data_file", StringType),
      // DV-only (spec fields 144/145): blob position inside the puffin
      StructField("content_offset", LongType),
      StructField("content_size_in_bytes", LongType))
  }

  /** Table-shaped kinds: typed partition struct + readable_metrics need
    * the table metadata (specs + current schema). */
  def schemaOf(kind: String, m: TableMetadata): StructType = {
    val uparts = unifiedPartitionFields(m)
    val mcols = metricCols(m.schema)
    val partField: Seq[StructField] =
      if (uparts.isEmpty) Nil
      else Seq(StructField("partition", partitionStructType(uparts)))
    kind match {
      case k if filesKinds(k) => StructType(fileStructFields(uparts) :+
        StructField("readable_metrics", readableMetricsType(mcols)))
      // reference ManifestEntry.getSchema served by BaseEntriesTable
      // (BaseEntriesTable.java:53-62): the file fields ride NESTED as the
      // `data_file` struct, plus file_sequence_number; readable_metrics
      // joins at the top level like the reference
      case k if entriesKinds(k) => StructType(Seq(
        StructField("status", IntegerType),
        StructField("snapshot_id", LongType),
        StructField("sequence_number", LongType),
        StructField("file_sequence_number", LongType),
        StructField("data_file", StructType(fileStructFields(uparts))),
        StructField("readable_metrics", readableMetricsType(mcols))))
      // reference PartitionsTable.java:57-121: partition + spec_id are
      // dropped for a fully-unpartitioned table (the one root row)
      case "partitions" => StructType(partField ++
        (if (uparts.isEmpty) Nil else Seq(StructField("spec_id", IntegerType))) ++ Seq(
        StructField("record_count", LongType),
        StructField("file_count", IntegerType),
        StructField("total_data_file_size_in_bytes", LongType),
        StructField("position_delete_record_count", LongType),
        StructField("position_delete_file_count", IntegerType),
        StructField("equality_delete_record_count", LongType),
        StructField("equality_delete_file_count", IntegerType),
        StructField("last_updated_at", TimestampType),
        StructField("last_updated_snapshot_id", LongType)))
      // reference PositionDeletesTable.calculateSchema
      // (PositionDeletesTable.java:114-162): the deleted row content and
      // the delete file's own partition/spec ride along, so
      // rewrite_position_deletes users can scope compactions in SQL
      case "position_deletes" => StructType(Seq(
        StructField("file_path", StringType),
        StructField("pos", LongType),
        StructField("row", SparkTypes.toSparkStruct(m.schema.struct))) ++
        partField ++ Seq(
        StructField("spec_id", IntegerType),
        StructField("delete_file_path", StringType)) ++
        (if (m.formatVersion >= 3) Seq(
          StructField("content_offset", LongType),
          StructField("content_size_in_bytes", LongType)) else Nil))
      case other => schemaOf(other)
    }
  }

  def schemaOf(kind: String): StructType = kind match {
    case "snapshots" => StructType(Seq(
      StructField("committed_at", TimestampType),
      StructField("snapshot_id", LongType),
      StructField("parent_id", LongType),
      StructField("operation", StringType),
      StructField("manifest_list", StringType),
      StructField("sequence_number", LongType),
      StructField("summary", MapType(StringType, StringType))))
    case "history" => StructType(Seq(
      StructField("made_current_at", TimestampType),
      StructField("snapshot_id", LongType),
      StructField("parent_id", LongType),
      StructField("is_current_ancestor", BooleanType)))
    // reference RefsTable.java:35-40
    case "refs" => StructType(Seq(
      StructField("name", StringType),
      StructField("type", StringType),
      StructField("snapshot_id", LongType),
      StructField("max_reference_age_in_ms", LongType),
      StructField("min_snapshots_to_keep", IntegerType),
      StructField("max_snapshot_age_in_ms", LongType)))
    // reference ManifestsTable.java:33-53: counts split per content kind
    // (a data manifest reads 0 delete counts and vice versa) + the
    // manifest-list partition summaries that drive pruning
    case "manifests" => StructType(Seq(
      StructField("content", IntegerType),
      StructField("path", StringType),
      StructField("length", LongType),
      StructField("partition_spec_id", IntegerType),
      StructField("added_snapshot_id", LongType),
      StructField("added_data_files_count", IntegerType),
      StructField("existing_data_files_count", IntegerType),
      StructField("deleted_data_files_count", IntegerType),
      StructField("added_delete_files_count", IntegerType),
      StructField("existing_delete_files_count", IntegerType),
      StructField("deleted_delete_files_count", IntegerType),
      StructField("partition_summaries", ArrayType(StructType(Seq(
        StructField("contains_null", BooleanType),
        StructField("contains_nan", BooleanType),
        StructField("lower_bound", StringType),
        StructField("upper_bound", StringType)))))))
    // reference MetadataLogEntriesTable.java:31-35
    case "metadata_log_entries" => StructType(Seq(
      StructField("timestamp", TimestampType),
      StructField("file", StringType),
      StructField("latest_snapshot_id", LongType),
      StructField("latest_schema_id", IntegerType),
      StructField("latest_sequence_number", LongType)))
    case "scan_reports" => StructType(Seq(
      StructField("made_at", TimestampType),
      StructField("snapshot_id", LongType),
      StructField("filter", StringType),
      StructField("total_manifests", IntegerType),
      StructField("scanned_manifests", IntegerType),
      StructField("total_data_files", LongType),
      StructField("result_tasks", IntegerType),
      StructField("result_delete_files", IntegerType),
      StructField("planning_ms", LongType),
      StructField("distributed_planning", BooleanType)))
    case "commit_reports" => StructType(Seq(
      StructField("made_at", TimestampType),
      StructField("snapshot_id", LongType),
      StructField("operation", StringType),
      StructField("branch", StringType),
      StructField("attempts", IntegerType),
      StructField("duration_ms", LongType),
      StructField("summary", MapType(StringType, StringType))))
    case "all_manifests" => schemaOf("manifests")
    case other => throw new IllegalArgumentException(s"unknown metadata table: $other")
  }

  /** Per-partition aggregation partial for the `partitions` table
    * (reference PartitionsTable.Partition.update): counters per content
    * kind + the most recent committing snapshot (spec_id follows it). */
  final case class PartAgg(dataRecords: Long, dataFiles: Long, dataBytes: Long,
      posRecords: Long, posFiles: Long, eqRecords: Long, eqFiles: Long,
      lastTs: Long, lastSid: Long, specId: Int) {
    def merge(o: PartAgg): PartAgg = {
      // spec_id is max over contributing files (reference
      // PartitionsTable.Partition.update keeps Math.max) — NOT the latest
      // committer's, or a late commit of an old-spec file would report a
      // stale spec. Same-millisecond snapshots tie-break on snapshot id so
      // last_updated_snapshot_id is deterministic across reduceByKey runs.
      val takeO = o.lastTs > lastTs || (o.lastTs == lastTs && o.lastSid > lastSid)
      val (ts, sid) = if (takeO) (o.lastTs, o.lastSid) else (lastTs, lastSid)
      PartAgg(dataRecords + o.dataRecords, dataFiles + o.dataFiles,
        dataBytes + o.dataBytes, posRecords + o.posRecords,
        posFiles + o.posFiles, eqRecords + o.eqRecords, eqFiles + o.eqFiles,
        ts, sid, math.max(specId, o.specId))
    }
  }

  /** one `manifests`/`all_manifests` row (reference ManifestsTable):
    * counts land in the data or delete column set by the manifest's
    * content kind; partition-summary bounds render human-readable —
    * Avro-read lists keep bounds as raw Appendix-D bytes (the type is
    * only known with the spec in hand, same as Scan's manifest pruning),
    * so decode through SingleValue.adapt before stringifying. */
  private def manifestRow(mf: ManifestFile, m: TableMetadata): InternalRow = {
    // partition-field types resolved PER FIELD: one dropped source column
    // degrades only that field's bound rendering to raw, not the whole
    // spec's summaries
    val ptypes: Map[Int, graft.core.types.GType] =
      scala.util.Try(m.specById(mf.specId)).toOption.map {
        _.fields.zipWithIndex.flatMap { case (pf, i) =>
          scala.util.Try(pf.transform.resultType(m.schema.byId(pf.sourceId).tpe))
            .toOption.map(i -> _)
        }.toMap
      }.getOrElse(Map.empty) // unknown spec: show raw
    def shown(i: Int, v: Any): Any = v match {
      case null  => null
      case other =>
        val adapted = ptypes.get(i)
          .map(t => scala.util.Try(SingleValue.adapt(t, other)).getOrElse(other))
          .getOrElse(other)
        showValue(adapted)
    }
    val summaries = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      mf.partitionSummaries.zipWithIndex.map { case (fs, i) =>
        new GenericInternalRow(Array[Any](fs.containsNull, fs.containsNan,
          shown(i, fs.lower.orNull), shown(i, fs.upper.orNull))): Any
      }.toArray)
    val d = mf.content == 0
    new GenericInternalRow(Array[Any](
      mf.content, s(mf.path), mf.length, mf.specId, mf.addedSnapshotId,
      if (d) mf.addedFilesCount else 0,
      if (d) mf.existingFilesCount else 0,
      if (d) mf.deletedFilesCount else 0,
      if (d) 0 else mf.addedFilesCount,
      if (d) 0 else mf.existingFilesCount,
      if (d) 0 else mf.deletedFilesCount,
      summaries))
  }

  /** `asOf`: VERSION/TIMESTAMP AS OF pin — manifest-derived kinds
    * (manifests/partitions here; files/entries/position_deletes in their
    * scans) serve THAT snapshot's state; document-level kinds
    * (snapshots/history/refs/…) keep the current document, like the
    * reference's static-table time travel. */
  def rowsOf(kind: String, table: GTable, m: TableMetadata,
      asOf: Option[Long] = None,
      prune: graft.core.expr.Expr = graft.core.expr.TrueE,
      pctx: Option[PruneCtx] = None): Array[InternalRow] = {
    def currentManifests: Seq[ManifestFile] = {
      val mfs = pinnedManifests(m, asOf)
      pctx match {
        case Some(c) if prune != graft.core.expr.TrueE =>
          mfs.filter(mf =>
            graft.core.expr.InclusiveMetricsEvaluator.rowsMightMatch(prune,
              manifestPruneStats(mf, m, c)))
        case _ => mfs
      }
    }

    kind match {
      case "snapshots" => m.snapshots.map { sn =>
        new GenericInternalRow(Array[Any](
          sn.timestampMs * 1000L, sn.snapshotId, sn.parentId.map(Long.box).orNull,
          s(sn.operation), s(sn.manifestListPath), sn.sequenceNumber,
          strMap(sn.summary))): InternalRow
      }.toArray
      case "history" =>
        val ancestors = {
          var ids = Set.empty[Long]
          var cur = m.currentSnapshot
          while (cur.isDefined) { ids += cur.get.snapshotId; cur = cur.get.parentId.flatMap(m.snapshotById) }
          ids
        }
        m.snapshotLog.map { case (ts, id) =>
          new GenericInternalRow(Array[Any](
            ts * 1000L, id, m.snapshotById(id).flatMap(_.parentId).map(Long.box).orNull,
            ancestors.contains(id))): InternalRow
        }.toArray
      case "refs" => m.refs.map { case (name, r) =>
        new GenericInternalRow(Array[Any](
          s(name), s(r.refType), r.snapshotId,
          r.maxRefAgeMs.map(Long.box).orNull,
          r.minSnapshotsToKeep.map(Int.box).orNull,
          r.maxSnapshotAgeMs.map(Long.box).orNull)): InternalRow
      }.toArray
      case "manifests" => currentManifests.map(manifestRow(_, m)).toArray
      case "partitions" =>
        // distributed aggregate (reference PartitionsTable is built from
        // the entries scan): each task folds ONE manifest — data AND
        // delete manifests, so MoR debt is SQL-visible — into
        // unified-partition-key → PartAgg partials, reduceByKey combines
        // map-side, and the driver collects only O(partitions) — at 1.5M
        // files the driver never sees an entry
        val uparts = unifiedPartitionFields(m)
        val specFieldIds: Map[Int, Seq[Int]] =
          m.specs.map(sp => sp.specId -> sp.fields.map(_.fieldId)).toMap
        val snapTs: Map[Long, Long] =
          m.snapshots.map(sn => sn.snapshotId -> sn.timestampMs).toMap
        val upartIds = uparts.map(_.fieldId)
        // all-Deleted marker manifests hold nothing live: skip the read
        val mfs = currentManifests.filter(_.hasLiveFiles)
        if (mfs.isEmpty) Array.empty
        else {
          val sc = org.apache.spark.sql.SparkSession.active.sparkContext
          // task count scales with the CLUSTER, floored at 64 so a big
          // manifest list still fans out on a small driver — a hard cap
          // would fold thousands of manifests per task at 1000 executors
          val partials = sc
            .parallelize(mfs,
              math.max(1, math.min(mfs.size, math.max(64, sc.defaultParallelism))))
            .flatMap { mf =>
              ManifestIO.readEntries(mf).iterator.filter(_.isLive).map { e =>
                val f = e.file
                // coerce to the unified tuple (normalized for hashable
                // keys: byte arrays compare by reference)
                val ids = specFieldIds.getOrElse(f.specId, Nil)
                val key: Seq[Any] = upartIds.map { fid =>
                  val i = ids.indexOf(fid)
                  if (i >= 0 && i < f.partition.length) f.partition(i) match {
                    case b: Array[Byte] => b.toSeq
                    case x              => x
                  } else null
                }
                val ts = snapTs.getOrElse(e.snapshotId, Long.MinValue)
                val agg = f.content match {
                  case FileContent.Data =>
                    PartAgg(f.recordCount, 1L, f.fileSizeBytes,
                      0L, 0L, 0L, 0L, ts, e.snapshotId, f.specId)
                  case FileContent.PositionDeletes =>
                    PartAgg(0L, 0L, 0L, f.recordCount, 1L, 0L, 0L,
                      ts, e.snapshotId, f.specId)
                  case _ =>
                    PartAgg(0L, 0L, 0L, 0L, 0L, f.recordCount, 1L,
                      ts, e.snapshotId, f.specId)
                }
                (key, agg)
              }
            }
            .reduceByKey(_ merge _)
            .collect()
          // the reduce key is already in unified order: identity indexes
          val identityIdx = Array.tabulate(uparts.length)(i => i)
          partials
            .sortBy { case (key, _) => key.map(String.valueOf).mkString("\u0000") }
            .map { case (key, a) =>
              val tail = Array[Any](a.dataRecords, a.dataFiles.toInt,
                a.dataBytes, a.posRecords, a.posFiles.toInt,
                a.eqRecords, a.eqFiles.toInt,
                if (a.lastTs == Long.MinValue) null else Long.box(a.lastTs * 1000L),
                if (a.lastTs == Long.MinValue) null else Long.box(a.lastSid))
              val head: Array[Any] =
                if (uparts.isEmpty) Array.empty
                else Array(coercedPartitionRow(uparts, identityIdx, key), a.specId)
              new GenericInternalRow(head ++ tail): InternalRow
            }
        }
      case "metadata_log_entries" =>
        // reference MetadataLogEntriesTable: one row per previous metadata
        // file (spec metadata-log) plus the current document; the latest
        // snapshot of each is the newest snapshot-log entry at or before
        // the time the file became current
        val entries = m.metadataLog ++
          table.ops.currentMetadataPath.map(p => (m.lastUpdatedMs, p)).toSeq
        entries.map { case (ts, file) =>
          // the logged id is reported even when its snapshot is no
          // longer resolvable (foreign/pruned metadata) — only the
          // derived columns null out, like the reference
          val latestId = m.snapshotLog.filter(_._1 <= ts).lastOption.map(_._2)
          val latest = latestId.flatMap(m.snapshotById)
          new GenericInternalRow(Array[Any](
            ts * 1000L, s(file),
            latestId.map(Long.box).orNull,
            latest.flatMap(_.schemaId).map(Int.box).orNull,
            latest.map(sn => Long.box(sn.sequenceNumber)).orNull)): InternalRow
        }.toArray
      case "scan_reports" =>
        // this session's recent planning reports for THIS table, newest
        // first (driver-side ring; reference ScanReport metrics)
        ScanReports.recent.filter(_.tableLocation == table.location).map { r =>
          new GenericInternalRow(Array[Any](
            r.timestampMs * 1000L, r.snapshotId, s(r.filter),
            r.totalManifests, r.scannedManifests, r.totalDataFiles,
            r.resultTasks, r.resultDeleteFiles, r.planningMs,
            r.distributedPlanning)): InternalRow
        }.toArray
      case "commit_reports" =>
        // this session's recent commit outcomes for THIS table, newest
        // first (driver-side ring; reference CommitReport metrics)
        CommitReports.recent.filter(_.tableLocation == table.location).map { r =>
          new GenericInternalRow(Array[Any](
            r.timestampMs * 1000L, r.snapshotId, s(r.operation), s(r.branch),
            r.attempts, r.durationMs,
            strMap(r.summary))): InternalRow
        }.toArray
      case "all_manifests" =>
        allManifests(m, asOf).map(manifestRow(_, m)).toArray
      case other => throw new IllegalArgumentException(
        s"metadata table $other is served by a distributed scan, not a LocalScan")
    }
  }
}

/** One manifest to read executor-side for the entry-level metadata
  * tables; carries the unified partition fields + each spec's
  * partition-field-id order so the typed partition struct coerces
  * without table metadata on the executor. */
final case class ManifestReadTask(manifest: ManifestFile,
    specFieldIds: Map[Int, Seq[Int]], kind: String,
    uparts: Seq[UPartField] = Nil,
    metricCols: Seq[GraftMetadataTables.MetricCol] = Nil,
    // pruned top-level output columns, in serving order; None = all,
    // Some(Nil) = zero-width rows (count(*)). Unprojected columns are
    // never BUILT (readable_metrics/bounds maps are the expensive ones),
    // not just dropped. metricCols arrives already nested-pruned;
    // dfColumns narrows the entries kinds' data_file struct the same way.
    columns: Option[Seq[String]] = None,
    dfColumns: Option[Seq[String]] = None)
  extends org.apache.spark.sql.connector.read.InputPartition

/** Distributed scan for the entry-level metadata tables (files/entries/
  * data_files/delete_files and their all_ variants; reference
  * core/.../BaseFilesTable.java ManifestReadTask): planning lists
  * manifests (manifest-list scale); each manifest's entries — at 100 TB
  * potentially millions of rows across thousands of manifests — are
  * read executor-side, one input partition per manifest. Like the
  * reference, the all_ tables may produce more than one row per file
  * when several retained snapshots reference it.
  *
  * The table metadata is SNAPSHOTTED at scan construction: readSchema()
  * and the read tasks derive from the same document, so a concurrent
  * refresh can't skew the readable_metrics/partition arity between
  * Spark's schema() call and planInputPartitions(). */
final class ManifestEntriesScan(table: GTable, kind: String, m: TableMetadata,
    asOf: Option[Long] = None,
    pruneExpr: graft.core.expr.Expr = graft.core.expr.TrueE,
    pctx: Option[GraftMetadataTables.PruneCtx] = None,
    columns: Option[Seq[String]] = None,
    // nested pruning: which readable_metrics columns / data_file fields
    // survive — on a 1000-column schema the readable_metrics struct is
    // 1000x6 values per row, so building only the projected sub-structs
    // matters even when the column itself is selected
    metricNames: Option[Seq[String]] = None,
    dfColumns: Option[Seq[String]] = None,
    limit: Option[Int] = None)
  extends Scan with org.apache.spark.sql.connector.read.Batch
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}

  private def prunedMetricCols: Seq[GraftMetadataTables.MetricCol] = {
    val all = GraftMetadataTables.metricCols(m.schema)
    metricNames match {
      case None => all
      case Some(ns) => val keep = ns.toSet; all.filter(c => keep(c.name))
    }
  }

  override def readSchema(): StructType = {
    val full = GraftMetadataTables.schemaOf(kind, m)
    val narrowed = StructType(full.fields.map { f =>
      f.name match {
        case "readable_metrics" if metricNames.isDefined =>
          f.copy(dataType =
            GraftMetadataTables.readableMetricsType(prunedMetricCols))
        case "data_file" if dfColumns.isDefined =>
          val keep = dfColumns.get.toSet
          f.copy(dataType = StructType(f.dataType.asInstanceOf[StructType]
            .fields.filter(df => keep(df.name))))
        case _ => f
      }
    })
    columns match {
      case None => narrowed
      case Some(names) =>
        StructType(names.flatMap(n => narrowed.fields.find(_.name == n)))
    }
  }
  override def toBatch: org.apache.spark.sql.connector.read.Batch = this
  override def description(): String = {
    val f = if (pruneExpr == graft.core.expr.TrueE) "" else s", prune=$pruneExpr"
    s"graft-$kind(${table.location}$f)"
  }

  /** per-manifest served-row count: live entries for the files kinds,
    * ALL entries (deleted markers included) for the entries kinds —
    * must match what the reader actually emits or the LIMIT prefix,
    * pushed count(*) and reported statistics under-serve */
  private def servedCount(mf: ManifestFile): Long =
    mf.addedFilesCount.toLong + mf.existingFilesCount +
      (if (GraftMetadataTables.entriesKinds(kind)) mf.deletedFilesCount.toLong
       else 0L)

  /** The planned manifest funnel — (total enumerated, pruned kept) —
    * computed ONCE and shared by planInputPartitions and
    * estimateStatistics (manifest-LIST scale; no manifest is read). */
  @transient private lazy val funnel: (Int, Seq[ManifestFile]) = {
    val t0 = System.currentTimeMillis()
    val manifests =
      if (kind.startsWith("all_")) GraftMetadataTables.allManifests(m, asOf)
      else GraftMetadataTables.pinnedManifests(m, asOf)
    // structural prune: a data manifest contains ONLY data entries and a
    // delete manifest only delete entries, so the content-restricted
    // kinds drop whole manifests before any entry is read; the files
    // kinds additionally skip manifests with NOTHING live (all-Deleted
    // marker manifests from a row-level commit) off the list counts —
    // entries kinds serve those markers, so they must keep reading them
    val kindPruned = (kind match {
      case "data_files" | "all_data_files"     => manifests.filter(_.content == 0)
      case "delete_files" | "all_delete_files" => manifests.filter(_.content != 0)
      case _                                   => manifests
    }).filter(mf =>
      GraftMetadataTables.entriesKinds(kind) || mf.hasLiveFiles)
    // predicate prune (reference BaseFilesTable ManifestEvaluator):
    // partition summaries + exact content/spec_id bounds, inclusive —
    // at 30k manifests a partition-filtered query reads only the
    // matching ones instead of all of table metadata
    val predPruned = pctx match {
      case Some(c) if pruneExpr != graft.core.expr.TrueE =>
        kindPruned.filter(mf =>
          graft.core.expr.InclusiveMetricsEvaluator.rowsMightMatch(pruneExpr,
            GraftMetadataTables.manifestPruneStats(mf, m, c)))
      case _ => kindPruned
    }
    // pushed LIMIT: a manifest prefix whose cumulative served-entry
    // count covers it — the list entry's counts are exact, so
    // `LIMIT 10` plans one manifest, not 30k; Spark applies the exact
    // cut. Guarded to the filterless case: Spark only pushes a limit
    // with no filter above the scan, and under a residual predicate a
    // count-based prefix could under-serve
    val pruned = limit match {
      case Some(n) if pruneExpr == graft.core.expr.TrueE =>
        var acc = 0L
        predPruned.takeWhile { mf =>
          val take = acc < n
          acc += servedCount(mf)
          take
        }
      case _ => predPruned
    }
    // metadata scans report their planning funnel like data scans
    // (reference: metadata tables are tables; their ScanReports show
    // whether manifest pruning actually pruned) — visible via
    // t.scan_reports with the kind in the filter string
    ScanReports.add(ScanReport(
      table.location,
      asOf.orElse(m.currentSnapshot.map(_.snapshotId)).getOrElse(-1L),
      s"metadata:$kind " +
        (if (pruneExpr == graft.core.expr.TrueE) "true" else pruneExpr.toString),
      manifests.size, pruned.size,
      pruned.map(servedCount).sum,
      pruned.size, 0, System.currentTimeMillis() - t0,
      System.currentTimeMillis()))
    (manifests.size, pruned)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val metricCols = prunedMetricCols
    val uparts = GraftMetadataTables.unifiedPartitionFields(m)
    val specFieldIds = m.specs.map(sp => sp.specId -> sp.fields.map(_.fieldId)).toMap
    funnel._2.map(mf =>
      ManifestReadTask(mf, specFieldIds, kind, uparts, metricCols,
        columns, dfColumns): InputPartition).toArray
  }

  /** Row/size estimates from manifest-LIST counts alone (reference
    * SparkScan.estimateStatistics serves the same purpose for data
    * scans): joining t.files/t.entries against a dimension — "files in
    * debt partitions" style queries — gets a real broadcast decision
    * instead of Spark's unknown-size default. Size = rows × the served
    * schema's default width, which shrinks with column pruning. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val rows = funnel._2.map(servedCount).sum
    val width = readSchema().defaultSize.max(8)
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows * width.toLong)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = ManifestEntriesScan.Factory
}

object ManifestEntriesScan {
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}

  private[spark] object Factory extends PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
      val t = p.asInstanceOf[ManifestReadTask]
      def us(v: String): UTF8String = UTF8String.fromString(v)
      // typed unified partition struct, or no column when every spec is
      // unpartitioned (schema drops it; the row must match arity).
      // Coercion indexes computed ONCE per manifest — the per-row path
      // is a flat array walk
      val idx = GraftMetadataTables.coercionIndexes(t.uparts, t.specFieldIds)
      def partRow(specId: Int, tuple: Seq[Any]): Any =
        GraftMetadataTables.coercedPartitionRow(t.uparts,
          idx.getOrElse(specId, GraftMetadataTables.NoIdx), tuple)

      // `st`: the entry's column stats sorted by field id, computed ONCE
      // per entry (only when a stats-derived column is projected) and
      // shared by all five counts/bounds emitters
      type Stats = Seq[(Int, graft.core.expr.ColStats)]
      def counts(st: Stats,
          sel: graft.core.expr.ColStats => Option[Long]): Any = {
        val kv = st.flatMap { case (id, cs) => sel(cs).map(id -> _) }
        if (kv.isEmpty) null
        else ArrayBasedMapData(kv.map(_._1).toArray, kv.map(_._2).toArray)
      }
      def bounds(st: Stats,
          sel: graft.core.expr.ColStats => Option[Any]): Any = {
        val kv = st.flatMap { case (id, cs) =>
          sel(cs).map(v => id -> GraftMetadataTables.showValue(v))
        }
        if (kv.isEmpty) null
        else ArrayBasedMapData(kv.map(_._1).toArray, kv.map(_._2: Any).toArray)
      }

      // one emitter per top-level column: the pruned reader only BUILDS
      // what the query projects (a `SELECT file_path` never renders
      // bounds maps or readable_metrics)
      val statsCols = Set("column_sizes", "value_counts", "null_value_counts",
        "nan_value_counts", "lower_bounds", "upper_bounds")
      def fileEmitter(name: String): (ManifestEntry, Stats) => Any = name match {
        case "content"            => (e, _) => e.file.content
        case "file_path"          => (e, _) => us(e.file.path)
        case "file_format"        => (e, _) => us(e.file.format)
        case "spec_id"            => (e, _) => e.file.specId
        case "partition"          => (e, _) => partRow(e.file.specId, e.file.partition)
        case "record_count"       => (e, _) => e.file.recordCount
        case "file_size_in_bytes" => (e, _) => e.file.fileSizeBytes
        case "column_sizes"       => (_, st) => counts(st, _.sizeBytes)
        case "value_counts"       => (_, st) => counts(st, _.valueCount)
        case "null_value_counts"  => (_, st) => counts(st, _.nullCount)
        case "nan_value_counts"   => (_, st) => counts(st, _.nanCount)
        case "lower_bounds"       => (_, st) => bounds(st, _.lower)
        case "upper_bounds"       => (_, st) => bounds(st, _.upper)
        case "key_metadata"       => (_, _) => null // manifest-level crypto only
        case "split_offsets"      => (e, _) =>
          if (e.file.splitOffsets.isEmpty) null
          else new org.apache.spark.sql.catalyst.util.GenericArrayData(
            e.file.splitOffsets.toArray)
        case "equality_ids"       => (e, _) =>
          if (e.file.equalityIds.isEmpty) null
          else new org.apache.spark.sql.catalyst.util.GenericArrayData(
            e.file.equalityIds.toArray)
        case "sort_order_id"      => (e, _) => e.file.sortOrderId.map(Int.box).orNull
        case "first_row_id"       => (e, _) => e.file.firstRowId.map(Long.box).orNull
        case "referenced_data_file" => (e, _) => e.file.referencedDataFile.map(us).orNull
        case "content_offset"     => (e, _) => e.file.contentOffset.map(Long.box).orNull
        case "content_size_in_bytes" =>
          (e, _) => e.file.contentSizeInBytes.map(Long.box).orNull
        case "readable_metrics"   => (e, _) =>
          GraftMetadataTables.readableMetricsRow(e.file.columnStats, t.metricCols)
        case other => throw new IllegalArgumentException(
          s"unknown files column: $other")
      }

      val isEntries = t.kind == "entries" || t.kind == "all_entries"
      def entryEmitter(name: String): (ManifestEntry, Stats) => Any = name match {
        case "status"               => (e, _) => e.status
        case "snapshot_id"          => (e, _) => e.snapshotId
        case "sequence_number"      => (e, _) => e.dataSequenceNumber
        case "file_sequence_number" => (e, _) => e.fileSequence
        case "data_file" =>
          val dfFields = GraftMetadataTables.fileStructFields(t.uparts)
            .map(_.name)
          val dfEmit = t.dfColumns.map(ns => dfFields.filter(ns.toSet))
            .getOrElse(dfFields).map(fileEmitter).toArray
          (e, st) => {
            val a = new Array[Any](dfEmit.length)
            var i = 0
            while (i < dfEmit.length) { a(i) = dfEmit(i)(e, st); i += 1 }
            new GenericInternalRow(a)
          }
        case other => fileEmitter(other) // readable_metrics
      }

      val colNames: Seq[String] = t.columns.getOrElse(
        if (isEntries) Seq("status", "snapshot_id", "sequence_number",
          "file_sequence_number", "data_file", "readable_metrics")
        else GraftMetadataTables.fileStructFields(t.uparts).map(_.name) :+
          "readable_metrics")
      val emitters: Array[(ManifestEntry, Stats) => Any] =
        colNames.map(n =>
          if (isEntries) entryEmitter(n) else fileEmitter(n)).toArray
      val needStats = colNames.exists(statsCols) ||
        (isEntries && colNames.contains("data_file") &&
          t.dfColumns.forall(_.exists(statsCols)))

      // entries kinds serve ALL entries — status=2 Deleted markers
      // included (reference BaseEntriesTable reads reader.entries(), not
      // liveEntries — ManifestGroup.java:353-356), so `WHERE status = 2`
      // finds what the current snapshot removed; files kinds are
      // live-only (reference ignoreDeleted)
      val raw = ManifestIO.readEntries(t.manifest)
      val entries = if (isEntries) raw else raw.filter(_.isLive)
      val filtered = t.kind match {
        case "data_files" | "all_data_files" =>
          entries.filter(_.file.content == FileContent.Data)
        case "delete_files" | "all_delete_files" =>
          entries.filter(_.file.content != FileContent.Data)
        case _ => entries
      }
      val it: Iterator[InternalRow] = filtered.iterator.map { e =>
        val st: Stats =
          if (needStats) e.file.columnStats.toSeq.sortBy(_._1) else Nil
        val a = new Array[Any](emitters.length)
        var i = 0
        while (i < emitters.length) { a(i) = emitters(i)(e, st); i += 1 }
        new GenericInternalRow(a): InternalRow
      }
      new PartitionReader[InternalRow] {
        private var cur: InternalRow = _
        override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
        override def get(): InternalRow = cur
        override def close(): Unit = ()
      }
    }
  }
}

/** One live position-delete file (or deletion vector) to read
  * executor-side; carries the delete file's own partition tuple +
  * spec so the typed struct renders without table metadata. */
final case class PosDeleteFileTask(path: String, format: String,
    specId: Int = 0, partition: Seq[Any] = Nil,
    contentOffset: Option[Long] = None, contentSize: Option[Long] = None)
  extends org.apache.spark.sql.connector.read.InputPartition

/** Distributed `position_deletes` scan (reference
  * core/src/main/java/org/apache/iceberg/PositionDeletesTable.java):
  * planning lists the live delete files (metadata scale); their CONTENTS
  * — at 100 TB potentially millions of (file, pos) rows — are read
  * executor-side, one input partition per delete file. Parquet delete
  * files go through a driver-built (executor-run) reader closure,
  * deletion-vector bitmaps decode on the executor; the driver never
  * materializes delete rows. Serves the reference's full column set
  * (PositionDeletesTable.java:114-162): `row` (the deleted row content
  * when the delete file stored it; graft's writers don't, so it reads
  * back null there), the typed `partition`/`spec_id` of the delete file,
  * and on v3 the DV blob's content_offset/content_size_in_bytes. */
final class PositionDeletesScan(table: GTable, m: TableMetadata,
    asOf: Option[Long] = None,
    pruneExpr: graft.core.expr.Expr = graft.core.expr.TrueE,
    pctx: Option[GraftMetadataTables.PruneCtx] = None,
    columns: Option[Seq[String]] = None,
    limit: Option[Int] = None)
  extends Scan with org.apache.spark.sql.connector.read.Batch
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}

  override def readSchema(): StructType = {
    val full = GraftMetadataTables.schemaOf("position_deletes", m)
    columns match {
      case None => full
      case Some(names) => StructType(names.flatMap(n => full.fields.find(_.name == n)))
    }
  }
  override def toBatch: org.apache.spark.sql.connector.read.Batch = this
  override def description(): String = {
    val f = if (pruneExpr == graft.core.expr.TrueE) ""
      else s", prune=$pruneExpr"
    s"graft-position-deletes(${table.location}$f)"
  }

  /** The planned delete-file list, computed ONCE and shared by
    * planInputPartitions and estimateStatistics (manifest reads are
    * entry-cached, so the shared plan costs one pass). */
  @transient private lazy val plannedEntries: Seq[ManifestEntry] = {
    val t0 = System.currentTimeMillis()
    val manifests = GraftMetadataTables.pinnedManifests(m, asOf)
    // structural + summary pruning BEFORE any entry read: data manifests
    // never hold delete entries, and a pushed partition predicate drops
    // whole delete manifests off their summaries — the same two layers
    // the files kinds apply
    val delManifests = manifests.filter(mf => mf.content != 0 && mf.hasLiveFiles)
    val keptManifests = pctx match {
      case Some(c) if pruneExpr != graft.core.expr.TrueE =>
        delManifests.filter(mf =>
          graft.core.expr.InclusiveMetricsEvaluator.rowsMightMatch(pruneExpr,
            GraftMetadataTables.manifestPruneStats(mf, m, c)))
      case _ => delManifests
    }
    val all = keptManifests
      .flatMap(mf => ManifestIO.readEntries(mf).filter(_.isLive))
      .filter(_.file.content == FileContent.PositionDeletes)
    // the delete file's partition/spec_id/path are EXACT at planning:
    // a pushed predicate on them drops whole delete files before their
    // content is opened (reference PositionDeletesTable scopes
    // rewrite_position_deletes this way)
    val predPruned = pctx match {
      case Some(c) if pruneExpr != graft.core.expr.TrueE =>
        all.filter(e =>
          graft.core.expr.InclusiveMetricsEvaluator.rowsMightMatch(pruneExpr,
            GraftMetadataTables.posDeletePruneStats(e.file, m, c)))
      case _ => all
    }
    // pushed LIMIT (filterless only): a delete-file prefix whose
    // cumulative record count covers it — never opens the rest
    val pruned = limit match {
      case Some(n) if pruneExpr == graft.core.expr.TrueE =>
        var acc = 0L
        predPruned.takeWhile { e =>
          val take = acc < n
          acc += e.file.recordCount
          take
        }
      case _ => predPruned
    }
    // funnel report, like the other entry-level metadata scans
    ScanReports.add(ScanReport(table.location,
      asOf.orElse(m.currentSnapshot.map(_.snapshotId)).getOrElse(-1L),
      "metadata:position_deletes " +
        (if (pruneExpr == graft.core.expr.TrueE) "true" else pruneExpr.toString),
      manifests.size, keptManifests.size, all.size.toLong, pruned.size, 0,
      System.currentTimeMillis() - t0, System.currentTimeMillis()))
    pruned
  }

  override def planInputPartitions(): Array[InputPartition] =
    plannedEntries.map(e =>
      PosDeleteFileTask(e.file.path, e.file.format, e.file.specId,
        e.file.partition, e.file.contentOffset,
        e.file.contentSizeInBytes): InputPartition)
      .toArray

  /** Rows from the delete entries' exact record counts — no delete-file
    * content is opened. Feeds broadcast decisions for joins against
    * position_deletes (e.g. scoping rewrite_position_deletes in SQL). */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val rows = plannedEntries.map(_.file.recordCount).sum
    val width = readSchema().defaultSize.max(8)
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows * width.toLong)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = org.apache.spark.sql.SparkSession.active
    val v3 = m.formatVersion >= 3
    val hasPart = GraftMetadataTables.unifiedPartitionFields(m).nonEmpty
    val outCols: Seq[String] = columns.getOrElse(
      Seq("file_path", "pos", "row") ++
        (if (hasPart) Seq("partition") else Nil) ++
        Seq("spec_id", "delete_file_path") ++
        (if (v3) Seq("content_offset", "content_size_in_bytes") else Nil))
    // `row` is the one column with real IO behind it: registered
    // genuine-Iceberg delete files can store every deleted row's
    // content, so an unprojected `row` must not reach the parquet
    // reader at all (VERDICT r17: the full-struct read was the gap)
    val needRow = outCols.contains("row")
    // NAME-matched read schema: toSparkStruct stamps parquet field-id
    // metadata, and any id in the read schema makes Spark demand ids in
    // the FILE — graft-written delete files carry none. stripFieldIds
    // removes ONLY the parquet ids: EXISTS_DEFAULT etc. must survive or
    // v3 initial defaults silently stop applying to stored `row` content.
    val rowType =
      GraftSparkTable.stripFieldIds(SparkTypes.toSparkStruct(m.schema.struct))
    // read (file_path, pos[, row]): delete files that never stored the
    // deleted row content — all graft-written ones — fill `row` null
    // through the normal missing-column path
    val deleteSchema = StructType(Seq(
      StructField("file_path", StringType), StructField("pos", LongType)) ++
      (if (needRow) Seq(StructField("row", rowType)) else Nil))
    val conf = spark.sessionState.newHadoopConfWithOptions(Map.empty)
    // encrypted tables: modular-decryption factory for parquet delete
    // files; the table crypto rides the factory for executor-side DV reads
    GraftParquetCrypto.configure(conf, m)
    val readFunc = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .buildReaderWithPartitionValues(spark, deleteSchema, new StructType(),
        deleteSchema, Nil,
        Map(org.apache.spark.sql.execution.datasources.FileFormat.OPTION_RETURNING_BATCH -> "false",
          "enableVectorizedReader" -> "false"),
        conf)
    val uparts = GraftMetadataTables.unifiedPartitionFields(m)
    val specFieldIds = m.specs.map(sp => sp.specId -> sp.fields.map(_.fieldId)).toMap
    new PositionDeletesScan.Factory(readFunc,
      graft.core.meta.TableCrypto.resolve(m),
      uparts, specFieldIds, rowType.size, v3, outCols, needRow)
  }
}

object PositionDeletesScan {
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
  import org.apache.spark.sql.execution.datasources.PartitionedFile

  // per-output-column opcodes: the per-row loop is an array walk over
  // ints, not a name match (these scans serve millions of rows)
  private val SrcPath = 0
  private val SrcPos = 1
  private val SrcRow = 2
  private val SrcConst = 3

  private[spark] final class Factory(
      readFunc: PartitionedFile => Iterator[InternalRow],
      crypto: Option[graft.core.meta.TableCrypto] = None,
      uparts: Seq[UPartField] = Nil,
      specFieldIds: Map[Int, Seq[Int]] = Map.empty,
      rowTypeWidth: Int = 0,
      v3: Boolean = false,
      outCols: Seq[String] = Nil,
      needRow: Boolean = true)
    extends PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
      val t = p.asInstanceOf[PosDeleteFileTask]
      val idx = GraftMetadataTables.coercionIndexes(uparts, specFieldIds)
      val pathU = UTF8String.fromString(t.path)
      // every column but (file_path, pos, row) is CONSTANT per delete
      // file — hoist them once, then the per-row path fills a pre-sized
      // array by opcode
      val ops = new Array[Int](outCols.length)
      val consts = new Array[Any](outCols.length)
      outCols.zipWithIndex.foreach { case (n, i) =>
        n match {
          case "file_path" => ops(i) = SrcPath
          case "pos"       => ops(i) = SrcPos
          case "row"       => ops(i) = SrcRow
          case other =>
            ops(i) = SrcConst
            consts(i) = other match {
              case "partition" =>
                GraftMetadataTables.coercedPartitionRow(uparts,
                  idx.getOrElse(t.specId, GraftMetadataTables.NoIdx), t.partition)
              case "spec_id"          => Int.box(t.specId)
              case "delete_file_path" => pathU
              case "content_offset"   => t.contentOffset.map(Long.box).orNull
              case "content_size_in_bytes" => t.contentSize.map(Long.box).orNull
              case x => throw new IllegalArgumentException(
                s"unknown position_deletes column: $x")
            }
        }
      }
      def out(filePath: Any, pos: Long, row: Any): InternalRow = {
        val a = new Array[Any](ops.length)
        var i = 0
        while (i < ops.length) {
          a(i) = ops(i) match {
            case SrcPath => filePath
            case SrcPos  => pos
            case SrcRow  => row
            case _       => consts(i)
          }
          i += 1
        }
        new GenericInternalRow(a)
      }
      val it: Iterator[InternalRow] =
        if (t.format == "dv") {
          // stream the bitmap: a 100M-position DV iterates in place
          // instead of allocating one row object per position up front
          val (ref, bm) = DVIO.read(t.path, crypto)
          val refU = UTF8String.fromString(ref)
          DVIO.positions(bm).map(p => out(refU, p, null))
        } else {
          val pf = PartitionedFile(InternalRow.empty,
            org.apache.spark.paths.SparkPath.fromPathString(t.path),
            0L, Long.MaxValue, Array.empty[String], 0L, Long.MaxValue, Map.empty)
          readFunc(pf).map { r =>
            // the parquet row reader may reuse its row object — copy the
            // nested struct out before handing the row downstream. An
            // unprojected `row` never reached the reader (needRow=false)
            val row =
              if (!needRow || r.isNullAt(2)) null
              else r.getStruct(2, rowTypeWidth).copy()
            out(r.getUTF8String(0), r.getLong(1), row)
          }
        }
      new PartitionReader[InternalRow] {
        private var cur: InternalRow = _
        override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
        override def get(): InternalRow = cur
        override def close(): Unit = ()
      }
    }
  }
}

/** The metadata is snapshotted ONCE at load: schema(), scan planning,
  * and LocalScan rows all derive from the same document, so a concurrent
  * commit between Spark's schema() call and the scan can't skew struct
  * arity (reference BaseMetadataTable caches the table at creation). */
final class GraftMetadataTable(table: GTable, fullName: String, kind: String,
    asOf: Option[Long] = None, preloaded: Option[TableMetadata] = None)
  extends Table with SupportsRead {

  // `preloaded`: the document time travel RESOLVED against (the catalog
  // refreshes before resolving a version/timestamp) — reusing it here
  // closes the refresh/resolve race where a pin resolves on one document
  // and the scan serves another
  private val m: TableMetadata = preloaded.getOrElse(table.refresh())

  override def name(): String = fullName
  override def schema(): StructType = GraftMetadataTables.schemaOf(kind, m)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  private val distributedKinds = Set("files", "entries", "data_files",
    "delete_files", "all_files", "all_entries", "all_data_files",
    "all_delete_files")

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    if (kind == "position_deletes" || kind == "partitions" ||
        distributedKinds(kind))
      new GraftMetadataTable.MetadataScanBuilder(table, kind, m, asOf)
    else new ScanBuilder {
      // O(snapshots) kinds stay driver-side LocalScans; Spark filters
      override def build(): Scan = new GraftSparkTable.GraftLocalScan(
        GraftMetadataTables.schemaOf(kind, m),
        GraftMetadataTables.rowsOf(kind, table, m, asOf))
    }
}

object GraftMetadataTable {
  import org.apache.spark.sql.connector.expressions.filter.{Predicate => VPred}
  import org.apache.spark.sql.connector.read.{SupportsPushDownRequiredColumns, SupportsPushDownV2Filters}
  import graft.core.expr.{Expr, TrueE}

  /** Pushdown on the entry-level metadata scans (VERDICT r17 top item;
    * reference BaseFilesTable.java:69-86 evalCache +
    * TestMetadataTableFilters): pushed predicates on content/spec_id/
    * partition.* prune MANIFESTS via partition summaries (and whole
    * delete files on position_deletes); pruned columns stop the reader
    * from building readable_metrics/bounds maps — and stop
    * position_deletes from reading the stored `row` struct at all.
    * ALL predicates are returned to Spark for post-scan evaluation:
    * summary pruning is inclusive, never exact. */
  private[spark] final class MetadataScanBuilder(table: GTable, kind: String,
      m: TableMetadata, asOf: Option[Long])
    extends ScanBuilder
    with SupportsPushDownV2Filters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {

    private val uparts = GraftMetadataTables.unifiedPartitionFields(m)
    private val pctx = GraftMetadataTables.pruneCtx(uparts, kind)
    private val full = GraftMetadataTables.schemaOf(kind, m)

    private var pushed: Array[VPred] = Array.empty
    private var prune: Expr = TrueE
    private var required: Option[Seq[String]] = None
    private var metricNames: Option[Seq[String]] = None
    private var dfColumns: Option[Seq[String]] = None
    private var limit: Option[Int] = None
    // (count, manifests enumerated) — the second drives the ScanReport
    private var countResult: Option[(Long, Int)] = None

    // ------------------------------------------------------- aggregates
    // COUNT(*) on files/entries kinds is pure manifest-LIST math: the
    // list entry's added+existing counts ARE the live entry count, so a
    // 30k-manifest table answers instantly with zero manifest reads.
    // position_deletes sums live delete-entry record counts — manifest
    // reads, but never delete-file contents. Spark only offers the
    // aggregate when no residual filter sits above the scan, so
    // `prune != TrueE` can't occur here; bail anyway for safety.
    private def evalCount(
        agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
        : Option[(Long, Int)] = {
      import org.apache.spark.sql.connector.expressions.aggregate.CountStar
      if (prune != TrueE || agg.groupByExpressions().nonEmpty) return None
      // exactly ONE CountStar: the served LocalScan has one column, so
      // a (pathological) multi-count projection must take the row path
      val aggs = agg.aggregateExpressions()
      if (aggs.length != 1 || !aggs.head.isInstanceOf[CountStar]) return None
      try {
        if (GraftMetadataTables.filesKinds(kind) ||
            GraftMetadataTables.entriesKinds(kind)) {
          val manifests =
            if (kind.startsWith("all_")) GraftMetadataTables.allManifests(m, asOf)
            else GraftMetadataTables.pinnedManifests(m, asOf)
          val kept = kind match {
            case "data_files" | "all_data_files"     => manifests.filter(_.content == 0)
            case "delete_files" | "all_delete_files" => manifests.filter(_.content != 0)
            case _                                   => manifests
          }
          // files kinds serve live entries (added+existing); entries
          // kinds also serve status=2 Deleted markers, so their count
          // includes the list entry's deleted count
          val withDeleted = GraftMetadataTables.entriesKinds(kind)
          Some((kept.map(mf =>
            mf.addedFilesCount.toLong + mf.existingFilesCount +
              (if (withDeleted) mf.deletedFilesCount.toLong else 0L)).sum,
            manifests.size))
        } else if (kind == "position_deletes") {
          val manifests = GraftMetadataTables.pinnedManifests(m, asOf)
            .filter(mf => mf.content != 0 && mf.hasLiveFiles)
          Some((manifests
            .flatMap(mf => ManifestIO.readEntries(mf).filter(_.isLive))
            .filter(_.file.content == FileContent.PositionDeletes)
            .map(_.file.recordCount).sum, manifests.size))
        } else None
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    override def supportCompletePushDown(
        agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
        : Boolean = {
      countResult = evalCount(agg)
      countResult.isDefined
    }
    override def pushAggregation(
        agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
        : Boolean = {
      // always re-evaluate: reusing a result cached by an earlier
      // supportCompletePushDown call would serve a DIFFERENT
      // aggregation's count if Spark ever probes twice
      countResult = evalCount(agg)
      countResult.isDefined
    }

    // LIMIT: plan only a manifest prefix whose cumulative live-entry
    // count covers it — `LIMIT 10` on a 30k-manifest table reads one
    // manifest. Returns false: per-manifest counts overshoot, Spark
    // re-applies the exact limit.
    override def pushLimit(n: Int): Boolean = { limit = Some(n); false }

    override def pushPredicates(predicates: Array[VPred]): Array[VPred] = {
      // keep only predicates that fully BIND against the synthetic
      // pruning schema (content/spec_id/partition.*); a conjunct subset
      // is inclusive-safe, a partially-bound Or/Not is not — bind
      // rejects those wholesale
      val converted = predicates.flatMap { p =>
        SparkBridge.toExpr(p)
          .flatMap(e => scala.util.Try(Expr.bind(pctx.schema, e)).toOption)
          .map(p -> _)
      }
      pushed = converted.map(_._1)
      prune = converted.map(_._2).foldLeft[Expr](TrueE)(Expr.and)
      // Spark re-evaluates every predicate post-scan (the pruning is a
      // planning optimization, not row filtering)
      predicates
    }
    override def pushedPredicates(): Array[VPred] = pushed

    override def pruneColumns(requiredSchema: StructType): Unit = {
      val names = requiredSchema.fields.map(_.name).toSet
      required = Some(full.fields.map(_.name).filter(names).toSeq)
      // nested pruning for the two WIDE structs: which readable_metrics
      // columns and which data_file fields the query actually touches —
      // canonical order, so schema and emitters can't drift. Other
      // partially-requested structs (partition) serve whole; Spark
      // re-projects.
      requiredSchema.fields.find(_.name == "readable_metrics").foreach { f =>
        val asked = f.dataType.asInstanceOf[StructType].fieldNames.toSet
        metricNames = Some(GraftMetadataTables.metricCols(m.schema)
          .map(_.name).filter(asked))
      }
      requiredSchema.fields.find(_.name == "data_file").foreach { f =>
        val asked = f.dataType.asInstanceOf[StructType].fieldNames.toSet
        dfColumns = Some(GraftMetadataTables.fileStructFields(uparts)
          .map(_.name).filter(asked))
      }
    }

    override def build(): Scan = countResult match {
      case Some((n, totalManifests)) =>
        // the pushed count still reports its funnel: scanned=0 manifests
        // READ is the whole point, and an operator auditing scan_reports
        // must see the query happened
        ScanReports.add(ScanReport(table.location,
          asOf.orElse(m.currentSnapshot.map(_.snapshotId)).getOrElse(-1L),
          s"metadata:$kind count(*) pushed",
          totalManifests, 0, n, 0, 0, 0L, System.currentTimeMillis()))
        new GraftSparkTable.GraftLocalScan(
          StructType(Seq(StructField("count(*)", LongType))),
          Array(new GenericInternalRow(Array[Any](n)): InternalRow))
      case None => buildScan()
    }

    private def buildScan(): Scan =
      if (kind == "position_deletes")
        new PositionDeletesScan(table, m, asOf, prune, Some(pctx), required,
          limit)
      else if (kind == "partitions")
        // still a LocalScan (O(partitions) rows) — but the distributed
        // fold behind it only reads manifests that might hold a matching
        // partition; column pruning is skipped (rows are already tiny)
        new GraftSparkTable.GraftLocalScan(full,
          GraftMetadataTables.rowsOf(kind, table, m, asOf, prune, Some(pctx)))
      else
        new ManifestEntriesScan(table, kind, m, asOf, prune, Some(pctx),
          required, metricNames, dfColumns, limit)
  }
}
