package graft.spark

import java.util
import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.filter.{Predicate => VPred}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.sources.{Filter => V1Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.core.expr._
import graft.core.meta.{FileScanTask, GTable}
import graft.core.types._

/** DSv2 table over a graft table (reference spark/.../source/SparkTable.java).
  * Reads: pushdown → 3-layer metadata pruning → vectorized parquet.
  * Writes: fanout partitioned parquet + snapshot commit.
  */
class GraftSparkTable(val table: GTable, fullName: String,
    snapshotId: Option[Long] = None,
    // `t.branch_x` / `t.tag_x` identifier pin: (ref name, isTag). Branch
    // pins route reads AND writes to the branch; tag pins are read-only.
    refPin: Option[(String, Boolean)] = None,
    // planned tasks the scan reads instead of planning its own
    // (maintenance reads of a chosen file set; see readTasks)
    stagedTasks: Option[Seq[FileScanTask]] = None)
  extends Table with SupportsRead with SupportsWrite with SupportsDeleteV2
  with SupportsRowLevelOperations with SupportsMetadataColumns {

  import GraftSparkTable._

  override def name(): String = fullName

  // reserved metadata columns (reference core/.../MetadataColumns.java:34-78)
  override def metadataColumns(): Array[MetadataColumn] = {
    def mc(n: String, dt: org.apache.spark.sql.types.DataType,
        nullable: Boolean = false, metaJson: String = null): MetadataColumn =
      new MetadataColumn {
        override def name(): String = n
        override def dataType(): org.apache.spark.sql.types.DataType = dt
        override def isNullable: Boolean = nullable
        override def metadataInJSON(): String = metaJson
      }
    // lineage preservation through row-level plans (reference
    // SparkTable.metadataColumns preserveOnUpdate/...): Spark carries
    // _row_id through UPDATE/MERGE-UPDATE rewrites but nulls
    // _last_updated_sequence_number, so updated rows inherit the new
    // commit's sequence while keeping their identity
    def preserve(reinsert: Boolean, update: Boolean): String =
      new org.apache.spark.sql.types.MetadataBuilder()
        .putBoolean(MetadataColumn.PRESERVE_ON_REINSERT, reinsert)
        .putBoolean(MetadataColumn.PRESERVE_ON_UPDATE, update)
        .putBoolean(MetadataColumn.PRESERVE_ON_DELETE, false)
        .build().json
    val base = Array(
      mc(MetaFileCol, org.apache.spark.sql.types.StringType),
      mc(MetaPosCol, org.apache.spark.sql.types.LongType),
      mc(MetaSpecIdCol, org.apache.spark.sql.types.IntegerType),
      mc(MetaRowIdCol, org.apache.spark.sql.types.LongType, nullable = true,
        metaJson = preserve(reinsert = true, update = true)),
      mc(MetaSeqCol, org.apache.spark.sql.types.LongType, nullable = true,
        metaJson = preserve(reinsert = false, update = false)))
    // hidden shredded-variant columns (read-side shredding): one per
    // configured write.variant.shred.* sub-path, served from the
    // materialized file column (or the binary, for pre-spec files)
    val shreds = shredSpecsOf(table.meta.properties, table.schema)
      .filterNot(sp => table.schema.fields.exists(_.name == sp.metaName))
      .map(sp => mc(sp.metaName, sp.sparkType, nullable = true))
    // _partition: the default spec's partition tuple (null for files of
    // other specs) — lets MoR deletes fan out per partition
    val withShred = base ++ shreds
    if (table.spec.fields.isEmpty) withShred
    else withShred :+ mc(MetaPartitionCol,
      partitionStructType(table.spec, table.schema), nullable = true)
  }

  override def schema(): StructType = SparkTypes.toSparkSchema(table.schema)

  override def partitioning(): Array[Transform] =
    table.spec.fields.map(pf => SparkBridge.toSparkTransform(pf, table.schema)).toArray

  override def properties(): util.Map[String, String] =
    table.meta.properties.asJava

  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.TRUNCATE)
    // reference SparkTable.java:118-163: write.spark.accept-any-schema
    // lets Spark skip by-name output resolution so merge-schema /
    // subset / reordered writes reach the write builder unchanged
    if (table.meta.properties.get("write.spark.accept-any-schema").contains("true"))
      caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
    // Spark 4 `MERGE INTO … WITH SCHEMA EVOLUTION`: the analyzer
    // (ResolveMergeIntoSchemaEvolution) only applies the clause to tables
    // advertising this capability, then routes new source columns through
    // catalog.alterTable(AddColumn) — the same evolution path as ALTER
    // TABLE, so graft's field-id assignment applies (reference
    // SparkRowLevelOperationBuilder + Spark TableCapability)
    caps.add(TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    caps
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // (versionAsOf/timestampAsOf never reach here: Spark's analyzer owns
    // those spellings and routes them to the catalog's time-travel
    // loadTable overloads)
    val snapId = Option(options.get("snapshot-id")).map(_.toLong).orElse(snapshotId)
    // a tag is a ref like a branch; writes to tags are refused upstream
    val branch = Option(options.get("branch"))
      .orElse(Option(options.get("tag"))).orElse(refPin.map(_._1))
    val asOf = Option(options.get("as-of-timestamp")).map(_.toLong)
    // both the reference SparkReadOptions spellings (streaming-…) and the
    // shorter historical graft ones are accepted
    val maxFiles = Option(options.get("streaming-max-files-per-micro-batch"))
      .orElse(Option(options.get("max-files-per-micro-batch"))).map(_.toInt)
    val maxRecords = Option(options.get("streaming-max-rows-per-micro-batch"))
      .orElse(Option(options.get("max-records-per-micro-batch"))).map(_.toLong)
    val streamFromTs = Option(options.get("stream-from-timestamp")).map(_.toLong)
    // incremental append range: snapshot ids, or timestamps resolved
    // against the main ancestry (reference SparkReadOptions
    // START_TIMESTAMP/END_TIMESTAMP; start exclusive, end inclusive).
    // ONE refresh resolves both bounds so they can never disagree about
    // the lineage; commit timestamps may be non-monotonic under writer
    // clock skew, so filter the whole ancestry, not a sorted prefix
    val startTsOpt = Option(options.get("start-timestamp")).map(_.toLong)
    val endTsOpt = Option(options.get("end-timestamp")).map(_.toLong)
    lazy val ancestry = table.refresh().ancestry("main").sortBy(_.sequenceNumber)
    def snapAtOrBefore(ts: Long): Option[Long] =
      ancestry.filter(_.timestampMs <= ts).lastOption.map(_.snapshotId)
    val startIdOpt = Option(options.get("start-snapshot-id")).map(_.toLong)
    val endIdOpt = Option(options.get("end-snapshot-id")).map(_.toLong)
    require(startIdOpt.isEmpty || startTsOpt.isEmpty,
      "cannot set both start-snapshot-id and start-timestamp")
    require(endIdOpt.isEmpty || endTsOpt.isEmpty,
      "cannot set both end-snapshot-id and end-timestamp")
    require((endIdOpt.isEmpty && endTsOpt.isEmpty) ||
      startIdOpt.nonEmpty || startTsOpt.nonEmpty,
      "cannot set an end bound without start-snapshot-id or start-timestamp")
    // an end-timestamp older than every snapshot is a user error, not an
    // unbounded read (an unresolved end id would widen to MaxValue)
    val endResolved = endIdOpt.orElse(endTsOpt.map(ts => snapAtOrBefore(ts)
      .getOrElse(throw new IllegalArgumentException(
        s"end-timestamp $ts precedes the first snapshot"))))
    val incremental = startIdOpt
      // a start-timestamp before the first snapshot means "from the
      // beginning": id 0 never resolves, so startSeq falls back to 0
      .orElse(startTsOpt.map(ts => snapAtOrBefore(ts).getOrElse(0L)))
      .map(s => (s, endResolved))
    // reference SparkReadOptions streaming-skip-delete/overwrite-snapshots:
    // default FAIL when the stream reaches a snapshot that removed rows
    val streamSkip = (
      Option(options.get("streaming-skip-delete-snapshots")).exists(_.toBoolean),
      Option(options.get("streaming-skip-overwrite-snapshots")).exists(_.toBoolean))
    // off by default: plan batch N+1's metadata on a background thread
    // while batch N executes (reference AsyncSparkMicroBatchPlanner)
    val streamAsyncPlanning =
      Option(options.get("streaming-async-planning")).exists(_.toBoolean)
    // per-scan split tuning (reference SparkReadOptions SPLIT_SIZE /
    // FILE_OPEN_COST): overrides the table's read.split.target-size
    val splitOverride = (
      Option(options.get("split-size")).map(_.toLong),
      Option(options.get("file-open-cost")).map(_.toLong),
      Option(options.get("lookback")).map(_.toInt))
    new GraftScanBuilder(table, snapId, branch, asOf, streamMaxFiles = maxFiles,
      incremental = incremental, streamMaxRecords = maxRecords,
      streamFromTs = streamFromTs, streamSkip = streamSkip,
      streamAsync = streamAsyncPlanning,
      streamPollMs =
        Option(options.get("streaming-snapshot-polling-interval-ms")).map(_.toLong),
      splitOverride = splitOverride,
      vecOverride = Option(options.get("vectorization-enabled")).map(_.toBoolean),
      aggPushEnabled =
        Option(options.get("aggregate-push-down-enabled")).forall(_.toBoolean),
      stagedTasks = stagedTasks)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    refPin.foreach { case (name, isTag) =>
      require(!isTag, s"cannot write to a tag: $name")
    }
    new GraftWriteBuilder(table, info, defaultBranch = refPin.map(_._1))
  }

  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    refPin.foreach { case (name, isTag) =>
      require(!isTag, s"cannot modify a tag: $name")
    }
    new GraftRowLevelOperationBuilder(table, info, branchPin = refPin.map(_._1))
  }

  // metadata-only DELETE FROM (strict-match whole files); Spark falls back
  // to an error if rows partially match — row-level CoW comes via the
  // rewrite path.
  override def canDeleteWhere(predicates: Array[VPred]): Boolean = {
    val exprs = predicates.map(SparkBridge.toExpr)
    if (!exprs.forall(_.isDefined)) return false
    val expr = exprs.flatten.foldLeft[Expr](TrueE)(Expr.and)
    try {
      // dry-run the metadata delete against current state (on the WAP
      // branch if one is staged — that is where deleteWhere will commit)
      val bound = Expr.bind(table.schema, expr)
      val sc = table.newScan().filter(expr)
      refPin.map(_._1).orElse(WapBranch.forRead(table)).foreach(sc.useRef)
      sc.planFiles().forall { t =>
        val spec = table.meta.specById(t.file.specId)
        val strictPart = Projections.strict(spec, table.schema, bound)
        RowEvaluator.eval(strictPart, ArrayRow(t.file.partition.toArray)) ||
          StrictMetricsEvaluator.rowsMustMatch(bound, t.file.fileStats)
      }
    } catch { case scala.util.control.NonFatal(_) => false }
  }

  override def deleteWhere(predicates: Array[VPred]): Unit = {
    refPin.foreach { case (name, isTag) =>
      require(!isTag, s"cannot modify a tag: $name")
    }
    val expr = predicates.flatMap(SparkBridge.toExpr).foldLeft[Expr](TrueE)(Expr.and)
    // stage under spark.wap.id like every other write path
    WapBranch.stage(table,
      table.newOverwrite().overwriteByRowFilter(expr)
        .toBranch(refPin.map(_._1).orElse(WapBranch.resolve()).getOrElse("main")))
      .commit()
  }
}

object GraftSparkTable {
  /** fieldId → NDV from the metadata's statistics files: prefer the file
    * attached to the CURRENT snapshot, else the most recent entry. Per
    * blob, the spec's `ndv` summary property wins (no payload IO —
    * reference readers use it the same way); otherwise the blob payload
    * decodes, with the Puffin container read at most once: graft-ndv-v1
    * counts or the reference's apache-datasketches-theta-v1 compact
    * sketches (Puffin.thetaEstimate). */
  private[spark] def statisticsNdv(
      meta: graft.core.meta.TableMetadata): Map[Int, Long] = {
    val sf = meta.statistics
      .find(s => meta.currentSnapshot.exists(_.snapshotId == s.snapshotId))
      .orElse(meta.statistics.lastOption)
    sf match {
      case None => Map.empty
      case Some(f) =>
        lazy val blobs: Seq[graft.core.meta.Puffin.Blob] =
          try graft.core.meta.Puffin.read(f.path,
            graft.core.meta.TableCrypto.resolve(meta))
          catch { case scala.util.control.NonFatal(_) => Nil }
        f.blobMetadata.flatMap { bm =>
          bm.fields match {
            case Seq(id) =>
              graft.core.meta.Puffin.ndvFromBlob(bm.tpe, bm.properties, () =>
                blobs.find(b => b.blobType == bm.tpe &&
                  b.fields == bm.fields && b.snapshotId == bm.snapshotId)
                  .map(_.payload)).map(id -> _)
            case _ => None
          }
        }.toMap
    }
  }

  /** Rows of the given planned tasks, read through the table's own scan:
    * position, DV and equality deletes masked, columns resolved by field
    * id or write-time name, identity-partition columns filled for
    * imports, and the `_row_id` / `_last_updated_sequence_number`
    * metadata columns selectable (reference SparkStagedScan over a
    * ScanTaskSetManager task set). Maintenance procedures read through
    * this, never through a reader of their own. */
  private[spark] def readTasks(t: GTable, tasks: Seq[FileScanTask])
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.GraftSqlBridge.ofRows(SparkSession.active,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(
        new GraftSparkTable(t, t.location, stagedTasks = Some(tasks)), None, None))

  /** drop ONLY the parquet field ids for name-based readers (ORC,
    * name-mapped imports); EXISTS_DEFAULT etc. must survive or v3
    * initial defaults silently stop applying. Recurses — ONE id anywhere
    * in a read schema makes Spark demand ids in the file. */
  private[spark] def stripFieldIds(st: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def walk(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map { f =>
        val mb = new MetadataBuilder().withMetadata(f.metadata)
        mb.remove("parquet.field.id")
        f.copy(dataType = walk(f.dataType), metadata = mb.build())
      })
      case a: ArrayType => a.copy(elementType = walk(a.elementType))
      case m: MapType   => m.copy(keyType = walk(m.keyType),
        valueType = walk(m.valueType))
      case other        => other
    }
    walk(st).asInstanceOf[StructType]
  }

  /** rename `st`'s top-level fields (current names per `cur`) to their
    * names in the historical schema `hist`, matched by field id; fields
    * absent at write time get a unique placeholder (reads null) */
  private[spark] def translateTopNames(
      st: org.apache.spark.sql.types.StructType,
      cur: graft.core.types.GSchema,
      hist: graft.core.types.GSchema): org.apache.spark.sql.types.StructType = {
    val histTop = hist.fields.map(f => f.id -> f.name).toMap
    org.apache.spark.sql.types.StructType(st.fields.map { f =>
      cur.fields.find(_.name == f.name).map(_.id) match {
        case Some(fid) => f.copy(name = histTop.getOrElse(fid, s"__absent_$fid"))
        case None      => f // extension column (not in the table schema)
      }
    })
  }

  /** true when a name-based read of a `hist`-written file under CURRENT
    * names could mis-bind: a field renamed since write, or a field added
    * since write whose name collides with a different write-time field
    * (a non-colliding add just reads null by name — no translation
    * needed, and no reason to leave the vectorized batch path) */
  private[spark] def namesDiffer(cur: graft.core.types.GSchema,
      hist: graft.core.types.GSchema): Boolean =
    hist.fields.exists(f => cur.byId.get(f.id).exists(_.name != f.name)) ||
      cur.fields.exists(f => !hist.byId.contains(f.id) &&
        hist.fields.exists(h => h.name == f.name && h.id != f.id))


  val MetaFileCol = "_file"
  val MetaPosCol = "_pos"
  val MetaSpecIdCol = "_spec_id"
  val MetaPartitionCol = "_partition"
  // v3 row lineage (reference MetadataColumns ROW_ID / LAST_UPDATED_SEQ)
  val MetaRowIdCol = "_row_id"
  val MetaSeqCol = "_last_updated_sequence_number"
  // reserved field ids for MATERIALIZED lineage columns: rewritten files
  // (compaction) persist each row's original _row_id / last-updated seq as
  // real columns under these ids; readers prefer them over metadata-based
  // inheritance (format/spec.md row lineage, reference MetadataColumns)
  val RowIdFieldId = 2147483540
  val LastUpdSeqFieldId = 2147483539
  private val MetaColNames =
    Set(MetaFileCol, MetaPosCol, MetaSpecIdCol, MetaPartitionCol,
      MetaRowIdCol, MetaSeqCol)
  /** every reader-appended column: the fixed metadata set plus any
    * hidden shredded-variant column */
  private def isMetaCol(n: String): Boolean =
    MetaColNames(n) || n.startsWith(ShredColPrefix)

  /** the two materialized-lineage read columns, appended to a read schema
    * so files that carry them yield values and older files yield null */
  def lineageReadFields: Seq[org.apache.spark.sql.types.StructField] = {
    def meta(id: Int) = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(SparkTypes.FieldIdKey, id.toLong)
      .putLong(SparkTypes.ParquetFieldIdKey, id.toLong).build()
    Seq(
      org.apache.spark.sql.types.StructField(MetaRowIdCol,
        org.apache.spark.sql.types.LongType, nullable = true, meta(RowIdFieldId)),
      org.apache.spark.sql.types.StructField(MetaSeqCol,
        org.apache.spark.sql.types.LongType, nullable = true, meta(LastUpdSeqFieldId)))
  }

  /** lineage columns as engine fields, appended to a writer's gSchema so
    * format-side stats/conversions see them (same reserved ids) */
  def lineageGFields: Seq[graft.core.types.GField] = Seq(
    graft.core.types.GField(RowIdFieldId, MetaRowIdCol, graft.core.types.GLong),
    graft.core.types.GField(LastUpdSeqFieldId, MetaSeqCol, graft.core.types.GLong))

  // ------------------------------------------------- variant shredding
  // Read-side shredding (reference parquet variant-shredding spec +
  // spark/.../data/vectorized/VariantColumnVector.java): each configured
  // `write.variant.shred.<col> = "$.path:type"` sub-path is MATERIALIZED
  // as a typed column in every written data file (reserved field id) and
  // exposed as a hidden metadata column, so `variant_get` on a shredded
  // path is served from the typed column without parsing the variant
  // binary — at 100 TB the per-row binary parse is the dominant CPU cost
  // of a variant scan. Files written before the spec (imports, old
  // writers) fall back to the binary per task, keyed off the "mat:"
  // marker the writer leaves in the file's shredStats.
  val ShredColPrefix = "_shred_"
  /** reserved id range for materialized shred columns (below the lineage
    * ids; specs are capped well under the range width) */
  val ShredFieldBase = 2147482000

  /** one configured shred sub-path: hidden-column name, parent variant
    * column, parsed path, engine/Spark types, reserved materialized id */
  final case class ShredSpec(metaName: String, parent: String, parentId: Int,
      path: String, tpe: GType, matId: Int) {
    def sparkType: org.apache.spark.sql.types.DataType = SparkTypes.toSpark(tpe)
    /** shredStats key carrying this path's min/max (r5 stats-only form) */
    def statsKey: String = s"$parentId:$path"
    /** marker key: present in a file's shredStats iff the file carries
      * the MATERIALIZED column at THIS reserved field id — the id is part
      * of the key so a changed shred-spec set (which re-sorts and re-mints
      * ids) can never mis-bind an old file's column; such files simply
      * fail the marker check and fall back to the variant binary */
    def matKey: String = s"mat:$parentId:$path:$matId"
  }

  /** parse write.variant.shred.* against a schema. Sorted by
    * (parent, path) so materialized ids are deterministic across writers
    * and readers of the same property set; a spec-set change just makes
    * old files fall back to the binary (ids no longer line up). */
  def shredSpecsOf(props: Map[String, String],
      schema: GSchema): Seq[ShredSpec] = {
    val raw = props.toSeq.collect {
      case (k, v) if k.startsWith("write.variant.shred.") =>
        val col = k.stripPrefix("write.variant.shred.")
        v.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { item =>
          val i = item.lastIndexOf(':')
          require(i > 0, s"bad shred spec '$item': want $$.path:type")
          val tn = item.substring(i + 1).trim.toLowerCase match {
            case "bigint"           => "long"
            case "integer"          => "int"
            case "varchar" | "text" => "string"
            case x                  => x
          }
          (col, item.substring(0, i), tn)
        }
    }.flatten
    raw.flatMap { case (col, path, tn) =>
      schema.fields.find(f => f.name == col && f.tpe == graft.core.types.GVariant)
        .map { f =>
          val safe = path.stripPrefix("$.").replaceAll("[^A-Za-z0-9_]", "_")
          ShredSpec(s"$ShredColPrefix${col}_$safe", col, f.id, path,
            SparkTypes.typeFromName(tn), 0)
        }
    }.sortBy(sp => (sp.parent, sp.path))
      .distinctBy(_.metaName)
      .zipWithIndex.map { case (sp, i) => sp.copy(matId = ShredFieldBase + i) }
  }

  /** the materialized file column for one spec (field-id metadata so the
    * parquet reader resolves it like any evolved column) */
  def shredMatField(sp: ShredSpec): org.apache.spark.sql.types.StructField = {
    val m = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(SparkTypes.FieldIdKey, sp.matId.toLong)
      .putLong(SparkTypes.ParquetFieldIdKey, sp.matId.toLong).build()
    org.apache.spark.sql.types.StructField(sp.metaName, sp.sparkType,
      nullable = true, m)
  }

  def shredMatGField(sp: ShredSpec): graft.core.types.GField =
    graft.core.types.GField(sp.matId, sp.metaName, sp.tpe)

  /** Spark struct type of a spec's partition tuple. */
  def partitionStructType(spec: graft.core.expr.PartitionSpec,
      schema: GSchema): StructType =
    StructType(spec.partitionType(schema).fields.map(f =>
      org.apache.spark.sql.types.StructField(f.name, SparkTypes.toSpark(f.tpe))))

  /** Executor-side cache (reference spark/.../SparkExecutorCache.java):
    * ONE per JVM, shared by parsed position-delete maps, DV bitmaps,
    * equality-delete key sets and row-group footers. Delete content is
    * immutable and one file typically applies to many data files read by
    * many tasks on the same executor, so parsing once per JVM is the
    * difference between O(tasks) and O(files) delete-file IO at scale.
    * Keys are tuples led by their kind ("pos", "eq", "rowgroups"); each
    * kind passes its own weigher, in approximate
    * retained bytes. Budget and entry cap are the reference's defaults
    * (128 MiB / 64 MiB): a giant delete file bypasses the cache instead
    * of evicting the whole working set to pin itself. */
  private[spark] val executorCache =
    new graft.core.meta.BoundedCache[Any, AnyRef](128L << 20, entryCap = 64L << 20)

  /** Positions of `dataPath` deleted by the position-delete or DV files
    * `deletePaths`, ORed into one fresh bitmap; the batch scan's reader
    * (and the changelog, through it) reads deletes here. Each file is parsed
    * by `positionsByFile`, with its OWN manifest-recorded format in
    * `formats` (parallel to `deletePaths`). Delete content
    * stores the writer-time ABSOLUTE data-file path: match
    * scheme-stripped exact first, then — for tables relocated under v4
    * relative metadata locations — fall back to a UNIQUE
    * last-/data/-suffix match (an ambiguous suffix, e.g. an import
    * colliding with a native file name, never silently cross-applies).
    * rewrite_position_delete_files applies the same rule per file.
    *
    * Masks stay Roaring bitmaps end-to-end: a boxed HashSet[Long] costs
    * ~48 B per deleted position (500 MB heap for a 10M-row DV), while the
    * bitmap stays within a few bits/position. */
  def deletedPositions(dataPath: String, deletePaths: Array[String],
      formats: Array[String], crypto: Option[graft.core.meta.TableCrypto],
      readers: Map[ReadKey, Reader]): org.roaringbitmap.longlong.Roaring64Bitmap = {
    import graft.core.meta.GraftIO.{dataSuffix, stripScheme}
    val out = new org.roaringbitmap.longlong.Roaring64Bitmap()
    deletePaths.zip(formats).foreach { case (dp, fmt) =>
      val byFile = positionsByFile(dp, fmt, crypto, readers)
      val hit = byFile.get(stripScheme(dataPath)).orElse {
        val want = dataSuffix(dataPath)
        byFile.keys.filter(k => dataSuffix(k) == want).toSeq match {
          case Seq(only) => byFile.get(only)
          case _         => None
        }
      }
      hit.foreach(out.or) // or() mutates OUT only; cached bitmaps stay pristine
    }
    out
  }

  /** One position-delete or DV file parsed into scheme-stripped data-file
    * path → deleted positions, once per JVM (`executorCache`, key
    * ("pos", path)). `format` is the file's manifest-recorded format
    * (reference DeleteFilter per-file dispatch); its reader is looked up
    * in `readers` (`deleteReaders`) by its `ReadKey`. The returned bitmaps
    * are shared: callers OR them into their own, never mutate them. */
  def positionsByFile(path: String, format: String,
      crypto: Option[graft.core.meta.TableCrypto], readers: Map[ReadKey, Reader])
      : Map[String, org.roaringbitmap.longlong.Roaring64Bitmap] = {
    import graft.core.meta.GraftIO.stripScheme
    import org.roaringbitmap.longlong.Roaring64Bitmap
    // ~retained bytes: the roaring serialized size tracks heap closely
    // (containers are the payload)
    def weigh(m: Map[String, Roaring64Bitmap]): Long =
      64L + m.iterator.map { case (k, v) =>
        k.length * 2L + 64L + v.serializedSizeInBytes()
      }.sum
    executorCache.get(("pos", path), weigh) {
      if (graft.core.meta.DVIO.isDV(path)) {
        val (ref, bm) = graft.core.meta.DVIO.read(path, crypto)
        Map(stripScheme(ref) -> bm)
      } else {
        val m = scala.collection.mutable.Map.empty[String, Roaring64Bitmap]
        ReadKey.lookup(readers, ReadKey.positionDeletes(format), path)(wholeFile(path))
          .foreach { r =>
            m.getOrElseUpdate(stripScheme(r.getUTF8String(0).toString),
              new Roaring64Bitmap()).addLong(r.getLong(1))
          }
        m.toMap
      }
    }
  }

  /** the whole of file `path`, as a reader's input */
  private def wholeFile(path: String): PartitionedFile =
    PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path),
      0L, Long.MaxValue, Array.empty[String], 0L, Long.MaxValue, Map.empty)

  /** Readers of delete-file content, one per key, built once per scan
    * and shipped to its tasks. Position deletes read
    * `GraftDeltaWriter.DeleteSchema` for `positionsByFile`; equality
    * deletes read the nullable `tableSchema` for `equalityKeys`. The batch
    * scan, the changelog and rewrite_position_delete_files all build
    * them here. */
  def deleteReaders(spark: SparkSession,
      conf: org.apache.hadoop.conf.Configuration, keys: Iterable[ReadKey],
      tableSchema: StructType): Map[ReadKey, Reader] =
    keys.iterator.map { k =>
      val schema =
        if (k.shape == ReadKey.EqualityDeletes) nullableSchema(tableSchema)
        else GraftDeltaWriter.DeleteSchema
      k -> buildReader(spark, conf, k.resolve, schema, schema, Nil, batch = false)
    }.toMap

  /** THE constructor of every data and delete reader a scan ships to its
    * tasks: `data` is the file schema handed to the format, `required`
    * the columns returned, `filters` the pushed row-group filters.
    * `conf` carries the table's field-id and decryption settings and is
    * copied, since each build broadcasts its own. Parquet by id reads
    * through it as is; the name-resolved formats (name-mapped parquet,
    * ORC) read with the field ids stripped and id matching off; Avro
    * reads `required` through graft's own sync-splittable reader, which
    * broadcasts nothing and leaves filtering to Spark. */
  def buildReader(spark: SparkSession, conf: org.apache.hadoop.conf.Configuration,
      resolve: String, data: StructType, required: StructType,
      filters: Seq[V1Filter], batch: Boolean): Reader =
    if (resolve == ReadKey.Avro) GraftAvro.ReadFunc(required.json)
    else {
      val c = new org.apache.hadoop.conf.Configuration(conf)
      val byId = resolve == ReadKey.ParquetById
      if (!byId) c.setBoolean("spark.sql.parquet.fieldId.read.enabled", false)
      def ids(st: StructType) = if (byId) st else stripFieldIds(st)
      val fmt: FileFormat =
        if (resolve == ReadKey.Orc)
          new org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
        else new ParquetFileFormat
      val opts =
        if (batch) Map(FileFormat.OPTION_RETURNING_BATCH -> "true")
        else Map(FileFormat.OPTION_RETURNING_BATCH -> "false",
          "enableVectorizedReader" -> "false")
      fmt.buildReaderWithPartitionValues(spark, ids(data), new StructType(),
        ids(required), filters, opts, c)
    }

  /** `schema` with every top-level column nullable: the read schema of
    * equality-delete files. A delete file holds only its own key
    * columns, so one written under an earlier identifier-field set lacks
    * a column the current set made required, and a required read of it
    * fails. */
  def nullableSchema(schema: StructType): StructType =
    StructType(schema.fields.map(_.copy(nullable = true)))

  /** the equality-delete key of `row`: canonical copies of its values at
    * `positions` of `schema` */
  def keyAt(row: InternalRow, positions: Array[Int], schema: StructType): Seq[Any] =
    positions.map(p => canonical(row, p, schema(p).dataType)).toSeq

  /** canonical (hashable, buffer-safe) copy of a column value: the one
    * form equality-delete keys are compared in */
  def canonical(row: InternalRow, pos: Int,
      dt: org.apache.spark.sql.types.DataType): Any =
    if (row.isNullAt(pos)) null
    else row.get(pos, dt) match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case b: Array[Byte]                              => b.toSeq
      case d: org.apache.spark.sql.types.Decimal       => d.toJavaBigDecimal
      case other                                       => other
    }

  /** One equality-delete file parsed into its set of deleted keys, once
    * per JVM (`executorCache`, key ("eq", path, positions, key types)):
    * the canonical values at `positions` of `schema` in each of its rows.
    * `format` is the file's manifest-recorded format; its reader is
    * looked up in `readers` (`deleteReaders`, over `nullableSchema(schema)`)
    * by its `ReadKey`. Keyed by the key types too:
    * after a type promotion (INT identifier -> BIGINT) a set built with
    * the old types would never compare equal, and every equality delete
    * would silently un-apply. The returned set is shared: never mutate it. */
  def equalityKeys(path: String, format: String, positions: Array[Int],
      schema: StructType, readers: Map[ReadKey, Reader])
      : java.util.HashSet[Seq[Any]] = {
    // ~retained bytes: per row a Seq wrapper plus ~32 B per boxed value
    def weigh(s: java.util.HashSet[Seq[Any]]): Long =
      64L + s.size.toLong * (48L + 32L * math.max(1, positions.length))
    executorCache.get(("eq", path, positions.toSeq,
        positions.map(p => schema(p).dataType.catalogString).toSeq), weigh) {
      val keys = new java.util.HashSet[Seq[Any]]()
      ReadKey.lookup(readers, ReadKey.equalityDeletes(format), path)(wholeFile(path))
        .foreach(r => keys.add(keyAt(r, positions, schema)))
      keys
    }
  }

  /** Executor-side cache of row-group/stripe (startingPos, rowCount)
    * pairs: a split task (start > 0) derives its first-row index here so
    * `_pos` / delete masking stay file-absolute (the reference reads the
    * same footer ranges in OffsetsAwareSplitScanTaskIterator readers).
    * One footer read per file per executor, shared by all of its splits. */
  object RowGroupCache {
    def rowGroups(path: String, format: String,
        cryptoConf: Map[String, String]): Seq[(Long, Long)] =
      executorCache.get(("rowgroups", path),
        (v: Seq[(Long, Long)]) => 64L + 32L * v.size) {
        val conf = new org.apache.hadoop.conf.Configuration()
        cryptoConf.foreach { case (k, v) => conf.set(k, v) }
        val hPath = new org.apache.hadoop.fs.Path(
          "file://" + graft.core.meta.GraftIO.toPath(path).toString)
        import scala.jdk.CollectionConverters._
        if (format.startsWith("orc")) {
          val r = org.apache.orc.OrcFile.createReader(hPath,
            org.apache.orc.OrcFile.readerOptions(conf))
          try r.getStripes.asScala
            .map(s => (s.getOffset, s.getNumberOfRows)).toSeq
          finally r.close()
        } else {
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(hPath, conf),
            org.apache.parquet.HadoopReadOptions.builder(conf, hPath).build())
          try r.getFooter.getBlocks.asScala
            .map(b => (b.getStartingPos, b.getRowCount)).toSeq
          finally r.close()
        }
      }

    /** file position of the first row a (start, length) range reads:
      * rows of every row group/stripe whose start precedes the range.
      * Valid because split boundaries sit ON group starts (planner
      * invariant): parquet assigns a group to the range containing its
      * midpoint — always inside the group — and ORC assigns a stripe to
      * the range containing its start offset. */
    def firstRowIndex(path: String, format: String, start: Long,
        cryptoConf: Map[String, String]): Long =
      if (start == 0L) 0L
      else rowGroups(path, format, cryptoConf)
        .iterator.filter(_._1 < start).map(_._2).sum
  }

  /** an equality-delete file + the field ids it deletes by. `format` is
    * the file's OWN manifest-recorded format — external v2 trees commonly
    * mix Avro deletes over Parquet data (reference DeleteFilter dispatches
    * per DeleteFile.format(), data/.../DeleteFilter.java) */
  final case class EqDeleteDesc(path: String, fieldIds: Array[Int],
      format: String = "parquet")

  /** internal partition-tuple value → Catalyst internal value, for the
    * scan's identity fill (which compaction also reads through) */
  private def partitionValueToInternal(v: Any): Any = v match {
    case null                    => null
    case s: String               =>
      org.apache.spark.unsafe.types.UTF8String.fromString(s)
    case d: java.math.BigDecimal => org.apache.spark.sql.types.Decimal(d)
    case b: Seq[_]               => b.asInstanceOf[Seq[Byte]].toArray
    case x                       => x
  }

  /** THE identity-constant fill rule (reference PartitionUtil
    * .constantsMap) of the batch scan's reader, which the changelog and
    * compaction read through: overwrite each identity
    * source column at its position in `schema` with the task's
    * partition-tuple value. None when nothing needs filling. */
  def identityFillProjection(schema: StructType,
      consts: Seq[(String, Int)], partition: Seq[Any])
      : Option[org.apache.spark.sql.catalyst.expressions.UnsafeProjection] = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, UnsafeProjection}
    val over: Map[Int, Any] = consts.flatMap { case (name, pi) =>
      val pos = schema.fieldNames.indexOf(name)
      if (pos < 0 || pi >= partition.length) None
      else Some(pos -> partitionValueToInternal(partition(pi)))
    }.toMap
    if (over.isEmpty) None
    else {
      val exprs = schema.fields.zipWithIndex.map { case (fd, i) =>
        over.get(i) match {
          case Some(v) => Literal(v, fd.dataType)
          case None    => BoundReference(i, fd.dataType, nullable = true)
        }
      }
      Some(UnsafeProjection.create(
        exprs.toArray[org.apache.spark.sql.catalyst.expressions.Expression]))
    }
  }

  /** Serializable slice of a FileScanTask shipped to executors. */
  final case class TaskDesc(path: String, start: Long, length: Long,
      deletePaths: Array[String],
      eqDeletes: Array[EqDeleteDesc] = Array.empty,
      // per-entry format of `deletePaths` (parallel array) — position-
      // delete files keep their manifest-recorded format independently
      // of the data file's
      posDelFormats: Array[String],
      // "parquet" (field-id resolution) | "parquet-im" (imported with the
      // table's field ids: by id + constant fill) | "parquet-nm"
      // (imported, by name + constant fill) | "orc" (by name) | "orc-nm"
      // (imported ORC missing its identity-partition columns: by name +
      // constant fill) | "avro" (graft's own reader)
      fileFormat: String = "parquet",
      // for _spec_id/_partition metadata columns (internal-rep values)
      specId: Int = 0,
      partition: Seq[Any] = Nil,
      // row lineage: _row_id base + the file's data sequence number
      firstRowId: Option[Long] = None,
      dataSeq: Long = 0L,
      // true iff the file physically carries EVERY configured materialized
      // shred column ("mat:" markers in its shredStats) — readers serve
      // _shred_* from the typed file columns; older files fall back to
      // parsing the variant binary per row
      shredMat: Boolean = false,
      // write-time schema id (name-based formats read since-renamed
      // columns under their write-time names); -1 = current
      writeSchemaId: Int = -1) {
    def nameBased: Boolean = fileFormat != "parquet"
  }

  /** The TaskDesc of a planned task: its position/DV and equality
    * deletes split by kind, each with its own format, plus the file's
    * format, spec, partition, lineage and write schema. `shreds` are the
    * table's shredded-variant specs (`shredSpecsOf`). The batch scan, the
    * changelog and the micro-batch stream all describe their tasks here. */
  def toDesc(t: FileScanTask, shreds: Seq[ShredSpec]): TaskDesc = {
    val (eq, pos) = t.deletes.partition(_.content == graft.core.meta.FileContent.EqualityDeletes)
    TaskDesc(t.file.path, t.start, t.length, pos.map(_.path).toArray,
      eq.map(d => EqDeleteDesc(d.path, d.equalityIds.toArray, d.format)).toArray,
      posDelFormats = pos.map(_.format).toArray,
      fileFormat = t.file.format,
      specId = t.file.specId, partition = t.file.partition,
      firstRowId = t.file.firstRowId, dataSeq = t.dataSequenceNumber,
      shredMat = shreds.nonEmpty &&
        shreds.forall(sp => t.file.shredStats.contains(sp.matKey)),
      writeSchemaId = t.writeSchemaId)
  }

  /** a reader of one file: rows, or columnar batches cast to rows */
  type Reader = PartitionedFile => Iterator[InternalRow]

  /** What one task reads, and so which reader serves it (reference
    * BaseReader dispatches on the task's file format): how its columns
    * resolve (`resolve`), the write schema whose top-level names it is
    * read under (`schemaId`; -1 for the current names), the `shape` of
    * the read, whether it returns columnar `batch`es — carrying the
    * equality-delete key columns when `eqKeys` — and whether it reads the
    * materialized `shred` columns. A reader factory holds one reader per
    * distinct key of the tasks it was built for, and each task finds its
    * reader under `ReadKey.of`. Delete files are keyed the same way, by
    * their format and their content as the shape. */
  final case class ReadKey(resolve: String, shape: String, schemaId: Int = -1,
      batch: Boolean = false, eqKeys: Boolean = false, shred: Boolean = false)

  object ReadKey {
    // how columns resolve
    val ParquetById = "parquet-by-id"     // "parquet", "parquet-im"
    val ParquetByName = "parquet-by-name" // "parquet-nm"
    val Orc = "orc-by-name"               // "orc", "orc-nm"
    val Avro = "avro"
    // shapes: a filtered split read; an unfiltered read whose row index
    // is the file position; the full schema for equality masking; the
    // content of a delete file
    val Split = "split"
    val Unfiltered = "unfiltered"
    val EqMasked = "eq-masked"
    val PositionDeletes = "position-deletes"
    val EqualityDeletes = "equality-deletes"

    def resolution(format: String): String = format match {
      case "parquet" | "parquet-im" => ParquetById
      case "parquet-nm"             => ParquetByName
      case "orc" | "orc-nm"         => Orc
      case "avro"                   => Avro
      case other =>
        throw new IllegalStateException(s"no reader for file format '$other'")
    }

    /** the key of data task `t` in a scan with facts `f` */
    def of(t: TaskDesc, f: ScanFacts): ReadKey = {
      val resolve = resolution(t.fileFormat)
      val shape =
        if (!f.columnar && t.eqDeletes.nonEmpty) EqMasked
        else if (t.deletePaths.isEmpty && !f.positions) Split
        else Unfiltered
      ReadKey(resolve, shape,
        schemaId =
          if ((resolve == ParquetByName || resolve == Orc) &&
              f.renamed(t.writeSchemaId)) t.writeSchemaId
          else -1,
        batch = f.columnar,
        eqKeys = f.columnar && t.eqDeletes.nonEmpty,
        shred = f.shred && t.fileFormat == "parquet" && shape != EqMasked &&
          (f.columnar || t.shredMat))
    }

    def positionDeletes(format: String): ReadKey =
      ReadKey(resolution(format), PositionDeletes)
    def equalityDeletes(format: String): ReadKey =
      ReadKey(resolution(format), EqualityDeletes)

    /** the keys of the delete files task `t` parses (DVs need no reader) */
    def deletesOf(t: TaskDesc): Seq[ReadKey] =
      t.deletePaths.zip(t.posDelFormats).collect {
        case (p, fmt) if !graft.core.meta.DVIO.isDV(p) => positionDeletes(fmt)
      }.toSeq ++ t.eqDeletes.map(d => equalityDeletes(d.format))

    /** the reader of `key`, for file `path`; a factory built without it
      * fails here rather than hand the file to another format's reader */
    def lookup(readers: Map[ReadKey, Reader], key: ReadKey, path: String): Reader =
      readers.getOrElse(key, throw new IllegalStateException(
        s"no reader built for $key, needed by $path"))
  }

  /** The scan-wide facts a task's `ReadKey` and its read schema follow
    * from, the same on the driver and in every task: the table schema,
    * the data columns read, the requested metadata columns, the
    * materialized shred columns and the parent variant columns their
    * binary fallback adds, the key columns equality-masked batches add,
    * whether the scan reads columnar batches, and the ids of the schemas
    * whose top-level names differ from the current ones. */
  final case class ScanFacts(fullSchema: StructType, dataRequired: StructType,
      metaCols: Array[String], shredMat: Seq[org.apache.spark.sql.types.StructField],
      shredParents: Seq[org.apache.spark.sql.types.StructField],
      eqKeyFields: Seq[org.apache.spark.sql.types.StructField],
      columnar: Boolean, renamed: Set[Int]) {
    def lineage: Boolean = metaCols.contains(MetaRowIdCol) || metaCols.contains(MetaSeqCol)
    /** rows must carry file positions: _pos, or lineage derived from it */
    def positions: Boolean = metaCols.contains(MetaPosCol) || lineage
    def shred: Boolean = shredMat.nonEmpty

    // unfiltered and equality-masked reads also read the materialized
    // lineage columns: rewritten files carry them, older files read null
    // and fall back to firstRowId + position
    private def lin(k: ReadKey) =
      if (lineage && k.shape != ReadKey.Split) lineageReadFields else Nil

    /** the file schema a reader of `k` is built over, in current names */
    def dataSchema(k: ReadKey): StructType =
      StructType(fullSchema.fields ++ lin(k) ++ (if (k.shred) shredMat else Nil))

    /** the columns a reader of `k` returns, in current names: the data
      * columns, then lineage, then the shred columns (materialized, or
      * the parents the binary fallback parses), then the equality keys */
    def readSchema(k: ReadKey): StructType =
      if (k.shape == ReadKey.EqMasked) StructType(fullSchema.fields ++ lin(k))
      else StructType(dataRequired.fields ++ lin(k) ++
        (if (k.shred) shredMat else shredParents) ++
        (if (k.eqKeys) eqKeyFields else Nil))
  }

  final case class GraftInputPartition(tasks: Array[TaskDesc],
      key: InternalRow = null)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
    override def partitionKey(): InternalRow = key
  }

  final class GraftScanBuilder(table: GTable, snapshotId: Option[Long],
      branch: Option[String], asOfTs: Option[Long],
      onBuild: GraftScan => Unit = _ => (),
      ignoreResiduals: Boolean = false,
      streamMaxFiles: Option[Int] = None,
      incremental: Option[(Long, Option[Long])] = None,
      streamMaxRecords: Option[Long] = None,
      streamFromTs: Option[Long] = None,
      streamSkip: (Boolean, Boolean) = (false, false),
      streamAsync: Boolean = false,
      streamPollMs: Option[Long] = None,
      splitOverride: (Option[Long], Option[Long], Option[Int]) = (None, None, None),
      vecOverride: Option[Boolean] = None,
      aggPushEnabled: Boolean = true,
      stagedTasks: Option[Seq[FileScanTask]] = None)
    extends ScanBuilder with SupportsPushDownV2Filters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit
    with SupportsPushDownAggregates {

    private var pushed: Array[VPred] = Array.empty
    private var expr: Expr = TrueE
    private var required: StructType = SparkTypes.toSparkSchema(table.schema)
    private var limit: Option[Int] = None
    private var aggResult: Option[(StructType, InternalRow)] = None

    // ---------------------------------------------------------------------
    // Aggregate pushdown: COUNT(*)/COUNT(c)/MIN(c)/MAX(c) answered entirely
    // from manifest stats — zero data files read (reference
    // SparkScanBuilder.java:207-270 pushAggregation + AggregateEvaluator).
    // Bails on: pushed filters (residuals unknown), group-by, row-level
    // deletes, missing per-file stats, and types whose parquet min/max are
    // unsafe (float/double NaN ordering, truncated string/binary stats).
    // Spark probes supportCompletePushDown then calls pushAggregation with
    // the same Aggregation: evaluate once, reuse
    private var lastAgg: AnyRef = _
    override def supportCompletePushDown(
        agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
      aggResult = if (aggPushEnabled) evalAggregation(agg) else None
      lastAgg = agg
      aggResult.isDefined
    }

    override def pushAggregation(
        agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
      if (!(agg eq lastAgg)) {
        aggResult = if (aggPushEnabled) evalAggregation(agg) else None
        lastAgg = agg
      }
      aggResult.isDefined
    }

    private def evalAggregation(
        agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
        : Option[(StructType, InternalRow)] = {
      import org.apache.spark.sql.connector.expressions.aggregate._
      import org.apache.spark.sql.types.{LongType, StructField}
      if (expr != TrueE || agg.groupByExpressions().nonEmpty) return None
      val tasks = stagedTasks.getOrElse {
        try {
          val s = table.newScan()
          snapshotId.foreach(s.useSnapshot)
          branch.foreach(s.useRef)
          asOfTs.foreach(s.asOfTime)
          if (snapshotId.isEmpty && branch.isEmpty && asOfTs.isEmpty)
            WapBranch.forRead(table).foreach(s.useRef)
          s.planFiles()
        } catch { case scala.util.control.NonFatal(_) => return None }
      }
      if (tasks.exists(_.deletes.nonEmpty)) return None

      def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[GField] =
        e match {
          case nr: org.apache.spark.sql.connector.expressions.NamedReference
              if nr.fieldNames.length == 1 =>
            table.schema.findField(nr.fieldNames()(0))
          case _ => None
        }
      def minMaxSafe(t: GType): Boolean = t match {
        case GInt | GLong | GDate | GTimestamp(_) | GTimestampNs(_) => true
        case _                                    => false // float/double NaN, truncated string/binary
      }

      val values = agg.aggregateExpressions().map {
        case _: CountStar =>
          Some(("count(*)", LongType: org.apache.spark.sql.types.DataType,
            tasks.map(_.file.recordCount).sum: Any))
        case c: Count if !c.isDistinct =>
          fieldOf(c.column).flatMap { f =>
            val counts = tasks.map { t =>
              val st = t.file.fileStats.col(f.id)
              for (v <- st.valueCount; n <- st.nullCount) yield v - n
            }
            if (counts.exists(_.isEmpty)) None
            else Some((s"count(${f.name})", LongType: org.apache.spark.sql.types.DataType,
              counts.flatten.sum: Any))
          }
        case m: Min =>
          fieldOf(m.column).filter(f => minMaxSafe(f.tpe)).flatMap { f =>
            val lowers = tasks.map(_.file.fileStats.col(f.id).lower)
            if (tasks.isEmpty || lowers.exists(_.isEmpty)) None
            else Some((s"min(${f.name})", SparkTypes.toSpark(f.tpe),
              lowers.flatten.reduce((a, b) =>
                if (TypeComparators.compare(f.tpe, a, b) <= 0) a else b): Any))
          }
        case m: Max =>
          fieldOf(m.column).filter(f => minMaxSafe(f.tpe)).flatMap { f =>
            val uppers = tasks.map(_.file.fileStats.col(f.id).upper)
            if (tasks.isEmpty || uppers.exists(_.isEmpty)) None
            else Some((s"max(${f.name})", SparkTypes.toSpark(f.tpe),
              uppers.flatten.reduce((a, b) =>
                if (TypeComparators.compare(f.tpe, a, b) >= 0) a else b): Any))
          }
        case _ => None
      }
      if (values.exists(_.isEmpty)) return None
      val cols = values.flatten
      val schema = StructType(cols.map { case (n, dt, _) => StructField(n, dt) })
      val row = InternalRow.fromSeq(cols.map(_._3).toIndexedSeq)
      Some((schema, row))
    }

    override def pushPredicates(predicates: Array[VPred]): Array[VPred] = {
      // st_intersects_bbox on a column that is NOT geometry/geography
      // typed is a plain row-level function call — drop it from the
      // pruning expression (bind would reject it) and let Spark evaluate
      def geoSafe(e: Expr): Boolean = e match {
        case UnboundPred(Op.StIntersects | Op.StNotIntersects, ref, _) =>
          table.schema.byName.exists { case (n, f) =>
            n.equalsIgnoreCase(ref) && graft.core.types.GeoDefaults.isGeo(f.tpe)
          }
        // variant_get pushdown only binds against a variant column —
        // any other argument is a plain row-level call Spark evaluates
        case UnboundShredPred(_, ref, _, _, _) =>
          table.schema.byName.exists { case (n, f) =>
            n.equalsIgnoreCase(ref) && f.tpe == graft.core.types.GVariant
          }
        case And(l, r) => geoSafe(l) && geoSafe(r)
        case Or(l, r)  => geoSafe(l) && geoSafe(r)
        case Not(c)    => geoSafe(c)
        case _         => true
      }
      // filters on the hidden _shred_* metadata columns (the analyzer
      // rewrote variant_get over a shredded path to them) prune files via
      // the same shred stats as the function form; unsupported shapes
      // drop to no-pruning — Spark re-evaluates every predicate post-scan
      val shredByMeta: Map[String, GraftSparkTable.ShredSpec] =
        GraftSparkTable.shredSpecsOf(table.meta.properties, table.schema)
          .map(sp => sp.metaName -> sp).toMap
      def remapShred(e: Expr): Option[Expr] = e match {
        case UnboundPred(op, ref, vs) if shredByMeta.contains(ref) =>
          val sp = shredByMeta(ref)
          op match {
            case Op.Eq | Op.NotEq | Op.Lt | Op.LtEq | Op.Gt | Op.GtEq | Op.In =>
              Some(UnboundShredPred(op, sp.parent, sp.path, sp.tpe, vs))
            case _ => None
          }
        case And(l, r) => (remapShred(l), remapShred(r)) match {
          case (Some(a), Some(b)) => Some(Expr.and(a, b))
          case (a, b)             => a.orElse(b) // weaker pruning is safe
        }
        case Or(l, r) => for (a <- remapShred(l); b <- remapShred(r))
          yield Expr.or(a, b)
        case Not(c) =>
          // only keep a negation whose subtree needed NO remapping — a
          // weakened branch under NOT would over-prune
          remapShred(c) match {
            case Some(c2) if c2 == c => Some(e)
            case _                   => None
          }
        case other => Some(other)
      }
      val converted = predicates
        .flatMap(p => SparkBridge.toExpr(p).map(e => (p, e)))
        .flatMap { case (p, e) =>
          (if (shredByMeta.isEmpty) Some(e) else remapShred(e)).map((p, _)) }
        .filter { case (_, e) => geoSafe(e) }
      pushed = converted.map(_._1)
      expr = converted.map(_._2).foldLeft[Expr](TrueE)(Expr.and)
      // return ALL predicates: the engine prunes with the converted ones,
      // Spark still evaluates every predicate post-scan (codegen'd filter)
      // so unconvertible or residual-bearing files are always correct.
      predicates
    }
    override def pushedPredicates(): Array[VPred] = pushed

    override def pruneColumns(requiredSchema: StructType): Unit = {
      // keep table field metadata (ids) on the pruned columns; metadata
      // columns (_file/_pos) go last so readers can append them
      val full = SparkTypes.toSparkSchema(table.schema)
      val (meta, data) = requiredSchema.fields.partition(f => isMetaCol(f.name))
      required = StructType(data.map(f =>
        full.fields.find(_.name == f.name).getOrElse(f)) ++ meta)
    }

    override def pushLimit(n: Int): Boolean = { limit = Some(n); false }

    override def build(): Scan = aggResult match {
      case Some((schema, row)) => new GraftLocalScan(schema, Array(row))
      case None =>
        val scan = new GraftScan(table, expr, required, limit, snapshotId, branch,
          asOfTs, ignoreResiduals, streamMaxFiles, incremental, streamMaxRecords,
          streamFromTs, streamSkip, streamAsync, streamPollMs, splitOverride,
          vecOverride, stagedTasks)
        onBuild(scan)
        scan
    }
  }

  /** Delete-aware column vector: presents only surviving rows by mapping
    * logical row ids onto the underlying vector (reference
    * spark/.../data/vectorized/ColumnVectorWithFilter.java). Supports the
    * flat types the batch reader emits; nested types take the row path. */
  final class FilteredVector(v: org.apache.spark.sql.vectorized.ColumnVector,
      rowMap: Array[Int], n: Int)
    extends org.apache.spark.sql.vectorized.ColumnVector(v.dataType) {
    // the wrapped vector is OWNED and reused by the parquet record reader;
    // closing it here frees the reader's buffers mid-stream (NPE on the
    // next readBatch when a consumer closes a wrapped batch early)
    override def close(): Unit = ()
    override def hasNull: Boolean = v.hasNull
    override def numNulls(): Int = {
      var c = 0; var i = 0
      while (i < n) { if (v.isNullAt(rowMap(i))) c += 1; i += 1 }
      c
    }
    override def isNullAt(i: Int): Boolean = v.isNullAt(rowMap(i))
    override def getBoolean(i: Int): Boolean = v.getBoolean(rowMap(i))
    override def getByte(i: Int): Byte = v.getByte(rowMap(i))
    override def getShort(i: Int): Short = v.getShort(rowMap(i))
    override def getInt(i: Int): Int = v.getInt(rowMap(i))
    override def getLong(i: Int): Long = v.getLong(rowMap(i))
    override def getFloat(i: Int): Float = v.getFloat(rowMap(i))
    override def getDouble(i: Int): Double = v.getDouble(rowMap(i))
    override def getDecimal(i: Int, p: Int, s: Int): org.apache.spark.sql.types.Decimal =
      v.getDecimal(rowMap(i), p, s)
    override def getUTF8String(i: Int): org.apache.spark.unsafe.types.UTF8String =
      v.getUTF8String(rowMap(i))
    override def getBinary(i: Int): Array[Byte] = v.getBinary(rowMap(i))
    override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
      v.getArray(rowMap(i))
    override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
      v.getMap(rowMap(i))
    override def getChild(ordinal: Int): org.apache.spark.sql.vectorized.ColumnVector =
      throw new UnsupportedOperationException("nested types use the row path")
  }

  /** Metadata-only answer for a fully pushed aggregate: one local row, no
    * executor tasks at all (reference SparkLocalScan.java). */
  final class GraftLocalScan(schema: StructType, data: Array[InternalRow])
    extends org.apache.spark.sql.connector.read.LocalScan {
    override def readSchema(): StructType = schema
    override def rows(): Array[InternalRow] = data
    override def description(): String = "graft-local-agg"
  }

  final class GraftScan(table: GTable, expr: Expr, required: StructType,
      limit: Option[Int], snapshotId: Option[Long], branch: Option[String],
      asOfTs: Option[Long], ignoreResiduals: Boolean = false,
      streamMaxFiles: Option[Int] = None,
      incremental: Option[(Long, Option[Long])] = None,
      streamMaxRecords: Option[Long] = None,
      streamFromTs: Option[Long] = None,
      streamSkip: (Boolean, Boolean) = (false, false),
      streamAsync: Boolean = false,
      streamPollMs: Option[Long] = None,
      splitOverride: (Option[Long], Option[Long], Option[Int]) = (None, None, None),
      vecOverride: Option[Boolean] = None,
      stagedTasks: Option[Seq[FileScanTask]] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

    // ------------------------------------------- storage-partitioned joins
    // Report KeyGroupedPartitioning over the partition transforms so joins
    // on partition keys elide their shuffles (reference
    // SparkPartitioningAwareScan.java:59-120). Mirrors the reference's
    // two-switch gate exactly: Spark's spark.sql.sources.v2.bucketing.enabled
    // (defaults TRUE in Spark 4 — it only enables the planner machinery)
    // AND the source's own explicit opt-in, default FALSE (reference
    // spark.sql.iceberg.planning.preserve-data-grouping). Grouping must
    // not be the default: it emits one input partition per partition KEY
    // — no bin-packing, no file splitting — which collapses parallelism
    // and freezes task groups against runtime filtering; it only pays
    // off when a join actually consumes the partitioning.
    private def preserveGrouping: Boolean = {
      val conf = SparkSession.active.conf
      conf.getOption("spark.sql.sources.v2.bucketing.enabled").forall(_.toBoolean) &&
        conf.getOption("spark.sql.graft.preserveDataGrouping").exists(_.toBoolean) &&
        table.spec.fields.nonEmpty
    }

    @transient private lazy val groupedTasks: Seq[(Seq[Any], Seq[FileScanTask])] = {
      val specId = table.spec.specId
      val all = tasks()
      if (all.isEmpty || all.exists(_.file.specId != specId)) Nil
      else all.groupBy(t => t.file.partition.map {
        case b: Array[Byte] => b.toSeq
        case x              => x
      }).map { case (_, ts) => (ts.head.file.partition, ts) }.toSeq
    }

    private def keyRow(partition: Seq[Any]): InternalRow = {
      val partType = table.spec.partitionType(table.schema)
      val vals = partition.zip(partType.fields).map { case (v, f) =>
        if (v == null) null
        else f.tpe match {
          case GString => org.apache.spark.unsafe.types.UTF8String.fromString(v.toString)
          case GDecimal(p, s) => org.apache.spark.sql.types.Decimal(
            v.asInstanceOf[java.math.BigDecimal], p, s)
          case _ => v
        }
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals.toArray)
    }

    override def outputPartitioning()
        : org.apache.spark.sql.connector.read.partitioning.Partitioning =
      if (preserveGrouping && groupedTasks.nonEmpty)
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          table.spec.fields.map(pf =>
            SparkBridge.toSparkTransform(pf, table.schema)
              : org.apache.spark.sql.connector.expressions.Expression).toArray,
          groupedTasks.size)
      else new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)

    override def toMicroBatchStream(checkpointLocation: String)
        : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
      new GraftMicroBatchStream(table, streamMaxFiles, buildReaderFactory,
        streamMaxRecords, branch, streamFromTs,
        skipDelete = streamSkip._1, skipOverwrite = streamSkip._2,
        asyncPlanning = streamAsync, pollingIntervalMs = streamPollMs)

    private var runtimeExpr: Expr = TrueE
    @transient private var cachedTasks: Seq[FileScanTask] = _
    @transient private var plannedSnapshot: Option[Long] = None

    private def newCoreScan() = {
      val s = table.newScan().filter(Expr.and(expr, runtimeExpr))
      snapshotId.foreach(s.useSnapshot)
      branch.foreach(s.useRef)
      asOfTs.foreach(s.asOfTime)
      // WAP: unversioned reads resolve to the staged branch once it exists,
      // so audits see their own staged writes (reference SparkReadConf)
      if (snapshotId.isEmpty && branch.isEmpty && asOfTs.isEmpty)
        WapBranch.forRead(table).foreach(s.useRef)
      s
    }

    /** incremental append scan: files added by append snapshots in
      * (start, end] (reference BaseIncrementalAppendScan); stats/metrics
      * pruning still applies via the inclusive evaluator */
    private def incrementalTasks(startId: Long, endIdOpt: Option[Long]): Seq[FileScanTask] = {
      val m = table.refresh()
      val bound = Expr.bind(m.schema, Expr.and(expr, runtimeExpr))
      val startSeq = m.snapshotById(startId)
        .map(_.sequenceNumber).getOrElse(0L)
      val endSeq = endIdOpt.flatMap(m.snapshotById).map(_.sequenceNumber)
        .getOrElse(Long.MaxValue)
      // walk the main branch's ancestry, NOT the global snapshot list:
      // snapshots staged on other branches (WAP) must not leak into
      // incremental reads of main
      m.ancestry(branch.getOrElse("main"))
        .filter(sn => sn.operation == "append" &&
          sn.sequenceNumber > startSeq && sn.sequenceNumber <= endSeq)
        .sortBy(_.sequenceNumber)
        .flatMap { sn =>
          graft.core.meta.ManifestIO.addedEntries(sn)
            .filter(e => InclusiveMetricsEvaluator.rowsMightMatch(bound, e.file.fileStats))
            .map(e => FileScanTask(e.file, 0L, e.file.fileSizeBytes, TrueE, Nil,
              writeSchemaId =
                e.writeSchemaId.orElse(sn.schemaId).getOrElse(-1)))
        }
    }

    private def tasks(): Seq[FileScanTask] = {
      if (cachedTasks == null && stagedTasks.isDefined) cachedTasks = stagedTasks.get
      if (cachedTasks == null && incremental.isDefined) {
        val (s, e) = incremental.get
        cachedTasks = incrementalTasks(s, e)
      }
      if (cachedTasks == null) {
        val t0 = System.nanoTime()
        val coreScan = newCoreScan()
        plannedSnapshot = coreScan.snapshot().map(_.snapshotId)
        var planRanDistributed = false
        // REST server-side planning (reference RESTTableScan;
        // rest-scan-planning=server or server-advertised
        // scan-planning-mode=server): the snapshot/branch resolves
        // CLIENT-side from the loaded metadata, then the server runs the
        // pruning funnel and only surviving tasks cross the wire. Any
        // failure falls back to local planning — availability over
        // thinness.
        val serverPlanned: Option[Seq[FileScanTask]] = table.ops match {
          case r: graft.core.meta.RestTableOps if r.serverPlanningOn =>
            try Some(plannedSnapshot match {
              case None => Nil
              case sid  => r.planScan(sid, Expr.and(expr, runtimeExpr), table.meta,
                // time travel (id/timestamp) binds under the snapshot's
                // write-time schema; branch reads use the table schema
                useSnapshotSchema = snapshotId.isDefined || asOfTs.isDefined)
            })
            catch { case scala.util.control.NonFatal(_) => None }
          case _ => None
        }
        var ts = serverPlanned.getOrElse {
          // distributed planning (reference SparkDistributedDataScan +
          // SparkReadConf 256 MB threshold): past the metadata threshold,
          // fan manifest pruning out as a Spark job; only surviving tasks
          // return to the driver
          val threshold =
            try SparkSession.active.conf
              .getOption("spark.graft.distributed-planning-min-bytes")
              .map(_.toLong).getOrElse(256L * 1024 * 1024)
            catch { case scala.util.control.NonFatal(_) => 256L * 1024 * 1024 }
          coreScan.planParts() match {
            case Some((ctx, mfs))
                if mfs.size > 1 && mfs.map(_.length).sum > threshold =>
              val sc = SparkSession.active.sparkContext
              planRanDistributed = true
              sc.parallelize(mfs, math.min(mfs.size, sc.defaultParallelism))
                .flatMap(mf => graft.core.meta.TableScan.planManifest(ctx, mf))
                .collect().toSeq
            case Some((ctx, mfs)) =>
              graft.core.meta.TableScan.planManifests(ctx, mfs)
            case None => Nil
          }
        }
        // limit pushdown: stop planning once the limit is GUARANTEED.
        // A task guarantees its recordCount rows only when its residual
        // is TrueE (partition pruning fully satisfied the pushed filter)
        // and no deletes can remove rows; other tasks still plan but
        // contribute nothing to the guarantee (reference
        // SparkScanBuilder.pushLimit semantics). Spark re-applies LIMIT
        // above the scan, so planning a prefix is always safe.
        limit.foreach { n =>
          var acc = 0L
          ts = ts.takeWhile { t =>
            val take = acc < n
            if (t.residual == TrueE && t.deletes.isEmpty) acc += t.file.recordCount
            take
          }
        }
        cachedTasks = ts
        // scan report: pruning-funnel counts for this planning pass
        // (served by the scan_reports metadata table + description())
        val report = coreScan.buildReport(ts, (System.nanoTime() - t0) / 1000000L,
          distributed = planRanDistributed)
        graft.core.meta.ScanReports.add(report)
        lastReport = Some(report)
      }
      cachedTasks
    }

    @transient @volatile private var lastReport: Option[graft.core.meta.ScanReport] = None

    // DSv2 custom metrics (reference SparkScan.supportedCustomMetrics +
    // spark/.../source/metrics/*): the planning funnel surfaces in the
    // Spark UI per query, not only in the scan_reports ring
    override def supportedCustomMetrics()
        : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
      GraftScanMetrics.supported

    override def reportDriverMetrics()
        : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
      lastReport.map { r =>
        Array[org.apache.spark.sql.connector.metric.CustomTaskMetric](
          GraftScanMetrics.Value("totalDataManifests", r.totalManifests),
          GraftScanMetrics.Value("scannedDataManifests", r.scannedManifests),
          GraftScanMetrics.Value("skippedDataManifests",
            math.max(0, r.totalManifests - r.scannedManifests)),
          GraftScanMetrics.Value("totalDataFiles", r.totalDataFiles),
          GraftScanMetrics.Value("resultDataFiles", r.resultTasks),
          GraftScanMetrics.Value("skippedDataFiles",
            math.max(0L, r.totalDataFiles - r.resultTasks)),
          GraftScanMetrics.Value("resultDeleteFiles", r.resultDeleteFiles),
          GraftScanMetrics.Value("totalPlanningDuration", r.planningMs))
      }.getOrElse(Array.empty)

    override def readSchema(): StructType = required

    /** files this scan planned (post pushdown + runtime filtering);
      * the copy-on-write replace set */
    def plannedFilePaths(): Seq[String] = tasks().map(_.file.path)

    /** snapshot the scan planned against (captured at planning time so
      * commit-time validation covers the scan→commit window) */
    def scannedSnapshotId(): Option[Long] = { tasks(); plannedSnapshot }

    /** the pushed row filter (for serializable conflict detection) */
    def pushedExpr: Expr = expr

    override def toBatch: Batch = this

    override def description(): String =
      s"graft(${table.location}) filter=$expr" + lastReport.map(r =>
        s" [manifests ${r.scannedManifests}/${r.totalManifests}," +
          s" files ${r.resultTasks}/${r.totalDataFiles}," +
          s" deletes ${r.resultDeleteFiles}, plan ${r.planningMs}ms]").getOrElse("")

    // ------------------------------------------------- runtime filtering (DPP)
    override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
      // only columns present in the scan OUTPUT: Spark resolves these refs
      // against the pruned relation and throws (failing the whole query)
      // for any attribute the projection dropped
      val out = required.fieldNames.toSet
      table.spec.fields.iterator
        .map(pf => table.schema.byId(pf.sourceId).name)
        .filter(out.contains)
        .map(org.apache.spark.sql.connector.expressions.Expressions.column)
        .toArray
    }

    override def filter(predicates: Array[VPred]): Unit = {
      val converted = predicates.flatMap(SparkBridge.toExpr)
      if (converted.nonEmpty) {
        runtimeExpr = converted.foldLeft(runtimeExpr)(Expr.and)
        cachedTasks = null // re-plan with the runtime filter
      }
    }

    // NDVs from the metadata's statistics files (computed once per scan):
    // blob summary `ndv` property when present — zero payload IO — else
    // the decoded blob (graft-ndv-v1 count, or the reference's
    // apache-datasketches-theta-v1 compact sketch preamble). This is how
    // a REGISTERED genuine Iceberg table feeds NDV into CBO without
    // graft's stats.ndv.* properties ever having been computed.
    @transient private lazy val statisticsNdv: Map[Int, Long] =
      GraftSparkTable.statisticsNdv(table.meta)

    // ------------------------------------------------- stats for CBO/AQE
    override def estimateStatistics(): Statistics = {
      val ts = tasks()
      val rows = ts.map(_.file.recordCount).sum
      // scale size by column pruning ratio for broadcast decisions
      val fullCols = table.schema.fields.size.max(1)
      val ratio = required.fields.length.toDouble / fullCols
      val bytes = (ts.map(_.length).sum * ratio).toLong.max(1L)
      // column NDVs from compute_table_stats + null counts from manifests
      // (reference SparkColumnStatistics; feeds CBO join ordering)
      val colStats = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      table.schema.fields.foreach { f =>
        val ndv = table.meta.properties.get(s"stats.ndv.${f.name}")
          .flatMap(_.toLongOption).orElse(statisticsNdv.get(f.id))
        val nulls = {
          val perFile = ts.map(_.file.fileStats.col(f.id).nullCount)
          if (perFile.nonEmpty && perFile.forall(_.isDefined)) Some(perFile.flatten.sum)
          else None
        }
        if (ndv.isDefined || nulls.isDefined) {
          colStats.put(
            org.apache.spark.sql.connector.expressions.Expressions.column(f.name),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): OptionalLong =
                ndv.map(OptionalLong.of).getOrElse(OptionalLong.empty())
              override def nullCount(): OptionalLong =
                nulls.map(OptionalLong.of).getOrElse(OptionalLong.empty())
            })
        }
      }
      new Statistics {
        override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
        override def numRows(): OptionalLong = OptionalLong.of(rows)
        override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
      }
    }

    // ------------------------------------------------- execution
    override def planInputPartitions(): Array[InputPartition] = {
      if (preserveGrouping && groupedTasks.nonEmpty) {
        // one input partition per partition key, tagged for SPJ
        return groupedTasks.map { case (partition, ts) =>
          GraftInputPartition(ts.map(toDesc(_, shredAll)).toArray,
            keyRow(partition)): InputPartition
        }.toArray
      }
      val all = tasks()
      val openCost = splitOverride._2.getOrElse(4L * 1024 * 1024)
      // Adaptive split target (reference TableScanUtil + adaptive split
      // size): cap at 128 MB for cluster-scale reads, but shrink toward
      // totalBytes/defaultParallelism so a scan never plans fewer task
      // groups than the cluster has slots — a 100 MB table on 32 cores
      // must not become one single-threaded task.
      val parallelism =
        try SparkSession.active.sparkContext.defaultParallelism
        catch { case scala.util.control.NonFatal(_) => 8 }
      val totalBytes = all.map(t => math.max(t.length, openCost)).sum
      val configured = splitOverride._1
        .orElse(table.meta.properties.get("read.split.target-size")
          .flatMap(_.toLongOption)).getOrElse(128L * 1024 * 1024)
      val target = math.min(configured,
        math.max(4L * 1024 * 1024, totalBytes / math.max(1, parallelism)))
      // split oversized files at target boundaries. Free-form byte splits
      // are safe when the reader takes the filtered (start, length) path
      // — no position accounting needed. Delete-carrying or
      // position-serving tasks (pos deletes / DVs to mask, _pos/_row_id
      // to serve, eq-delete row-path masking that also counts positions)
      // split only at recorded parquet row-group offsets (reference
      // OffsetsAwareSplitScanTaskIterator + BaseFile.java:73
      // split_offsets): with boundaries at row-group starts, the reader
      // derives each split's first-row index from the footer and keeps
      // positions exact. Without offsets (ORC/avro/legacy files) such
      // tasks stay whole — at 100 TB MoR this is what stops one DV from
      // serializing a 1 GB file read.
      val needPos = required.fieldNames.contains(MetaPosCol) ||
        required.fieldNames.contains(MetaRowIdCol) ||
        required.fieldNames.contains(MetaSeqCol)
      val split = all.flatMap { t =>
        val positional = needPos || t.deletes.nonEmpty
        if (t.length <= target) Seq(t)
        else if (!positional)
          (0L until t.length by target).map(off =>
            t.copy(start = off, length = math.min(target, t.length - off)))
        // any parquet/orc flavor splits: nm/im imports read through the
        // same range-respecting Spark readers, and imports record
        // splitOffsets (row-group starts / stripe offsets) exactly for
        // this. Avro stays whole — no recorded offsets.
        else if ((t.file.format.startsWith("parquet") ||
              t.file.format.startsWith("orc")) &&
            t.file.splitOffsets.size > 1 && t.start == 0) {
          // row-group-aligned boundaries, each segment >= target
          val bounds = Seq.newBuilder[Long]
          bounds += 0L
          var segStart = 0L
          t.file.splitOffsets.drop(1).foreach { o =>
            if (o - segStart >= target) { bounds += o; segStart = o }
          }
          val bs = bounds.result()
          bs.zipWithIndex.map { case (b, i) =>
            val end = if (i + 1 < bs.size) bs(i + 1) else t.length
            t.copy(start = b, length = end - b)
          }
        } else Seq(t)
      }
      val groups = {
        // bin-pack into ~target-size groups with a lookback window of
        // open bins (reference TableScanUtil/BinPacking + the `lookback`
        // read option / read.split.planning-lookback, default 10): a
        // task goes to the first open bin it fits; when none fits and
        // the window is full, the oldest bin closes — tighter packing
        // than pure greedy when sizes interleave
        val lookback = splitOverride._3.orElse(
          table.meta.properties.get("read.split.planning-lookback")
            .flatMap(_.toIntOption)).getOrElse(10).max(1)
        final class Bin {
          val items = Seq.newBuilder[FileScanTask]
          var size = 0L
          def add(t: FileScanTask, w: Long): Unit = { items += t; size += w }
        }
        val out = Seq.newBuilder[Seq[FileScanTask]]
        val open = scala.collection.mutable.ArrayBuffer.empty[Bin]
        split.foreach { t =>
          val w = math.max(t.length, openCost)
          open.find(_.size + w <= target) match {
            case Some(b) => b.add(t, w)
            case None =>
              if (open.size >= lookback) out += open.remove(0).items.result()
              val b = new Bin; b.add(t, w); open += b
          }
        }
        open.foreach(b => out += b.items.result())
        out.result()
      }
      groups.map { g =>
        GraftInputPartition(g.map(toDesc(_, shredAll)).toArray): InputPartition
      }.toArray
    }

    private lazy val shredAll =
      GraftSparkTable.shredSpecsOf(table.meta.properties, table.schema)

    override def createReaderFactory(): PartitionReaderFactory =
      buildReaderFactory(tasks())

    /** Build the executor-side reader factory for tasks `ts`: the scan's
      * planned tasks, one micro-batch's files, or the changelog's staged
      * tasks. The columnar decision is taken over `ts` alone; then exactly
      * one reader is built per distinct `ReadKey.of` of their tasks, and
      * one delete reader per key of their delete files. Each parquet/ORC
      * reader broadcasts its own Hadoop conf, so nothing is built that no
      * task of `ts` reads; a task outside `ts` whose key is missing fails
      * its lookup with the key and the file. */
    private[spark] def buildReaderFactory(ts: Seq[FileScanTask]): GraftReaderFactory = {
      val spark = SparkSession.active
      val fullSchema = SparkTypes.toSparkSchema(table.schema)
      // row-level-op scans must return every row of the planned files:
      // suppress residual filters below the scan (reference ignoreResiduals)
      val v1Filters =
        if (ignoreResiduals) Nil else exprToV1(Expr.and(expr, runtimeExpr))
      // metadata columns are appended reader-side, not read from parquet
      val metaCols = required.fields.map(_.name).filter(isMetaCol)
      val dataRequired = StructType(required.fields.filterNot(f => isMetaCol(f.name)))
      // ------------------------------------------------ shredded variants
      // requested hidden _shred_* columns, in metaCols order. Files that
      // carry the materialized typed column serve it directly; older
      // files compute the value from the parent variant binary per row.
      val shredReq: Array[GraftSparkTable.ShredSpec] =
        if (!metaCols.exists(_.startsWith(ShredColPrefix))) Array.empty
        else metaCols.flatMap(n => shredAll.find(_.metaName == n))
      val shredMatFields = shredReq.map(shredMatField)
      // parent variant columns the binary fallback needs but the query
      // didn't select: appended after the data (+lineage) fields
      val shredMissingParents: Array[org.apache.spark.sql.types.StructField] =
        shredReq.map(_.parent).distinct
          .filterNot(p => dataRequired.fieldNames.contains(p))
          .map(p => fullSchema.fields.find(_.name == p).get)
      val shredParentFull: Array[Int] =
        shredReq.map(sp => fullSchema.fieldIndex(sp.parent))
      // per requested spec: its parent's ordinal in a bin-extended row —
      // either inside dataRequired or among the appended parents (the
      // reader shifts appended ordinals past any lineage extension)
      val shredParentRel: Array[Int] = shredReq.map { sp =>
        val i = dataRequired.fieldNames.indexOf(sp.parent)
        if (i >= 0) i
        else dataRequired.length + shredMissingParents.indexWhere(_.name == sp.parent)
      }
      val conf = spark.sessionState.newHadoopConfWithOptions(Map.empty)
      // our files always carry parquet field ids: resolve columns by id so
      // renames/evolution never mis-bind
      conf.setBoolean("spark.sql.parquet.fieldId.read.enabled", true)
      // encrypted tables: the parquet decryption factory + KMS key list
      // ride the same conf into every task's footer/page reader
      GraftParquetCrypto.configure(conf, table.meta)
      // metadata columns stay COLUMNAR via constant/position vectors
      // (reference ConstantColumnVectors + row-index vectors), so CoW/MoR
      // DML scans keep the vectorized path; materialized-lineage columns
      // (_row_id/_last_updated_sequence_number) still take the row path
      val columnarMeta =
        Set(MetaFileCol, MetaSpecIdCol, MetaPartitionCol, MetaPosCol)
      val partStructT = partitionStructType(table.spec, table.schema)
      // _partition is served columnar via ConstantColumnVector only for
      // value types setConst supports — otherwise fall back to the row
      // path (a silently-null _partition would be a wrong result)
      def constSupported(dt: org.apache.spark.sql.types.DataType): Boolean = {
        import org.apache.spark.sql.types._
        dt match {
          case BooleanType | IntegerType | DateType | LongType |
               TimestampType | TimestampNTZType | FloatType | DoubleType |
               StringType | BinaryType => true
          case _: DecimalType => true
          case _ => false
        }
      }
      // per-scan toggle (reference SparkReadOptions VECTORIZATION_ENABLED)
      val vectorized = vecOverride.getOrElse(
          spark.sessionState.conf.parquetVectorizedReaderEnabled) &&
        metaCols.forall(c => columnarMeta(c) || c.startsWith(ShredColPrefix)) &&
        // gate on the columns actually READ, not the full table schema —
        // a nested/unsupported column that the query never touches must
        // not push the scan off the vectorized path
        dataRequired.forall(f => GraftReaderFactory.batchSupported(f.dataType)) &&
        (!metaCols.contains(MetaPartitionCol) ||
          partStructT.fields.forall(f => constSupported(f.dataType)))

      // ------------------------------------------------ columnar decision
      import graft.core.meta.FileContent
      // columnar needs one uniform batch reader across the scan: all
      // parquet (field-id based) or all orc (name based); name-mapped
      // parquet imports and equality deletes force the row path; position
      // deletes stay columnar via delete-aware vectors
      val allParquet = ts.forall(_.file.format == "parquet")
      // only schemas whose NAMES differ need translated readers: a type
      // widen or added column bumps the schema id without renaming, and
      // must not disqualify the vectorized ORC batch path below
      val renamed = table.meta.schemas
        .filter(GraftSparkTable.namesDiffer(table.schema, _)).map(_.schemaId).toSet
      // ORC files written under an EARLIER schema whose top-level names
      // differ read on the row path under their write-time names
      val allOrc = ts.nonEmpty &&
        ts.forall(t => t.file.format == "orc" && !renamed(t.writeSchemaId))
      // shredded metadata columns stay columnar only when EVERY planned
      // file physically carries the requested materialized columns
      // (parquet + "mat:" markers) — one legacy file degrades the scan to
      // the row path's per-file mat/binary dispatch
      val shredBatchOk = shredReq.isEmpty ||
        (allParquet && ts.forall(t => shredReq.forall(sp =>
          t.file.shredStats.contains(sp.matKey))))
      // delete-masked batches slice vectors through FilteredVector, which
      // serves flat getters only — variant values resolve through child
      // vectors (ColumnVector.getVariant is final over getChild), so a
      // delete-bearing variant read takes the row path
      val variantInRead = dataRequired.exists(
        _.dataType == org.apache.spark.sql.types.VariantType)
      // vectorized equality-delete masking (reference ColumnarBatchUtil
      // buildRowIdMapping over eq-delete predicates): batches additionally
      // read the delete-key columns, each row's key tuple probes the
      // executor-cached key sets, and the same filtered vectors that mask
      // position deletes drop the dead rows. Requires parquet batches and
      // top-level batch-supported key columns.
      val fieldNameOfId = table.schema.fields.map(f => f.id -> f.name).toMap
      val eqIds: Seq[Int] = ts.iterator.flatMap(_.deletes.iterator
        .filter(_.content == FileContent.EqualityDeletes)
        .flatMap(_.equalityIds)).toSeq.distinct.sorted
      val eqBatchOk = eqIds.nonEmpty && allParquet &&
        eqIds.forall(id => fieldNameOfId.get(id).exists { n =>
          val i = fullSchema.fieldNames.indexOf(n)
          i >= 0 &&
            GraftReaderFactory.batchSupported(fullSchema(i).dataType) &&
            fullSchema(i).dataType != org.apache.spark.sql.types.VariantType
        })
      val columnarOk = vectorized && shredBatchOk && (allParquet || allOrc) &&
        ts.forall(_.deletes.forall(d =>
          d.content == FileContent.PositionDeletes ||
            (d.content == FileContent.EqualityDeletes && eqBatchOk))) &&
        (!variantInRead || ts.forall(_.deletes.isEmpty))
      // equality-masked batches carry the delete-key columns the data
      // columns lack as trailing columns (dropped after masking)
      val eqKeyFields =
        if (!(eqBatchOk && columnarOk)) Nil
        else eqIds.flatMap(fieldNameOfId.get).distinct
          .filterNot(n => dataRequired.fieldNames.contains(n) ||
            shredMatFields.exists(_.name == n))
          .map(n => fullSchema(fullSchema.fieldIndex(n)))
      val facts = ScanFacts(fullSchema, dataRequired, metaCols, shredMatFields.toSeq,
        shredMissingParents.toSeq, eqKeyFields, columnarOk, renamed)

      // ------------------------------------------------ one reader per key
      val descs = ts.map(toDesc(_, shredAll))
      val readers = descs.map(ReadKey.of(_, facts)).distinct.map { k =>
        // a file written under since-renamed names reads each column
        // under its WRITE-TIME top-level name, position-aligned with the
        // current schema; fields absent at write time read null under a
        // placeholder. Filters are dropped: their names are current ones.
        val names: StructType => StructType =
          if (k.schemaId < 0) identity
          else GraftSparkTable.translateTopNames(_, table.schema,
            table.meta.schemas.find(_.schemaId == k.schemaId).get)
        k -> buildReader(spark, conf, k.resolve, names(facts.dataSchema(k)),
          names(facts.readSchema(k)),
          if (k.shape == ReadKey.Split && k.schemaId < 0) v1Filters else Nil,
          k.batch)
      }.toMap
      // delete files carry their OWN format independently of the data
      // (reference DeleteFilter dispatches per DeleteFile.format()) —
      // Flink-shaped external trees write Avro deletes over Parquet data
      val deletes = deleteReaders(spark, conf,
        descs.flatMap(ReadKey.deletesOf).distinct, fullSchema)
      val formats = ts.iterator.map(_.file.format).toSet
      new GraftReaderFactory(facts, readers, deletes,
        fieldNamesById = fieldNameOfId,
        defaultSpecId = table.spec.specId,
        partTypes = table.spec.partitionType(table.schema).fields.map(_.tpe).toArray,
        partStruct = partStructT,
        shredReq = shredReq,
        shredParentRel = shredParentRel, shredParentFull = shredParentFull,
        crypto = graft.core.meta.TableCrypto.resolve(table.meta),
        footerCryptoConf = GraftParquetCrypto.readOptions(table.meta),
        identityConsts = {
          // every spec's identity fields whose source resolves in the
          // CURRENT schema (a dropped source column has no projection
          // to fill — tasks of that spec skip it)
          val bySpec = table.meta.specs.map { sp =>
            sp.specId -> sp.fields.zipWithIndex.flatMap { case (pfld, i) =>
              if (pfld.transform != graft.core.transform.IdentityT) None
              else table.schema.byId.get(pfld.sourceId).map(src =>
                (src.name, i))
            }
          }.filter(_._2.nonEmpty).toMap
          if (formats("parquet-nm") || formats("orc-nm") ||
              formats("parquet-im")) bySpec
          else Map.empty
        })
    }

    /** (parent, path) → materialized shred file-column name */
    private lazy val shredV1Names: Map[(String, String), String] =
      GraftSparkTable.shredSpecsOf(table.meta.properties, table.schema)
        .map(sp => (sp.parent, sp.path) -> sp.metaName).toMap

    /** engine expr → V1 filters for parquet row-group/page pruning */
    private def exprToV1(e: Expr): Seq[V1Filter] = {
      import org.apache.spark.sql.sources
      def conv(x: Expr): Option[V1Filter] = x match {
        case TrueE | FalseE => None
        case And(l, r) => (conv(l), conv(r)) match {
          case (Some(a), Some(b)) => Some(sources.And(a, b))
          case (a, b)             => a.orElse(b)
        }
        case Or(l, r) =>
          for (a <- conv(l); b <- conv(r)) yield sources.Or(a, b)
        case Not(c) => conv(c).map(sources.Not)
        case BoundPred(op, f, _, vs) => predToV1(op, f, vs)
        case UnboundPred(op, ref, vs) =>
          table.schema.findField(ref).flatMap(f => predToV1(op, f.copy(name = ref), vs))
        case UnboundShredPred(op, ref, path, tpe, vs) =>
          // shredded-variant predicate: filter on the MATERIALIZED file
          // column by name — parquet prunes row groups in files that
          // carry it and silently skips the filter in legacy files
          shredV1Names.get((ref, path))
            .flatMap(n => predToV1(op, GField(0, n, tpe), vs))
        case _ => None // transform predicates prune partitions, not row groups
      }
      def ext(f: GField, v: Any): Any = v match {
        // engine internal → external for sources.Filter (Spark converts back)
        case s: String => s
        case i: Int if f.tpe == GDate => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i.toLong))
        case l: Long if f.tpe.isInstanceOf[GTimestamp] =>
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
            Math.floorDiv(l, 1000000L), Math.floorMod(l, 1000000L) * 1000))
        case other => other
      }
      def predToV1(op: Operation, f: GField, vs: Seq[Any]): Option[V1Filter] = op match {
        case Op.IsNull     => Some(sources.IsNull(f.name))
        case Op.NotNull    => Some(sources.IsNotNull(f.name))
        case Op.Eq         => Some(sources.EqualTo(f.name, ext(f, vs.head)))
        case Op.NotEq      => Some(sources.Not(sources.EqualTo(f.name, ext(f, vs.head))))
        case Op.Lt         => Some(sources.LessThan(f.name, ext(f, vs.head)))
        case Op.LtEq       => Some(sources.LessThanOrEqual(f.name, ext(f, vs.head)))
        case Op.Gt         => Some(sources.GreaterThan(f.name, ext(f, vs.head)))
        case Op.GtEq       => Some(sources.GreaterThanOrEqual(f.name, ext(f, vs.head)))
        case Op.In         => Some(sources.In(f.name, vs.map(ext(f, _)).toArray))
        case Op.StartsWith => Some(sources.StringStartsWith(f.name, vs.head.toString))
        case _             => None
      }
      conv(e).toSeq
    }
  }

  /** Executor-side readers. Each task reads through the reader of its
    * `ReadKey.of(task, facts)` — columnar batches when the scan is
    * columnar, position-delete masks applied by file row index, equality
    * deletes by key — and gets the requested metadata columns (_file,
    * _pos, ...) appended. `readers` and `deleteReaders` hold one reader
    * per key of the tasks (and their delete files) the factory was built
    * for. */
  final class GraftReaderFactory(
      private[spark] val facts: ScanFacts,
      readers: Map[ReadKey, Reader],
      deleteReaders: Map[ReadKey, Reader],
      fieldNamesById: Map[Int, String],
      defaultSpecId: Int,
      partTypes: Array[GType],
      partStruct: StructType,
      // shredded-variant reads: requested specs (metaCols order) and
      // parent ordinals for the binary fallback (rel = bin-extended row,
      // full = fullSchema/eq path)
      shredReq: Array[GraftSparkTable.ShredSpec],
      shredParentRel: Array[Int],
      shredParentFull: Array[Int],
      // encrypted tables: table key for executor-side DV decryption
      crypto: Option[graft.core.meta.TableCrypto],
      // parquet-crypto read options for executor-side footer reads
      // (split tasks derive their first-row index from the footer)
      footerCryptoConf: Map[String, String],
      // identity-partition constants for name-mapped/id-mapped imports
      // (reference PartitionUtil.constantsMap): specId -> (source column
      // name, partition tuple index). Delta-layout and hive-layout files
      // physically LACK their partition columns — the reader must serve
      // them from the task's partition tuple, or they read as null.
      // Applied on the import formats' row paths (those never take the
      // columnar path).
      identityConsts: Map[Int, Seq[(String, Int)]])
    extends PartitionReaderFactory {

    private def metaCols = facts.metaCols
    private def fullSchema = facts.fullSchema
    private def dataRequired = facts.dataRequired

    /** the data-reader keys this factory holds */
    private[spark] def keys: Set[ReadKey] = readers.keySet
    /** the delete-reader keys this factory holds */
    private[spark] def deleteKeys: Set[ReadKey] = deleteReaders.keySet

    /** the key of task `t` and its reader, identity-filled for imports */
    private def readerOf(t: TaskDesc): (ReadKey, Reader) = {
      val k = ReadKey.of(t, facts)
      (k, identityFill(t, k, ReadKey.lookup(readers, k, t.path)))
    }

    /** wrap an import's row reader `f` of key `k` so identity-partition
      * source columns come from the task's partition tuple instead of the
      * (absent) file column. No-op for non-import formats and
      * unpartitioned specs; a codegen'd UnsafeProjection per task
      * otherwise. */
    private def identityFill(t: TaskDesc, k: ReadKey, f: Reader): Reader = {
      if (t.fileFormat != "parquet-nm" && t.fileFormat != "orc-nm" &&
        t.fileFormat != "parquet-im") return f
      val consts = identityConsts.getOrElse(t.specId, Nil)
      if (consts.isEmpty) return f
      GraftSparkTable.identityFillProjection(
          facts.readSchema(k), consts, t.partition.toSeq) match {
        case Some(proj) => pfile => f(pfile).map(proj)
        case None       => f
      }
    }

    // per-executor shred helpers (transient: rebuilt after serialization)
    @transient private lazy val shredPaths =
      shredReq.map(sp => org.apache.spark.unsafe.types.UTF8String.fromString(sp.path))
    @transient private lazy val shredTypes = shredReq.map(_.sparkType)
    @transient private lazy val shredCastArgs =
      org.apache.spark.sql.catalyst.expressions.variant.VariantCastArgs(
        false, None, java.time.ZoneOffset.UTC)

    /** typed value of requested shred spec `i` computed from the parent
      * variant binary at ordinal `parentOrd` (pre-spec files, eq path) */
    private def shredFromBinary(row: InternalRow, parentOrd: Int, i: Int): Any =
      if (row.isNullAt(parentOrd)) null
      else
        try org.apache.spark.sql.catalyst.expressions.variant.VariantGet
          .variantGet(row.get(parentOrd, org.apache.spark.sql.types.VariantType)
            .asInstanceOf[org.apache.spark.unsafe.types.VariantVal],
            shredPaths(i), shredTypes(i), shredCastArgs, "variant_shred")
        catch { case scala.util.control.NonFatal(_) => null }

    /** metaCols ordinals of the requested _shred_* columns (aligned
      * with shredReq, which was built by walking metaCols in order) */
    @transient private lazy val shredMetaIdx: Array[Int] =
      metaCols.zipWithIndex.collect {
        case (n, i) if n.startsWith(ShredColPrefix) => i
      }

    /** the requested shred values of one extended row. `mat`: serve from
      * the appended typed columns at `matBase`; else binary fallback via
      * the parent ordinals (appended parents sit past `extraOff` extra
      * leading ext columns — lineage on no-filter reads) */
    private def shredValsOf(row: InternalRow, mat: Boolean, matBase: Int,
        extraOff: Int): Array[Any] = {
      val out = new Array[Any](shredReq.length)
      val nData = dataRequired.length
      var i = 0
      while (i < shredReq.length) {
        out(i) =
          if (mat) {
            val ord = matBase + i
            if (row.isNullAt(ord)) null else row.get(ord, shredTypes(i))
          } else {
            val rel = shredParentRel(i)
            val ord = if (rel < nData) rel else rel + extraOff
            shredFromBinary(row, ord, i)
          }
        i += 1
      }
      out
    }

    private def pf(path: String, start: Long, length: Long): PartitionedFile =
      PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path), start, length,
        Array.empty[String], 0L, length, Map.empty)

    /** file position of the first row this (possibly split) task reads:
      * 0 for whole-file tasks — no footer touch; split tasks sum the row
      * counts of the groups/stripes before their start (executor-cached) */
    private def posBaseOf(t: TaskDesc): Long =
      GraftSparkTable.RowGroupCache.firstRowIndex(t.path, t.fileFormat,
        t.start, footerCryptoConf)

    private[spark] def deletedPositions(dataPath: String,
        deletePaths: Array[String], formats: Array[String])
        : org.roaringbitmap.longlong.Roaring64Bitmap =
      GraftSparkTable.deletedPositions(dataPath, deletePaths, formats, crypto,
        deleteReaders)

    override def supportColumnarReads(partition: InputPartition): Boolean =
      facts.columnar // scan-level decision: uniform across partitions

    /** key positions (fullSchema) + executor-cached deleted-key set of
      * one equality-delete file; keys are canonical values in the delete
      * file's fieldIds order — shared by the row and columnar paths and
      * the changelog */
    private[spark] def eqKeySet(ed: EqDeleteDesc)
        : (Array[Int], java.util.HashSet[Seq[Any]]) = {
      val posOf = fullSchema.fieldNames.zipWithIndex.toMap
      val positions = ed.fieldIds.flatMap(id =>
        fieldNamesById.get(id).flatMap(posOf.get))
      (positions, equalityKeys(ed.path, ed.format, positions, fullSchema,
        deleteReaders))
    }

    /** fieldId → (column index, type) in an equality-masked batch: the
      * filtered and unfiltered layouts place the key columns identically */
    @transient private lazy val eqBatchPos
        : Map[Int, (Int, org.apache.spark.sql.types.DataType)] = {
      val st = facts.readSchema(ReadKey(ReadKey.ParquetById, ReadKey.Split,
        batch = true, eqKeys = true, shred = facts.shred))
      fieldNamesById.flatMap { case (id, n) =>
        Some(st.fieldNames.indexOf(n)).filter(_ >= 0).map(p => id -> (p, st(p).dataType))
      }
    }

    /** rows of `t`, read in full through `dataFull`, masked by its
      * equality (and position) deletes, projected to the required data
      * columns, with file positions */
    private def eqMaskedRows(t: TaskDesc, dataFull: Reader)
        : Iterator[(InternalRow, Long, java.lang.Long, java.lang.Long, Array[Any])] = {
      // per delete file: the key positions + the set of deleted keys
      val masks: Seq[(Array[Int], java.util.HashSet[Seq[Any]])] =
        t.eqDeletes.toSeq.map(eqKeySet)
      val posDeleted = deletedPositions(t.path, t.deletePaths, t.posDelFormats)
      val project = dataRequired.fields.map(f => fullSchema.fieldIndex(f.name))
      // with lineage requested, the full read carries the materialized
      // lineage columns, so compacted files' _row_id wins over the
      // firstRowId + pos fallback (as withMetaExt on the unfiltered path)
      val nFull = fullSchema.length
      val lineageExt = facts.lineage
      val posBase = posBaseOf(t)
      dataFull(pf(t.path, t.start, t.length)).zipWithIndex.collect {
        case (row, idx) if !posDeleted.contains(posBase + idx) &&
          !masks.exists { case (positions, keys) =>
            keys.contains(keyAt(row, positions, fullSchema))
          } =>
          val out = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(project.length)
          var i = 0
          while (i < project.length) {
            out.update(i, row.get(project(i), fullSchema(project(i)).dataType))
            i += 1
          }
          val matRowId: java.lang.Long =
            if (!lineageExt || row.isNullAt(nFull)) null else row.getLong(nFull)
          val matSeq: java.lang.Long =
            if (!lineageExt || row.isNullAt(nFull + 1)) null else row.getLong(nFull + 1)
          // eq-delete reads parse every row anyway: shred values come
          // from the parent variant in the full-schema row
          val sv = if (shredReq.isEmpty) null else {
            val arr = new Array[Any](shredReq.length)
            var k = 0
            while (k < shredReq.length) {
              arr(k) = shredFromBinary(row, shredParentFull(k), k); k += 1
            }
            arr
          }
          (out: InternalRow, posBase + idx, matRowId, matSeq, sv)
      }
    }

    /** position column vector: base + i (reference row-index vectors) */
    private final class PositionVector(base: Long)
      extends org.apache.spark.sql.vectorized.ColumnVector(
        org.apache.spark.sql.types.LongType) {
      override def close(): Unit = ()
      override def hasNull: Boolean = false
      override def numNulls(): Int = 0
      override def isNullAt(i: Int): Boolean = false
      override def getLong(i: Int): Long = base + i
      override def getBoolean(i: Int): Boolean = throw new UnsupportedOperationException
      override def getByte(i: Int): Byte = throw new UnsupportedOperationException
      override def getShort(i: Int): Short = throw new UnsupportedOperationException
      override def getInt(i: Int): Int = throw new UnsupportedOperationException
      override def getFloat(i: Int): Float = throw new UnsupportedOperationException
      override def getDouble(i: Int): Double = throw new UnsupportedOperationException
      override def getDecimal(i: Int, p: Int, s: Int): org.apache.spark.sql.types.Decimal =
        throw new UnsupportedOperationException
      override def getUTF8String(i: Int): org.apache.spark.unsafe.types.UTF8String =
        throw new UnsupportedOperationException
      override def getBinary(i: Int): Array[Byte] = throw new UnsupportedOperationException
      override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
        throw new UnsupportedOperationException
      override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
        throw new UnsupportedOperationException
      override def getChild(i: Int): org.apache.spark.sql.vectorized.ColumnVector =
        throw new UnsupportedOperationException
    }

    /** constant metadata vector for one task; null for _pos (positional,
      * built per batch). Unsupported partition value types degrade to a
      * null _partition (callers handle null partitions correctly). */
    private def constMetaVec(t: TaskDesc, name: String, n: Int)
        : org.apache.spark.sql.vectorized.ColumnVector = {
      import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
      import org.apache.spark.sql.types._
      def setConst(v: ConstantColumnVector, dt: DataType, value: Any): Boolean =
        (dt, value) match {
          case (_, null)                  => v.setNull(); true
          case (BooleanType, b: Boolean)  => v.setBoolean(b); true
          case (IntegerType | DateType, i: Int) => v.setInt(i); true
          case (LongType | TimestampType | TimestampNTZType, l: Long) => v.setLong(l); true
          case (FloatType, f: Float)      => v.setFloat(f); true
          case (DoubleType, d: Double)    => v.setDouble(d); true
          case (StringType, s: String)    =>
            v.setUtf8String(org.apache.spark.unsafe.types.UTF8String.fromString(s)); true
          case (BinaryType, b: Array[Byte]) => v.setBinary(b); true
          case (dt: DecimalType, d: java.math.BigDecimal) =>
            v.setDecimal(org.apache.spark.sql.types.Decimal(d), dt.precision); true
          case (dt: DecimalType, d: org.apache.spark.sql.types.Decimal) =>
            v.setDecimal(d, dt.precision); true
          case _ => false
        }
      name match {
        case MetaFileCol =>
          val v = new ConstantColumnVector(n, StringType)
          v.setUtf8String(org.apache.spark.unsafe.types.UTF8String.fromString(t.path))
          v
        case MetaSpecIdCol =>
          val v = new ConstantColumnVector(n, IntegerType); v.setInt(t.specId); v
        case MetaPartitionCol =>
          val v = new ConstantColumnVector(n, partStruct)
          val usable = t.specId == defaultSpecId &&
            t.partition.length == partTypes.length && partStruct.fields.nonEmpty
          if (!usable) v.setNull()
          else {
            var ok = true
            var i = 0
            while (i < partTypes.length && ok) {
              val child = new ConstantColumnVector(n, partStruct.fields(i).dataType)
              val raw = t.partition(i) match {
                case b: Seq[_] if partTypes(i) == GBinary =>
                  b.asInstanceOf[Seq[Byte]].toArray
                case x => x
              }
              val internal = if (raw == null) null
                else partTypes(i) match {
                  case GString => raw.asInstanceOf[String]
                  case _       => raw
                }
              ok = setConst(child, partStruct.fields(i).dataType, internal)
              if (ok) v.setChild(i, child)
              i += 1
            }
            if (ok) v.setNotNull() else v.setNull()
          }
          v
        case MetaPosCol => null
        case other => throw new IllegalStateException(s"non-columnar meta col $other")
      }
    }

    override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
      val tasks = partition.asInstanceOf[GraftInputPartition].tasks
      // task metrics (reference SparkScan NumSplits/NumDeletes): rows
      // masked out of batches accumulate; read by currentMetricsValues
      var deletesApplied = 0L
      val it: Iterator[ColumnarBatch] = tasks.iterator.flatMap { t =>
        val (key, batches) = readerOf(t)
        // equality-delete key probes for this task's batches (columns
        // were planned into the batch layout; missing would mis-read)
        val eqMasks: Array[(Array[(Int, org.apache.spark.sql.types.DataType)],
            java.util.HashSet[Seq[Any]])] =
          t.eqDeletes.map { ed =>
            val cols = ed.fieldIds.flatMap(id => eqBatchPos.get(id))
            require(cols.length == ed.fieldIds.length,
              s"equality-delete key columns missing from batch read: ${ed.path}")
            (cols, eqKeySet(ed)._2)
          }
        def eqDead(cb: ColumnarBatch, i: Int): Boolean = {
          val r = cb.getRow(i)
          eqMasks.exists { case (cols, keys) =>
            keys.contains(cols.map { case (p, dt) => canonical(r, p, dt) }.toSeq)
          }
        }
        if (key.shape == ReadKey.Split && !key.eqKeys) {
          // filtered split reads; metadata is task-constant except the
          // materialized shred columns, which ride along as trailing
          // batch columns and slot into their requested positions
          val nData = dataRequired.length
          batches(pf(t.path, t.start, t.length))
            .asInstanceOf[Iterator[ColumnarBatch]].map { cb =>
              if (metaCols.isEmpty) cb
              else {
                val n = cb.numRows()
                var shredOrd = -1
                val metaVecs = metaCols.map { c =>
                  if (c.startsWith(ShredColPrefix)) {
                    shredOrd += 1
                    cb.column(nData + shredOrd)
                  } else constMetaVec(t, c, n)
                }
                val dataCols = (0 until nData).map(cb.column)
                new ColumnarBatch((dataCols ++ metaVecs).toArray, n)
              }
            }
        } else if (key.shape == ReadKey.Split) {
          // eq-only masking on filtered split reads: equality deletes
          // need no file positions, so split + pushdown survive; the
          // trailing key columns are dropped after the probe
          val nData = dataRequired.length
          batches(pf(t.path, t.start, t.length))
            .asInstanceOf[Iterator[ColumnarBatch]].map { cb =>
              val n = cb.numRows()
              val map = new Array[Int](n)
              var k = 0
              var i = 0
              while (i < n) {
                if (!eqDead(cb, i)) { map(k) = i; k += 1 }
                i += 1
              }
              deletesApplied += n - k
              val full = k == n
              def masked(v: org.apache.spark.sql.vectorized.ColumnVector) =
                if (full) v else new FilteredVector(v, map, k)
                  : org.apache.spark.sql.vectorized.ColumnVector
              val dataCols = (0 until nData).map(c => masked(cb.column(c)))
              var shredOrd = -1
              val metaVecs = metaCols.map { c =>
                if (c.startsWith(ShredColPrefix)) {
                  shredOrd += 1
                  masked(cb.column(nData + shredOrd))
                } else constMetaVec(t, c, n) // constants: no mask
              }
              new ColumnarBatch((dataCols ++ metaVecs).toArray, k)
            }
        } else {
          // delete-aware / position-bearing columnar read: unfiltered
          // batches over the task's (start, length) range — row-group
          // aligned for splits — masked in place, with _pos as a
          // file-absolute row-index vector starting at the split's
          // first-row index (reference ColumnarBatchUtil.buildRowIdMapping)
          val deleted =
            if (t.deletePaths.isEmpty) new org.roaringbitmap.longlong.Roaring64Bitmap()
            else deletedPositions(t.path, t.deletePaths, t.posDelFormats)
          var base = posBaseOf(t)
          val nData = dataRequired.length
          val hasEq = eqMasks.nonEmpty
          batches(pf(t.path, t.start, t.length))
            .asInstanceOf[Iterator[ColumnarBatch]].map { cb =>
              val n = cb.numRows()
              val b0 = base
              base += n
              val map = new Array[Int](n)
              var k = 0
              var i = 0
              while (i < n) {
                if (!deleted.contains(b0 + i) && !(hasEq && eqDead(cb, i))) {
                  map(k) = i; k += 1
                }
                i += 1
              }
              deletesApplied += n - k
              val full = k == n
              def masked(v: org.apache.spark.sql.vectorized.ColumnVector) =
                if (full) v else new FilteredVector(v, map, k)
                  : org.apache.spark.sql.vectorized.ColumnVector
              val dataCols = (0 until nData).map(c => masked(cb.column(c)))
              var shredOrd = -1
              val metaVecs = metaCols.map { c =>
                if (c.startsWith(ShredColPrefix)) {
                  shredOrd += 1
                  masked(cb.column(nData + shredOrd))
                } else c match {
                  case MetaPosCol => masked(new PositionVector(b0))
                  case other => constMetaVec(t, other, n) // constants: no mask
                }
              }
              if (full && metaCols.isEmpty) cb
              else new ColumnarBatch((dataCols ++ metaVecs).toArray, k)
            }
        }
      }
      new PartitionReader[ColumnarBatch] {
        private var current: ColumnarBatch = _
        override def next(): Boolean = { val has = it.hasNext; if (has) current = it.next(); has }
        override def get(): ColumnarBatch = current
        override def close(): Unit = ()
        override def currentMetricsValues()
            : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
          Array(GraftScanMetrics.Value("numSplits", tasks.length),
            GraftScanMetrics.Value("numDeletes", deletesApplied))
      }
    }

    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val tasks = partition.asInstanceOf[GraftInputPartition].tasks
      val lineageExt = facts.lineage
      val it: Iterator[InternalRow] = tasks.iterator.flatMap { t =>
        val (key, rows) = readerOf(t)
        // one reusable metadata suffix row per task (_file, _spec_id and
        // _partition are constant; _pos is set per row)
        val metaRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(metaCols.length)
        metaCols.zipWithIndex.foreach {
          case (MetaFileCol, i) =>
            metaRow.update(i, org.apache.spark.unsafe.types.UTF8String.fromString(t.path))
          case (MetaSpecIdCol, i) => metaRow.update(i, t.specId)
          case (MetaSeqCol, i)    => metaRow.update(i, t.dataSeq)
          case (MetaPartitionCol, i) =>
            // only meaningful for files of the default spec; older specs
            // read as null (callers fall back to partition-less handling)
            if (t.specId == defaultSpecId && t.partition.length == partTypes.length) {
              val vals = partTypes.zip(t.partition).map { case (tp, v) =>
                SparkBridge.toSpark(v match {
                  case b: Seq[_] if tp == GBinary => b.asInstanceOf[Seq[Byte]].toArray
                  case x => x
                }, tp)
              }
              metaRow.update(i,
                new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                  vals.asInstanceOf[Array[Any]]))
            } else metaRow.update(i, null)
          case _ => ()
        }
        val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
        def withMeta(row: InternalRow, pos: Long,
            matRowId: java.lang.Long = null,
            matSeq: java.lang.Long = null,
            shredVals: Array[Any] = null): InternalRow =
          if (metaCols.isEmpty) row
          else {
            metaCols.zipWithIndex.foreach {
              case (MetaPosCol, i) => metaRow.setLong(i, pos)
              case (MetaRowIdCol, i) =>
                // materialized column (compaction rewrites) wins; else
                // inherit firstRowId + pos; null for pre-lineage files
                metaRow.update(i,
                  if (matRowId != null) matRowId
                  else t.firstRowId.map(f => (f + pos): java.lang.Long).orNull)
              case (MetaSeqCol, i) =>
                // reset to the task's dataSeq when this row carries no
                // materialized seq — a prior row's value must not leak
                metaRow.update(i, if (matSeq != null) matSeq else t.dataSeq)
              case _               => ()
            }
            if (shredVals != null) {
              var k = 0
              while (k < shredMetaIdx.length) {
                metaRow.update(shredMetaIdx(k), shredVals(k)); k += 1
              }
            }
            joined(row, metaRow)
          }
        // extended reads carry trailing writer/reader-appended columns
        // (materialized lineage on no-filter reads, shred mat/parent
        // columns on shred scans): pull them off and trim the row back
        // to the data schema
        val nData = dataRequired.length
        def trimData(row: InternalRow): InternalRow =
          if (row.numFields == nData) row
          else {
            val trimmed = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(nData)
            var i = 0
            while (i < nData) {
              trimmed.update(i,
                if (row.isNullAt(i)) null else row.get(i, dataRequired.fields(i).dataType))
              i += 1
            }
            trimmed
          }
        def withMetaExt(row: InternalRow, pos: Long,
            shredVals: Array[Any] = null): InternalRow =
          if (!lineageExt && shredVals == null) withMeta(row, pos)
          else {
            val matRowId: java.lang.Long =
              if (!lineageExt || row.isNullAt(nData)) null else row.getLong(nData)
            val matSeq: java.lang.Long =
              if (!lineageExt || row.isNullAt(nData + 1)) null
              else row.getLong(nData + 1)
            withMeta(trimData(row), pos, matRowId, matSeq, shredVals)
          }
        val hasShred = shredReq.nonEmpty
        // mat fast path: parquet files carrying every materialized shred
        // column serve _shred_* without touching the binary
        val mat = key.shred
        if (key.shape == ReadKey.EqMasked)
          eqMaskedRows(t, rows).map { case (row, idx, mRowId, mSeq, sv) =>
            withMeta(row, idx, mRowId, mSeq, sv) }
        else if (key.shape == ReadKey.Split) {
          if (!hasShred) rows(pf(t.path, t.start, t.length)).map(withMeta(_, -1L))
          else rows(pf(t.path, t.start, t.length)).map { row =>
            val sv = shredValsOf(row, mat, nData, 0)
            withMeta(trimData(row), -1L, shredVals = sv)
          }
        } else {
          // positions deleted for THIS data file across its delete files
          val deleted = deletedPositions(t.path, t.deletePaths, t.posDelFormats)
          // unfiltered range read: row index + the split's first-row
          // index == file position (whole files read from 0)
          val posBase = posBaseOf(t)
          val lin = if (lineageExt) 2 else 0
          rows(pf(t.path, t.start, t.length)).zipWithIndex.collect {
            case (row, idx) if !deleted.contains(posBase + idx) =>
              if (!hasShred) withMetaExt(row, posBase + idx)
              else withMetaExt(row, posBase + idx,
                shredValsOf(row, mat, nData + lin, lin))
          }
        }
      }
      new PartitionReader[InternalRow] {
        private var current: InternalRow = _
        override def next(): Boolean = { val has = it.hasNext; if (has) current = it.next(); has }
        override def get(): InternalRow = current
        override def close(): Unit = ()
        override def currentMetricsValues()
            : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
          Array(GraftScanMetrics.Value("numSplits", tasks.length))
      }
    }
  }

  object GraftReaderFactory {
    def batchSupported(dt: org.apache.spark.sql.types.DataType): Boolean = {
      import org.apache.spark.sql.types._
      dt match {
        case BooleanType | ByteType | ShortType | IntegerType | LongType |
             FloatType | DoubleType | DateType | TimestampType |
             TimestampNTZType | StringType | BinaryType => true
        // Spark 4 vectorized parquet assembles variant batches natively
        // (ColumnVector.getVariant); delete-masked variant reads are
        // separately excluded — FilteredVector has no child vectors
        case VariantType => true
        case _: DecimalType => true
        case _ => false
      }
    }
  }
}

/** DSv2 custom scan metrics (reference spark/.../source/metrics/): the
  * planning funnel — manifests scanned vs skipped, files pruned vs
  * planned, delete files attached, planning wall time — rendered by the
  * Spark UI next to each scan node. */
object GraftScanMetrics {
  import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}

  // top-level zero-arg classes (graft.spark.metrics): Spark re-instantiates
  // metric classes reflectively at query end, so anything with ctor args
  // never aggregates (r7 "zero-argument constructor" listener errors)
  val supported: Array[CustomMetric] = Array(
    new graft.spark.metrics.NumSplits,
    new graft.spark.metrics.NumDeletes,
    new graft.spark.metrics.TotalDataManifests,
    new graft.spark.metrics.ScannedDataManifests,
    new graft.spark.metrics.SkippedDataManifests,
    new graft.spark.metrics.TotalDataFiles,
    new graft.spark.metrics.ResultDataFiles,
    new graft.spark.metrics.SkippedDataFiles,
    new graft.spark.metrics.ResultDeleteFiles,
    new graft.spark.metrics.TotalPlanningDuration)

  final case class Value(metricName: String, v: Long) extends CustomTaskMetric {
    override def name(): String = metricName
    override def value(): Long = v
  }
}
