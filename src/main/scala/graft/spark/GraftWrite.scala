package graft.spark

import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.filter.{Predicate => VPred}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

import graft.core.expr._
import graft.core.meta._
import graft.core.types._

/** DSv2 write path (reference spark/.../source/SparkWrite.java): executors
  * run partitioned fanout parquet writers and return DataFile descriptors;
  * the driver commits them as one atomic snapshot (append / overwrite /
  * dynamic partition replace).
  */
class GraftWriteBuilder(table: GTable, info: LogicalWriteInfo,
    defaultBranch: Option[String] = None)
  extends WriteBuilder with SupportsTruncate with SupportsOverwriteV2
  with SupportsDynamicOverwrite {

  private var mode: WriteMode = AppendMode

  override def truncate(): WriteBuilder = { mode = OverwriteMode(TrueE); this }

  override def overwrite(predicates: Array[VPred]): WriteBuilder = {
    val exprs = predicates.flatMap(SparkBridge.toExpr)
    require(exprs.length == predicates.length, "unconvertible overwrite filter")
    mode = OverwriteMode(exprs.foldLeft[Expr](TrueE)(Expr.and))
    this
  }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    mode = DynamicOverwriteMode
    this
  }

  override def build(): Write = {
    val ds = info.schema()
    // schema evolution on write (reference SparkWriteBuilder mergeSchema):
    // union the dataset schema into the table schema before writing
    val mergeRequested = Seq("merge-schema", "mergeSchema").exists(k =>
      Option(info.options.get(k)).exists(_.equalsIgnoreCase("true")))
    if (mergeRequested) SchemaMerge.mergeInto(table, ds)
    // write with the TABLE's field ids: positionally when Spark already
    // resolved the query to the table shape, else projected by name
    // (accept-any-schema / merge-schema writes arrive in the dataset's
    // own shape — subset/reorder allowed). Dataset columns narrower than
    // the table column (uncast INSERT literals, pre-widen writers) keep
    // their own type in the file — identical to a pre-promotion file.
    val full = SparkTypes.toSparkSchema(table.schema)
    val namesMatch = full.length == ds.length &&
      full.fieldNames.zip(ds.fieldNames).forall { case (a, b) => a.equalsIgnoreCase(b) }
    val typesMatch = namesMatch &&
      full.fields.zip(ds.fields).forall { case (a, b) =>
        SchemaMerge.sparkSameType(a.dataType, b.dataType)
      }
    val byName = !namesMatch &&
      ds.fields.forall(f => SchemaMerge.resolves(table.schema.struct, f.name))
    val fileG: GSchema =
      if (typesMatch) table.schema
      else if (byName) {
        SchemaMerge.validateRequired(table.schema.struct, ds)
        table.schema.copy(struct =
          SchemaMerge.fileStruct(table.schema.struct, ds, positional = false))
      } else {
        // positional: names stay the table's, types follow the dataset
        require(full.length == ds.length,
          s"write schema mismatch: $ds vs $full")
        table.schema.copy(struct =
          SchemaMerge.fileStruct(table.schema.struct, ds, positional = true))
      }
    val writeSchema =
      if (fileG eq table.schema) full else SparkTypes.toSparkSchema(fileG)
    // positional write whose query keeps its own column names (an
    // accept-any-schema table skips Spark's output resolution, so an
    // INSERT .. VALUES arrives as col1..colN): the required-distribution
    // transforms must reference the QUERY's names to resolve
    val queryNames =
      if (!byName && !full.fieldNames.zip(ds.fieldNames)
        .forall { case (a, b) => a.equalsIgnoreCase(b) }) Some(ds.fieldNames)
      else None
    // branch routing: explicit write option, else the session's WAP branch
    // (write-audit-publish: stage on a branch, audit, fast_forward main)
    val branch = Option(info.options.get("branch"))
      .orElse(defaultBranch)
      .orElse(WapBranch.resolve()).getOrElse("main")
    new GraftWrite(table, writeSchema, mode, info.queryId(), branch, queryNames,
      fileG, SnapshotProps.from(info.options),
      Option(info.options.get("write-format")).map(_.toLowerCase),
      Option(info.options.get("compression-codec")).map(_.toLowerCase),
      Option(info.options.get("compression-level")))
  }
}

/** `snapshot-property.<key>` write options → snapshot summary entries
  * (reference SparkWriteConf.extraSnapshotMetadata / SnapshotSummary
  * EXTRA_METADATA_PREFIX): lineage tags like a job id or source offset
  * travel on the commit itself. */
object SnapshotProps {
  val Prefix = "snapshot-property."
  def from(options: java.util.Map[String, String]): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    // engine provenance first (reference EnvironmentContext /
    // SnapshotSummary: spark.app.id + engine version on every commit);
    // user-supplied snapshot properties may override
    org.apache.spark.sql.SparkSession.getActiveSession.foreach { s =>
      b += "spark.app.id" -> s.sparkContext.applicationId
      b += "engine-name" -> "spark"
      b += "engine-version" -> s.sparkContext.version
    }
    options.forEach { (k, v) =>
      if (k.toLowerCase.startsWith(Prefix)) b += k.substring(Prefix.length) -> v
    }
    b.result()
  }
  def apply[P <: graft.core.meta.SnapshotProducer](p: P,
      props: Map[String, String]): P = {
    props.foreach { case (k, v) => p.set(k, v) }
    p
  }
}

/** Session write-audit-publish branch (reference SparkWriteConf.branch /
  * SparkReadConf: while `spark.wap.branch` is set, EVERY operation —
  * append, overwrite, row-level delta, deleteWhere — commits to that
  * branch, and reads without an explicit version resolve to it). */
object WapBranch {
  def resolve(): Option[String] =
    try SparkSession.active.conf.getOption("spark.wap.branch").filter(_.nonEmpty)
    catch { case NonFatal(_) => None }

  /** Session WAP id (reference SparkWriteConf.wapId): always recorded in
    * the snapshot summary; when the table has `write.wap.enabled=true`
    * the commit is additionally STAGED (no ref moves) for later
    * `publish_changes`. */
  def wapId(): Option[String] =
    try SparkSession.active.conf.getOption("spark.wap.id").filter(_.nonEmpty)
    catch { case NonFatal(_) => None }

  /** Apply wap.id summary + stage-only to a producer; returns it. */
  def stage[P <: graft.core.meta.SnapshotProducer](
      table: graft.core.meta.GTable, p: P): P = {
    wapId().foreach { id =>
      p.set("wap.id", id)
      if (table.meta.properties.getOrElse("write.wap.enabled", "false") == "true")
        p.stageOnly()
    }
    p
  }

  /** WAP branch for READS: only once the branch actually exists (it is
    * created by the first staged write; before that, reads see main). */
  def forRead(table: graft.core.meta.GTable): Option[String] =
    resolve().filter(b => table.meta.refs.contains(b))
}

sealed trait WriteMode extends Serializable
case object AppendMode extends WriteMode
final case class OverwriteMode(filter: Expr) extends WriteMode
case object DynamicOverwriteMode extends WriteMode
/** copy-on-write rewrite: atomically replace the scanned files,
  * validating no conflicting commit landed since the scan; under
  * serializable isolation, `conflictFilter` additionally fails the
  * commit when concurrently-appended data might match the operation
  * filter (None = snapshot isolation) */
final case class CopyOnWriteMode(replacedPaths: () => Seq[String],
    scannedSnapshot: () => Option[Long] = () => None,
    conflictFilter: () => Option[Expr] = () => None) extends WriteMode

final class GraftWrite(table: GTable, writeSchema: StructType, mode: WriteMode,
    queryId: String = "", branch: String = "main",
    queryNames: Option[Array[String]] = None,
    fileG: GSchema = null,
    snapshotProps: Map[String, String] = Map.empty,
    formatOverride: Option[String] = None,
    codecOverride: Option[String] = None,
    codecLevel: Option[String] = None)
  extends Write with RequiresDistributionAndOrdering {

  /** graft schema of the files this write produces (dataset shape/types,
    * table ids); defaults to the table schema for exact-shape writers */
  private def baseG: GSchema = if (fileG == null) table.schema else fileG

  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions => VE, SortDirection, SortOrder}

  // Cluster incoming rows by the partition transforms so each task writes
  // few files per partition instead of every task fanning out to every
  // partition — at 1000 executors an unclustered write to a daily-
  // partitioned table produces executors×days small files (reference
  // SparkWriteRequirements/SparkWriteUtil; modes none/hash/range via
  // table property write.distribution-mode, default hash for partitioned).
  // distribution expressions resolve against the WRITE QUERY's output:
  // normally the table's column names, but a positional write on an
  // accept-any-schema table keeps the query's own names (col1..colN)
  private def distSchema: graft.core.types.GSchema = queryNames match {
    case Some(qn) if qn.length == table.schema.fields.length =>
      table.schema.copy(struct = graft.core.types.GStruct(
        table.schema.fields.zip(qn.toSeq).map { case (f, n) => f.copy(name = n) }))
    case _ => table.schema
  }

  private def partitionExprs =
    table.spec.fields.filterNot(_.transform == graft.core.transform.VoidT)
      .map(pf => SparkBridge.toSparkTransform(pf, distSchema))

  // advisory write-time clustering (reference SortOrder + WRITE ORDERED BY):
  // table property write.sort-order = "col [ASC|DESC], ..." sorts rows
  // within each partition write, tightening per-file min/max stats so
  // later scans prune harder
  private def tableSortOrders: Array[SortOrder] =
    table.meta.properties.get("write.sort-order").toArray.flatMap { order =>
      SortSpecs.parse(order).map { p =>
        val dir =
          if (p.asc) SortDirection.ASCENDING else SortDirection.DESCENDING
        val nulls =
          if (p.nullsFirst)
            org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_FIRST
          else org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_LAST
        // map the table-schema column name onto the query's name when a
        // positional accept-any-schema write renamed the output
        val colName = queryNames match {
          case Some(qn) =>
            val i = table.schema.fields.indexWhere(_.name.equalsIgnoreCase(p.colName))
            if (i >= 0 && i < qn.length) qn(i) else p.colName
          case None => p.colName
        }
        VE.sort(VE.identity(colName), dir, nulls)
      }
    }

  private def sortOrders: Array[SortOrder] =
    partitionExprs.map(t => VE.sort(t, SortDirection.ASCENDING)).toArray ++
      tableSortOrders

  override def requiredDistribution(): Distribution = {
    val exprs = partitionExprs
    val dm = table.meta.properties.getOrElse("write.distribution-mode",
      if (exprs.isEmpty) "none" else "hash")
    dm match {
      case "hash" if exprs.nonEmpty  => Distributions.clustered(exprs.toArray)
      case "range" if exprs.nonEmpty => Distributions.ordered(sortOrders)
      case _                         => Distributions.unspecified()
    }
  }

  // local sort by partition → the fanout writer degenerates to one open
  // file at a time (clustered-writer memory profile)
  override def requiredOrdering(): Array[SortOrder] = sortOrders

  override def requiredNumPartitions(): Int = 0 // let AQE choose

  override def advisoryPartitionSizeInBytes(): Long =
    table.meta.properties.get("write.advisory-partition-size-bytes")
      .map(_.toLong).getOrElse(0L)

  override def toBatch: BatchWrite =
    new GraftBatchWrite(table, writeSchema, mode, branch, baseG, snapshotProps,
      formatOverride, codecOverride, codecLevel)

  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    val truncateEachEpoch = mode match {
      case OverwriteMode(TrueE) => true // Complete output mode
      case _                    => false
    }
    // streaming UPSERT (Flink-CDC parity; write.upsert.enabled + identifier
    // fields): each epoch commits new rows PLUS an equality-delete file of
    // the batch's keys — prior versions of those keys disappear (equality
    // deletes apply only to files with a lower sequence number, so the
    // same epoch's rows are unaffected)
    val upsert = !truncateEachEpoch &&
      table.meta.properties.get("write.upsert.enabled").contains("true")
    val factory: org.apache.spark.sql.connector.write.PhysicalWriteInfo =>
        org.apache.spark.sql.connector.write.DataWriterFactory =
      if (upsert) {
        require(table.schema.identifierFieldIds.nonEmpty,
          "write.upsert.enabled requires identifier fields " +
            "(ALTER TABLE ... SET IDENTIFIER FIELDS)")
        info => GraftUpsertWriterFactory.create(table, writeSchema,
          new GraftBatchWrite(table, writeSchema, AppendMode,
            formatOverride = formatOverride, codecOverride = codecOverride,
            codecLevel = codecLevel).createBatchWriterFactory(info))
      } else {
        info => new GraftBatchWrite(table, writeSchema, AppendMode,
          formatOverride = formatOverride, codecOverride = codecOverride,
          codecLevel = codecLevel).createBatchWriterFactory(info)
      }
    new GraftStreamingWrite(table, queryId, factory, truncateEachEpoch,
      snapshotProps)
  }

  override def description(): String = s"graft-write(${table.location}, $mode)"
}

final class GraftBatchWrite(table: GTable, writeSchema: StructType, mode: WriteMode,
    branch: String = "main", fileGBase: GSchema = null,
    snapshotProps: Map[String, String] = Map.empty,
    formatOverride: Option[String] = None,
    codecOverride: Option[String] = None,
    codecLevel: Option[String] = None)
  extends BatchWrite {

  // copy-on-write rewrites materialize row lineage: the written files
  // carry _row_id/_last_updated_sequence_number columns under the
  // reserved field ids, filled from Spark's metadata projection
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    GraftBatchWrite.writerFactory(table, writeSchema, table.spec,
      lineage = mode.isInstanceOf[CopyOnWriteMode], fileGBase, formatOverride,
      codecOverride, codecLevel, stampSortOrderId)

  /** sort_order_id stamped on written data files (reference
    * SparkFileWriterFactory dataSortOrderId): only when the table's
    * default sort order is registered AND the write.sort-order property
    * the write path actually applies still matches it field-for-field —
    * a manually drifted property must not stamp a stale id. */
  private def stampSortOrderId: Option[Int] = {
    val m = table.meta
    SortSpecs.registeredOrderId(m,
        m.properties.getOrElse("write.sort-order", ""))
      .filter(_ == m.defaultSortOrderId)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.flatMap(_.asInstanceOf[GraftCommitMessage].files).toSeq
    mode match {
      case AppendMode =>
        SnapshotProps(WapBranch.stage(table,
          table.newAppend().appendFiles(files).toBranch(branch)),
          snapshotProps).commit()
      case OverwriteMode(filter) =>
        SnapshotProps(WapBranch.stage(table,
          table.newOverwrite().overwriteByRowFilter(filter).addFiles(files)
            .toBranch(branch)), snapshotProps).commit()
      case DynamicOverwriteMode =>
        SnapshotProps(WapBranch.stage(table,
          table.newOverwrite()
            .replacePartitions(files.map(_.partition).toSet)
            .addFiles(files).toBranch(branch)), snapshotProps).commit()
      case CopyOnWriteMode(replaced, scannedSnap, conflictFilter) =>
        val paths = replaced()
        if (paths.nonEmpty || files.nonEmpty) {
          val ow = table.newOverwrite().deleteFiles(paths).addFiles(files)
            .toBranch(branch)
          // fail if a delete/overwrite/replace landed after the snapshot
          // this rewrite read; under serializable isolation, also fail on
          // concurrently appended rows matching the operation filter
          scannedSnap().foreach(ow.validateFromSnapshot)
          conflictFilter().foreach(ow.failOnNewMatchingData)
          SnapshotProps(WapBranch.stage(table, ow), snapshotProps).commit()
        }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.filter(_ != null).flatMap(_.asInstanceOf[GraftCommitMessage].files)
      .foreach(f => GraftIO.delete(f.path))
}

object GraftBatchWrite {
  /** The data-file writer factory of every write, for files of
    * partition spec `spec`: format, codec, row-group and page size, bloom
    * filters, INT64 timestamps, field ids, shredded-variant columns and
    * the encrypted-table format check. Its callers: appends, overwrites
    * and copy-on-write rewrites (`GraftBatchWrite`), streaming appends and
    * the streaming upsert's data files (`GraftWrite.toStreaming`),
    * merge-on-read replacement and inserted rows (`GraftDeltaBatchWrite`,
    * `GraftEqDeltaBatchWrite`) and `rewrite_data_files`. `lineage` appends
    * the materialized `_row_id`/`_last_updated_sequence_number` columns
    * (row-level writes, compaction); `sortOrderId` is stamped on every
    * file. */
  def writerFactory(table: GTable, writeSchema: StructType, spec: PartitionSpec,
      lineage: Boolean, fileGBase: GSchema = null,
      formatOverride: Option[String] = None,
      codecOverride: Option[String] = None,
      codecLevel: Option[String] = None,
      sortOrderId: Option[Int] = None): GraftWriterFactory = {
    val spark = SparkSession.active
    // read-side shredding: materialize each configured variant sub-path
    // as a typed file column (reserved id) after the data (+lineage)
    // fields — readers serve variant_get from it without touching the
    // binary (reference variant-shredding spec typed_value columns)
    val shredSpecs = GraftSparkTable
      .shredSpecsOf(table.meta.properties, table.schema)
      .filter(sp => writeSchema.fieldNames.contains(sp.parent))
    val lineageFields =
      if (lineage) GraftSparkTable.lineageReadFields else Nil
    val lineageG =
      if (lineage) GraftSparkTable.lineageGFields else Nil
    val fileSchema = StructType(writeSchema.fields ++ lineageFields ++
      shredSpecs.map(GraftSparkTable.shredMatField))
    // by-name (accept-any-schema / merge-schema) writes arrive in the
    // dataset's shape: the file's graft schema follows the dataset, with
    // the table's field ids (identity for exact-shape writers)
    val baseG: GSchema = if (fileGBase == null) table.schema else fileGBase
    val fileGSchema =
      if (lineage || shredSpecs.nonEmpty || (baseG ne table.schema))
        baseG.copy(struct = graft.core.types.GStruct(
          baseG.fields ++ lineageG ++
            shredSpecs.map(GraftSparkTable.shredMatGField)))
      else table.schema
    // prepareWrite wires ParquetWriteSupport (schema, field ids, codec)
    // into the job conf; the OutputWriterFactory is serializable.
    val conf = spark.sessionState.newHadoopConfWithOptions(Map.empty)
    conf.setBoolean("spark.sql.parquet.fieldId.write.enabled", true)
    table.meta.properties.get("write.target-file-rows")
      .foreach(conf.set("graft.write.target-file-rows", _))
    GraftParquetCrypto.configure(conf, table.meta)
    val job = Job.getInstance(conf)
    // data file format: per-write `write-format` option (reference
    // SparkWriteOptions.WRITE_FORMAT), else write.format.default
    // (reference TableProperties DEFAULT_FILE_FORMAT; parquet default,
    // orc supported — avro has no Spark SQL connector on this classpath)
    val dataFormat = formatOverride.getOrElse(table.meta.properties
      .getOrElse("write.format.default", "parquet").toLowerCase)
    // only parquet has native modular encryption on this engine (the
    // reference's avro-data path uses AES GCM streams; orc native
    // encryption is unwired there too) — refuse rather than silently
    // writing plaintext data into an encrypted table
    if (GraftParquetCrypto.isEncrypted(table.meta) && dataFormat != "parquet")
      throw new UnsupportedOperationException(
        s"encrypted tables require the parquet write format, got $dataFormat")
    val owf = dataFormat match {
      case "avro" =>
        new GraftAvro.AvroWriterFactory(
          graft.core.meta.MetaJson.writeSchema(fileGSchema).toString,
          codecOverride.getOrElse(table.meta.properties
            .getOrElse("write.avro.compression-codec", "snappy")))
      case "orc" =>
        // bloom filters (reference TableProperties ORC_BLOOM_FILTER_*):
        // ride the job conf; Spark's OrcOutputWriter builds its writer
        // options from the hadoop conf, so orc.* keys pass through
        table.meta.properties.get("write.orc.bloom.filter.columns")
          .foreach(job.getConfiguration.set("orc.bloom.filter.columns", _))
        table.meta.properties.get("write.orc.bloom.filter.fpp")
          .foreach(job.getConfiguration.set("orc.bloom.filter.fpp", _))
        // stripe size (reference TableProperties ORC_STRIPE_SIZE_BYTES):
        // the ORC analog of the parquet row-group size — stripes are the
        // split/stride unit for offsets-aware task splitting
        table.meta.properties.get("write.orc.stripe-size-bytes")
          .foreach(job.getConfiguration.set("orc.stripe.size", _))
        new org.apache.spark.sql.execution.datasources.orc.OrcFileFormat()
          .prepareWrite(spark, job,
            Map("compression" -> codecOverride.getOrElse(
              spark.sessionState.conf
                .getConfString("spark.sql.orc.compression.codec", "snappy"))),
            fileSchema)
      case _ =>
        // table-level parquet tuning (reference TableProperties):
        // row-group and page size, bloom filters
        val props = table.meta.properties
        props.get("write.parquet.row-group-size-bytes")
          .foreach(job.getConfiguration.set("parquet.block.size", _))
        props.get("write.parquet.page-size-bytes")
          .foreach(job.getConfiguration.set("parquet.page.size", _))
        // bloom filters (reference TableProperties PARQUET_BLOOM_FILTER_*
        // → parquet-mr per-column '#col' conf keys): point-lookup row-group
        // pruning at scale for high-NDV id columns dictionaries can't cover
        props.collect {
          case (k, v) if k.startsWith("write.parquet.bloom-filter-enabled.column.") =>
            job.getConfiguration.set("parquet.bloom.filter.enabled#" +
              k.stripPrefix("write.parquet.bloom-filter-enabled.column."), v)
          case (k, v) if k.startsWith("write.parquet.bloom-filter-fpp.column.") =>
            job.getConfiguration.set("parquet.bloom.filter.fpp#" +
              k.stripPrefix("write.parquet.bloom-filter-fpp.column."), v)
          case (k, v) if k.startsWith("write.parquet.bloom-filter-ndv.column.") =>
            job.getConfiguration.set("parquet.bloom.filter.expected.ndv#" +
              k.stripPrefix("write.parquet.bloom-filter-ndv.column."), v)
          case (k, v) if k == "write.parquet.bloom-filter-max-bytes" =>
            job.getConfiguration.set("parquet.bloom.filter.max.bytes", v)
          case (k, v) if k == "write.parquet.bloom-filter-adaptive-enabled" =>
            job.getConfiguration.set("parquet.bloom.filter.adaptive.enabled", v)
        }
        parquetOutput(spark, job, props, fileSchema, codecOverride, codecLevel)
    }
    val metaJson = graft.core.meta.MetaJson
    new GraftWriterFactory(
      table.location,
      fileSchema.json,
      metaJson.writeSchema(fileGSchema).toString,
      metaJson.writeSpec(spec).toString,
      owf, confMap(job), dataFormat, lineage = lineage, shredSpecs = shredSpecs,
      sortOrderId = sortOrderId)
  }

  /** The parquet output of every file a write produces, data and delete
    * files alike, configured into `job`: field ids always on (whatever
    * the session says), timestamps as INT64 micros and the codec rule —
    * the per-write `compression-codec` option, else
    * `write.parquet.compression-codec`, else the session's codec; the
    * compression level likewise from `compression-level`, else
    * `write.parquet.compression-level`. */
  private[spark] def parquetOutput(spark: SparkSession, job: Job,
      props: Map[String, String], schema: StructType,
      codecOverride: Option[String] = None,
      codecLevel: Option[String] = None): OutputWriterFactory = {
    val conf = job.getConfiguration
    val codec = codecOverride.getOrElse(
      props.getOrElse("write.parquet.compression-codec",
        spark.sessionState.conf
          .getConfString("spark.sql.parquet.compression.codec", "snappy")))
    codecLevel.orElse(props.get("write.parquet.compression-level")).foreach { lvl =>
      conf.set("parquet.compression.codec.zstd.level", lvl)
      conf.set("compression.level", lvl)
    }
    val w = new ParquetFileFormat().prepareWrite(spark, job,
      Map("compression" -> codec), schema)
    // prepareWrite copies the SESSION field-id flag over ours —
    // graft files must ALWAYS carry field ids, whatever the session
    conf.setBoolean("spark.sql.parquet.fieldId.write.enabled", true)
    // timestamps as INT64 micros, never INT96 (format spec
    // "Parquet: timestamp/timestamptz as int64 micros"; Spark's
    // session default can still be legacy INT96, which also carries
    // NO footer min/max — killing bound pruning and readable_metrics
    // on every timestamp column)
    conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    w
  }

  /** a job conf as the serializable map the tasks rebuild it from */
  private[spark] def confMap(job: Job): Map[String, String] =
    job.getConfiguration.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
}

final case class GraftCommitMessage(files: Seq[DataFile]) extends WriterCommitMessage

/** Streaming-upsert writer: tees the identifier-key tuple of every
  * written row and emits one equality-delete file per task alongside the
  * data files (reference: Flink upsert writers; the Spark reference has
  * no equality-delete write path — this is the training-pipeline CDC
  * surface). */
object GraftUpsertWriterFactory {
  def create(table: GTable, writeSchema: StructType,
      inner: DataWriterFactory): GraftUpsertWriterFactory = {
    val deletes = EqDeleteFiles.output(table)
    new GraftUpsertWriterFactory(inner, deletes,
      deletes.gSchema.fields.map(f => writeSchema.fieldIndex(f.name)).toArray)
  }
}

final class GraftUpsertWriterFactory(
    inner: DataWriterFactory,
    deletes: DeleteOutput,
    keyPos: Array[Int]) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftUpsertWriter(inner.createWriter(partitionId, taskId),
      deletes, keyPos, partitionId, taskId)
}

final class GraftUpsertWriter(
    inner: DataWriter[InternalRow],
    deletes: DeleteOutput,
    keyPos: Array[Int],
    partitionId: Int,
    taskId: Long) extends DataWriter[InternalRow] {

  // last row per key, insertion-ordered: the epoch's equality-delete file
  // shares its sequence number with the data files (eq deletes apply only
  // to LOWER sequences), so same-epoch duplicates must be resolved
  // writer-side — buffer rows and keep the LAST version of each key
  private val byKey = mutable.LinkedHashMap.empty[Seq[Any], InternalRow]

  override def write(row: InternalRow): Unit = {
    val key = keyPos.zip(deletes.schema.fields).map { case (p, f) =>
      SparkBridge.valueAt(row, p, f.dataType)
    }.toSeq
    byKey.put(key, row.copy())
  }

  override def commit(): WriterCommitMessage = {
    byKey.values.foreach(inner.write)
    val keys = byKey.keys
    val dataMsg = inner.commit().asInstanceOf[GraftCommitMessage]
    if (keys.isEmpty) return GraftDeltaCommitMessage(dataMsg.files, Nil)
    val eqFile = EqDeleteFiles.write(deletes, 0, Nil, keys, partitionId, taskId)
    GraftDeltaCommitMessage(dataMsg.files, Seq(eqFile))
  }

  override def abort(): Unit = inner.abort()
  override def close(): Unit = inner.close()
}

/** Writes one equality-delete file: rows are identifier-key tuples;
  * readers drop any lower-sequence data row whose key matches
  * (format/spec.md equality deletes). Shared by the streaming-upsert
  * writer (global scope) and the SQL DELETE equality path
  * (partition-scoped). */
object EqDeleteFiles {
  /** the equality-delete output of `table`: its identifier fields in id
    * order, WITH field ids so full-schema field-id reads bind the key
    * columns (absent columns read null) */
  def output(table: GTable): DeleteOutput = {
    val eqFields = table.schema.identifierFieldIds.toSeq.sorted.map(id =>
      table.schema.fields.find(_.id == id).getOrElse(
        throw new IllegalArgumentException(s"identifier field $id not in schema")))
    val gEq = GSchema(GStruct(eqFields))
    DeleteOutput(SparkSession.active, table,
      SparkTypes.toSparkStruct(gEq.struct), gEq, DeleteOutput.formatOf(table.meta))
  }

  def write(deletes: DeleteOutput,
      specId: Int, partition: Seq[Any], keys: Iterable[Seq[Any]],
      partitionId: Int, taskId: Long): DataFile = {
    val eqSchema = deletes.schema
    val eqIds = deletes.gSchema.fields.map(_.id)
    val out = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      eqSchema.length)
    def fill(key: Seq[Any]): InternalRow = {
      var i = 0
      while (i < eqSchema.length) {
        out.update(i, toInternal(key(i), eqSchema.fields(i).dataType))
        i += 1
      }
      out
    }
    val path = deletes.write("eq-delete", partitionId, taskId,
      keys.iterator.map(fill))
    // min/max of the key columns (values are already in memory): the
    // delta conflict validation prunes concurrent operations by these
    // bounds — without them every pair of concurrent row-level ops on
    // the table would abort as a possible conflict
    val stats = eqSchema.fields.indices.flatMap { i =>
      val t = try Some(SparkBridge.gTypeOf(eqSchema.fields(i).dataType))
        catch { case _: IllegalArgumentException => None }
      t.map { gt =>
        val vals = keys.iterator.map(_(i)).filter(_ != null).map {
          case b: Seq[_] => b.asInstanceOf[Seq[Byte]].toArray: Any
          case x         => x
        }.toSeq
        val lo = vals.reduceOption((a, b) =>
          if (TypeComparators.compare(gt, a, b) <= 0) a else b)
        val hi = vals.reduceOption((a, b) =>
          if (TypeComparators.compare(gt, a, b) >= 0) a else b)
        eqIds(i) -> ColStats(Some(keys.size.toLong),
          Some((keys.size - vals.size).toLong), None, lo, hi)
      }
    }.toMap
    DataFile(path, deletes.format, specId, partition, keys.size.toLong,
      GraftIO.size(path), stats,
      content = graft.core.meta.FileContent.EqualityDeletes,
      equalityIds = eqIds)
  }

  def toInternal(v: Any, dt: org.apache.spark.sql.types.DataType): Any = v match {
    case null => null
    case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
    case d: java.math.BigDecimal => org.apache.spark.sql.types.Decimal(d)
    case bs: Seq[_] if dt == org.apache.spark.sql.types.BinaryType =>
      bs.asInstanceOf[Seq[Byte]].toArray
    case other => other
  }
}

final class GraftWriterFactory(
    location: String,
    writeSchemaJson: String,
    gSchemaJson: String,
    specJson: String,
    owf: OutputWriterFactory,
    confMap: Map[String, String],
    fileFormat: String = "parquet",
    lineage: Boolean = false,
    shredSpecs: Seq[GraftSparkTable.ShredSpec] = Nil,
    sortOrderId: Option[Int] = None) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): GraftFanoutWriter = {
    val writeSchema = org.apache.spark.sql.types.DataType.fromJson(writeSchemaJson)
      .asInstanceOf[StructType]
    val gSchema = MetaJson.readSchema(MetaJson.mapper.readTree(gSchemaJson))
    val spec = MetaJson.readSpec(MetaJson.mapper.readTree(specJson))
    val conf = new Configuration(false)
    confMap.foreach { case (k, v) => conf.set(k, v) }
    new GraftFanoutWriter(location, writeSchema, gSchema, spec, owf, conf,
      partitionId, taskId, fileFormat, lineage, shredSpecs, sortOrderId)
  }
}

/** Partitioned fanout writer: routes rows to one open file per partition
  * tuple, rolls at a row threshold, and extracts per-column stats from
  * the parquet footer on close (reference FanoutDataWriter +
  * SparkFileWriterFactory). */
final class GraftFanoutWriter(
    val location: String,
    writeSchema: StructType,
    val gSchema: GSchema,
    val spec: PartitionSpec,
    owf: OutputWriterFactory,
    conf: Configuration,
    partitionId: Int,
    taskId: Long,
    fileFormat: String = "parquet",
    // row-level rewrites materialize lineage: writeSchema's last two
    // fields are _row_id/_last_updated_sequence_number, filled from the
    // metadata projection Spark hands to write(meta, row) (reference
    // ExtractRowLineage + DataWriterWithLineage)
    lineage: Boolean = false,
    // configured shred sub-paths: each is MATERIALIZED as a typed column
    // (writeSchema's trailing fields, reserved ids) and accumulated into
    // per-file shredded stats with a "mat:" marker so readers know the
    // column is physically present
    shredSpecs: Seq[GraftSparkTable.ShredSpec] = Nil,
    // registered table sort order the incoming rows are clustered by
    // (requiredOrdering applied it) — stamped on every written data file
    sortOrderId: Option[Int] = None) extends DataWriter[InternalRow] {

  // per spec: parent-variant ordinal in writeSchema, the spec, Spark
  // type, parsed path (specs whose parent the schema lacks are dropped)
  private val shredCols: Array[(Int, GraftSparkTable.ShredSpec,
      org.apache.spark.sql.types.DataType, org.apache.spark.unsafe.types.UTF8String)] =
    shredSpecs.flatMap { sp =>
      gSchema.fields.find(f => f.name == sp.parent && f.tpe == GVariant).map { _ =>
        (writeSchema.fieldIndex(sp.parent), sp, sp.sparkType,
          org.apache.spark.unsafe.types.UTF8String.fromString(sp.path))
      }
    }.toArray

  private val shredCastArgs =
    org.apache.spark.sql.catalyst.expressions.variant.VariantCastArgs(
      false, None, java.time.ZoneOffset.UTC)

  /** the typed value of shred path i for a row, null when absent */
  private def shredValue(row: InternalRow, i: Int): Any = {
    val (ord, _, dt, path) = shredCols(i)
    if (row.isNullAt(ord)) null
    else
      try org.apache.spark.sql.catalyst.expressions.variant.VariantGet
        .variantGet(row.get(ord, org.apache.spark.sql.types.VariantType)
          .asInstanceOf[org.apache.spark.unsafe.types.VariantVal],
          path, dt, shredCastArgs, "variant_shred")
      catch { case NonFatal(_) => null }
  }

  private final class ShredAcc {
    val nonNull = new Array[Long](shredCols.length)
    val lo = new Array[Any](shredCols.length)
    val hi = new Array[Any](shredCols.length)
    /** observe the ALREADY-COMPUTED materialized values (Spark-internal
      * representation) of one row */
    def observe(values: Array[Any]): Unit = {
      var i = 0
      while (i < shredCols.length) {
        val sparkV = values(i)
        if (sparkV != null) {
          val gt = shredCols(i)._2.tpe
          val v = SparkBridge.fromSpark(sparkV, gt)
          nonNull(i) += 1
          if (lo(i) == null || TypeComparators.compare(gt, v, lo(i)) < 0) lo(i) = v
          if (hi(i) == null || TypeComparators.compare(gt, v, hi(i)) > 0) hi(i) = v
        }
        i += 1
      }
    }
    def stats(rows: Long): Map[String, ColStats] =
      shredCols.indices.flatMap { i =>
        val sp = shredCols(i)._2
        Seq(
          sp.statsKey -> ColStats(valueCount = Some(rows),
            nullCount = Some(rows - nonNull(i)), nanCount = None,
            lower = Option(lo(i)), upper = Option(hi(i))),
          // marker: this file physically carries the materialized column
          sp.matKey -> ColStats(valueCount = Some(rows), nullCount = None,
            nanCount = None, lower = None, upper = None))
      }.toMap
  }

  private val nullLineage =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
  private val lineageRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
  private val lineageJoin = new org.apache.spark.sql.catalyst.expressions.JoinedRow
  private var metaRowIdOrd = -2 // -2 = not yet resolved from the meta schema
  private var metaSeqOrd = -2

  override def write(meta: InternalRow, row: InternalRow): Unit =
    if (!lineage) write(row)
    else if (meta == null) writeFull(lineageJoin(row, nullLineage))
    else {
      if (metaRowIdOrd == -2) {
        val sch = meta.asInstanceOf[org.apache.spark.sql.catalyst.ProjectingInternalRow].schema
        metaRowIdOrd = sch.fieldNames.indexOf(GraftSparkTable.MetaRowIdCol)
        metaSeqOrd = sch.fieldNames.indexOf(GraftSparkTable.MetaSeqCol)
      }
      lineageRow.update(0,
        if (metaRowIdOrd >= 0 && !meta.isNullAt(metaRowIdOrd))
          meta.getLong(metaRowIdOrd): java.lang.Long
        else null)
      lineageRow.update(1,
        if (metaSeqOrd >= 0 && !meta.isNullAt(metaSeqOrd))
          meta.getLong(metaSeqOrd): java.lang.Long
        else null)
      writeFull(lineageJoin(row, lineageRow))
    }

  // roll target (reference RollingFileWriter rolls at
  // write.target-file-size-bytes; parquet buffers row groups in memory so
  // on-disk size lags — a row-count proxy, overridable per table via
  // write.target-file-rows, keeps the writer format-agnostic)
  private val RollRows =
    Option(conf.get("graft.write.target-file-rows")).map(_.toLong).getOrElse(2000000L)

  // geospatial columns accumulate their bounding box AS ROWS FLOW, so
  // commit needs no second read of the written file (FooterStats' geo
  // re-read remains only for files we didn't write: add_files imports)
  private val geoCols: Array[(Int, Int)] = gSchema.fields
    .collect { case f if GeoDefaults.isGeo(f.tpe) && writeSchema.fieldNames.contains(f.name) =>
      (writeSchema.fieldIndex(f.name), f.id)
    }.toArray

  private final class GeoAcc {
    // per geo column: nonNull count + (xmin, ymin, xmax, ymax)
    val nonNull = new Array[Long](geoCols.length)
    val box = Array.fill(geoCols.length)(Array(Double.PositiveInfinity,
      Double.PositiveInfinity, Double.NegativeInfinity, Double.NegativeInfinity))
    def observe(row: InternalRow): Unit = {
      var i = 0
      while (i < geoCols.length) {
        val pos = geoCols(i)._1
        if (!row.isNullAt(pos)) {
          nonNull(i) += 1
          graft.core.types.WKB.bbox(row.getBinary(pos)).foreach { b =>
            val a = box(i)
            a(0) = math.min(a(0), b.xmin); a(1) = math.min(a(1), b.ymin)
            a(2) = math.max(a(2), b.xmax); a(3) = math.max(a(3), b.ymax)
          }
        }
        i += 1
      }
    }
    /** fieldId → stats override for this file */
    def stats(rows: Long): Seq[(Int, ColStats)] =
      geoCols.indices.map { i =>
        val a = box(i)
        val bounds = if (a(0).isInfinite || a(1).isInfinite) (None, None)
          else (Some(GeoBounds.encode(a(0), a(1)): Any),
            Some(GeoBounds.encode(a(2), a(3)): Any))
        geoCols(i)._2 -> ColStats(valueCount = Some(rows),
          nullCount = Some(rows - nonNull(i)), nanCount = None,
          lower = bounds._1, upper = bounds._2)
      }
  }

  private final class OpenFile(val path: String,
      val writer: org.apache.spark.sql.execution.datasources.OutputWriter) {
    var rows: Long = 0L
    val geo: GeoAcc = if (geoCols.isEmpty) null else new GeoAcc
    val shred: ShredAcc = if (shredCols.isEmpty) null else new ShredAcc
  }

  private val open = mutable.Map.empty[Seq[Any], OpenFile]
  private val closed = Seq.newBuilder[(Seq[Any], String, Long, GeoAcc, ShredAcc)]

  // materialized shred columns are writer-appended (like lineage): the
  // incoming row carries only the data (+lineage) prefix of writeSchema;
  // the computed typed values fill the trailing fields. Buffers are
  // reused — the format writer consumes the row synchronously.
  private val shredVals = new Array[Any](shredCols.length)
  private val shredValsRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(shredVals)
  private val shredJoin = new org.apache.spark.sql.catalyst.expressions.JoinedRow
  /** incoming arity before writer-appended fields */
  private val dataArity =
    writeSchema.length - (if (lineage) 2 else 0) - shredCols.length

  // partition tuple extraction: source positions + types from the spec
  private val extractors: Array[InternalRow => Any] = spec.fields.map { pf =>
    val src = gSchema.byId(pf.sourceId)
    val pos = writeSchema.fieldIndex(src.name)
    val dt = writeSchema(pos).dataType
    (row: InternalRow) => pf.transform.apply(SparkBridge.valueAt(row, pos, dt), src.tpe)
  }.toArray

  private def partitionPath(values: Seq[Any]): String =
    if (values.isEmpty) ""
    else spec.fields.zip(values).map { case (pf, v) =>
      val s = if (v == null) "null" else v.toString.replaceAll("[^A-Za-z0-9_.-]", "_")
      s"${pf.name}=$s"
    }.mkString("/", "/", "")

  private def newFile(values: Seq[Any]): OpenFile = {
    val dir = s"$location/data${partitionPath(values)}"
    val path = s"$dir/part-$partitionId-$taskId-${UUID.randomUUID}.$fileFormat"
    graft.core.meta.GraftIO.toPath(path) // validate
    java.nio.file.Files.createDirectories(graft.core.meta.GraftIO.toPath(dir))
    val ctx = new TaskAttemptContextImpl(conf,
      new TaskAttemptID(new TaskID("graft", partitionId, TaskType.MAP, taskId.toInt), 0))
    new OpenFile(path, owf.newInstance(path, writeSchema, ctx))
  }

  override def write(row: InternalRow): Unit =
    // a bare data row on a lineage writer (MoR INSERT branch, plain
    // writeAll) gets null lineage: fresh ids assigned at read from the
    // file's first-row-id + position
    if (lineage && row.numFields < dataArity + 2)
      writeFull(lineageJoin(row, nullLineage))
    else writeFull(row)

  private def writeFull(row: InternalRow): Unit = {
    val key: Seq[Any] = extractors.map(_(row)).toSeq
    val f = open.getOrElseUpdate(key, newFile(key))
    val full = if (shredCols.isEmpty) row else {
      var i = 0
      while (i < shredCols.length) { shredVals(i) = shredValue(row, i); i += 1 }
      f.shred.observe(shredVals)
      shredJoin(row, shredValsRow)
    }
    f.writer.write(full)
    f.rows += 1
    if (f.geo != null) f.geo.observe(row)
    if (f.rows >= RollRows) {
      f.writer.close()
      closed += ((key, f.path, f.rows, f.geo, f.shred))
      open.remove(key)
    }
  }

  override def commit(): GraftCommitMessage = {
    open.foreach { case (key, f) =>
      f.writer.close()
      closed += ((key, f.path, f.rows, f.geo, f.shred))
    }
    open.clear()
    val files = closed.result().map { case (key, path, rows, geo, shred) =>
      val (size, stats, splitOffs) = fileFormat match {
        case "avro" =>
          val (sz, _, st) = GraftAvro.footerStats(path, gSchema); (sz, st, Nil)
        case "orc"  => FooterStats.readOrc(path, conf, gSchema, writeSchema)
        // geo bounds were accumulated as rows flowed: skip the re-read
        case _      => FooterStats.read(path, conf, gSchema, skipGeo = geo != null)
      }
      val withGeo = if (geo == null) stats else stats ++ geo.stats(rows)
      DataFile(path, fileFormat, spec.specId, key, rows, size, withGeo,
        shredStats = if (shred == null) Map.empty else shred.stats(rows),
        splitOffsets = splitOffs, sortOrderId = sortOrderId)
    }
    GraftCommitMessage(files)
  }

  override def abort(): Unit = {
    open.values.foreach(f => try f.writer.close() catch { case NonFatal(_) => () })
    open.keys.toSeq.foreach(open.remove)
    closed.result().foreach { case (_, path, _, _, _) => GraftIO.delete(path) }
  }

  override def close(): Unit = ()
}

// ---------------------------------------------------------------------------
// Merge-on-read delta write (reference SparkPositionDeltaWrite.java):
// executors buffer (_file, _pos) delete keys and route inserted rows through
// the fanout data writer; commit is a single atomic RowDelta.
// ---------------------------------------------------------------------------

final class GraftDeltaWrite(table: GTable, branchPin: Option[String] = None,
    conflict: () => Option[(Option[Long], graft.core.expr.Expr)] = () => None,
    serializable: Boolean = true,
    snapshotProps: Map[String, String] = Map.empty,
    deleteGranularity: Option[String] = None)
  extends DeltaWrite with RequiresDistributionAndOrdering {

  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions => VE, SortDirection, SortOrder}

  // cluster + sort deltas by (_file, _pos) so each task's position-delete
  // file covers few data files with contiguous runs (reference
  // SparkPositionDeltaWrite ordering)
  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(
      VE.identity(GraftSparkTable.MetaFileCol)
        : org.apache.spark.sql.connector.expressions.Expression))

  override def requiredOrdering(): Array[SortOrder] = Array(
    VE.sort(VE.identity(GraftSparkTable.MetaFileCol), SortDirection.ASCENDING),
    VE.sort(VE.identity(GraftSparkTable.MetaPosCol), SortDirection.ASCENDING))

  override def requiredNumPartitions(): Int = 0

  override def toBatch: DeltaBatchWrite =
    new GraftDeltaBatchWrite(table, branchPin, conflict, serializable,
      snapshotProps, deleteGranularity)
  override def description(): String = s"graft-delta-write(${table.location})"
}

final class GraftDeltaBatchWrite(table: GTable, branchPin: Option[String] = None,
    conflict: () => Option[(Option[Long], graft.core.expr.Expr)] = () => None,
    serializable: Boolean = true,
    snapshotProps: Map[String, String] = Map.empty,
    deleteGranularity: Option[String] = None)
  extends DeltaBatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    val props = table.meta.properties
    new GraftDeltaWriterFactory(
      GraftDeltaBatchWrite.dataWriterFactory(table),
      DeleteOutput(SparkSession.active, table, GraftDeltaWriter.DeleteSchema,
        GraftDeltaWriter.DeleteGSchema, DeleteOutput.formatOf(table.meta)),
      // v3+ tables default to deletion vectors (reference v3: DVs replace
      // position-delete files); explicit write.delete.format still wins
      dvs = props.getOrElse("write.delete.format",
        if (table.meta.formatVersion >= 3) "dv" else "parquet") == "dv",
      // position-delete scoping (reference DeleteGranularity): 'file'
      // rolls one delete file per referenced data file — prunable by the
      // delete index and droppable one-for-one when the data file is
      // rewritten; 'partition' (default) packs a task's deletes per
      // partition. DVs are inherently file-granular.
      deleteGranularity.getOrElse(props
        .getOrElse("write.delete.granularity", "partition")).toLowerCase,
      crypto = graft.core.meta.TableCrypto.resolve(table.meta))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.filter(_ != null).map(_.asInstanceOf[GraftDeltaCommitMessage])
    val rd = table.newRowDelta().toBranch(
      branchPin.orElse(WapBranch.resolve()).getOrElse("main"))
    // scan-to-commit conflict window: abort on concurrent deletes
    // matching our filter (lost update), and under serializable also on
    // concurrently added matching rows (phantoms)
    conflict().foreach { case (snapId, filter) =>
      rd.validateFromSnapshot(snapId, filter, serializable)
    }
    msgs.flatMap(_.dataFiles).foreach(rd.addRows)
    msgs.flatMap(_.deleteFiles).foreach(rd.addDeletes)
    SnapshotProps(WapBranch.stage(table, rd), snapshotProps).commit()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.filter(_ != null).map(_.asInstanceOf[GraftDeltaCommitMessage])
      .foreach(m => (m.dataFiles ++ m.deleteFiles).foreach(f => GraftIO.delete(f.path)))
}

object GraftDeltaBatchWrite {
  /** the data writers of a row-level delta: the table's own writer
    * factory, with lineage materialized so replacement rows keep their
    * `_row_id` (the nulled last-updated seq falls back to the new
    * commit's sequence). No sort order id is stamped: delta rows arrive
    * ordered by `_file, _pos`, not by the table's sort order. */
  def dataWriterFactory(table: GTable): GraftWriterFactory =
    GraftBatchWrite.writerFactory(table, SparkTypes.toSparkSchema(table.schema),
      table.spec, lineage = true)
}

final case class GraftDeltaCommitMessage(dataFiles: Seq[DataFile],
    deleteFiles: Seq[DataFile]) extends WriterCommitMessage

final class GraftDeltaWriterFactory(
    data: GraftWriterFactory,
    deletes: DeleteOutput,
    dvs: Boolean,
    deleteGranularity: String,
    // encrypted tables: resolved table key ships serialized to executors
    // so DV content files encrypt with derived per-file keys
    crypto: Option[graft.core.meta.TableCrypto]) extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaWriter(data.createWriter(partitionId, taskId), deletes,
      partitionId, taskId, dvs, deleteGranularity, crypto)
}

object GraftDeltaWriter {
  /** position-delete file schema (format/spec.md position deletes) */
  val DeleteSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("file_path",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("pos",
      org.apache.spark.sql.types.LongType, nullable = false)))

  /** same schema with the spec's reserved field ids (format/spec.md
    * position deletes: file_path=2147483546, pos=2147483545) — avro delete
    * files carry them as field-id props so external id-based readers
    * project them exactly */
  val DeleteGSchema: graft.core.types.GSchema = graft.core.types.GSchema(
    graft.core.types.GStruct(Seq(
      graft.core.types.GField(graft.core.meta.DeleteFileIndex.FilePathFieldId,
        "file_path", graft.core.types.GString, required = true),
      graft.core.types.GField(graft.core.meta.DeleteFileIndex.PosFieldId,
        "pos", graft.core.types.GLong, required = true))))

  /** partition tuple (internal rep) from a (_spec_id, _partition)
    * metadata projection row: Some(tuple) when the row belongs to the
    * CURRENT spec (the empty tuple for an unpartitioned current spec);
    * None for rows of OTHER
    * specs — their delete files must go GLOBAL (the _partition metadata
    * column is typed by the current spec, so an old spec's tuple is
    * unreadable here; the reference reads a unified struct instead). */
  def partitionOf(meta: InternalRow, specId: Int,
      partSparkTypes: Array[org.apache.spark.sql.types.DataType]): Option[Seq[Any]] =
    try {
      if (partSparkTypes.isEmpty) Some(Nil) // unpartitioned current spec
      else if (meta == null || meta.numFields < 2 ||
          meta.isNullAt(0) || meta.getInt(0) != specId || meta.isNullAt(1)) None
      else {
        val st = meta.getStruct(1, partSparkTypes.length)
        Some(partSparkTypes.zipWithIndex.map { case (dt, i) =>
          SparkBridge.valueAt(st, i, dt)
        }.toSeq)
      }
    } catch {
      case scala.util.control.NonFatal(_) => None
    }

  /** the delete group of a deleted row: its (spec id, value-hashable
    * partition tuple) key and the partition tuple itself — current-spec
    * rows fan out per partition so the delete files prune at scan time;
    * rows of OTHER specs group under the GLOBAL sentinel (empty tuple,
    * resolved to an unpartitioned spec at commit) */
  def deleteGroup(meta: InternalRow, specId: Int,
      partSparkTypes: Array[org.apache.spark.sql.types.DataType])
      : ((Int, Seq[Any]), Seq[Any]) =
    partitionOf(meta, specId, partSparkTypes) match {
      case Some(t) =>
        ((specId, t.map { case b: Array[Byte] => b.toSeq; case x => x }), t)
      case None => ((graft.core.meta.GlobalDeletes.SpecSentinel, Nil), Nil)
    }

  /** one position-delete file for `dels` (sorted (file,pos)), through
    * `deletes`. The DML delete writer and rewrite_position_delete_files
    * both write through here. */
  def writeDeleteFile(deletes: DeleteOutput,
      partitionId: Int, taskId: Long, sid: Int, partition: Seq[Any],
      dels: mutable.ArrayBuffer[(String, Long)]): DataFile = {
    // sorted by (file, pos) so per-file runs are contiguous
    dels.sortInPlace()
    val rowOut = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
    val path = deletes.write("delete", partitionId, taskId,
      dels.iterator.map { case (f, p) =>
        rowOut.update(0, org.apache.spark.unsafe.types.UTF8String.fromString(f))
        rowOut.setLong(1, p)
        rowOut: InternalRow
      })
    val refs = dels.map(_._1).distinct
    // file_path range of the RELOCATION-STABLE suffix keys: the delete
    // index uses it to skip data files this delete can't reference
    // (reference records file_path bounds in delete-file metrics)
    val keys = refs.map(GraftIO.dataSuffix)
    val pathStats = Map(graft.core.meta.DeleteFileIndex.FilePathFieldId ->
      graft.core.expr.ColStats(valueCount = Some(dels.size.toLong),
        nullCount = Some(0L), nanCount = None,
        lower = Some(keys.min), upper = Some(keys.max)))
    DataFile(path, deletes.format, sid, partition, dels.size.toLong,
      GraftIO.size(path), pathStats, content = FileContent.PositionDeletes,
      referencedDataFile = if (refs.size == 1) Some(refs.head) else None)
  }

  /** one deletion vector (a Roaring bitmap file, reference v3 DVs) of
    * `positions` in `dataPath`, under `location`/data */
  def writeDV(location: String, partitionId: Int, taskId: Long, sid: Int,
      partition: Seq[Any], dataPath: String, positions: Iterator[Long],
      crypto: Option[graft.core.meta.TableCrypto]): DataFile = {
    val path = s"$location/data/dv-$partitionId-$taskId-${UUID.randomUUID}.dv"
    val (n, off, len) = DVIO.writeBlob(path, dataPath, positions, crypto)
    DataFile(path, "dv", sid, partition, n, GraftIO.size(path),
      Map.empty, content = FileContent.PositionDeletes,
      referencedDataFile = Some(dataPath),
      contentOffset = Some(off), contentSizeInBytes = Some(len))
  }
}

/** Everything a task needs to write one kind of delete file into a
  * table: its location, the row schema (with its graft field ids), the
  * file format (`parquet` or `avro`) and, for parquet, the output writer
  * factory and job conf. Built once per write on the driver by
  * `DeleteOutput.apply`; ships to the tasks. */
final class DeleteOutput(location: String, val schema: StructType,
    val gSchema: GSchema, val format: String, owf: OutputWriterFactory,
    confMap: Map[String, String]) extends Serializable {

  @transient private lazy val conf = {
    val c = new Configuration(false)
    confMap.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** writes `rows` to a new `<prefix>-<partitionId>-<taskId>-<uuid>`
    * file under the table's data directory; returns its path */
  def write(prefix: String, partitionId: Int, taskId: Long,
      rows: Iterator[InternalRow]): String = {
    val dir = s"$location/data"
    java.nio.file.Files.createDirectories(GraftIO.toPath(dir))
    val path = s"$dir/$prefix-$partitionId-$taskId-${UUID.randomUUID}.$format"
    // avro carries the field ids as field-id props (the shape Flink CDC
    // pipelines write; reference core delete writers take any FileFormat)
    if (format == "avro") GraftAvro.writeFile(path, schema, gSchema, rows)
    else {
      val ctx = new TaskAttemptContextImpl(conf,
        new TaskAttemptID(new TaskID("graft-del", partitionId, TaskType.MAP, taskId.toInt), 0))
      val w = owf.newInstance(path, schema, ctx)
      rows.foreach(w.write)
      w.close()
    }
    path
  }
}

object DeleteOutput {
  /** the table's delete-file format: `avro` only when write.delete.format
    * says so, else parquet (equality deletes can't be DVs; the position
    * delete writer checks `dv` before it gets here) */
  def formatOf(meta: TableMetadata): String =
    if (meta.properties.get("write.delete.format").contains("avro")) "avro"
    else "parquet"

  /** The one builder of delete-file output: position deletes, SQL and
    * streaming-upsert equality deletes, and rewrite_position_delete_files.
    * Parquet delete files are written like data files
    * (`GraftBatchWrite.parquetOutput`): field ids on, the table's parquet
    * encryption, INT64 timestamps, and the data-file codec rule —
    * `write.parquet.compression-codec`, else the session's codec (the
    * reference's delete codec also defaults to the data codec). */
  def apply(spark: SparkSession, table: GTable, schema: StructType,
      gSchema: GSchema, format: String): DeleteOutput = {
    val conf = spark.sessionState.newHadoopConfWithOptions(Map.empty)
    GraftParquetCrypto.configure(conf, table.meta)
    val job = Job.getInstance(conf)
    val owf =
      if (format == "avro") null
      else GraftBatchWrite.parquetOutput(spark, job, table.meta.properties, schema)
    new DeleteOutput(table.location, schema, gSchema, format, owf,
      GraftBatchWrite.confMap(job))
  }
}

final class GraftDeltaWriter(
    dataWriter: GraftFanoutWriter,
    deletes: DeleteOutput,
    partitionId: Int,
    taskId: Long,
    dvs: Boolean,
    deleteGranularity: String,
    crypto: Option[graft.core.meta.TableCrypto]) extends DeltaWriter[InternalRow] {

  private val specId = dataWriter.spec.specId
  private val partSparkTypes = dataWriter.spec.partitionType(dataWriter.gSchema)
    .fields.map(f => SparkTypes.toSpark(f.tpe)).toArray

  // position deletes grouped by (specId, referenced file's partition
  // tuple), see GraftDeltaWriter.deleteGroup
  private val deleted = mutable.Map
    .empty[(Int, Seq[Any]), (Seq[Any], mutable.ArrayBuffer[(String, Long)])]

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    val (key, partition) = GraftDeltaWriter.deleteGroup(meta, specId, partSparkTypes)
    deleted.getOrElseUpdate(key, (partition, mutable.ArrayBuffer.empty))
      ._2 += ((id.getUTF8String(0).toString, id.getLong(1)))
  }

  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    delete(meta, id)
    // replacement row keeps its _row_id (Spark's metadata projection
    // preserves it and nulls the last-updated seq per the column flags)
    dataWriter.write(meta, row)
  }

  override def insert(row: InternalRow): Unit = dataWriter.write(row)

  private def writeDeleteFile(sid: Int, partition: Seq[Any],
      dels: mutable.ArrayBuffer[(String, Long)]): DataFile =
    GraftDeltaWriter.writeDeleteFile(deletes,
      partitionId, taskId, sid, partition, dels)

  override def commit(): WriterCommitMessage = {
    val dataFiles = dataWriter.commit().files
    val deleteFiles =
      if (dvs) commitDVs()
      else if (deleteGranularity == "file")
        // file granularity (reference DeleteGranularity.FILE): one delete
        // file per referenced data file — the delete index prunes it to
        // exactly that file's tasks, and a rewrite of the data file drops
        // it one-for-one instead of leaving a partly-dangling blob
        deleted.toSeq.flatMap { case ((sid, _), (partition, dels)) =>
          dels.groupBy(_._1).toSeq.map { case (_, posRows) =>
            writeDeleteFile(sid, partition,
              mutable.ArrayBuffer.from(posRows))
          }
        }
      else deleted.toSeq.map { case ((sid, _), (partition, dels)) =>
        writeDeleteFile(sid, partition, dels)
      }
    GraftDeltaCommitMessage(dataFiles, deleteFiles)
  }

  /** deletion vectors: one Roaring bitmap file per referenced data file
    * (reference v3 DVs; write.delete.format = 'dv') */
  private def commitDVs(): Seq[DataFile] =
    deleted.toSeq.flatMap { case ((sid, _), (partition, dels)) =>
      dels.groupBy(_._1).toSeq.map { case (dataPath, posRows) =>
        GraftDeltaWriter.writeDV(dataWriter.location, partitionId, taskId, sid,
          partition, dataPath, posRows.iterator.map(_._2), crypto)
      }
    }

  override def abort(): Unit = dataWriter.abort()
  override def close(): Unit = dataWriter.close()
}

/** Equality-delete DELETE path (graft extension; write-side analogue of
  * reference core/.../deletes/EqualityDeleteWriter.java, which only Flink
  * CDC drives — the reference Spark connector has no SQL route to it).
  * On an identifier-keyed merge-on-read table with
  * write.delete.equality-enabled=true, DELETE writes equality-delete
  * files carrying the DISTINCT identifier tuples of the matched rows:
  * the delta is proportional to distinct deleted keys, needs no
  * (_file, _pos) bookkeeping, and commits through the same RowDelta.
  * Correctness contract (same one the streaming-upsert path relies on):
  * identifier fields uniquely identify a live row. */
final class GraftEqDeltaWrite(table: GTable, branchPin: Option[String] = None,
    conflict: () => Option[(Option[Long], graft.core.expr.Expr)] = () => None,
    serializable: Boolean = true)
  extends DeltaWrite with RequiresDistributionAndOrdering {

  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions => VE, SortOrder}

  // cluster deletes by partition so each partition's keys land in few
  // tasks → one equality-delete file per (task, partition), and the file
  // attaches partition-scoped (prunes at scan time)
  override def requiredDistribution(): Distribution =
    if (table.spec.fields.isEmpty) Distributions.unspecified()
    else Distributions.clustered(Array(
      VE.identity(GraftSparkTable.MetaPartitionCol)
        : org.apache.spark.sql.connector.expressions.Expression))

  override def requiredOrdering(): Array[SortOrder] = Array.empty
  override def requiredNumPartitions(): Int = 0

  override def toBatch: DeltaBatchWrite =
    new GraftEqDeltaBatchWrite(table, branchPin, conflict, serializable)
  override def description(): String = s"graft-eq-delta-write(${table.location})"
}

final class GraftEqDeltaBatchWrite(table: GTable, branchPin: Option[String] = None,
    conflict: () => Option[(Option[Long], graft.core.expr.Expr)] = () => None,
    serializable: Boolean = true)
  extends DeltaBatchWrite {

  // commit/abort are identical to the position-delta path: one RowDelta
  private val delegate = new GraftDeltaBatchWrite(table, branchPin, conflict, serializable)

  // UPDATE/MERGE also write replacement rows, through the same data
  // writers as the position-delta path
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    new GraftEqDeltaWriterFactory(GraftDeltaBatchWrite.dataWriterFactory(table),
      EqDeleteFiles.output(table))

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    delegate.commit(messages)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    delegate.abort(messages)
}

final class GraftEqDeltaWriterFactory(
    data: GraftWriterFactory,
    deletes: DeleteOutput) extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftEqDeltaWriter(data.createWriter(partitionId, taskId), deletes,
      partitionId, taskId)
}

final class GraftEqDeltaWriter(
    dataWriter: GraftFanoutWriter,
    deletes: DeleteOutput,
    partitionId: Int,
    taskId: Long) extends DeltaWriter[InternalRow] {

  private val specId = dataWriter.spec.specId
  private val partSparkTypes = dataWriter.spec.partitionType(dataWriter.gSchema)
    .fields.map(f => SparkTypes.toSpark(f.tpe)).toArray
  private val eqSchema = deletes.schema

  // distinct identifier tuples per (specId, referenced partition tuple):
  // a key deleted twice in one task writes once (equality deletes are
  // value-keyed, duplicates are pure overhead); rows of other specs
  // group under the GLOBAL sentinel like position deletes
  private val deleted = mutable.Map
    .empty[(Int, Seq[Any]), (Seq[Any], mutable.LinkedHashSet[Seq[Any]])]

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    val (partKey, partition) =
      GraftDeltaWriter.deleteGroup(meta, specId, partSparkTypes)
    val key = eqSchema.fields.indices.map { i =>
      SparkBridge.valueAt(id, i, eqSchema.fields(i).dataType) match {
        case b: Array[Byte] => b.toSeq // value-hashable for the set
        case x              => x
      }
    }
    deleted.getOrElseUpdate(partKey, (partition, mutable.LinkedHashSet.empty))._2 += key
  }

  // UPDATE: eq-delete the OLD key, write the replacement row. Both land
  // in one RowDelta at one sequence number, and equality deletes only
  // apply to strictly LOWER sequences — so the delete can never mask
  // its own replacement (same contract the streaming upsert relies on).
  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    delete(meta, id)
    // replacement row keeps its _row_id (Spark's metadata projection
    // preserves it and nulls the last-updated seq per the column flags)
    dataWriter.write(meta, row)
  }

  override def insert(row: InternalRow): Unit = dataWriter.write(row)

  override def commit(): WriterCommitMessage = {
    val dataFiles = dataWriter.commit().files
    val files = deleted.toSeq.map { case ((sid, _), (partition, keys)) =>
      EqDeleteFiles.write(deletes, sid, partition, keys, partitionId, taskId)
    }
    GraftDeltaCommitMessage(dataFiles, files)
  }

  override def abort(): Unit = dataWriter.abort()
  override def close(): Unit = dataWriter.close()
}

/** Extract per-column min/max/null stats from a parquet footer
  * (reference parquet/.../ParquetUtil footer metrics). */
object FooterStats {
  /** returns (file size, per-column stats, row-group start offsets —
    * the spec's split_offsets, recorded so the planner can split this
    * file at row-group boundaries) */
  def read(path: String, conf: Configuration, schema: GSchema,
      skipGeo: Boolean = false): (Long, Map[Int, ColStats], Seq[Long]) = {
    val hPath = new org.apache.hadoop.fs.Path("file://" + GraftIO.toPath(path).toString)
    // HadoopReadOptions (not the bare open) loads the decryption factory
    // from the conf, so footers of modular-encrypted files stay readable
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(hPath, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf, hPath).build())
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala
      val size = GraftIO.size(path)
      val byField = mutable.Map.empty[Int, ColStats]
      // dotted-path map: struct-nested leaves (addr.zip) collect stats
      // too — parquet column paths are dotted the same way (reference
      // ParquetUtil.fileMetrics walks the full MessageType)
      val byName = schema.byName
      val colNames = blocks.flatMap(_.getColumns.asScala.map(_.getPath.toDotString)).distinct
      colNames.foreach { name =>
        byName.get(name).foreach { field =>
          val chunks = blocks.flatMap(_.getColumns.asScala
            .filter(_.getPath.toDotString == name))
          // column_sizes (spec field 117): on-disk bytes of the chunk,
          // recorded even when the chunk has no value statistics —
          // sizes are physical, not a metrics-mode artifact (reference
          // ParquetUtil.footerMetrics sums getTotalSize unconditionally)
          val sz = chunks.map(_.getTotalSize).sum
          val statsList = chunks.map(_.getStatistics).filter(_ != null)
          if (statsList.nonEmpty && statsList.forall(s => !s.isEmpty)) {
            val nulls = statsList.map(_.getNumNulls).sum
            val values = blocks.map(_.getRowCount).sum
            val (lo, hi) = minMax(statsList.toSeq, field.tpe)
            byField(field.id) = ColStats(
              valueCount = Some(values),
              nullCount = if (nulls >= 0) Some(nulls) else None,
              nanCount = None,
              lower = lo, upper = hi,
              sizeBytes = if (sz > 0) Some(sz) else None)
          } else if (sz > 0) {
            byField(field.id) = ColStats(sizeBytes = Some(sz))
          }
        }
      }
      // geospatial columns: footer byte-order min/max is meaningless for
      // WKB; bounds are bounding-box corner points instead (spec
      // format/spec.md:770-774). Files WE write measure the bbox as rows
      // flow (GraftFanoutWriter.GeoAcc, skipGeo = true); this projected
      // re-read serves only files written elsewhere (add_files imports).
      val geoFields = if (skipGeo) Nil else schema.fields.filter(f =>
        GeoDefaults.isGeo(f.tpe) && colNames.contains(f.name))
      if (geoFields.nonEmpty) {
        val rows = blocks.map(_.getRowCount).sum
        geoBounds(hPath, conf, footer.getFileMetaData.getSchema, geoFields)
          .foreach { case (field, nonNull, boxOpt) =>
            val base = byField.getOrElse(field.id, ColStats())
            byField(field.id) = base.copy(
              valueCount = Some(rows),
              nullCount = Some(rows - nonNull),
              lower = boxOpt.map(b => GeoBounds.encode(b.xmin, b.ymin)),
              upper = boxOpt.map(b => GeoBounds.encode(b.xmax, b.ymax)))
          }
      }
      // offsets only meaningful with >1 row group: a single-group file
      // can't split anyway, so skip the manifest bytes
      val offsets =
        if (blocks.size <= 1) Nil
        else blocks.map(_.getStartingPos).toSeq
      (size, byField.toMap, offsets)
    } finally reader.close()
  }

  /** Per geo field: non-null value count + merged bbox over the file. */
  private def geoBounds(hPath: org.apache.hadoop.fs.Path, conf: Configuration,
      fileSchema: org.apache.parquet.schema.MessageType,
      geoFields: Seq[graft.core.types.GField])
      : Seq[(graft.core.types.GField, Long, Option[GeoBox])] = {
    import org.apache.parquet.hadoop.example.GroupReadSupport
    val proj = new org.apache.parquet.schema.MessageType("proj",
      geoFields.map(f => fileSchema.getFields.get(fileSchema.getFieldIndex(f.name))): _*)
    val readConf = new Configuration(conf)
    readConf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
      proj.toString)
    val nonNull = new Array[Long](geoFields.size)
    val acc = Array.fill(geoFields.size)(
      Array(Double.PositiveInfinity, Double.PositiveInfinity,
        Double.NegativeInfinity, Double.NegativeInfinity))
    val rd = org.apache.parquet.hadoop.ParquetReader
      .builder(new GroupReadSupport(), hPath).withConf(readConf).build()
    try {
      var g = rd.read()
      while (g != null) {
        var i = 0
        while (i < geoFields.size) {
          if (g.getFieldRepetitionCount(i) > 0) {
            nonNull(i) += 1
            WKB.bbox(g.getBinary(i, 0).getBytes).foreach { b =>
              val a = acc(i)
              a(0) = math.min(a(0), b.xmin); a(1) = math.min(a(1), b.ymin)
              a(2) = math.max(a(2), b.xmax); a(3) = math.max(a(3), b.ymax)
            }
          }
          i += 1
        }
        g = rd.read()
      }
    } finally rd.close()
    geoFields.zipWithIndex.map { case (f, i) =>
      val a = acc(i)
      val box = if (a(0).isInfinite || a(1).isInfinite) None
        else Some(GeoBox(a(0), a(1), a(2), a(3)))
      (f, nonNull(i), box)
    }
  }

  /** ORC footer stats: column statistics are indexed in PRE-ORDER over
    * the type tree (index 0 is the root struct), so a nested column
    * occupies a subtree of indexes — top-level field i's index is
    * 1 + sum of preceding fields' subtree sizes, NOT i + 1.
    * Timestamp/decimal/binary min-max are skipped (timezone/representation
    * subtleties) — null/value counts still feed IS NULL pruning. */
  private def orcSubtreeSize(dt: org.apache.spark.sql.types.DataType): Int = dt match {
    case s: StructType => 1 + s.fields.map(f => orcSubtreeSize(f.dataType)).sum
    case a: org.apache.spark.sql.types.ArrayType => 1 + orcSubtreeSize(a.elementType)
    case m: org.apache.spark.sql.types.MapType =>
      1 + orcSubtreeSize(m.keyType) + orcSubtreeSize(m.valueType)
    case _ => 1
  }

  /** returns (file size, per-column stats, stripe start offsets — the
    * ORC analog of parquet split_offsets, for row-group-aligned splits) */
  def readOrc(path: String, conf: Configuration, schema: GSchema,
      writeSchema: StructType): (Long, Map[Int, ColStats], Seq[Long]) = {
    import org.apache.orc.{ColumnStatistics => OStats, _}
    val hPath = new org.apache.hadoop.fs.Path("file://" + GraftIO.toPath(path).toString)
    val reader = OrcFile.createReader(hPath, OrcFile.readerOptions(conf))
    try {
      import scala.jdk.CollectionConverters._
      val stripes = reader.getStripes.asScala
      val stripeOffs =
        if (stripes.size <= 1) Nil else stripes.map(_.getOffset).toSeq
      val rows = reader.getNumberOfRows
      val all = reader.getStatistics
      val byName = schema.fields.map(f => f.name -> f).toMap
      val byField = mutable.Map.empty[Int, ColStats]
      // pre-order index of each top-level field
      val indexes = writeSchema.fields.scanLeft(1) { (idx, sf) =>
        idx + orcSubtreeSize(sf.dataType)
      }
      writeSchema.fields.zipWithIndex.foreach { case (sf, i) =>
        byName.get(sf.name).foreach { field =>
          if (indexes(i) < all.length) {
            val st = all(indexes(i))
            val (lo, hi): (Option[Any], Option[Any]) = (field.tpe, st) match {
              case (GInt, s: IntegerColumnStatistics) =>
                (Some(s.getMinimum.toInt), Some(s.getMaximum.toInt))
              case (GLong, s: IntegerColumnStatistics) =>
                (Some(s.getMinimum), Some(s.getMaximum))
              case (GFloat, s: DoubleColumnStatistics) =>
                (Some(s.getMinimum.toFloat), Some(s.getMaximum.toFloat))
              case (GDouble, s: DoubleColumnStatistics) =>
                (Some(s.getMinimum), Some(s.getMaximum))
              case (GString, s: StringColumnStatistics) =>
                (Option(s.getMinimum), Option(s.getMaximum))
              case (GDate, s: DateColumnStatistics) =>
                (Some(s.getMinimumDayOfEpoch.toInt), Some(s.getMaximumDayOfEpoch.toInt))
              case _ => (None, None)
            }
            val nonNull = st.getNumberOfValues
            // column_sizes: ORC tracks on-disk bytes per column in its
            // statistics (reference OrcMetrics uses getBytesOnDisk too)
            val sz = scala.util.Try(st.getBytesOnDisk).getOrElse(0L)
            if (st.getNumberOfValues >= 0)
              byField(field.id) = ColStats(
                valueCount = Some(rows),
                nullCount = Some(rows - nonNull),
                nanCount = None,
                lower = if (nonNull == 0) None else lo,
                upper = if (nonNull == 0) None else hi,
                sizeBytes = if (sz > 0) Some(sz) else None)
          }
        }
      }
      (GraftIO.size(path), byField.toMap, stripeOffs)
    } finally reader.close()
  }

  private def minMax(statsList: Seq[org.apache.parquet.column.statistics.Statistics[_]],
      t: GType): (Option[Any], Option[Any]) = {
    def conv(v: Any): Option[Any] = (t, v) match {
      case (_, null)                 => None
      case (GString, b: org.apache.parquet.io.api.Binary) =>
        Some(b.toStringUsingUTF8)
      case (GBinary, b: org.apache.parquet.io.api.Binary) => Some(b.getBytes)
      case (GInt | GDate, i: java.lang.Integer)           => Some(i.intValue)
      case (GLong | GTimestamp(_) | GTimestampNs(_), l: java.lang.Long) =>
        Some(l.longValue)
      case (GFloat, f: java.lang.Float)                   => Some(f.floatValue)
      case (GDouble, d: java.lang.Double)                 => Some(d.doubleValue)
      case (GBoolean, b: java.lang.Boolean)               => Some(b.booleanValue)
      // decimal bounds per physical type (int32/int64/fixed/binary) —
      // price-like columns are exactly where min/max pruning pays
      case (GDecimal(_, s), i: java.lang.Integer) =>
        Some(java.math.BigDecimal.valueOf(i.longValue, s))
      case (GDecimal(_, s), l: java.lang.Long) =>
        Some(java.math.BigDecimal.valueOf(l.longValue, s))
      case (GDecimal(_, s), b: org.apache.parquet.io.api.Binary) =>
        Some(new java.math.BigDecimal(new java.math.BigInteger(b.getBytes), s))
      case _                                              => None
    }
    val withVals = statsList.filter(_.hasNonNullValue)
    if (withVals.isEmpty) (None, None)
    else {
      val los = withVals.flatMap(s => conv(s.genericGetMin))
      val his = withVals.flatMap(s => conv(s.genericGetMax))
      if (los.size != withVals.size || his.size != withVals.size) (None, None)
      else (
        los.reduceOption((a, b) => if (TypeComparators.compare(t, a, b) <= 0) a else b),
        his.reduceOption((a, b) => if (TypeComparators.compare(t, a, b) >= 0) a else b))
    }
  }
}
