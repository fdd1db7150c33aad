package graft.spark

import java.util

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.meta._
import graft.core.types.{GBinary, GGeography, GGeometry, GeoDefaults, SparkTypes}

/** Stored procedures: `CALL graft.system.<name>(...)` (reference
  * spark/.../procedures/SparkProcedures.java, 23 procedures; Spark 4 has
  * native ProcedureCatalog + CALL so no parser extension is needed).
  *
  * Snapshot management is metadata-only CAS commits. Maintenance
  * (expire/orphans) computes reachability over the metadata tree on the
  * driver — O(metadata), matching the reference's default; its
  * Spark-job variants only matter past ~256 MB of metadata.
  * rewrite_data_files runs real Spark jobs per file group and commits one
  * atomic replace.
  */
object GraftProcedures extends Serializable {

  val names: Seq[String] = Seq(
    "rollback_to_snapshot", "rollback_to_timestamp", "set_current_snapshot",
    "cherrypick_snapshot", "fast_forward",
    "create_branch", "create_tag", "drop_ref",
    "expire_snapshots", "remove_orphan_files",
    "rewrite_data_files", "rewrite_manifests", "rewrite_position_deletes",
    "compute_table_stats",
    "create_changelog_view", "add_files", "create_view", "drop_view",
    "snapshot_table", "remove_dangling_deletes",
    "add_partition_field", "drop_partition_field",
    "set_identifier_fields", "drop_identifier_fields", "set_geo_type",
    "create_udf", "create_udtf", "drop_udf", "rollback_udf",
    "ancestors_of", "publish_changes", "register_table", "migrate",
    "compute_partition_stats", "rewrite_table_path", "snapshot_delta",
    // reference-registry aliases
    "snapshot", "rewrite_position_delete_files")

  /** Catalog-level property policy threaded from the Spark catalog
    * (reference CatalogProperties TABLE_DEFAULT_PREFIX /
    * TABLE_OVERRIDE_PREFIX and the view twins): applied wherever a
    * procedure CREATES a table (snapshot_table / migrate /
    * snapshot_delta) or view (create_view), so imported tables honor
    * the same policy as CREATE TABLE. register_table adopts an existing
    * metadata document and is deliberately exempt. */
  final case class CatalogPolicy(
      tableDefaults: Map[String, String] = Map.empty,
      tableOverrides: Map[String, String] = Map.empty,
      viewDefaults: Map[String, String] = Map.empty,
      viewOverrides: Map[String, String] = Map.empty) {
    /** defaults under, overrides over the user-supplied properties */
    def table(user: Map[String, String]): Map[String, String] =
      tableDefaults ++ user ++ tableOverrides
  }

  def load(name: String, catalog: HadoopCatalog,
      policy: CatalogPolicy = CatalogPolicy()): Option[UnboundProcedure] =
    if (names.contains(name.toLowerCase))
      Some(new GraftProcedure(name.toLowerCase, catalog, policy))
    else None

  // ---------------------------------------------------------- helpers
  private[spark] def s(v: String): UTF8String = UTF8String.fromString(v)

  private[spark] def row(vs: Any*): InternalRow = new GenericInternalRow(vs.toArray)

  private[spark] def out(schema: StructType, rows: InternalRow*): util.Iterator[Scan] =
    util.List.of[Scan](new GraftSparkTable.GraftLocalScan(schema, rows.toArray)).iterator()

  private[spark] val idResult = StructType(Seq(
    StructField("previous_snapshot_id", LongType),
    StructField("current_snapshot_id", LongType)))

  private[spark] def param(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()
  private[spark] def param(name: String, dt: DataType, dflt: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).defaultValue(dflt).build()

  /** All files reachable from the metadata of `t` (all snapshots). */
  private[spark] def reachableFiles(t: GTable): Set[String] = {
    val m = t.meta
    val out = mutable.Set.empty[String]
    m.snapshots.foreach { sn =>
      out += sn.manifestListPath
      val manifests = try ManifestIO.readList(sn.manifestListPath) catch { case _: Throwable => Nil }
      manifests.foreach { mf =>
        out += mf.path
        try ManifestIO.readEntries(mf).foreach(e => out += e.file.path)
        catch { case _: Throwable => () }
      }
    }
    out.toSet
  }

  private[spark] def walkFiles(dir: String): Seq[String] =
    GraftIO.walkFiles(dir)

  /** register one external parquet file by its footer: record count +
    * column stats, format parquet-nm when the file carries no field ids
    * (shared by add_files and snapshot_delta). `forceNameMapped` pins
    * parquet-nm even when the file DOES carry ids — Delta column-mapping
    * ids are Delta's, not ours, and only the name-mapped read path
    * serves identity-partition constants for the columns Delta keeps
    * out of its data files. */
  private[spark] def importParquetFile(path: String, partition: Seq[Any],
      specId: Int, schema: graft.core.types.GSchema,
      conf: org.apache.hadoop.conf.Configuration,
      forceNameMapped: Boolean = false,
      // column-mapped Delta: the table schema holds the FILE's field
      // ids, so register id-resolved ("parquet-im") — and a mapped file
      // WITHOUT ids genuinely cannot be served (name resolution would
      // look for logical names the file does not store): refuse loudly
      idMapped: Boolean = false): DataFile = {
    val (size, stats, splitOffs) = FooterStats.read(path, conf, schema)
    val hPath = new org.apache.hadoop.fs.Path(
      "file://" + GraftIO.toPath(path).toString)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(hPath, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf, hPath).build())
    val (rows, hasIds) =
      try (r.getRecordCount,
        r.getFooter.getFileMetaData.getSchema.getFields.asScala.forall(_.getId != null))
      finally r.close()
    if (idMapped) {
      require(hasIds,
        s"column-mapped Delta file $path carries no parquet field ids; " +
          "its physical column names cannot be resolved against the " +
          "logical schema — this file cannot be imported faithfully")
      DataFile(path, "parquet-im", specId, partition, rows, size, stats,
        splitOffsets = splitOffs)
    } else
      DataFile(path, if (hasIds && !forceNameMapped) "parquet" else "parquet-nm",
        specId, partition, rows, size, stats, splitOffsets = splitOffs)
  }

  /** per-(spec, partition) partial for compute_partition_stats — merged
    * with reduceByKey so manifest entries never land on the driver */
  private[spark] final case class PartStatsAgg(
      dataRecords: Long, dataFiles: Int, dataBytes: Long,
      posRecords: Long, posFiles: Int, eqRecords: Long, eqFiles: Int,
      dvFiles: Int, allBytes: Long, lastSid: Long, lastTs: Long = 0L) {
    def merge(o: PartStatsAgg): PartStatsAgg = {
      // "last updated" = the entry whose adding snapshot committed most
      // recently (reference PartitionStatsHandler.liveEntry compares
      // timestampMillis — snapshot IDs are random, so max(id) means
      // nothing); ties and unknown timestamps (expired snapshots, ts=0)
      // break deterministically on the id so distributed merge order
      // can't change the result
      val takeOther = o.lastTs > lastTs ||
        (o.lastTs == lastTs && o.lastSid > lastSid)
      PartStatsAgg(
        dataRecords + o.dataRecords, dataFiles + o.dataFiles,
        dataBytes + o.dataBytes, posRecords + o.posRecords,
        posFiles + o.posFiles, eqRecords + o.eqRecords, eqFiles + o.eqFiles,
        dvFiles + o.dvFiles, allBytes + o.allBytes,
        if (takeOther) o.lastSid else lastSid,
        if (takeOther) o.lastTs else lastTs)
    }
  }

  /** Exact-value sidecar checkpoint for incremental
    * compute_partition_stats: the spec parquet file is the EXTERNAL
    * artifact (readable by any engine), but its unified partition struct
    * round-trips through Spark's external types lossily (dates as
    * java.sql.Date vs internal day ordinals, null-vs-absent arity).
    * The sidecar persists the aggregates in graft's internal value
    * encoding (MetaJson typed values — the same codec manifests use),
    * so the next incremental run starts from bit-exact state. Missing
    * or unreadable sidecar ⇒ full recompute. */
  private[spark] def statsCkptPath(statsPath: String): String =
    statsPath.stripSuffix(".parquet") + ".ckpt.json"

  private[spark] def writeStatsCkpt(statsPath: String,
      aggs: Seq[((Int, Seq[Any]), PartStatsAgg)]): Unit = {
    val root = MetaJson.mapper.createObjectNode()
    val arr = root.putArray("stats")
    aggs.foreach { case ((specId, part), a) =>
      val o = arr.addObject()
      o.put("spec", specId)
      val pa = o.putArray("p")
      part.foreach {
        // PartStatsAgg keys normalize Array[Byte] → Seq[Byte] (value
        // equality); the codec stores bytes, the reader re-normalizes
        case bs: Seq[_] =>
          pa.add(MetaJson.writeValue(bs.asInstanceOf[Seq[Byte]].toArray))
        case v => pa.add(MetaJson.writeValue(v))
      }
      o.put("dr", a.dataRecords); o.put("df", a.dataFiles)
      o.put("db", a.dataBytes); o.put("pr", a.posRecords)
      o.put("pf", a.posFiles); o.put("er", a.eqRecords)
      o.put("ef", a.eqFiles); o.put("dv", a.dvFiles)
      o.put("ab", a.allBytes); o.put("ls", a.lastSid)
      o.put("lt", a.lastTs)
    }
    GraftIO.writeString(statsCkptPath(statsPath), root.toString)
  }

  private[spark] def readStatsCkpt(
      statsPath: String): Option[Map[(Int, Seq[Any]), PartStatsAgg]] =
    try {
      val p = statsCkptPath(statsPath)
      if (!GraftIO.exists(p)) None
      else {
        val root = MetaJson.mapper.readTree(GraftIO.readString(p))
        val b = Map.newBuilder[(Int, Seq[Any]), PartStatsAgg]
        root.get("stats").elements().forEachRemaining { o =>
          val part = {
            val vals = Seq.newBuilder[Any]
            o.get("p").elements().forEachRemaining(n =>
              vals += (MetaJson.readValue(n) match {
                case bytes: Array[Byte] => bytes.toSeq
                case v                  => v
              }))
            vals.result()
          }
          b += ((o.get("spec").asInt, part) -> PartStatsAgg(
            o.get("dr").asLong, o.get("df").asInt, o.get("db").asLong,
            o.get("pr").asLong, o.get("pf").asInt, o.get("er").asLong,
            o.get("ef").asInt, o.get("dv").asInt, o.get("ab").asLong,
            // "lt" missing (pre-r15 sidecar) throws here → the outer
            // catch falls back to a full recompute, by design
            o.get("ls").asLong, o.get("lt").asLong))
        }
        Some(b.result())
      }
      // NonFatal only: a malformed/stale sidecar falls back to a full
      // recompute, but OOM / interrupts must propagate, not silently
      // degrade into the expensive path
    } catch { case scala.util.control.NonFatal(_) => None }

  /** ORC footer import (row count from the tail; stats deferred).
    * A file physically carrying every identity-partition column imports
    * as plain "orc"; a hive-layout file whose partition values live only
    * in the directory/metastore imports as "orc-nm" — the read path
    * serves those columns from the task's partition tuple via the same
    * identity-constant fill parquet-nm uses (reference
    * PartitionUtil.constantsMap). */
  private[spark] def importOrcFile(path: String, partition: Seq[Any],
      specId: Int, conf: org.apache.hadoop.conf.Configuration,
      identityCols: Seq[String] = Nil): DataFile = {
    val hPath = new org.apache.hadoop.fs.Path(
      "file://" + GraftIO.toPath(path).toString)
    val r = org.apache.orc.OrcFile.createReader(hPath,
      org.apache.orc.OrcFile.readerOptions(conf))
    val (rows, fieldNames, stripeOffs) =
      try {
        import scala.jdk.CollectionConverters._
        val stripes = r.getStripes.asScala
        (r.getNumberOfRows,
          r.getSchema.getFieldNames.toArray.map(String.valueOf(_)).toSet,
          if (stripes.size <= 1) Nil else stripes.map(_.getOffset).toSeq)
      } finally r.close()
    // case-insensitive on BOTH sides, matching Spark's default ORC
    // name resolution (spark.sql.caseSensitive=false)
    val lowerFields = fieldNames.map(_.toLowerCase)
    val missing = identityCols.filterNot(c =>
      lowerFields.contains(c.toLowerCase))
    DataFile(path, if (missing.nonEmpty) "orc-nm" else "orc",
      specId, partition, rows, GraftIO.size(path), Map.empty,
      splitOffsets = stripeOffs)
  }

  /** Register a batch of external files by footer, DISTRIBUTED past a
    * small threshold: a 100 TB import is millions of footer reads — one
    * driver thread doing them serially is the difference between
    * seconds and hours (reference SparkTableUtil runs its import
    * listing/footer jobs on the cluster the same way). Only the
    * metadata-scale DataFile descriptors return to the driver. */
  private[spark] def importFiles(files: Seq[(String, Seq[Any])], specId: Int,
      schema: graft.core.types.GSchema,
      conf: org.apache.hadoop.conf.Configuration,
      forceNameMapped: Boolean = false,
      idMapped: Boolean = false,
      // identity-partition source names: ORC files missing any of them
      // import as "orc-nm" (constant-filled at read, see importOrcFile)
      orcIdentityCols: Seq[String] = Nil,
      // metastore-declared format for files WITHOUT an extension (a
      // hive-written tree names files part-00000_0): extensions still
      // win so a mixed directory imports per-file
      formatHint: Option[String] = None): Seq[DataFile] = {
    def one(path: String, partition: Seq[Any],
        c: org.apache.hadoop.conf.Configuration): DataFile =
      if (path.endsWith(".orc") ||
          (formatHint.contains("orc") && !path.endsWith(".parquet") &&
            !path.endsWith(".avro")))
        importOrcFile(path, partition, specId, c, orcIdentityCols)
      else if (path.endsWith(".avro") ||
          (formatHint.contains("avro") && !path.endsWith(".parquet"))) {
        // avro import: one scan collects row count + column metrics;
        // columns resolve by name (imported files carry no field ids)
        val (size, rows, stats) = GraftAvro.footerStats(path, schema)
        DataFile(path, "avro", specId, partition, rows, size, stats)
      } else importParquetFile(path, partition, specId, schema, c,
        forceNameMapped, idMapped)
    if (files.size <= 64) files.map { case (p, part) => one(p, part, conf) }
    else {
      val sc = SparkSession.active.sparkContext
      // the SESSION conf ships to executors (SerializableConfiguration):
      // footer reads honor conf-carried settings — parquet modular
      // decryption factories, spark.hadoop.* — identically to the
      // small-batch driver branch
      val sconf = new org.apache.spark.util.SerializableConfiguration(conf)
      sc.parallelize(files, math.max(1, math.min(files.size / 16, 256)))
        .mapPartitions { it =>
          val c = sconf.value
          it.map { case (p, part) => one(p, part, c) }
        }.collect().toSeq
    }
  }

  /** Session-catalog (metastore-backed) import source: resolve `ident`
    * through Spark's V1 session catalog into the CatalogTable plus one
    * (directory, partition-value map) per partition. The METASTORE is
    * authoritative for the partition list and the values — never
    * `col=value` path inference, so non-layout partition locations and
    * typed values import exactly (reference SnapshotTableProcedure +
    * SparkTableUtil.getPartitions). None when `ident` is a path or no
    * such session-catalog table exists (callers fall back to the
    * directory-source behavior). */
  private[spark] def sessionCatalogSource(ident: String)
      : Option[(org.apache.spark.sql.catalyst.catalog.CatalogTable,
                Seq[(String, Map[String, String])])] = {
    if (ident.startsWith("/") || ident.contains("://") ||
        ident.startsWith("file:")) return None
    val spark = SparkSession.active
    val sc = spark.sessionState.catalog
    val ti =
      try spark.sessionState.sqlParser.parseMultipartIdentifier(ident) match {
        case Seq(t1) => org.apache.spark.sql.catalyst.TableIdentifier(t1)
        case Seq(db, t1) =>
          org.apache.spark.sql.catalyst.TableIdentifier(t1, Some(db))
        case Seq(cat, db, t1) if cat.equalsIgnoreCase("spark_catalog") =>
          org.apache.spark.sql.catalyst.TableIdentifier(t1, Some(db))
        case _ => return None
      } catch {
        case _: org.apache.spark.sql.catalyst.parser.ParseException =>
          return None
      }
    if (!sc.tableExists(ti)) return None
    val ct = sc.getTableMetadata(ti)
    def loc(u: Option[java.net.URI], what: String): String = u match {
      case Some(x) if x.getScheme == "file" => x.getPath
      case Some(x)                          => x.toString
      case None => throw new IllegalArgumentException(
        s"session-catalog import: $what of $ident has no location")
    }
    val parts: Seq[(String, Map[String, String])] =
      if (ct.partitionColumnNames.isEmpty)
        Seq((loc(ct.storage.locationUri, "table"), Map.empty))
      else sc.listPartitions(ti).map(p =>
        (loc(p.storage.locationUri, s"partition ${p.spec}"), p.spec))
    Some((ct, parts))
  }

  /** data format of a session-catalog table: datasource provider first,
    * hive input-format/serde class names second */
  private[spark] def catalogFormat(
      ct: org.apache.spark.sql.catalyst.catalog.CatalogTable): String = {
    val p = ct.provider.map(_.toLowerCase).getOrElse("")
    val hive = ct.storage.inputFormat.map(_.toLowerCase).getOrElse("") +
      ct.storage.serde.map(_.toLowerCase).getOrElse("")
    val all = p + " " + hive
    if (all.contains("parquet")) "parquet"
    else if (all.contains("orc")) "orc"
    else if (all.contains("avro")) "avro"
    else throw new UnsupportedOperationException(
      s"cannot import session-catalog table ${ct.identifier}: " +
        s"unsupported format (provider=${ct.provider}, " +
        s"inputFormat=${ct.storage.inputFormat})")
  }

  /** data files under an imported directory: everything except markers
    * (_SUCCESS, hidden files, checksums) — hive-written files often
    * carry no format extension at all */
  private[spark] def dataFilesUnder(dir: String): Seq[String] =
    walkFiles(dir).filter { p =>
      val n = p.substring(p.lastIndexOf('/') + 1)
      !n.startsWith("_") && !n.startsWith(".") && !n.endsWith(".crc")
    }

  /** delete every path in `ds` executor-side; returns the number
    * SUCCESSFULLY deleted (failures are skipped, not counted — the next
    * maintenance run sees them again) */
  private[spark] def deleteDistributed(ds: org.apache.spark.sql.Dataset[String]): Int =
    ds.rdd.mapPartitions { it =>
      var n = 0
      it.foreach { p =>
        try { GraftIO.delete(p); n += 1 } catch { case _: Throwable => () }
      }
      Iterator.single(n)
    }.fold(0)(_ + _)

  /** Commit producer for rewrite_manifests: replaces exactly the source
    * manifests with the compacted ones, merging PER CAS ATTEMPT against
    * the refreshed base so a concurrently added manifest is carried over
    * untouched; if a concurrent commit REWROTE a source manifest (its
    * entries are no longer current), the rewrite is stale and fails
    * instead of resurrecting them (reference BaseRewriteManifests
    * validateDeletedManifests). */
  private[spark] def rewriteManifestsProducer(t: GTable,
      sources: Seq[ManifestFile], written: Seq[ManifestFile]): SnapshotProducer = {
    val sourcePaths = sources.map(_.path).toSet
    new SnapshotProducer(t, "replace") {
      override protected def validate(base: TableMetadata): Unit = {
        val curPaths = parentManifests(base).map(_.path).toSet
        if (!sourcePaths.subsetOf(curPaths))
          throw new CommitConflictException(
            "rewrite_manifests: a source manifest was replaced by a concurrent commit")
      }
      override protected def manifests(base: TableMetadata, snapshotId: Long,
          seq: Long): Seq[ManifestFile] =
        written.map(_.copy(addedSnapshotId = snapshotId)) ++
          parentManifests(base).filterNot(mf => sourcePaths.contains(mf.path))
    }
  }

  /** One rewrite_position_delete_files task: the positions in one
    * partition group's delete `files` (path, format) that still apply to
    * a live data file, by data-file path in sorted order; ORing the
    * bitmaps dedups (file_path, pos). Files are parsed by the scan's
    * `positionsByFile` (and its executor cache) and matched under the
    * read path's rule PER FILE (deletedPositions): a key applies to the
    * live file it names, or to a live file sharing its /data/ suffix when
    * no other key in THIS file shares that suffix. The rule's "no exact
    * key for that live file in this file" is implied: such a key would
    * share the suffix, so by uniqueness it would be this key. Positions are written under the
    * live file's manifest path (`liveByKey`: scheme-stripped path →
    * path; `liveBySuffix`: suffix → the path when only one live file has
    * it): a DV then names a manifest path, and one output never holds a
    * relocated table's old path next to its new one, which would switch
    * off the suffix fallback the old path relies on. */
  private[spark] def mergePositionDeletes(files: Seq[(String, String)],
      liveByKey: Map[String, String], liveBySuffix: Map[String, Option[String]],
      crypto: Option[TableCrypto],
      readers: Map[GraftSparkTable.ReadKey, GraftSparkTable.Reader])
      : mutable.TreeMap[String, org.roaringbitmap.longlong.Roaring64Bitmap] = {
    val kept = mutable.TreeMap.empty[String, org.roaringbitmap.longlong.Roaring64Bitmap]
    files.foreach { case (path, format) =>
      val byFile = GraftSparkTable.positionsByFile(path, format, crypto, readers)
      val sfxCounts = byFile.keys.groupMapReduce(GraftIO.dataSuffix)(_ => 1)(_ + _)
      byFile.foreach { case (k, bm) =>
        val sfx = GraftIO.dataSuffix(k)
        val target =
          if (liveByKey.contains(k)) liveByKey.get(k)
          else if (sfxCounts(sfx) == 1) liveBySuffix.get(sfx).map(_.getOrElse(k))
          else None
        // or() into the merged bitmap only: the parsed ones are cached
        target.foreach(p =>
          kept.getOrElseUpdate(p, new org.roaringbitmap.longlong.Roaring64Bitmap).or(bm))
      }
    }
    kept
  }
}

final class GraftProcedure(pname: String, catalog: HadoopCatalog,
    policy: GraftProcedures.CatalogPolicy = GraftProcedures.CatalogPolicy())
  extends UnboundProcedure with BoundProcedure {

  import GraftProcedures._

  override def name(): String = pname
  override def description(): String = s"graft procedure $pname"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] = pname match {
    case "rollback_to_snapshot" | "set_current_snapshot" | "cherrypick_snapshot" =>
      Array(param("table", StringType), param("snapshot_id", LongType))
    case "rollback_to_timestamp" =>
      Array(param("table", StringType), param("timestamp", TimestampType))
    case "fast_forward" =>
      Array(param("table", StringType), param("branch", StringType),
        param("to", StringType))
    case "create_branch" | "create_tag" | "drop_ref" =>
      Array(param("table", StringType), param("name", StringType),
        param("snapshot_id", LongType, "-1"))
    case "expire_snapshots" =>
      Array(param("table", StringType),
        param("older_than_ms", LongType, s"${Long.MaxValue}"),
        param("retain_last", IntegerType, "1"))
    case "remove_orphan_files" =>
      Array(param("table", StringType), param("dry_run", BooleanType, "false"),
        param("older_than_ms", LongType, "-1"))
    case "rewrite_data_files" =>
      Array(param("table", StringType), param("strategy", StringType, "'binpack'"),
        param("sort_order", StringType, "''"),
        param("target_file_size_bytes", LongType, s"${512L * 1024 * 1024}"),
        param("min_input_files", IntegerType, "2"),
        param("partial_progress_enabled", BooleanType, "false"),
        param("partial_progress_max_commits", IntegerType, "10"),
        param("where", StringType, "''"),
        // reference BinPackRewriteFilePlanner.java:70-72
        // DELETE_FILE_THRESHOLD: a well-sized file qualifies once this
        // many delete files apply to it. Graft's default 1 keeps its
        // long-standing any-delete-qualifies behavior (the reference
        // defaults to MAX_VALUE and relies on separate dangling-delete
        // maintenance); raise it to bound MoR write amplification.
        param("delete_file_threshold", IntegerType, "1"),
        // reference SizeBasedFileRewritePlanner.java:90-97 REWRITE_ALL:
        // the escape hatch that rewrites every selected file regardless
        // of size or delete count
        param("rewrite_all", BooleanType, "false"),
        // reference SizeBasedFileRewritePlanner MIN/MAX_FILE_SIZE
        // (defaults 0.75x / 1.8x of the target): files OUTSIDE the band
        // qualify — undersized ones by count, any oversized one alone
        param("min_file_size_bytes", LongType, "-1"),
        param("max_file_size_bytes", LongType, "-1"))
    case "rewrite_manifests" => Array(param("table", StringType))
    case "rewrite_position_deletes" | "rewrite_position_delete_files" =>
      // reference RewritePositionDeleteFilesSparkAction honors
      // partial-progress.enabled / partial-progress.max-commits: a
      // 100-TB table with millions of delete files must not ride one
      // giant all-or-nothing commit
      Array(param("table", StringType),
        param("partial_progress_enabled", BooleanType, "false"),
        param("partial_progress_max_commits", IntegerType, "10"))
    case "ancestors_of" =>
      Array(param("table", StringType), param("snapshot_id", LongType, "-1"))
    case "publish_changes" =>
      Array(param("table", StringType), param("wap_id", StringType))
    case "register_table" =>
      Array(param("table", StringType), param("metadata_file", StringType))
    case "migrate" =>
      Array(param("source_dir", StringType), param("table", StringType))
    case "compute_partition_stats" =>
      Array(param("table", StringType))
    case "rewrite_table_path" =>
      Array(param("table", StringType), param("source_prefix", StringType),
        param("target_prefix", StringType),
        param("staging_location", StringType, "''"))
    case "compute_table_stats" =>
      Array(param("table", StringType))
    case "create_changelog_view" =>
      Array(param("table", StringType),
        param("changelog_view", StringType, "''"),
        param("identifier_columns", StringType, "''"),
        param("net_changes", BooleanType, "false"))
    case "add_files" =>
      // reference AddFilesProcedure parameter order
      Array(param("table", StringType), param("source_dir", StringType),
        param("partition_filter",
          org.apache.spark.sql.types.MapType(StringType, StringType), "NULL"),
        param("check_duplicate_files", BooleanType, "true"))
    case "snapshot_table" | "snapshot" =>
      Array(param("source_dir", StringType), param("table", StringType),
        param("properties",
          org.apache.spark.sql.types.MapType(StringType, StringType), "NULL"))
    case "snapshot_delta" =>
      Array(param("source_dir", StringType), param("table", StringType))
    case "remove_dangling_deletes" =>
      Array(param("table", StringType))
    case "add_partition_field" =>
      Array(param("table", StringType), param("transform", StringType),
        param("column", StringType), param("name", StringType, "''"))
    case "drop_partition_field" =>
      Array(param("table", StringType), param("name", StringType))
    case "set_identifier_fields" =>
      Array(param("table", StringType), param("columns", StringType))
    case "set_geo_type" =>
      Array(param("table", StringType), param("column", StringType),
        param("type", StringType))
    case "create_udf" =>
      Array(param("function", StringType), param("parameters", StringType),
        param("returns", StringType), param("sql", StringType),
        param("replace", BooleanType, "false"),
        param("deterministic", BooleanType, "true"),
        param("on_null_input", StringType, "'call'"))
    case "create_udtf" =>
      Array(param("function", StringType), param("parameters", StringType),
        param("sql", StringType), param("replace", BooleanType, "false"))
    case "drop_udf" =>
      Array(param("function", StringType))
    case "rollback_udf" =>
      Array(param("function", StringType), param("definition_id", StringType),
        param("version_id", IntegerType))
    case "drop_identifier_fields" =>
      Array(param("table", StringType))
    case "create_view" =>
      Array(param("view", StringType), param("sql", StringType),
        param("replace", BooleanType, "false"))
    case "drop_view" =>
      Array(param("view", StringType))
    case other => throw new IllegalArgumentException(other)
  }

  private def splitFunctionName(nameArg: String): (Seq[String], String) = {
    val parts = nameArg.split("\\.").toSeq
    if (parts.length >= 2) (parts.init, parts.last) else (Seq("db"), parts.head)
  }

  /** SQL type aliases → udf-spec canonical names (spec stores Iceberg
    * type-JSON names: long not bigint, int not integer, …). */
  private def canonicalTypeName(t: String): String = t.toLowerCase match {
    case "bigint"                            => "long"
    case "integer" | "smallint" | "tinyint"  => "int"
    case "bool"                              => "boolean"
    case "real"                              => "float"
    case "varchar" | "text"                  => "string"
    case other                               => other
  }

  /** split "x int, y decimal(9,2)" on top-level commas only */
  private def splitTopLevel(s0: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    s0.foreach {
      case ',' if depth == 0 => out += cur.result(); cur.clear()
      case c =>
        if (c == '(' || c == '<') depth += 1
        else if (c == ')' || c == '>') depth -= 1
        cur += c
    }
    if (cur.nonEmpty) out += cur.result()
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  private def loadTable(nameArg: String): GTable = {
    val parts = nameArg.split("\\.").toSeq
    val (ns, tbl) =
      if (parts.length >= 2) (parts.init, parts.last) else (Seq("db"), parts.head)
    catalog.loadTable(ns, tbl).getOrElse(
      throw new IllegalArgumentException(s"no such table: $nameArg"))
  }

  /** Re-apply an (append) snapshot's added files on top of the current
    * head (reference CherryPickOperation; non-append picks need full
    * conflict analysis and are rejected). Returns (previous, new) ids. */
  private def cherryPick(t: GTable, snapId: Long,
      extraSummary: Map[String, String] = Map.empty): (Long, Long) = {
    val snap = t.meta.snapshotById(snapId).getOrElse(
      throw new IllegalArgumentException(s"unknown snapshot $snapId"))
    require(snap.operation == "append", s"can only cherry-pick appends, got ${snap.operation}")
    val added = ManifestIO.addedEntries(snap).map(_.file)
    val prev = t.meta.currentSnapshot.map(_.snapshotId).getOrElse(-1L)
    val ap = t.newAppend().appendFiles(added)
    extraSummary.foreach { case (k, v) => ap.set(k, v) }
    (prev, ap.commit().snapshotId)
  }

  override def call(input: InternalRow): util.Iterator[Scan] = pname match {

    // ------------------------------------------------ snapshot management
    case "rollback_to_snapshot" | "set_current_snapshot" =>
      val t = loadTable(input.getUTF8String(0).toString)
      val prev = t.meta.currentSnapshot.map(_.snapshotId).getOrElse(-1L)
      t.rollbackTo(input.getLong(1))
      out(idResult, row(prev, input.getLong(1)))

    case "rollback_to_timestamp" =>
      val t = loadTable(input.getUTF8String(0).toString)
      val tsMs = input.getLong(1) / 1000L
      val snap = t.meta.snapshotAsOfTime(tsMs).getOrElse(
        throw new IllegalArgumentException(s"no snapshot as of $tsMs"))
      val prev = t.meta.currentSnapshot.map(_.snapshotId).getOrElse(-1L)
      t.rollbackTo(snap.snapshotId)
      out(idResult, row(prev, snap.snapshotId))

    case "cherrypick_snapshot" =>
      val t = loadTable(input.getUTF8String(0).toString)
      val (prev, ns) = cherryPick(t, input.getLong(1))
      out(idResult, row(prev, ns))

    case "publish_changes" =>
      // publish a stage-only WAP snapshot by its wap.id: cherry-pick it
      // onto main, refusing double-publish (reference PublishChangesProcedure
      // + CherryPickOperation wap-id dedup)
      val t = loadTable(input.getUTF8String(0).toString)
      val wapId = input.getUTF8String(1).toString
      val staged = t.meta.snapshots.find(_.summary.get("wap.id").contains(wapId))
        .getOrElse(throw new IllegalArgumentException(s"no snapshot with wap.id $wapId"))
      val published = t.meta.ancestry("main").exists(sn =>
        sn.summary.get("published-wap-id").contains(wapId) ||
          (sn.snapshotId != staged.snapshotId && sn.summary.get("wap.id").contains(wapId)))
      require(!published && !t.meta.ancestry("main").exists(_.snapshotId == staged.snapshotId),
        s"wap.id $wapId already published")
      val (prev, ns) = cherryPick(t, staged.snapshotId,
        Map("wap.id" -> wapId, "published-wap-id" -> wapId))
      out(idResult, row(prev, ns))

    case "fast_forward" =>
      val t = loadTable(input.getUTF8String(0).toString)
      val branch = input.getUTF8String(1).toString
      val to = input.getUTF8String(2).toString
      val target = t.meta.ref(to).map(_.snapshotId)
        .orElse(to.toLongOption.filter(id => t.meta.snapshotById(id).isDefined))
        .getOrElse(throw new IllegalArgumentException(s"unknown ref $to"))
      val prev = t.meta.ref(branch).map(_.snapshotId).getOrElse(-1L)
      if (branch == "main") t.rollbackTo(target)
      else t.setRef(branch, target, SnapshotRefType.Branch)
      out(idResult, row(prev, target))

    // ----------------------------------------------------- branches / tags
    case "create_branch" | "create_tag" =>
      val t = loadTable(input.getUTF8String(0).toString)
      val refName = input.getUTF8String(1).toString
      val snapId = input.getLong(2) match {
        case -1L => t.meta.currentSnapshot.map(_.snapshotId).getOrElse(
          throw new IllegalArgumentException("table has no snapshots"))
        case id  => id
      }
      val kind = if (pname == "create_branch") SnapshotRefType.Branch else SnapshotRefType.Tag
      t.setRef(refName, snapId, kind)
      out(StructType(Seq(StructField("name", StringType), StructField("snapshot_id", LongType))),
        row(s(refName), snapId))

    case "drop_ref" =>
      val t = loadTable(input.getUTF8String(0).toString)
      val refName = input.getUTF8String(1).toString
      t.commitUpdate(base => base.copy(refs = base.refs - refName))
      out(StructType(Seq(StructField("name", StringType))), row(s(refName)))

    // ------------------------------------------------------- maintenance
    case "expire_snapshots" =>
      val t = loadTable(input.getUTF8String(0).toString)
      val olderThan = input.getLong(1)
      val retainLast = input.getInt(2)
      val now = System.currentTimeMillis()
      // retire refs past their max-ref-age first (reference RemoveSnapshots
      // ref expiry; age measured from the head snapshot's commit time)
      val agedOut = t.meta.refs.collect {
        case (name, r) if name != "main" && r.maxRefAgeMs.exists(a =>
          t.meta.snapshotById(r.snapshotId).exists(_.timestampMs < now - a)) => name
      }.toSet
      if (agedOut.nonEmpty)
        t.commitUpdate(base => base.copy(refs = base.refs -- agedOut))
      val m = t.meta
      val referenced = m.refs.values.map(_.snapshotId).toSet ++
        m.currentSnapshotId.toSet
      val byTime = m.snapshots.sortBy(_.timestampMs)
      val keepLast = byTime.takeRight(retainLast).map(_.snapshotId).toSet
      // per-branch retention: each branch protects its last
      // min-snapshots-to-keep ancestors plus ancestors younger than
      // max-snapshot-age-ms (reference branch snapshot retention)
      val branchKeep = m.refs.collect {
        case (name, r) if r.refType == SnapshotRefType.Branch =>
          val anc = m.ancestry(name)
          val latest = anc.sortBy(-_.sequenceNumber)
          val byCount = latest.take(r.minSnapshotsToKeep.getOrElse(1)).map(_.snapshotId)
          val byAge = r.maxSnapshotAgeMs.toSeq.flatMap(a =>
            anc.filter(_.timestampMs >= now - a).map(_.snapshotId))
          byCount ++ byAge
      }.flatten.toSet
      val (kept, expired) = m.snapshots.partition(sn =>
        referenced(sn.snapshotId) || keepLast(sn.snapshotId) ||
          branchKeep(sn.snapshotId) || sn.timestampMs >= olderThan)
      if (expired.isEmpty) {
        out(StructType(Seq(StructField("deleted_snapshots", IntegerType),
          StructField("deleted_files", IntegerType))), row(0, 0))
      } else {
        val beforeSnaps = m.snapshots
        val expiredIds = expired.map(_.snapshotId).toSet
        // statistics files attached to expired snapshots go with them
        val expiredStats = t.meta.statistics.filter(sf => expiredIds(sf.snapshotId))
        val expiredPartStats =
          t.meta.partitionStatistics.filter(sf => expiredIds(sf.snapshotId))
        t.commitUpdate { base =>
          base.copy(
            snapshots = base.snapshots.filterNot(sn => expiredIds(sn.snapshotId)),
            snapshotLog = base.snapshotLog.filterNot { case (_, id) => expiredIds(id) },
            statistics = base.statistics.filterNot(sf => expiredIds(sf.snapshotId)),
            partitionStatistics = base.partitionStatistics
              .filterNot(sf => expiredIds(sf.snapshotId)))
        }
        (expiredStats.map(_.path) ++ expiredPartStats.map(_.path) ++
          // incremental-compute checkpoint sidecars retire with their
          // stats files
          expiredPartStats.map(sf => GraftProcedures.statsCkptPath(sf.path)))
          .foreach(p => try GraftIO.delete(p) catch { case _: Throwable => () })
        // Reachability diff at MANIFEST granularity first (shared
        // manifests need no reading at all), then a distributed except
        // over entries of only the dropped vs surviving manifests
        // (reference ExpireSnapshotsSparkAction) — the driver never holds
        // the full file list
        val afterSnaps = t.meta.snapshots
        def manifestsOf(snaps: Seq[Snapshot]): Seq[ManifestFile] =
          snaps.flatMap(sn => try ManifestIO.readList(sn.manifestListPath)
              catch { case _: Throwable => Nil })
            .groupBy(_.path).map(_._2.head).toSeq
        val beforeMfs = manifestsOf(beforeSnaps)
        val afterMfs = manifestsOf(afterSnaps)
        val afterMfPaths = afterMfs.map(_.path).toSet
        val droppedMfs = beforeMfs.filterNot(mf => afterMfPaths(mf.path))
        val metaDelete =
          (beforeSnaps.map(_.manifestListPath).toSet --
            afterSnaps.map(_.manifestListPath).toSet) ++ droppedMfs.map(_.path)
        val spark = SparkSession.active
        import spark.implicits._
        // LIVE entries only on BOTH sides (reference ManifestFiles
        // .readPaths → liveEntries, used by ReachableFileCleanup for the
        // candidate AND protection sets): a status=2 Deleted marker in a
        // retained manifest must NOT protect the removed file from
        // cleanup — with markers now written by row-level commits, a
        // marker-protected file would leak on disk until the marker
        // manifest itself is rewritten
        def entryPathsDs(mfs: Seq[ManifestFile]) =
          if (mfs.isEmpty) spark.emptyDataset[String]
          else spark.sparkContext
            .parallelize(mfs, math.max(1, math.min(mfs.size, 64)))
            .flatMap(mf => try ManifestIO.readEntries(mf).filter(_.isLive)
                .flatMap(e => e.file.path +: e.file.referencedDataFile.toSeq)
              catch { case _: Throwable => Nil })
            .toDS()
        // data-file deletion runs executor-side: an expiry at 100 TB can
        // unreference millions of files, and a driver loop over them is
        // the slowest possible shape; only the COUNT crosses back
        val dataDeleted = GraftProcedures.deleteDistributed(
          entryPathsDs(droppedMfs).toDF("p")
            .except(entryPathsDs(afterMfs).toDF("p")).as[String])
        // manifest lists + manifests: O(snapshots) paths, driver-side
        metaDelete.foreach(p => try GraftIO.delete(p) catch { case _: Throwable => () })
        out(StructType(Seq(StructField("deleted_snapshots", IntegerType),
          StructField("deleted_files", IntegerType))),
          row(expired.size, metaDelete.size + dataDeleted))
      }

    case "remove_orphan_files" =>
      val t = loadTable(input.getUTF8String(0).toString)
      val dryRun = input.getBoolean(1)
      // age threshold: files written by an in-flight, not-yet-committed
      // write look exactly like orphans — only delete files older than
      // the cutoff (reference defaults to 3 days for this reason)
      val olderThanMs = input.getLong(2) match {
        case -1L => System.currentTimeMillis() - 3L * 24 * 3600 * 1000
        case v   => v
      }
      // Both sides of the diff run as Spark jobs (reference
      // DeleteOrphanFilesSparkAction): at 100 TB the data tree holds
      // millions of files and the metadata hundreds of thousands of
      // manifest entries — neither list may materialize on the driver.
      val spark = SparkSession.active
      val sc = spark.sparkContext
      import spark.implicits._
      // reachable data/delete paths: manifest LISTS are read on the
      // driver (one small file per snapshot); entry reads fan out per
      // manifest
      val mfs = t.meta.snapshots
        .flatMap(s => try ManifestIO.readList(s.manifestListPath)
          catch { case _: Throwable => Nil })
        .groupBy(_.path).map(_._2.head).toSeq
      val reachableDs =
        if (mfs.isEmpty) spark.emptyDataset[String]
        else sc.parallelize(mfs, math.max(1, math.min(mfs.size, 64)))
          .flatMap(mf => try ManifestIO.readEntries(mf).flatMap(e =>
              e.file.path +: e.file.referencedDataFile.toSeq)
            catch { case _: Throwable => Nil })
          .toDS()
      // actual files: one driver readdir of data/, then each first-level
      // entry (partition directory or file) walks in its own task
      val dataDir = s"${t.location}/data"
      val firstLevel: Seq[String] = {
        val p = GraftIO.toPath(dataDir)
        if (!java.nio.file.Files.exists(p)) Nil
        else {
          val st = java.nio.file.Files.list(p)
          try st.iterator().asScala.map(_.toString).toSeq finally st.close()
        }
      }
      val actualDs =
        if (firstLevel.isEmpty) spark.emptyDataset[String]
        else sc.parallelize(firstLevel, math.max(1, math.min(firstLevel.size, 64)))
          .flatMap { p0 =>
            val path = GraftIO.toPath(p0)
            if (java.nio.file.Files.isRegularFile(path)) Seq(p0)
            else GraftProcedures.walkFiles(p0)
          }
          // hidden files (.crc checksums, _SUCCESS markers) are never
          // orphans (reference HiddenPathFilter); the age filter runs
          // executor-side next to the listing
          .filter { p =>
            val n = GraftIO.toPath(p).getFileName.toString
            !n.startsWith(".") && !n.startsWith("_") &&
              (try java.nio.file.Files.getLastModifiedTime(GraftIO.toPath(p))
                .toMillis < olderThanMs
              catch { case _: Throwable => false })
          }
          .toDS()
      // metadata-dir orphans: failed/conflicted rewrite_manifests and
      // staged RTAS attempts write manifests + manifest lists to final
      // metadata/ paths before the CAS, so losers leave files no
      // snapshot references (reference orphan cleanup scans the whole
      // table location, not just data/). Reachable = every snapshot's
      // manifest list + manifests + statistics files; version files and
      // the hint are the commit log itself and are always kept.
      val metaReachableDs = (
        t.meta.snapshots.map(_.manifestListPath) ++
        mfs.map(_.path) ++
        t.meta.statistics.map(_.path) ++
        t.meta.partitionStatistics.map(_.path) ++
        // each stats file's incremental checkpoint sidecar is live
        // engine state (seed of the next incremental compute), not junk
        t.meta.partitionStatistics.map(f =>
          GraftProcedures.statsCkptPath(f.path)) ++
        t.meta.properties.get("partition-stats-path").toSeq).toDS()
      val metaDir = s"${t.location}/metadata"
      val metaFirst: Seq[String] = {
        val p = GraftIO.toPath(metaDir)
        if (!java.nio.file.Files.exists(p)) Nil
        else {
          val st = java.nio.file.Files.list(p)
          try st.iterator().asScala.map(_.toString).toSeq finally st.close()
        }
      }
      val metaActualDs =
        if (metaFirst.isEmpty) spark.emptyDataset[String]
        else sc.parallelize(metaFirst, math.max(1, math.min(metaFirst.size, 64)))
          .flatMap { p0 =>
            val path = GraftIO.toPath(p0)
            if (java.nio.file.Files.isRegularFile(path)) Seq(p0)
            else GraftProcedures.walkFiles(p0)
          }
          .filter { p =>
            val n = GraftIO.toPath(p).getFileName.toString
            !n.startsWith(".") && !n.startsWith("_") &&
              !n.endsWith(".metadata.json") && n != "version-hint.text" &&
              (try java.nio.file.Files.getLastModifiedTime(GraftIO.toPath(p))
                .toMillis < olderThanMs
              catch { case _: Throwable => false })
          }
          .toDS()
      // the orphan set can be huge (that is the point of the procedure):
      // delete executor-side, return only the count of files actually
      // removed (an undeletable orphan is NOT reported as cleaned up)
      val orphansDs = actualDs.toDF("p").union(metaActualDs.toDF("p"))
        .except(reachableDs.toDF("p").union(metaReachableDs.toDF("p")))
        .as[String]
      val orphanCount =
        if (dryRun) orphansDs.count().toInt
        else GraftProcedures.deleteDistributed(orphansDs)
      out(StructType(Seq(StructField("orphan_file_count", IntegerType))),
        row(orphanCount))

    case "rewrite_data_files" =>
      RewriteDataFiles.run(loadTable(input.getUTF8String(0).toString),
        input.getUTF8String(1).toString, input.getUTF8String(2).toString,
        input.getLong(3), input.getInt(4),
        partialProgress = input.getBoolean(5),
        maxCommits = input.getInt(6),
        where = input.getUTF8String(7).toString,
        deleteFileThreshold = input.getInt(8),
        rewriteAll = input.getBoolean(9),
        minFileSizeBytes = input.getLong(10),
        maxFileSizeBytes = input.getLong(11))

    case "rewrite_manifests" =>
      // Re-cluster live entries into partition-range-clustered manifests
      // of bounded size, written DISTRIBUTED (reference
      // RewriteManifestsSparkAction): entries sort globally by
      // (spec, content, partition) — range partitioning keeps each output
      // manifest's partition summaries tight for manifest-level pruning —
      // and each task rolls manifests at the target entry count. The
      // driver only collects the ManifestFile descriptors; the commit
      // stamps the real snapshot id into them per attempt, so a CAS retry
      // never re-runs the job.
      val t = loadTable(input.getUTF8String(0).toString)
      val m = t.meta
      val snap = m.currentSnapshot.getOrElse(
        throw new IllegalArgumentException("table has no snapshots"))
      val manifests = ManifestIO.readList(snap.manifestListPath)
      val spark = SparkSession.active
      val sc = spark.sparkContext
      val location = t.location
      val specsById = m.specs.map(s0 => s0.specId -> s0).toMap
      val schema = m.schema
      val targetEntries = m.properties
        .get("commit.manifest.target-entries").flatMap(_.toIntOption)
        .getOrElse(8192)
      // primary roll criterion is the reference's byte target
      // (commit.manifest.target-size-bytes, RewriteManifestsSparkAction
      // targetManifestSizeBytes); target-entries stays as a hard cap
      val targetBytes = graft.core.meta.ManifestMerge
        .targetSizeBytes(m.properties)
      val mfGzip = GraftIO.metadataGzip(m.properties)
      val mfAvro = ManifestIO.avroEnabled(m.properties)
      val mfExt = ManifestIO.fileExt(m.properties)
      val mfFormatVersion = m.formatVersion
      // runs on executors: the resolved table key ships in the closure
      // (registry state is driver-local)
      val mfCrypto = graft.core.meta.TableCrypto.resolve(m)
      val written: Seq[ManifestFile] =
        if (manifests.isEmpty) Nil
        else sc.parallelize(manifests, math.max(1, math.min(manifests.size, 64)))
          .flatMap(mf => ManifestIO.readEntries(mf, mfCrypto).filter(_.isLive).map { e =>
            // keep original sequence numbers via Existing status
            val kept = e.copy(status = ManifestEntryStatus.Existing)
            ((mf.specId, mf.content, kept.file.partition.map {
              case b: Array[Byte] => b.toSeq.toString
              case x              => String.valueOf(x)
            }.mkString("/")), kept)
          })
          .sortBy(_._1)
          .mapPartitions { it =>
            val outMfs = Seq.newBuilder[ManifestFile]
            var curKey: (Int, Int) = null
            var bufBytes = 0L
            val buf = scala.collection.mutable.ArrayBuffer.empty[ManifestEntry]
            def flush(): Unit = if (buf.nonEmpty) {
              val (specId, content) = curKey
              val path =
                s"$location/metadata/manifest-${java.util.UUID.randomUUID}.$mfExt"
              outMfs += ManifestIO.write(path, buf.toSeq, specId, content,
                specsById(specId), schema, snapshotId = 0L, gzip = mfGzip,
                crypto = mfCrypto, avro = mfAvro, formatVersion = mfFormatVersion)
              buf.clear(); bufBytes = 0L
            }
            it.foreach { case ((specId, content, _), e) =>
              if (curKey != (specId, content) || buf.size >= targetEntries ||
                bufBytes >= targetBytes) {
                flush(); curKey = (specId, content)
              }
              buf += e
              bufBytes += ManifestIO.estimateEntrySize(e)
            }
            flush()
            outMfs.result().iterator
          }
          .collect().toSeq
      // the commit merges per attempt against the REFRESHED base: the
      // compacted manifests replace exactly the source manifests, and any
      // manifest a concurrent commit added in the meantime is carried
      // over untouched. If a concurrent commit REWROTE one of the source
      // manifests (entries no longer current), the rewrite is stale and
      // must fail instead of resurrecting them (reference
      // BaseRewriteManifests validateDeletedManifests).
      val ns = rewriteManifestsProducer(t, manifests, written).commit()
      out(StructType(Seq(StructField("rewritten_manifests_count", IntegerType),
        StructField("added_manifests_count", IntegerType))),
        row(manifests.size, ManifestIO.readList(ns.manifestListPath).size))

    case "rewrite_position_deletes" | "rewrite_position_delete_files" =>
      // Compact position-delete files: merge all live delete files per
      // partition into one, dropping positions that reference dead data
      // files (reference RewritePositionDeleteFilesSparkAction). The new
      // delete file's higher sequence number keeps it applicable to every
      // data file the originals covered. One Spark job per commit batch,
      // one task per partition group (mergePositionDeletes): the task
      // merges its group's files in memory and writes the output, and
      // only file descriptors come back.
      val t = loadTable(input.getUTF8String(0).toString)
      val spark = SparkSession.active
      val scanSnap = t.meta.currentSnapshot.map(_.snapshotId)
      val manifests = t.meta.currentSnapshot
        .map(sn => ManifestIO.readList(sn.manifestListPath)).getOrElse(Nil)
      val liveData = manifests.filter(_.content == 0)
        .flatMap(mf => ManifestIO.readEntries(mf).filter(_.isLive))
        .map(_.file.path).toSet
      val delFiles = manifests.filter(_.content == 1)
        .flatMap(mf => ManifestIO.readEntries(mf).filter(_.isLive))
        .map(_.file)
        .filter(_.content == FileContent.PositionDeletes)
      val groups = delFiles.groupBy(f => (f.specId, f.partition.map {
        case b: Array[Byte] => b.toSeq
        case x              => x
      }))
      val rewritable = groups.filter { case (_, fs) => fs.size >= 2 ||
        fs.exists(f => f.referencedDataFile.exists(p => !liveData.contains(p))) }
      if (rewritable.isEmpty) {
        out(StructType(Seq(StructField("rewritten_delete_files_count", IntegerType),
          StructField("added_delete_files_count", IntegerType))), row(0, 0))
      } else {
        // everything the tasks need, built once before the job: the live
        // data paths under both matching keys, the scan's delete readers
        // and the DML delete writer's delete-file output
        val liveByKey = liveData.map(p => GraftIO.stripScheme(p) -> p).toMap
        val liveBySuffix = liveData.toSeq.groupBy(GraftIO.dataSuffix).map {
          case (sfx, ps) => sfx -> (if (ps.size == 1) ps.headOption else None)
        }
        val crypto = graft.core.meta.TableCrypto.resolve(t.meta)
        val readConf = spark.sessionState.newHadoopConfWithOptions(Map.empty)
        readConf.setBoolean("spark.sql.parquet.fieldId.read.enabled", true)
        GraftParquetCrypto.configure(readConf, t.meta)
        val readers = GraftSparkTable.deleteReaders(spark, readConf,
          delFiles.filterNot(f => DVIO.isDV(f.path))
            .map(f => GraftSparkTable.ReadKey.positionDeletes(f.format)).distinct,
          SparkTypes.toSparkSchema(t.schema))
        // spec v3: "Position delete files must not be added to v3
        // tables … existing position deletes must be written to delete
        // vectors" — on v3 (or write.delete.format=dv) the compaction
        // OUTPUT is one DV per referenced data file
        val dvMode = t.meta.formatVersion >= 3 ||
          t.meta.properties.get("write.delete.format").contains("dv")
        val deletes =
          if (dvMode) null
          else DeleteOutput(spark, t, GraftDeltaWriter.DeleteSchema,
            GraftDeltaWriter.DeleteGSchema, "parquet")
        val loc = t.location
        // partial progress (reference partial-progress.enabled/
        // max-commits): deterministic group order → stable batches; each
        // batch commits separately and validates from the PREVIOUS commit,
        // so a mid-run failure keeps everything already committed and a
        // failed batch forfeits only its own groups (its uncommitted
        // outputs become orphans for remove_orphan_files)
        val partialProgress = input.getBoolean(1)
        val maxCommits = math.max(1, input.getInt(2))
        val groupSeq = rewritable.toSeq.sortBy { case ((specId, key), _) =>
          (specId, key.map(String.valueOf).mkString("\u0000")) }
        val doPartial = partialProgress && groupSeq.size > 1
        val batchSize =
          if (doPartial)
            math.max(1, math.ceil(groupSeq.size.toDouble / maxCommits).toInt)
          else groupSeq.size
        var validateFrom = scanSnap
        var rewrittenTotal = 0
        var addedTotal = 0
        var batchIdx = 0
        var lastFailure: Throwable = null
        groupSeq.grouped(batchSize).foreach { batch => try {
        batchIdx += 1
        val tasks = batch.map { case ((specId, _), fs) =>
          (specId, fs.head.partition, fs.map(f => (f.path, f.format))) }
        val written = spark.sparkContext.parallelize(tasks, tasks.size)
          .map { case (specId, partition, files) =>
            val ctx = org.apache.spark.TaskContext.get()
            val kept = mergePositionDeletes(files, liveByKey, liveBySuffix,
              crypto, readers)
            if (dvMode) kept.toSeq.map { case (dataPath, bm) =>
              GraftDeltaWriter.writeDV(loc, ctx.partitionId(),
                ctx.taskAttemptId(), specId, partition, dataPath, DVIO.positions(bm), crypto)
            }
            else if (kept.isEmpty) Nil
            else {
              val dels = mutable.ArrayBuffer.empty[(String, Long)]
              kept.foreach { case (dataPath, bm) =>
                DVIO.positions(bm).foreach(p => dels += ((dataPath, p))) }
              Seq(GraftDeltaWriter.writeDeleteFile(deletes,
                ctx.partitionId(), ctx.taskAttemptId(), specId, partition, dels))
            }
          }.collect()
        val oldPaths = batch.flatMap(_._2.map(_.path))
        val rawNew = batch.zip(written).flatMap { case ((_, fs), out) =>
          // a parquet output names one data file only when every source
          // did and they agree (the sources' rule, not the content's)
          val refs = fs.flatMap(_.referencedDataFile).distinct
          val ref = if (refs.size == 1 && fs.forall(_.referencedDataFile.isDefined))
            Some(refs.head) else None
          if (dvMode) out else out.map(_.copy(referencedDataFile = ref))
        }
        // cross-group DV dedupe: the rewrite groups by (specId, partition),
        // so one data file whose deletes span partition-spec versions can
        // surface in two groups and get two DVs — union them here so the
        // commit upholds v3's one-DV-per-data-file invariant (the commit
        // path's mergeDVs only merges against PRIOR snapshots' vectors)
        val (dvNew, restNew) = rawNew.partition(f =>
          DVIO.isDV(f.path) && f.referencedDataFile.isDefined)
        val dedupedDv = dvNew.groupBy(_.referencedDataFile.get).map {
          case (_, fs) if fs.size == 1 => fs.head
          case (ref, fs) =>
            val bm = new org.roaringbitmap.longlong.Roaring64Bitmap
            fs.foreach(f => bm.or(DVIO.read(f.path, crypto)._2))
            val merged = GraftDeltaWriter.writeDV(loc, 0, 0L, fs.head.specId,
              fs.head.partition, ref, DVIO.positions(bm), crypto)
            fs.foreach(f =>
              try GraftIO.delete(f.path) catch { case scala.util.control.NonFatal(_) => () })
            merged
        }.toSeq
        val finalNew = restNew ++ dedupedDv
        // TEST FAILPOINT (fault-injection seam, set only by tests): lets a
        // spec prove a mid-run batch failure leaves earlier batch commits
        // intact — the conflict/IO failures this models can't be staged
        // deterministically from SQL
        if (sys.props.get("graft.test.rpd.failBatch")
            .flatMap(_.toIntOption).contains(batchIdx))
          throw new RuntimeException(s"injected failure in batch $batchIdx")
        val ow = t.newOverwrite().deleteFiles(oldPaths)
          .addFiles(finalNew).overrideOperation("replace")
        validateFrom.foreach(ow.validateFromSnapshot)
        val snap = ow.commit()
        validateFrom = Some(snap.snapshotId)
        rewrittenTotal += oldPaths.size
        addedTotal += finalNew.size
        } catch {
          // partial progress: a failed batch forfeits only its own
          // groups. NonFatal only — an OOM/interrupt must not keep the
          // loop limping through a broken JVM.
          case scala.util.control.NonFatal(e) if doPartial =>
            lastFailure = e
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"rewrite_position_deletes batch $batchIdx failed, " +
                s"forfeiting ${batch.size} groups", e)
        }}
        // EVERY batch failing is a failed action, not a quiet (0, 0) —
        // the caller must be able to tell total failure from nothing-to-do
        if (rewrittenTotal == 0 && addedTotal == 0 && lastFailure != null)
          throw lastFailure
        out(StructType(Seq(StructField("rewritten_delete_files_count", IntegerType),
          StructField("added_delete_files_count", IntegerType))),
          row(rewrittenTotal, addedTotal))
      }

    case "compute_table_stats" =>
      // NDV per column of the live rows; stored as table
      // properties feeding SupportsReportStatistics (reference
      // ComputeTableStatsSparkAction + Puffin theta sketches)
      val t = loadTable(input.getUTF8String(0).toString)
      val liveTasks = t.newScan().planFiles()
      if (liveTasks.isEmpty) {
        // no live data files: nothing to analyze
        return out(StructType(Seq(StructField("columns_analyzed", IntegerType))), row(0))
      }
      val fields = t.schema.fields
        .filter(f => f.tpe.isPrimitive && f.tpe != graft.core.types.GVariant)
      if (fields.nonEmpty) {
        // one pass computes a COMPACT THETA SKETCH per column (reference
        // ComputeTableStatsSparkAction + NDVSketchUtil → DataSketches;
        // graft.functions.ThetaNdvAgg): map-side bounded KMV
        // accumulators, merged on the driver — the sketch bytes are what
        // genuine Iceberg readers consume, the estimate feeds CBO props.
        // The live rows of the current snapshot come from the table's own
        // scan: deletes masked, imported files' identity-partition
        // columns filled from their partition tuples.
        val cols = fields.map(_.name)
        import org.apache.spark.sql.functions.col
        val r = GraftSparkTable.readTasks(t, liveTasks).select(fields.map(f =>
          graft.functions.ThetaFunctions
            .thetaNdvSketch(col(f.name), f.tpe).as(f.name)): _*).collect()(0)
        val sketches = fields.indices.map(r.getAs[Array[Byte]](_))
        val ndvs = sketches.map(s => Puffin.thetaEstimate(s).getOrElse(0L))
        // NDVs both as properties (CBO's SupportsReportStatistics source)
        // and as a Puffin statistics file recorded in table metadata
        // (reference ComputeTableStatsSparkAction → puffin blobs)
        val props = cols.zipWithIndex.map { case (c, i) => s"stats.ndv.$c" -> ndvs(i).toString }
        val snap = t.meta.currentSnapshot
        val puffinPath =
          s"${t.location}/metadata/${java.util.UUID.randomUUID}.stats.puffin"
        val blobs = fields.zipWithIndex.map { case (f, i) =>
          Puffin.Blob("apache-datasketches-theta-v1", Seq(f.id),
            snap.map(_.snapshotId).getOrElse(0L),
            snap.map(_.sequenceNumber).getOrElse(0L),
            sketches(i),
            Map("ndv" -> ndvs(i).toString))
        }
        val (size, footerSize) = Puffin.write(puffinPath, blobs,
          crypto = graft.core.meta.TableCrypto.resolve(t.meta))
        // delete superseded puffin files AFTER the commit lands: the
        // replaced entries are unreferenced from the new metadata and
        // remove_orphan_files only walks {location}/data, so they would
        // otherwise accumulate under /metadata forever
        var replaced: Seq[String] = Nil
        t.commitUpdate { base =>
          replaced = base.statistics
            .filter(sf => snap.exists(_.snapshotId == sf.snapshotId)).map(_.path)
          base.copy(properties = base.properties ++ props,
            statistics = base.statistics
              .filterNot(sf => snap.exists(_.snapshotId == sf.snapshotId)) :+
              StatisticsFile(snap.map(_.snapshotId).getOrElse(0L), puffinPath,
                size, footerSize,
                blobs.map(b => graft.core.meta.StatBlobMeta(b.blobType,
                  b.snapshotId, b.sequenceNumber, b.fields, b.properties))))
        }
        replaced.filterNot(_ == puffinPath)
          .foreach(p => try graft.core.meta.GraftIO.delete(p)
            catch { case scala.util.control.NonFatal(_) => () })
      }
      out(StructType(Seq(StructField("columns_analyzed", IntegerType))), row(fields.size))

    case "create_changelog_view" =>
      // Changelog view with carryover removal + update pairing (reference
      // ChangelogIterator/ComputeUpdateIterator/RemoveCarryoverIterator —
      // reformulated as declarative Spark transforms: a group-count nets
      // out CoW carryover rows; a window over the identifier columns
      // pairs DELETE+INSERT into UPDATE_BEFORE/UPDATE_AFTER).
      val tblName = input.getUTF8String(0).toString
      val viewName = input.getUTF8String(1).toString match {
        case "" => s"${tblName.split("\\.").last}_changes"
        case v  => v
      }
      val spark = SparkSession.active
      import org.apache.spark.sql.functions._
      val t = loadTable(tblName)
      // explicit identifier_columns param, else the schema's identifier
      // fields (set via set_identifier_fields)
      val idCols = input.getUTF8String(2).toString.split(",").map(_.trim)
        .filter(_.nonEmpty) match {
        case arr if arr.nonEmpty => arr
        case _ => t.schema.identifierFieldIds.toArray.sorted
          .map(id => t.schema.byId(id).name)
      }
      val fq = tblName.split("\\.").toSeq match {
        case one :: Nil => s"graft.db.$one.changes"
        case parts      => s"graft.${parts.mkString(".")}.changes"
      }
      val changes = spark.read.table(fq)
      val dataCols = t.schema.fields.map(_.name)
      val CT = GraftChangesTable.ChangeType
      val ORD = GraftChangesTable.ChangeOrdinal
      val SID = GraftChangesTable.CommitSnapshotId
      // 1) net out carryovers: identical rows deleted AND re-inserted in
      //    the same commit (copy-on-write rewrite noise)
      val grouped = changes.groupBy((dataCols :+ ORD :+ SID).map(col): _*)
        .agg(
          sum(when(col(CT) === "INSERT", 1).otherwise(0)).as("__ins"),
          sum(when(col(CT) === "DELETE", 1).otherwise(0)).as("__del"))
      val net = grouped.select((dataCols :+ ORD :+ SID).map(col) :+
        explode(concat(
          array_repeat(lit("INSERT"), greatest(col("__ins") - col("__del"), lit(0)).cast("int")),
          array_repeat(lit("DELETE"), greatest(col("__del") - col("__ins"), lit(0)).cast("int"))
        )).as(CT): _*)
      // net_changes (reference RemoveNetCarryoverIterator): collapse the
      // whole requested range to each row's NET effect — rows deleted and
      // re-inserted across different commits disappear; survivors keep
      // the range's last ordinal. Mutually exclusive with update pairing.
      val netChanges = input.getBoolean(3)
      // 2) pair updates by identifier columns within a commit
      val result =
        if (netChanges) {
          val g2 = net.groupBy(dataCols.map(col): _*)
            .agg(
              sum(when(col(CT) === "INSERT", 1).otherwise(-1)).as("__net"),
              max(col(ORD)).as(ORD), max_by(col(SID), col(ORD)).as(SID))
          g2.select((dataCols :+ ORD :+ SID).map(col) :+
            explode(concat(
              array_repeat(lit("INSERT"), greatest(col("__net"), lit(0)).cast("int")),
              array_repeat(lit("DELETE"), greatest(-col("__net"), lit(0)).cast("int"))
            )).as(CT): _*)
        }
        else if (idCols.isEmpty) net
        else {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy((idCols.toSeq :+ ORD).map(col): _*)
          net
            .withColumn("__has_del", max(when(col(CT) === "DELETE", 1).otherwise(0)).over(w))
            .withColumn("__has_ins", max(when(col(CT) === "INSERT", 1).otherwise(0)).over(w))
            .withColumn(CT,
              when(col(CT) === "DELETE" && col("__has_del") === 1 && col("__has_ins") === 1, "UPDATE_BEFORE")
                .when(col(CT) === "INSERT" && col("__has_del") === 1 && col("__has_ins") === 1, "UPDATE_AFTER")
                .otherwise(col(CT)))
            .drop("__has_del", "__has_ins")
        }
      result.createOrReplaceTempView(viewName)
      out(StructType(Seq(StructField("changelog_view", StringType))),
        row(GraftProcedures.s(viewName)))

    case "add_files" =>
      // external import: register existing parquet/orc/avro files by
      // reading their footers — no data rewrite (reference
      // AddFilesProcedure / SparkTableUtil). Two source shapes:
      // a SESSION-CATALOG table identifier (partition list + values from
      // the metastore), or a directory whose hive-style `col=value` path
      // segments become identity-partition tuples.
      val t = loadTable(input.getUTF8String(0).toString)
      val srcArg = input.getUTF8String(1).toString
      val spec = t.spec
      val schema = t.schema
      // partition_filter: import ONLY matching source partitions
      // (reference AddFilesProcedure) — exact string match per named
      // column against the metastore values / path segments
      val partFilter: Map[String, String] =
        if (input.numFields < 3 || input.isNullAt(2)) Map.empty
        else {
          val md = input.getMap(2)
          (0 until md.numElements()).map(i =>
            md.keyArray.getUTF8String(i).toString.toLowerCase ->
              md.valueArray.getUTF8String(i).toString).toMap
        }
      val identitySources = spec.fields
        .filter(_.transform == graft.core.transform.IdentityT)
        .flatMap(pf => schema.byId.get(pf.sourceId).map(_.name))
      val (withPartitions, fmtHint) = sessionCatalogSource(srcArg) match {
        case Some((ct, srcParts0)) =>
          val srcParts =
            if (partFilter.isEmpty) srcParts0
            else srcParts0.filter { case (_, pmap) =>
              val pmapL = pmap.map { case (k, v) => k.toLowerCase -> v }
              partFilter.forall { case (k, v) => pmapL.get(k).contains(v) }
            }
          require(srcParts.nonEmpty,
            s"partition_filter $partFilter matches no partitions of ${ct.identifier}")
          // the target spec must identity-cover every metastore
          // partition column, or values absent from the files are lost
          val identLower = identitySources.map(_.toLowerCase).toSet
          val uncovered = ct.partitionColumnNames
            .filterNot(c => identLower.contains(c.toLowerCase))
          require(uncovered.isEmpty,
            s"add_files from ${ct.identifier}: partition column(s) " +
              s"${uncovered.mkString(", ")} are not identity partition " +
              "sources of the target table — their values exist only in " +
              "the metastore and would be lost")
          val files = srcParts.flatMap { case (dir, pmap) =>
            val pmapL = pmap.map { case (k, v) => k.toLowerCase -> v }
            val tuple: Seq[Any] = spec.fields.map { pf =>
              require(pf.transform == graft.core.transform.IdentityT,
                s"add_files from a catalog table supports identity " +
                  s"partitioning only (target has ${pf.transform})")
              val src = schema.byId(pf.sourceId)
              pmapL.get(src.name.toLowerCase) match {
                // hive's marker for a null partition value
                case Some("__HIVE_DEFAULT_PARTITION__") => null
                case Some(v) =>
                  graft.core.types.TypeComparators.parse(src.tpe, v)
                case None => throw new IllegalArgumentException(
                  s"partition column ${src.name} missing from metastore " +
                    s"partition spec $pmap of ${ct.identifier}")
              }
            }
            dataFilesUnder(dir).map(p => (p, tuple))
          }
          require(files.nonEmpty, s"no data files in ${ct.identifier}")
          (files, Some(catalogFormat(ct)))
        case None =>
          val files0 = walkFiles(srcArg)
            .filter(p => p.endsWith(".parquet") || p.endsWith(".orc") ||
              p.endsWith(".avro"))
          val files =
            if (partFilter.isEmpty) files0
            // key matches case-insensitively (hive folds column names);
            // the VALUE matches exactly — grp=a must not admit grp=A, a
            // different partition (matches the catalog-source branch and
            // the reference AddFilesProcedure)
            else files0.filter(p => partFilter.forall { case (k, v) =>
              p.split("/").exists { seg =>
                val i = seg.indexOf('=')
                i > 0 && seg.substring(0, i).equalsIgnoreCase(k) &&
                  seg.substring(i + 1) == v
              }
            })
          require(files.nonEmpty, s"no parquet/orc/avro files under $srcArg" +
            (if (partFilter.isEmpty) "" else s" matching $partFilter"))
          (files.map { path =>
            val partition: Seq[Any] = spec.fields.map { pf =>
              val src = schema.byId(pf.sourceId)
              // key folds case like the filter above (hive lowercases
              // column names in directory layouts); the VALUE is verbatim
              val seg = path.split("/").flatMap { sg =>
                val i = sg.indexOf('=')
                if (i > 0 && sg.substring(0, i).equalsIgnoreCase(src.name))
                  Some(sg.substring(i + 1))
                else None
              }.headOption
                .getOrElse(throw new IllegalArgumentException(
                  s"file $path missing partition segment ${src.name}= (identity import only)"))
              graft.core.types.TypeComparators.parse(src.tpe, seg)
            }
            (path, partition)
          }, None)
      }
      // re-importing a live file would silently double its rows
      // (reference AddFilesProcedure check_duplicate_files, default
      // true): probe the imported paths against the table's live
      // entries, ONE TASK PER MANIFEST — the import batch broadcasts,
      // the million-file table never lands on the driver
      val checkDup = input.numFields < 4 || input.isNullAt(3) ||
        input.getBoolean(3)
      if (checkDup) {
        val mfs = t.currentManifests(t.meta).filter(_.content == 0)
        if (mfs.nonEmpty) {
          val sc = SparkSession.active.sparkContext
          val bc = sc.broadcast(withPartitions.map(_._1).toSet)
          val dups = sc.parallelize(mfs, math.max(1, math.min(mfs.size, 64)))
            .flatMap(mf => ManifestIO.readEntries(mf)
              .filter(e => e.isLive && bc.value.contains(e.file.path))
              .map(_.file.path))
            .take(3)
          require(dups.isEmpty,
            s"add_files: file(s) already live in the target table " +
              s"(pass check_duplicate_files => false to force): " +
              dups.mkString(", "))
        }
      }
      // footer reads run DISTRIBUTED past a small threshold — a large
      // import is millions of footers, not a driver loop
      val dataFiles = importFiles(withPartitions, spec.specId, schema,
        SparkSession.active.sessionState.newHadoopConf(),
        orcIdentityCols = identitySources, formatHint = fmtHint)
      t.newAppend().appendFiles(dataFiles).commit()
      out(StructType(Seq(StructField("added_files_count", IntegerType),
        StructField("added_records", LongType))),
        row(dataFiles.size, dataFiles.map(_.recordCount).sum))

    case "remove_dangling_deletes" =>
      // drop delete files that no longer apply to ANY live data file
      // (reference RemoveDanglingDeletesSparkAction:126-169): per
      // (spec, partition), a position delete is dead when its sequence
      // number < the partition's min live data sequence, an equality
      // delete when seq <= it (eq deletes mask only STRICTLY older
      // files), and every delete in a partition holding no data files at
      // all; a delete targeting a specific data file (DV / single-file
      // position delete) also dies with its referenced file. The entries
      // scan runs one task per manifest — only the matched delete-file
      // descriptors (metadata-scale) return to the driver for the commit.
      val t = loadTable(input.getUTF8String(0).toString)
      val snap = t.meta.currentSnapshot
      val manifests = snap.map(s0 => ManifestIO.readList(s0.manifestListPath)).getOrElse(Nil)
      val dangling: Seq[String] = if (manifests.forall(_.content == 0)) Nil else {
        val spark = SparkSession.active
        import spark.implicits._
        import org.apache.spark.sql.functions.{col => fcol, min => fmin}
        val entries = spark.sparkContext
          .parallelize(manifests, math.max(1, math.min(manifests.size, 64)))
          .flatMap { mf =>
            ManifestIO.readEntries(mf).filter(_.isLive).map { e =>
              // spec-scoped partition key (the reference joins on
              // spec_id AND partition: deletes attach with the spec of
              // the data they target)
              val key = e.file.specId + "|" + e.file.partition.map {
                case b: Array[Byte] => b.map("%02x".format(_)).mkString
                case o              => String.valueOf(o)
              }.mkString("|")
              (e.file.content, e.file.path, e.dataSequenceNumber, key,
                e.file.referencedDataFile.orNull)
            }
          }.toDF("content", "path", "seq", "pk", "ref")
        val data = entries.filter(fcol("content") === FileContent.Data)
        val dels = entries.filter(fcol("content") =!= FileContent.Data)
        val minSeq = data.groupBy("pk").agg(fmin("seq").as("min_seq"))
        val seqDead = dels.join(minSeq, Seq("pk"), "left")
          .filter(fcol("min_seq").isNull ||
            (fcol("content") === FileContent.PositionDeletes &&
              fcol("seq") < fcol("min_seq")) ||
            (fcol("content") === FileContent.EqualityDeletes &&
              fcol("seq") <= fcol("min_seq")))
          .select("path")
        val refDead = dels.filter(fcol("ref").isNotNull)
          .join(data.select(fcol("path").as("__dp")),
            fcol("ref") === fcol("__dp"), "left_anti")
          .select("path")
        seqDead.union(refDead).distinct().as[String].collect().toSeq
      }
      if (dangling.nonEmpty)
        t.newOverwrite().deleteFiles(dangling)
          .overrideOperation("replace").commit()
      out(StructType(Seq(StructField("removed_delete_files", IntegerType))),
        row(dangling.size))

    case "add_partition_field" =>
      // partition spec evolution (reference BaseUpdatePartitionSpec /
      // ALTER TABLE ADD PARTITION FIELD): new spec becomes the write
      // default; existing files keep their old spec, and scans prune each
      // manifest with its own spec
      val t = loadTable(input.getUTF8String(0).toString)
      val transformName = input.getUTF8String(1).toString
      val column = input.getUTF8String(2).toString
      t.commitUpdate { base =>
        val src = base.schema.findField(column).getOrElse(
          throw new IllegalArgumentException(s"no such column: $column"))
        val tr = graft.core.transform.Transform.fromName(transformName)
        require(tr.canTransform(src.tpe), s"$transformName cannot apply to ${src.tpe}")
        val cur = base.spec
        val requested =
          if (input.numFields > 3 && !input.isNullAt(3)) input.getUTF8String(3).toString
          else ""
        val fieldName =
          if (requested.nonEmpty) requested
          else tr match {
            case graft.core.transform.IdentityT => src.name
            case b: graft.core.transform.BucketT => s"${src.name}_bucket"
            case tt: graft.core.transform.TruncateT => s"${src.name}_trunc"
            case _ => s"${src.name}_$transformName"
          }
        // RECYCLE a historical field with the same source + transform
        // (reference BaseUpdatePartitionSpec.recycleOrCreatePartitionField,
        // v2+): re-adding a dropped field keeps its field id, so the
        // unified partition struct (Partitioning.partitionType) never
        // grows two identically-named fields and old files' tuples stay
        // addressable under the revived field. When NO name is requested
        // the match deliberately ignores names and the revived field
        // keeps its HISTORICAL name — exactly the reference's rule
        // (BaseUpdatePartitionSpec.java:136: "if target name is
        // specified then consider it too, otherwise not")
        val recycled = base.specs.flatMap(_.fields).find(f =>
          f.sourceId == src.id && f.transform == tr &&
            (requested.isEmpty || f.name == fieldName))
        val field = recycled.getOrElse(graft.core.expr.PartitionField(
          src.id, base.lastPartitionId + 1, fieldName, tr))
        require(!cur.fields.exists(_.fieldId == field.fieldId),
          s"partition field ${field.name} is already in the current spec")
        // a NEW field must not reuse a live name either (two ids, one
        // name would make partition.<name> ambiguous on metadata tables)
        require(recycled.isDefined ||
            !base.specs.flatMap(_.fields).exists(_.name == fieldName),
          s"partition field name $fieldName was used by a historical " +
            "field of a different transform; pick another name")
        val newSpec = graft.core.expr.PartitionSpec(
          base.specs.map(_.specId).max + 1, cur.fields :+ field)
        base.copy(specs = base.specs :+ newSpec,
          defaultSpecId = newSpec.specId,
          lastPartitionId = math.max(base.lastPartitionId, field.fieldId))
      }
      out(StructType(Seq(StructField("spec_id", IntegerType))),
        row(t.meta.defaultSpecId))

    case "drop_partition_field" =>
      val t = loadTable(input.getUTF8String(0).toString)
      val fieldName = input.getUTF8String(1).toString
      t.commitUpdate { base =>
        val cur = base.spec
        require(cur.fields.exists(_.name == fieldName), s"no partition field $fieldName")
        val newSpec = graft.core.expr.PartitionSpec(
          base.specs.map(_.specId).max + 1,
          cur.fields.filterNot(_.name == fieldName))
        base.copy(specs = base.specs :+ newSpec, defaultSpecId = newSpec.specId)
      }
      out(StructType(Seq(StructField("spec_id", IntegerType))),
        row(t.meta.defaultSpecId))

    case "set_identifier_fields" | "drop_identifier_fields" =>
      // row-identity columns (reference ALTER TABLE ... SET IDENTIFIER
      // FIELDS / Schema.identifierFieldIds): consumed by equality deletes
      // and as the default update-pairing key for changelog views
      val t = loadTable(input.getUTF8String(0).toString)
      val cols =
        if (pname == "drop_identifier_fields") Array.empty[String]
        else input.getUTF8String(1).toString.split(",").map(_.trim).filter(_.nonEmpty)
      t.commitUpdate { base =>
        val schema = base.schema
        val ids = cols.map(c => schema.findField(c).getOrElse(
          throw new IllegalArgumentException(s"no such column: $c")).id).toSet
        // identifier fields must be required (format/spec.md; reference
        // Schema validation rejects optional identifier fields). Spark
        // DDL columns default to nullable, so this procedure call is the
        // explicit opt-in to promote them (reference analogue:
        // UpdateSchema.allowIncompatibleChanges().requireColumn()) —
        // the caller asserts existing rows hold no nulls in these fields
        val updated = schema.copy(identifierFieldIds = ids,
          struct = schema.struct.copy(fields = schema.struct.fields.map(f =>
            if (ids.contains(f.id) && !f.required) f.copy(required = true) else f)))
        base.copy(schemas = base.schemas.map(s0 =>
          if (s0.schemaId == schema.schemaId) updated else s0))
      }
      out(StructType(Seq(StructField("identifier_fields", StringType))),
        row(s(cols.mkString(","))))

    case "set_geo_type" =>
      // v3 geospatial column DDL: Spark SQL has no geometry type name, so
      // a geo column is declared BINARY and promoted here (values stay
      // WKB; only the graft type — and with it bbox stats collection and
      // st_intersects_bbox pruning — changes). Accepts "geometry",
      // "geometry(C)", "geography", "geography(C, A)" per spec
      // format/spec.md:1690-1691.
      val t = loadTable(input.getUTF8String(0).toString)
      val colName = input.getUTF8String(1).toString
      val geoType = SparkTypes.typeFromName(input.getUTF8String(2).toString) match {
        case g @ (GGeometry(_) | GGeography(_, _)) => g
        case other => throw new IllegalArgumentException(
          s"not a geospatial type: $other")
      }
      t.commitUpdate { base =>
        val schema = base.schema
        val field = schema.findField(colName).getOrElse(
          throw new IllegalArgumentException(s"no such column: $colName"))
        // top-level only: the schema rewrite below and the write-side
        // bbox stats pass both resolve top-level fields
        require(schema.fields.exists(_.id == field.id),
          s"$colName must be a top-level column to become geospatial")
        require(field.tpe == GBinary || GeoDefaults.isGeo(field.tpe),
          s"$colName must be binary (WKB) to become geospatial, is ${field.tpe}")
        // any geo type CHANGE is only safe on an empty table: binary
        // files carry byte-order min/max bounds a later scan would
        // misread as bbox corners, and geometry<->geography flips the
        // intersection semantics (wrap-aware vs not) for existing bboxes
        if (field.tpe != geoType)
          require(base.snapshots.isEmpty,
            s"set_geo_type requires an empty table (no snapshots); " +
              "create the column as geospatial before writing data")
        val updated = schema.copy(struct = schema.struct.copy(
          fields = schema.struct.fields.map(f =>
            if (f.id == field.id) f.copy(tpe = geoType) else f)))
        if (field.tpe == geoType) base // no-op re-promotion
        else {
          // commit under a FRESH schema id (spec: schemas are immutable
          // once written — consumers cache/compare by id)
          val promoted = updated.copy(
            schemaId = base.schemas.map(_.schemaId).max + 1)
          base.copy(schemas = base.schemas :+ promoted,
            currentSchemaId = promoted.schemaId)
        }
      }
      out(StructType(Seq(StructField("type", StringType))),
        row(s(SparkTypes.typeName(geoType))))

    case "create_udf" =>
      // catalog-stored SQL UDF (format/udf-spec.md): parameters like
      // "x int, y decimal(9,2)" with graft type names; same signature +
      // replace := true adds a new definition version
      val (ns, fn) = splitFunctionName(input.getUTF8String(0).toString)
      val params = splitTopLevel(input.getUTF8String(1).toString).map { p =>
        val t = p.trim.split("\\s+", 2)
        require(t.length == 2, s"parameter needs 'name type': $p")
        val tpe = canonicalTypeName(t(1).replaceAll("\\s", ""))
        SparkTypes.typeFromName(tpe) // validate
        GraftUdfStore.UdfParam(t(0), tpe)
      }
      val returns = canonicalTypeName(
        input.getUTF8String(2).toString.replaceAll("\\s", ""))
      SparkTypes.typeFromName(returns) // validate
      val onNull = input.getUTF8String(6).toString
      require(onNull == "call" || onNull == "return-null",
        s"on_null_input must be 'call' or 'return-null': $onNull")
      GraftUdfStore.createOrReplace(catalog.warehouse, ns, fn, params, returns,
        "udf", input.getUTF8String(3).toString, input.getBoolean(5), onNull,
        replace = input.getBoolean(4))
      out(StructType(Seq(StructField("function", StringType),
        StructField("definition_id", StringType))),
        row(s(fn), s(GraftUdfStore.definitionId(params.map(_.tpe)))))

    case "create_udtf" =>
      // catalog-stored SQL table function (udf-spec function-type
      // "udtf"): the body is a full query over the parameters; its
      // output struct (the spec's required struct return-type) is
      // derived here by analyzing the body with typed NULLs bound to
      // the parameters
      val (ns, fn) = splitFunctionName(input.getUTF8String(0).toString)
      val params = splitTopLevel(input.getUTF8String(1).toString).map { p =>
        val t = p.trim.split("\\s+", 2)
        require(t.length == 2, s"parameter needs 'name type': $p")
        val tpe = canonicalTypeName(t(1).replaceAll("\\s", ""))
        SparkTypes.typeFromName(tpe)
        GraftUdfStore.UdfParam(t(0), tpe)
      }
      val sqlText = input.getUTF8String(2).toString
      val spark = SparkSession.active
      val byName = params.map(p => p.name.toLowerCase ->
        SparkTypes.toSpark(SparkTypes.typeFromName(p.tpe))).toMap
      val parsed = spark.sessionState.sqlParser.parsePlan(sqlText)
      def substituting(except: Set[String]) = parsed.transformAllExpressions {
        case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if ua.nameParts.size == 1 && byName.contains(ua.name.toLowerCase) &&
              !except.contains(ua.name.toLowerCase) =>
          org.apache.spark.sql.catalyst.expressions.Literal(
            null, byName(ua.name.toLowerCase))
      }
      // reject parameter names that shadow a column of a table the body
      // reads: substitution would silently capture the column. Only
      // parameters the body actually REFERENCES are probed (an unused
      // parameter trivially analyzes without substitution and is fine)
      val referenced = {
        val names = scala.collection.mutable.Set.empty[String]
        parsed.transformAllExpressions {
          case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            if (ua.nameParts.size == 1) names += ua.name.toLowerCase
            ua
        }
        names.toSet
      }
      params.filter(p => referenced.contains(p.name.toLowerCase)).foreach { p =>
        val collides =
          try {
            org.apache.spark.sql.GraftSqlBridge
              .ofRows(spark, substituting(Set(p.name.toLowerCase))).schema
            true
          } catch { case scala.util.control.NonFatal(_) => false }
        require(!collides, s"parameter '${p.name}' collides with a column " +
          "visible in the function body; rename the parameter")
      }
      val outSchema =
        org.apache.spark.sql.GraftSqlBridge.ofRows(spark, substituting(Set.empty)).schema
      val returns = "struct<" + outSchema.map(f =>
        s"${f.name}:${SparkTypes.typeName(SparkBridge.gTypeOf(f.dataType))}")
        .mkString(",") + ">"
      GraftUdfStore.createOrReplace(catalog.warehouse, ns, fn, params, returns,
        "udtf", sqlText, deterministic = false, onNullInput = "call",
        replace = input.getBoolean(3))
      out(StructType(Seq(StructField("function", StringType),
        StructField("returns", StringType))), row(s(fn), s(returns)))

    case "drop_udf" =>
      val (ns, fn) = splitFunctionName(input.getUTF8String(0).toString)
      val dropped = GraftUdfStore.drop(catalog.warehouse, ns, fn)
      out(StructType(Seq(StructField("dropped", BooleanType))), row(dropped))

    case "rollback_udf" =>
      val (ns, fn) = splitFunctionName(input.getUTF8String(0).toString)
      val defId = input.getUTF8String(1).toString
      val vid = input.getInt(2)
      GraftUdfStore.rollback(catalog.warehouse, ns, fn, defId, vid)
      out(StructType(Seq(StructField("current_version_id", IntegerType))), row(vid))

    case "create_view" =>
      // v2 view DDL (Spark 4 lacks native CREATE VIEW for v2 catalogs;
      // reads resolve via GraftExtensions' substitution rule)
      val viewName = input.getUTF8String(0).toString
      val sql = input.getUTF8String(1).toString
      val replace = input.getBoolean(2)
      val spark = SparkSession.active
      val schema = spark.sql(sql).schema
      val parts = viewName.split("\\.").toSeq
      val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
        parts.init.toArray, parts.last)
      GraftViewStore.create(GraftViewStore.docsFor(catalog),
        new org.apache.spark.sql.connector.catalog.ViewInfo(ident, sql,
          spark.sessionState.catalogManager.currentCatalog.name,
          Array.empty[String], schema, schema.fieldNames,
          Array.empty[String], Array.empty[String],
          new java.util.HashMap[String, String]()), replace,
        defaults = policy.viewDefaults, overrides = policy.viewOverrides)
      out(StructType(Seq(StructField("view", StringType))), row(s(viewName)))

    case "drop_view" =>
      val viewName = input.getUTF8String(0).toString
      val parts = viewName.split("\\.").toSeq
      val dropped = GraftViewStore.drop(GraftViewStore.docsFor(catalog),
        org.apache.spark.sql.connector.catalog.Identifier.of(parts.init.toArray, parts.last))
      out(StructType(Seq(StructField("dropped", BooleanType))), row(dropped))

    case "snapshot_delta" =>
      // import a Delta Lake table without copying data (reference
      // delta-lake/.../BaseSnapshotDeltaLakeTableAction): replay the
      // public _delta_log — one graft commit per Delta version, tagged
      // delta-version-N like the reference — registering live parquet
      // name-mapped (Delta files carry no field ids, and their partition
      // columns exist only in the log; the scan serves those as
      // identity-partition constants from task metadata)
      val srcDir = input.getUTF8String(0).toString
      val tblName = input.getUTF8String(1).toString
      val parts = tblName.split("\\.").toSeq
      val (ns, tbl) = if (parts.length >= 2) (parts.init, parts.last)
                      else (Seq("db"), parts.head)
      val spark = SparkSession.active
      // open() validates the protocol (reader features, no deletion
      // vectors) BEFORE any table exists, resolves the final schema,
      // and streams ONE version at a time — driver peak stays
      // O(largest single version), not O(sum of adds across versions)
      val (info, changes) = DeltaImport.open(spark, srcDir)
      // column-mapped tables (delta.columnMapping.mode=name|id): the
      // files store physical col-<uuid> names BUT carry parquet field
      // ids, so graft takes Delta's ids into its schema and registers
      // the files id-mapped (parquet-im) — the field-id read path
      // resolves them with no name translation. Footer stats match by
      // file column name, so they read through the PHYSICAL schema.
      val (gSchema, statsSchema, idMapped) = info.columnMapping match {
        case Some(_) =>
          val (gs, physNames) = DeltaImport.mappedSchema(info.schema)
          val phys = gs.copy(struct = graft.core.types.GStruct(
            gs.struct.fields.map(f =>
              f.copy(name = physNames.getOrElse(f.id, f.name)))))
          (gs, phys, true)
        case None =>
          val gs = graft.core.types.SparkTypes.fromSpark(info.schema)
          (gs, gs, false)
      }
      val spec =
        if (info.partitionColumns.isEmpty) graft.core.expr.PartitionSpec.Unpartitioned
        else graft.core.expr.PartitionSpec.of(gSchema, info.partitionColumns.map(c =>
          c -> (graft.core.transform.IdentityT: graft.core.transform.Transform)): _*)
      // add.partitionValues keys are PHYSICAL names on column-mapped
      // tables; consult both spellings
      val physByField: Map[Int, String] = statsSchema.struct.fields
        .map(f => f.id -> f.name).toMap
      val t = catalog.createTable(ns, tbl, gSchema, spec, policy.table(Map(
        "snapshot_source" -> "delta", "original_location" -> srcDir)))
      val hConf = spark.sessionState.newHadoopConf() // once per replay
      var added = 0L
      var records = 0L
      var versions = 0L
      var latest = info.latestVersion
      // a mid-replay failure the pre-pass cannot see (e.g. a mapped file
      // without field ids) must not leave a half-created table behind —
      // drop what this call created, then rethrow
      try changes.foreach { vc =>
        latest = vc.version
        if (vc.adds.nonEmpty || vc.removes.nonEmpty) {
          val withPartitions = vc.adds.map { case (path, pv) =>
            val partition: Seq[Any] = spec.fields.map { pf =>
              val src = gSchema.byId(pf.sourceId)
              DeltaImport.parsePartitionValue(src.tpe,
                pv.getOrElse(src.name,
                  pv.getOrElse(physByField.getOrElse(src.id, src.name), null)))
            }
            (path, partition)
          }
          // distributed footer reads: a checkpoint-seeded version can
          // carry the WHOLE table's live file set
          val dataFiles = importFiles(withPartitions, spec.specId, statsSchema,
            hConf, forceNameMapped = !idMapped, idMapped = idMapped)
          val snap =
            if (vc.removes.isEmpty)
              t.newAppend().appendFiles(dataFiles).commit()
            else t.newOverwrite().addFiles(dataFiles)
              .deleteFiles(vc.removes).commit()
          t.setRef(s"delta-version-${vc.version}", snap.snapshotId,
            SnapshotRefType.Tag)
          added += dataFiles.size
          records += dataFiles.map(_.recordCount).sum
          versions += 1
        }
      }
      catch {
        case e: Throwable =>
          try catalog.dropTable(ns, tbl, purge = true)
          catch { case c: Throwable => e.addSuppressed(c) }
          throw e
      }
      out(StructType(Seq(
          StructField("imported_files_count", LongType),
          StructField("imported_records", LongType),
          StructField("versions_committed", LongType),
          StructField("latest_delta_version", LongType))),
        row(added, records, versions, math.max(latest, info.latestVersion)))

    case "snapshot_table" | "snapshot" =>
      // import an external source as a NEW graft table without copying
      // data (reference SnapshotTableProcedure). A SESSION-CATALOG table
      // identifier takes schema, partition columns and their TYPES from
      // the metastore (reference SparkTableUtil.getPartitions); a
      // directory source infers the schema with Spark and partitions on
      // `col=value` path segments.
      val srcArg = input.getUTF8String(0).toString
      val tblName = input.getUTF8String(1).toString
      val parts = tblName.split("\\.").toSeq
      val (ns, tbl) = if (parts.length >= 2) (parts.init, parts.last)
                      else (Seq("db"), parts.head)
      val spark = SparkSession.active
      val (gSchema, partCols) = sessionCatalogSource(srcArg) match {
        case Some((ct, _)) =>
          (graft.core.types.SparkTypes.fromSpark(ct.schema),
            ct.partitionColumnNames)
        case None =>
          val srcFiles = walkFiles(srcArg)
          val anyOrc = srcFiles.exists(_.endsWith(".orc"))
          val inferred =
            if (anyOrc) spark.read.orc(srcArg).schema
            else spark.read.parquet(srcArg).schema
          val gs = graft.core.types.SparkTypes.fromSpark(inferred)
          // hive-layout sources: `col=value` path segments are PARTITION
          // columns (Spark's reader inferred them into the schema, but
          // the files themselves may not carry them) — the new table
          // must be identity-partitioned on those or the values are
          // lost; add_files then extracts the per-file tuples, and the
          // nm read paths serve them as identity constants
          val relSegs = srcFiles.flatMap(_.stripPrefix(srcArg).split("/"))
          (gs, gs.fields.map(_.name)
            .filter(n => relSegs.exists(_.startsWith(n + "="))))
      }
      val spec0 =
        if (partCols.isEmpty) graft.core.expr.PartitionSpec.Unpartitioned
        else graft.core.expr.PartitionSpec.of(gSchema, partCols.map(c =>
          c -> (graft.core.transform.IdentityT: graft.core.transform.Transform)): _*)
      // user-supplied table properties land on the new table (reference
      // SnapshotTableProcedure `properties`)
      val snapProps: Map[String, String] =
        if (input.numFields < 3 || input.isNullAt(2)) Map.empty
        else {
          val md = input.getMap(2)
          (0 until md.numElements()).map(i =>
            md.keyArray.getUTF8String(i).toString ->
              md.valueArray.getUTF8String(i).toString).toMap
        }
      catalog.createTable(ns, tbl, gSchema, spec0, policy.table(snapProps))
      // delegate file registration to the same footer-based import; a
      // registration failure must not leave a half-created table that
      // blocks re-runs (same abort contract as snapshot_delta)
      try {
        val addProc = new GraftProcedure("add_files", catalog, policy)
        addProc.call(new GenericInternalRow(Array[Any](
          s(tblName), s(srcArg))))
      } catch {
        case e: Throwable =>
          try catalog.dropTable(ns, tbl, purge = true)
          catch { case c: Throwable => e.addSuppressed(c) }
          throw e
      }

    case "migrate" =>
      // like snapshot, but records provenance and is intended to REPLACE
      // the source (reference MigrateTableProcedure; with a file catalog
      // the source dir is left in place and the new table owns the files)
      val srcDir = input.getUTF8String(0).toString
      val tblName = input.getUTF8String(1).toString
      val snapProc = new GraftProcedure("snapshot_table", catalog, policy)
      val res = snapProc.call(new GenericInternalRow(Array[Any](
        s(srcDir), s(tblName))))
      loadTable(tblName).updateProperties(Map("migrated-from" -> srcDir))
      res

    case "ancestors_of" =>
      // (snapshot_id, timestamp_ms, operation) from the given snapshot —
      // default the current head — back to the table's first snapshot
      val t = loadTable(input.getUTF8String(0).toString)
      val startId = input.getLong(1) match {
        case -1L => t.meta.currentSnapshot.map(_.snapshotId).getOrElse(
          throw new IllegalArgumentException("table has no snapshots"))
        case id  => id
      }
      val chain = Iterator.iterate(t.meta.snapshotById(startId))(
          _.flatMap(_.parentId).flatMap(t.meta.snapshotById))
        .takeWhile(_.isDefined).flatten.toSeq
      out(StructType(Seq(
          StructField("snapshot_id", LongType),
          StructField("timestamp_ms", LongType),
          StructField("operation", StringType))),
        chain.map(sn => row(sn.snapshotId, sn.timestampMs, s(sn.operation))): _*)

    case "register_table" =>
      // create a catalog entry from an existing metadata.json (reference
      // RegisterTableProcedure): the new table points at the source's
      // data and manifests — absolute when the source lives elsewhere,
      // re-rooted by the v4 relative locations when the metadata file
      // sits inside a copied table directory. (A directory copied INTO
      // a file-catalog warehouse needs no registration at all — the
      // catalog discovers it.)
      val tblName = input.getUTF8String(0).toString
      val metaFile = input.getUTF8String(1).toString
      val parts = tblName.split("\\.").toSeq
      val (ns, tbl) = if (parts.length >= 2) (parts.init, parts.last)
                      else (Seq("db"), parts.head)
      require(!catalog.tableExists(ns, tbl), s"table already exists: $tblName")
      val srcJson = GraftIO.readString(metaFile)
      val meta = MetaJson.readMetadata(srcJson, Some(metaFile))
      val loc = catalog.tableLocation(ns, tbl)
      val ops = new FileTableOps(loc)
      // a genuine Iceberg source stays externally readable: auto-enable
      // compat so graft's own commits keep writing the spec dialect +
      // Avro manifests into the imported tree (the user can UNSET it)
      val props =
        if (MetaJson.isSpecDialect(srcJson) &&
            !meta.properties.contains("compatibility.format"))
          meta.properties + ("compatibility.format" -> "iceberg")
        else meta.properties
      require(ops.commit(0, meta.copy(location = loc, properties = props)),
        s"failed to register $tblName at $loc")
      val t = new GTable(ops)
      // live counts from the manifest-list SUMMARIES (added + existing
      // per manifest) — registering a 1.5M-file table must not read
      // every manifest entry just to report two counters. v1 lists may
      // OMIT the counts (AvroManifests.readList defaults them to 1 to
      // keep the manifest live): a summary totaling <= 2 is potentially
      // that placeholder, so those few manifests are counted exactly.
      val (dataFiles, deleteFiles) = t.meta.currentSnapshot.map { sn =>
        val mfs = ManifestIO.readList(sn.manifestListPath)
        def live(content: Int): Long = mfs.filter(_.content == content).map {
          mf =>
            val summary = mf.addedFilesCount.toLong + mf.existingFilesCount
            if (summary > 2) summary
            else (try ManifestIO.readEntries(mf).count(_.isLive)
            catch { case _: Throwable => 0 }).toLong
        }.sum
        (live(0), live(1))
      }.getOrElse((0L, 0L))
      out(StructType(Seq(
          StructField("current_snapshot_id", LongType),
          StructField("total_snapshots_count", LongType),
          StructField("total_data_files_count", LongType),
          StructField("total_delete_files_count", LongType))),
        row(t.meta.currentSnapshotId.getOrElse(-1L),
          t.meta.snapshots.size.toLong, dataFiles, deleteFiles))

    case "compute_partition_stats" =>
      // per-partition file/record/delete counts from live manifest entries
      // (reference ComputePartitionStatsSparkAction → partition-stats file,
      // format/spec.md partition statistics); stored as a JSON stats file
      // next to the metadata and pointed at by a table property
      val t = loadTable(input.getUTF8String(0).toString)
      val m = t.meta
      val sn = m.currentSnapshot.getOrElse(
        throw new IllegalArgumentException("table has no snapshots"))
      // per-partition aggregates computed DISTRIBUTED, one task per
      // manifest (reference ComputePartitionStatsSparkAction is a
      // cluster action for the same reason): entries never land on the
      // driver whole — only the O(partitions) merged aggregates do.
      // `work` pairs each manifest with an optional "only count entries
      // ADDED by this snapshot" filter (the incremental delta shape).
      val mfCrypto = graft.core.meta.TableCrypto.resolve(m)
      // snapshot id → commit timestamp, for last-updated election
      // (expired adding snapshots resolve to 0 = never the latest)
      val tsOf = m.snapshots.map(s0 => s0.snapshotId -> s0.timestampMs).toMap
      def aggregate(work: Seq[(ManifestFile, Option[Long])])
          : Seq[((Int, Seq[Any]), PartStatsAgg)] =
        if (work.isEmpty) Nil
        else SparkSession.active.sparkContext
          .parallelize(work, math.max(1, math.min(work.size, 64)))
          .flatMap { case (mf, onlyAddedBy) =>
            ManifestIO.readEntries(mf, mfCrypto)
              .filter(e => e.isLive && onlyAddedBy.forall(sid =>
                e.status == graft.core.meta.ManifestEntryStatus.Added &&
                  e.snapshotId == sid))
              .map { e =>
              val key = (e.file.specId, e.file.partition.map {
                case b: Array[Byte] => b.toSeq
                case x              => x
              })
              val isData = e.file.content == FileContent.Data
              val isPos = e.file.content == FileContent.PositionDeletes
              val isDv = isPos && DVIO.isDV(e.file.path)
              val isEq = e.file.content == FileContent.EqualityDeletes
              key -> PartStatsAgg(
                if (isData) e.file.recordCount else 0L,
                if (isData) 1 else 0,
                if (isData) e.file.fileSizeBytes else 0L,
                if (isPos) e.file.recordCount else 0L,
                if (isPos && !isDv) 1 else 0,
                if (isEq) e.file.recordCount else 0L,
                if (isEq) 1 else 0,
                if (isDv) 1 else 0,
                e.file.fileSizeBytes, e.snapshotId,
                tsOf.getOrElse(e.snapshotId, 0L))
            }
          }
          .reduceByKey(_ merge _)
          .collect().toSeq
      // Incremental compute (reference PartitionStatsHandler.java:85-130,
      // computeAndMergeStatsIncremental / computeStatsDiff, surfaced by
      // ComputePartitionStatsSparkAction.java:36): start from the NEWEST
      // main ancestor carrying both a registered stats file and graft's
      // exact-value checkpoint sidecar, then aggregate only the manifests
      // each since-snapshot ADDED (each read from that snapshot's own
      // manifest list, so commit-time manifest merging — which re-stamps
      // carried entries as Existing in later lists — can't hide adds).
      // Graft rewrites DROP manifest entries instead of writing Deleted
      // markers, so removals in the delta are invisible to a manifest
      // diff: the incremental path requires every since-snapshot to be a
      // pure append and falls back to a full recompute otherwise
      // (delete/overwrite/replace histories), or when any since-list is
      // unreadable. Cost on the steady streaming path: O(delta), not
      // O(table).
      val chain = m.ancestry()
      val statsBySnap = m.partitionStatistics.map(f => f.snapshotId -> f).toMap
      val headPos = chain.indexWhere(_.snapshotId == sn.snapshotId)
      val incrementalBase: Option[(Int, Map[(Int, Seq[Any]), PartStatsAgg])] =
        if (headPos < 0) None
        else (headPos to 0 by -1).iterator.flatMap { i =>
          statsBySnap.get(chain(i).snapshotId)
            // the registered stats file must itself still exist — the
            // no-op fast path returns its PATH, and seeding from a
            // sidecar whose primary was removed out-of-band would freeze
            // a dangling registration instead of self-healing via a
            // recompute
            .filter(f => GraftIO.exists(f.path))
            .flatMap(f => GraftProcedures.readStatsCkpt(f.path).map((i, _)))
        }.nextOption()
      val (byPart, manifestsRead, noop): (Seq[((Int, Seq[Any]), PartStatsAgg)], Int, Boolean) =
        incrementalBase match {
          case Some((basePos, baseAggs)) if basePos == headPos =>
            // stats for the current snapshot already exist — no-op
            // (reference computeAndWriteStatsFile returns the existing
            // file for a repeat call on the same snapshot)
            (baseAggs.toSeq, 0, true)
          case Some((basePos, baseAggs))
              if chain.slice(basePos + 1, headPos + 1)
                .forall(_.operation == "append") =>
            val since = chain.slice(basePos + 1, headPos + 1)
            scala.util.Try {
              since.flatMap { s0 =>
                ManifestIO.readList(s0.manifestListPath)
                  .filter(_.addedSnapshotId == s0.snapshotId)
                  .map(mf => (mf, Option(s0.snapshotId)))
              }
            }.toOption match {
              case Some(work) =>
                val acc = scala.collection.mutable.LinkedHashMap
                  .empty[(Int, Seq[Any]), PartStatsAgg]
                baseAggs.foreach { case (k, v) => acc(k) = v }
                aggregate(work).foreach { case (k, v) =>
                  acc(k) = acc.get(k).map(_ merge v).getOrElse(v)
                }
                (acc.toSeq, work.size, false)
              case None =>
                val manifests = ManifestIO.readList(sn.manifestListPath)
                (aggregate(manifests.map((_, None))), manifests.size, false)
            }
          case _ =>
            val manifests = ManifestIO.readList(sn.manifestListPath)
            (aggregate(manifests.map((_, None))), manifests.size, false)
        }
      // spec "Partition Statistics file": a Parquet file in the exact
      // reference schema (api/.../PartitionStatistics.java field ids
      // 1-13), partition as ONE unified struct across all specs keyed by
      // partition-field id — external readers consume it as-is. The spec
      // requires a partitioned table; unpartitioned keeps a JSON summary.
      val unified = {
        val seen = scala.collection.mutable.LinkedHashMap
          .empty[Int, graft.core.types.GField]
        m.specs.foreach(sp => sp.partitionType(m.schema).fields.foreach(f =>
          if (!seen.contains(f.id)) seen(f.id) = f))
        seen.values.toSeq
      }
      val statsPath = if (noop) {
        statsBySnap(sn.snapshotId).path
      } else if (unified.nonEmpty) {
        import graft.core.types.{GField, GStruct, GInt, GLong}
        val v3 = m.formatVersion >= 3
        val statsStruct = GStruct(Seq(
          GField(1, "partition", GStruct(unified), required = true),
          GField(2, "spec_id", GInt, required = true),
          GField(3, "data_record_count", GLong, required = true),
          GField(4, "data_file_count", GInt, required = true),
          GField(5, "total_data_file_size_in_bytes", GLong, required = true),
          GField(6, "position_delete_record_count", GLong),
          GField(7, "position_delete_file_count", GInt),
          GField(8, "equality_delete_record_count", GLong),
          GField(9, "equality_delete_file_count", GInt),
          GField(10, "total_record_count", GLong),
          GField(11, "last_updated_at", GLong),
          GField(12, "last_updated_snapshot_id", GLong)) ++
          (if (v3) Seq(GField(13, "dv_count", GInt, required = true)) else Nil))
        val sparkSchema = SparkTypes.toSparkStruct(statsStruct)
        val spark = SparkSession.active
        val conf = spark.sessionState.newHadoopConfWithOptions(Map.empty)
        conf.setBoolean("spark.sql.parquet.fieldId.write.enabled", true)
        val job = org.apache.hadoop.mapreduce.Job.getInstance(conf)
        val owf = new org.apache.spark.sql.execution.datasources.parquet
          .ParquetFileFormat().prepareWrite(spark, job,
            Map("compression" -> "snappy"), sparkSchema)
        job.getConfiguration
          .setBoolean("spark.sql.parquet.fieldId.write.enabled", true)
        val p = s"${t.location}/metadata/partition-stats-${sn.snapshotId}-" +
          s"${java.util.UUID.randomUUID}.parquet"
        val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
          job.getConfiguration,
          new org.apache.hadoop.mapreduce.TaskAttemptID(
            new org.apache.hadoop.mapreduce.TaskID("graft-pstats", 0,
              org.apache.hadoop.mapreduce.TaskType.MAP, 0), 0))
        val w = owf.newInstance(p, sparkSchema, ctx)
        try byPart.sortBy(_._1._1).foreach { case ((specId, partKey), agg) =>
          val posOf = m.specById(specId).partitionType(m.schema)
            .fields.map(_.id).zipWithIndex.toMap
          val pr = new GenericInternalRow(unified.length)
          unified.zipWithIndex.foreach { case (f, i) =>
            // bounds-guarded: tables written before global deletes got
            // their own unpartitioned spec (r16) can carry empty-tuple
            // entries under a partitioned spec id — render those as null
            // partition values instead of failing the whole stats run
            pr.update(i, EqDeleteFiles.toInternal(
              posOf.get(f.id).collect {
                case idx if idx < partKey.length => partKey(idx)
              }.orNull, SparkTypes.toSpark(f.tpe)))
          }
          val row = new GenericInternalRow(statsStruct.fields.length)
          row.update(0, pr)
          row.update(1, specId)
          row.update(2, agg.dataRecords)
          row.update(3, agg.dataFiles)
          row.update(4, agg.dataBytes)
          row.update(5, agg.posRecords)
          row.update(6, agg.posFiles)
          row.update(7, agg.eqRecords)
          row.update(8, agg.eqFiles)
          row.update(9, null) // total_record_count: needs delete application
          row.update(10,
            if (agg.lastTs > 0L) Long.box(agg.lastTs)
            else m.snapshotById(agg.lastSid)
              .map(s => Long.box(s.timestampMs)).orNull)
          row.update(11, Long.box(agg.lastSid))
          if (v3) row.update(12, agg.dvFiles)
          w.write(row)
        } finally w.close()
        // exact-value sidecar: the seed state for the NEXT incremental run
        GraftProcedures.writeStatsCkpt(p, byPart)
        p
      } else {
        val node = MetaJson.mapper.createArrayNode()
        byPart.foreach { case ((specId, partKey), agg) =>
          val o = node.addObject()
          o.put("spec_id", specId)
          o.put("partition", partKey.mkString("[", ",", "]"))
          o.put("data_file_count", agg.dataFiles)
          o.put("record_count", agg.dataRecords)
          o.put("delete_file_count", agg.posFiles + agg.dvFiles + agg.eqFiles)
          o.put("total_size_bytes", agg.allBytes)
        }
        val jp = s"${t.location}/metadata/partition-stats-${sn.snapshotId}.json"
        GraftIO.writeString(jp, node.toString)
        // unpartitioned tables get the exact-value sidecar too: their
        // next compute seeds incrementally (O(delta) manifest reads) and
        // repeat calls take the no-op fast path, same as partitioned
        GraftProcedures.writeStatsCkpt(jp, byPart)
        jp
      }
      // register in table metadata `partition-statistics` (spec partition
      // statistics files, one per snapshot — reference
      // PartitionStatisticsFile) replacing any prior entry for this
      // snapshot; the legacy property stays for existing readers
      var replacedPs: Seq[String] = Nil
      if (!noop) {
        t.commitUpdate { base =>
          replacedPs = base.partitionStatistics
            .filter(_.snapshotId == sn.snapshotId).map(_.path)
          base.copy(
            properties = base.properties + ("partition-stats-path" -> statsPath),
            partitionStatistics = base.partitionStatistics
              .filterNot(_.snapshotId == sn.snapshotId) :+
              PartitionStatisticsFile(sn.snapshotId, statsPath,
                GraftIO.size(statsPath)))
        }
        replacedPs.filterNot(_ == statsPath).foreach { p =>
          try GraftIO.delete(p) catch { case _: Throwable => () }
          try GraftIO.delete(GraftProcedures.statsCkptPath(p))
          catch { case _: Throwable => () }
        }
      }
      out(StructType(Seq(
          StructField("statistics_file", StringType),
          StructField("partitions_analyzed", IntegerType),
          StructField("manifests_read", IntegerType))),
        row(s(statsPath), byPart.size, manifestsRead))

    case "rewrite_table_path" =>
      // prepare a table's metadata tree for relocation to a new prefix
      // (reference RewriteTablePathSparkAction): write prefix-rewritten
      // COPIES of the current metadata/manifest-list/manifest files under
      // a staging dir, plus a CSV mapping every file (metadata AND data)
      // from source to target — a copy tool then moves the bytes
      val t = loadTable(input.getUTF8String(0).toString)
      val srcPrefix = input.getUTF8String(1).toString
      val dstPrefix = input.getUTF8String(2).toString
      val stagingArg = input.getUTF8String(3).toString
      val staging =
        if (stagingArg.nonEmpty) stagingArg
        else s"${t.location}/metadata/rewrite-${java.util.UUID.randomUUID}"
      java.nio.file.Files.createDirectories(GraftIO.toPath(staging))
      val m = t.meta
      def mv(p: String): String = p.replace(srcPrefix, dstPrefix)
      def stagePath(p: String): String =
        s"$staging/${GraftIO.toPath(p).getFileName}"
      // JSON documents (metadata.json, JSON-lines manifests) rewrite as
      // text; Avro manifests are BINARY — a string replace corrupts the
      // container, so they re-encode through the codec with moved paths
      def rewriteText(path: String): String = {
        val outPath = stagePath(path)
        GraftIO.writeString(outPath,
          GraftIO.readString(path).replace(srcPrefix, dstPrefix))
        outPath
      }
      val snapLists = m.snapshots.flatMap { sn =>
        try Some(sn -> ManifestIO.readList(sn.manifestListPath))
        catch { case _: Throwable => None }
      }
      val uniqueMfs = snapLists.flatMap(_._2)
        .groupBy(_.path).map(_._2.head).toSeq
      val entriesByMf: Map[String, Seq[ManifestEntry]] = uniqueMfs.map { mf =>
        mf.path -> (try ManifestIO.readEntries(mf)
          catch { case _: Throwable => Seq.empty[ManifestEntry] })
      }.toMap

      // ---- pass 1: delete files whose CONTENT embeds data-file paths.
      // Graft's own reader has a relocation-stable suffix fallback, but
      // an EXTERNAL reader of the moved tree matches deletes by exact
      // path — so DV puffins get their referenced-data-file moved and
      // position-delete parquets get the file_path column rewritten
      // (reference RewriteTablePathUtil.rewritePositionDeleteFile);
      // equality deletes embed no paths and copy as-is. Skipped for
      // encrypted tables (no external reader can consume those anyway,
      // and the suffix fallback keeps graft reads correct).
      val tCrypto = TableCrypto.resolve(m)
      // original path -> (staged, newFileSize, newContentOffset, newLen)
      val dvInfo = mutable.Map.empty[String, (String, Long, Long, Long)]
      // original path -> (staged, newFileSize)
      val posInfo = mutable.Map.empty[String, (String, Long)]
      // parquet/ORC delete files rewrite in a session of their own whose
      // field-id writing is forced on, so the rewritten tree stays
      // externally readable whatever the caller's session says — and no
      // other query of the caller's session sees a changed conf
      lazy val idSession = {
        val s = SparkSession.active.newSession()
        s.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
        s
      }
      if (tCrypto.isEmpty) {
        entriesByMf.values.flatten
          .filter(_.file.content == FileContent.PositionDeletes)
          .map(_.file).groupBy(_.path).map(_._2.head).foreach { f =>
          try {
            val staged = stagePath(f.path)
            if (DVIO.isDV(f.path)) {
              val (ref, bm) = DVIO.read(f.path)
              val positions = mutable.ArrayBuffer.empty[Long]
              bm.forEach((l: Long) => positions += l)
              val (_, off, len) =
                DVIO.writeBlob(staged, mv(ref), positions.iterator)
              dvInfo(f.path) = (staged, GraftIO.size(staged), off, len)
            } else if (f.format == "avro") {
              // avro delete files copy record-for-record under the FILE'S
              // OWN schema (the spec's optional `row` payload and the
              // reserved field-id props survive untouched), with only the
              // file_path field moved; records re-sort by (file_path,
              // pos) since prefix replacement can reorder mixed-prefix
              // keys (no Spark job — the row count is a delete list)
              import org.apache.avro.file.{DataFileReader, DataFileWriter, SeekableFileInput}
              import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
              val reader = new DataFileReader[GenericRecord](
                new SeekableFileInput(GraftIO.toPath(f.path).toFile),
                new GenericDatumReader[GenericRecord]())
              try {
                val schema = reader.getSchema
                val recs = mutable.ArrayBuffer.empty[GenericRecord]
                while (reader.hasNext) {
                  val r = reader.next()
                  val p0 = String.valueOf(r.get("file_path"))
                  r.put("file_path",
                    if (p0.startsWith(srcPrefix))
                      dstPrefix + p0.substring(srcPrefix.length)
                    else p0)
                  recs += r
                }
                recs.sortInPlaceBy(r =>
                  (String.valueOf(r.get("file_path")),
                    r.get("pos").asInstanceOf[java.lang.Long].longValue()))
                val w = new DataFileWriter[GenericRecord](
                  new GenericDatumWriter[GenericRecord](schema))
                w.create(schema, GraftIO.toPath(staged).toFile)
                try recs.foreach(w.append) finally w.close()
              } finally reader.close()
              posInfo(f.path) = (staged, GraftIO.size(staged))
            } else if (f.format == "parquet" || f.format == "orc") {
              import org.apache.spark.sql.functions.{col, concat, expr, lit, when}
              val spark = idSession
              val src =
                if (f.format == "orc") spark.read.orc(f.path)
                else spark.read.parquet(f.path)
              val moved = src.withColumn("file_path",
                when(col("file_path").startsWith(srcPrefix),
                  concat(lit(dstPrefix),
                    expr(s"substring(file_path, ${srcPrefix.length + 1})")))
                  .otherwise(col("file_path")))
              // external readers project delete files BY FIELD ID
              // (2147483546/2147483545 — reference rewritePositionDeleteFile
              // writes through the id-carrying schema): a plain
              // read→write drops the ids (Spark's reader never surfaces
              // them), so re-annotate file_path/pos; extra columns (the
              // optional `row` payload) pass through untouched
              def annot(id: Long) = new org.apache.spark.sql.types.MetadataBuilder()
                .putLong("parquet.field.id", id).build()
              val annotated = moved.select(moved.schema.fieldNames.map {
                case "file_path" => col("file_path").as("file_path",
                  annot(graft.core.meta.DeleteFileIndex.FilePathFieldId.toLong))
                case "pos" => col("pos").as("pos",
                  annot(graft.core.meta.DeleteFileIndex.PosFieldId.toLong))
                case other => col(other)
              }.toSeq: _*)
              val tmp = s"$staging/.tmp-${java.util.UUID.randomUUID}"
              val sorted = annotated.coalesce(1)
                .sortWithinPartitions("file_path", "pos")
              if (f.format == "orc") sorted.write.orc(tmp)
              else sorted.write.parquet(tmp)
              val ext = if (f.format == "orc") ".orc" else ".parquet"
              val part = GraftIO.list(tmp).filter(_.endsWith(ext)).head
              java.nio.file.Files.move(GraftIO.toPath(part), GraftIO.toPath(staged))
              GraftIO.list(tmp).foreach(p =>
                try GraftIO.delete(p) catch { case _: Throwable => () })
              try java.nio.file.Files.deleteIfExists(GraftIO.toPath(tmp))
              catch { case _: Throwable => () }
              posInfo(f.path) = (staged, GraftIO.size(staged))
            }
          } catch { case e: Throwable => // unreadable → copied as-is
            System.err.println(s"rewrite_table_path: keeping ${f.path} as-is: $e")
          }
        }
      }

      // ---- pass 2: manifests — distributed as a Spark job for big
      // trees (reference RewriteTablePathSparkAction), serial below the
      // threshold and for encrypted tables (executor-side entry reads
      // need the driver's key registry).
      val dvMap = dvInfo.toMap
      val posMap = posInfo.toMap
      val mfStaged: Map[String, (String, Long)] = {
        val doOne = (mf: ManifestFile) => mf.path ->
          RewriteTablePathTask.rewriteManifest(mf, m, dvMap, posMap,
            srcPrefix, dstPrefix, staging)
        if (uniqueMfs.size >= 64 && tCrypto.isEmpty) {
          val sc = SparkSession.active.sparkContext
          sc.parallelize(uniqueMfs, math.max(1, math.min(uniqueMfs.size, 256)))
            .map(doOne).collect().toMap
        } else uniqueMfs.map(doOne).toMap
      }

      // ---- pass 3: manifest lists (length fields track the staged
      // manifests) + the metadata document + the copy list
      def rewriteList(sn: Snapshot, mfs: Seq[ManifestFile]): String =
        if (AvroManifests.isAvro(
            java.nio.file.Files.readAllBytes(GraftIO.toPath(sn.manifestListPath)))) {
          val outPath = stagePath(sn.manifestListPath)
          java.nio.file.Files.write(GraftIO.toPath(outPath),
            AvroManifests.writeList(mfs.map(mf => mf.copy(path = mv(mf.path),
              length = mfStaged.get(mf.path).map(_._2).getOrElse(mf.length))),
              m.formatVersion, ManifestIO.partTypesOf(m)))
          outPath
        } else rewriteText(sn.manifestListPath)
      val srcMetaPath = s"${t.location}/metadata/v${t.ops.currentVersion()}.metadata.json"
      val metaCopy = rewriteText(srcMetaPath)
      val copied = mutable.ArrayBuffer.empty[(String, String)]
      // the copy target is the ORIGINAL layout under the new prefix (the
      // staging dir is only where the rewritten bytes live locally)
      copied += ((metaCopy, mv(srcMetaPath)))
      snapLists.foreach { case (sn, mfs) =>
        try copied += ((rewriteList(sn, mfs), mv(sn.manifestListPath)))
        catch { case _: Throwable => () }
        mfs.foreach { mf =>
          mfStaged.get(mf.path).foreach { case (staged, _) =>
            copied += ((staged, mv(mf.path)))
          }
          entriesByMf.getOrElse(mf.path, Nil).foreach { e =>
            val p = e.file.path
            val src = dvInfo.get(p).map(_._1)
              .orElse(posInfo.get(p).map(_._1)).getOrElse(p)
            // rewritten delete content ships from staging; data files are
            // not rewritten, only listed for the copy tool
            copied += ((src, mv(p)))
          }
        }
      }
      // statistics files embed no paths: plain copies for the copy tool
      (m.statistics.map(_.path) ++ m.partitionStatistics.map(_.path))
        .foreach(p => copied += ((p, mv(p))))
      val fileList = s"$staging/file-list.csv"
      GraftIO.writeString(fileList,
        copied.distinct.map { case (a, b) => s"$a,$b" }.mkString("\n"))
      out(StructType(Seq(
          StructField("latest_version", StringType),
          StructField("file_list_location", StringType))),
        row(s(GraftIO.toPath(metaCopy).getFileName.toString), s(fileList)))

    case other => throw new IllegalArgumentException(other)
  }
}

/** Per-manifest unit of rewrite_table_path, shaped to run on executors
  * (reference RewriteTablePathSparkAction distributes exactly this):
  * everything it needs ships as serializable values, nothing driver-only.
  * Avro manifests re-encode through the codec (a text replace corrupts
  * the binary container); JSON-lines manifests rewrite as text unless an
  * entry needs updated delete-file sizes/offsets, in which case they
  * re-serialize structurally. */
object RewriteTablePathTask extends Serializable {
  /** @return (staged path, staged length) */
  def rewriteManifest(mf: ManifestFile, m: TableMetadata,
      dvInfo: Map[String, (String, Long, Long, Long)],
      posInfo: Map[String, (String, Long)],
      srcPrefix: String, dstPrefix: String, staging: String): (String, Long) = {
    def mv(p: String): String = p.replace(srcPrefix, dstPrefix)
    def moveEntry(e: ManifestEntry): ManifestEntry = {
      val f0 = e.file
      val f1 = f0.copy(path = mv(f0.path),
        referencedDataFile = f0.referencedDataFile.map(mv))
      val f2 = dvInfo.get(f0.path) match {
        case Some((_, size, off, len)) =>
          f1.copy(fileSizeBytes = size,
            contentOffset = Some(off), contentSizeInBytes = Some(len))
        case None => posInfo.get(f0.path) match {
          case Some((_, size)) =>
            // file_path bounds embed old paths: move them when the
            // prefix is intact, else drop the stat (no path pruning
            // beats WRONG path pruning in the moved tree)
            val pid = DeleteFileIndex.FilePathFieldId
            val stats1 = f1.columnStats.get(pid) match {
              case Some(cs) =>
                def mvB(b: Any): Option[Any] = b match {
                  case s: String if s.startsWith(srcPrefix) => Some(mv(s))
                  case _ => None
                }
                (cs.lower.flatMap(mvB), cs.upper.flatMap(mvB)) match {
                  case (lo @ Some(_), hi @ Some(_)) =>
                    f1.columnStats.updated(pid, cs.copy(lower = lo, upper = hi))
                  case _ => f1.columnStats - pid
                }
              case None => f1.columnStats
            }
            f1.copy(fileSizeBytes = size, columnStats = stats1)
          case None => f1
        }
      }
      e.copy(file = f2)
    }
    val outPath = s"$staging/${GraftIO.toPath(mf.path).getFileName}"
    val isAvro = try AvroManifests.isAvro(
      java.nio.file.Files.readAllBytes(GraftIO.toPath(mf.path)))
      catch { case _: Throwable => false }
    if (isAvro) {
      val entries = ManifestIO.readEntries(mf)
      java.nio.file.Files.write(GraftIO.toPath(outPath),
        AvroManifests.writeManifest(entries.map(moveEntry),
          m.specById(mf.specId), m.schema, mf.content, m.formatVersion))
    } else {
      val entries = try ManifestIO.readEntries(mf)
        catch { case _: Throwable => Nil }
      val needsUpdate = entries.exists(e =>
        dvInfo.contains(e.file.path) || posInfo.contains(e.file.path))
      if (needsUpdate) {
        val sb = new StringBuilder
        entries.foreach(e =>
          sb.append(MetaJson.writeEntry(moveEntry(e))).append('\n'))
        GraftIO.writeString(outPath, sb.toString)
      } else
        GraftIO.writeString(outPath,
          GraftIO.readString(mf.path).replace(srcPrefix, dstPrefix))
    }
    (outPath, GraftIO.size(outPath))
  }
}

/** Z-order clustering for compaction (reference SparkZOrderUDF.java,
  * simplified): each column is mapped to an order-preserving double
  * (strings cluster by hash), normalized to an orderable unsigned long,
  * and the top bits are interleaved into one z-value that range-
  * partitioning + local sort cluster on. */
object ZOrder {
  private def orderedBits(d: Double): Long = {
    val bits = java.lang.Double.doubleToLongBits(d)
    if (bits >= 0) bits ^ Long.MinValue else ~bits
  }

  def zValue(vs: Seq[Double]): Long = {
    val n = vs.length.max(1)
    val longs = vs.map(v => orderedBits(if (v == null) 0.0 else v))
    val bitsPer = 64 / n
    var out = 0L
    var i = 0
    while (i < bitsPer) {
      var j = 0
      while (j < n) {
        out = (out << 1) | ((longs(j) >>> (63 - i)) & 1L)
        j += 1
      }
      i += 1
    }
    out
  }

  val zudf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf((vs: Seq[Double]) => zValue(vs))
}

/** Compaction (reference RewriteDataFilesSparkAction + runners): bin-pack,
  * sort, or z-order file groups per partition, commit one atomic replace
  * (or one per batch under partial progress). Each group is read through
  * the table's scan over its planned tasks and written by the batch
  * write's factory — one Spark job per group. */
object RewriteDataFiles {
  import GraftProcedures._

  private val resultSchema = StructType(Seq(
    StructField("rewritten_data_files_count", IntegerType),
    StructField("added_data_files_count", IntegerType),
    StructField("rewritten_bytes_count", LongType),
    StructField("failed_data_files_count", IntegerType)))

  /** SQL `where` text → engine expression (reference
    * RewriteDataFilesProcedure `where` parameter): a safe
    * subset — comparisons, IN, IS [NOT] NULL, AND/OR/NOT, and
    * LIKE-'x%' prefixes — over top-level columns, with foldable
    * literal sides (casts and literal arithmetic evaluate). Anything
    * else is rejected loudly rather than silently rewriting more
    * files than the caller asked for. */
  private[spark] def parseWhere(sql: String): graft.core.expr.Expr = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import graft.core.expr.{Expr, Op, UnboundPred, TrueE}
    val parsed = SparkSession.active.sessionState.sqlParser.parseExpression(sql)
    def fold(e: ce.Expression): Any = {
      require(e.foldable, s"where: non-literal operand $e")
      e.eval(null) match {
        case u: org.apache.spark.unsafe.types.UTF8String => u.toString
        case d: org.apache.spark.sql.types.Decimal       => d.toJavaBigDecimal
        case other                                       => other
      }
    }
    def attr(e: ce.Expression): Option[String] = e match {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        Some(a.name)
      case _ => None
    }
    def cmp(l: ce.Expression, r: ce.Expression,
        op: graft.core.expr.Operation,
        flip: graft.core.expr.Operation): Expr =
      attr(l) match {
        case Some(n) => UnboundPred(op, n, Seq(fold(r)))
        case None => attr(r) match {
          case Some(n) => UnboundPred(flip, n, Seq(fold(l)))
          case None => throw new IllegalArgumentException(
            s"where: expected <column> <op> <literal>, got $l / $r")
        }
      }
    def conv(e: ce.Expression): Expr = e match {
      case ce.And(l, r) => Expr.and(conv(l), conv(r))
      case ce.Or(l, r)  => Expr.or(conv(l), conv(r))
      case ce.Not(c)    => Expr.not(conv(c))
      case ce.Literal(true, _)  => TrueE
      case ce.EqualTo(l, r)            => cmp(l, r, Op.Eq, Op.Eq)
      case ce.LessThan(l, r)           => cmp(l, r, Op.Lt, Op.Gt)
      case ce.GreaterThan(l, r)        => cmp(l, r, Op.Gt, Op.Lt)
      case ce.LessThanOrEqual(l, r)    => cmp(l, r, Op.LtEq, Op.GtEq)
      case ce.GreaterThanOrEqual(l, r) => cmp(l, r, Op.GtEq, Op.LtEq)
      case ce.In(a, vs) if attr(a).isDefined =>
        UnboundPred(Op.In, attr(a).get, vs.map(fold))
      case ce.IsNull(a) if attr(a).isDefined =>
        UnboundPred(Op.IsNull, attr(a).get)
      case ce.IsNotNull(a) if attr(a).isDefined =>
        UnboundPred(Op.NotNull, attr(a).get)
      case like: ce.Like if attr(like.left).isDefined =>
        val pat = String.valueOf(fold(like.right))
        require(pat.endsWith("%") &&
          !pat.dropRight(1).exists(c => c == '%' || c == '_'),
          s"where: only prefix LIKE 'x%' is supported, got '$pat'")
        UnboundPred(Op.StartsWith, attr(like.left).get, Seq(pat.dropRight(1)))
      case other => throw new IllegalArgumentException(
        s"where: unsupported predicate $other")
    }
    conv(parsed)
  }

  def run(t: GTable, strategy: String, sortOrder: String,
      targetSize: Long, minInputFiles: Int,
      partialProgress: Boolean = false,
      maxCommits: Int = 10,
      where: String = "",
      deleteFileThreshold: Int = 1,
      rewriteAll: Boolean = false,
      minFileSizeBytes: Long = -1L,
      maxFileSizeBytes: Long = -1L): util.Iterator[Scan] = {
    val schemaWithIds = graft.core.types.SparkTypes.toSparkSchema(t.schema)
    // each group is read through the table's own scan over its planned
    // tasks (GraftSparkTable.readTasks): the scan masks position, DV and
    // equality deletes, resolves columns by field id or write-time name,
    // fills identity-partition columns of imports and serves the lineage
    // columns. Each group is written by the table's batch-write factory.
    val scan = t.newScan()
    // `where` restricts the rewrite to files that MAY match (inclusive
    // metadata pruning — file selection, not row filtering)
    if (where.trim.nonEmpty) scan.filter(parseWhere(where))
    // captured BEFORE planning: the commit validates that no conflicting
    // operation (row-level delete, another rewrite, overwrite) landed in
    // the scan→commit window — a MoR delete committed mid-compaction
    // would otherwise be silently dropped (its positions point at the
    // replaced files) and its rows resurrected
    val scannedSnapshotId = scan.snapshot().map(_.snapshotId)
    val tasks = scan.planFiles()
    // delete-file obsolescence must be judged against EVERY data file the
    // delete applies to — a `where`-filtered plan only sees a subset, and
    // dropping a delete still applicable to an unselected file would
    // resurrect its rows. Same pinned snapshot, unfiltered.
    val tasksForDeletes =
      if (where.trim.isEmpty) tasks
      else {
        val s2 = t.newScan()
        scannedSnapshotId.foreach(s2.useSnapshot)
        s2.planFiles()
      }
    // group by partition tuple; a group qualifies if it has enough small
    // files (binpack), carries files at/over the delete-file threshold
    // (reference BinPackRewriteFilePlanner.java:70-72), or any files at
    // all (sort/zorder re-cluster everything; rewrite_all is the
    // explicit escape hatch — SizeBasedFileRewritePlanner.java:90-97)
    val bySort = strategy.toLowerCase == "sort"
    val byZ = strategy.toLowerCase == "zorder"
    require(bySort || byZ || strategy.toLowerCase == "binpack",
      s"unknown strategy $strategy")
    require(deleteFileThreshold >= 1, "delete_file_threshold must be >= 1")
    // size band (reference SizeBasedFileRewritePlanner
    // MIN_FILE_SIZE_DEFAULT_RATIO 0.75 / MAX_FILE_SIZE_DEFAULT_RATIO
    // 1.8): undersized files qualify by count; ANY oversized file
    // qualifies its group alone — it must split back toward the target
    val minFs = if (minFileSizeBytes > 0) minFileSizeBytes
      else (targetSize * 0.75).toLong
    val maxFs = if (maxFileSizeBytes > 0) maxFileSizeBytes
      else (targetSize * 1.8).toLong
    val groups = tasks.groupBy(ts => (ts.file.specId, ts.file.partition))
      .filter { case (_, ts) =>
        if (bySort || byZ || rewriteAll) ts.nonEmpty
        else ts.exists(_.deletes.size >= deleteFileThreshold) ||
          ts.count(t => t.file.fileSizeBytes < minFs ||
            t.file.fileSizeBytes > maxFs) >= minInputFiles ||
          ts.exists(_.file.fileSizeBytes > maxFs)
      }
    if (groups.isEmpty)
      return GraftProcedures.out(resultSchema, GraftProcedures.row(0, 0, 0L, 0))

    // parsed through the ONE SortSpecs grammar so the applied sort —
    // direction AND null placement — is exactly what a matching
    // registered order (and thus the stamped sort_order_id) describes
    val sortParts = SortSpecs.parse(sortOrder)
    val sortCols = sortParts.map { p =>
      val c = org.apache.spark.sql.functions.col(p.colName)
      (p.asc, p.nullsFirst) match {
        case (true, true)   => c.asc_nulls_first
        case (true, false)  => c.asc_nulls_last
        case (false, true)  => c.desc_nulls_first
        case (false, false) => c.desc_nulls_last
      }
    }.toArray
    val zFields = sortParts.map(_.colName).toArray
    require(!(bySort || byZ) || sortCols.nonEmpty,
      s"$strategy strategy requires sort_order")
    // a sorted rewrite stamps sort_order_id on its output files when the
    // requested order IS a registered table order (reference
    // SparkShufflingDataRewriter → SparkFileWriterFactory) — the id is a
    // foreign key into table metadata, so an ad-hoc unregistered order
    // leaves it null rather than dangle; z-order has no SortOrder form
    val rwSortOrderId: Option[Int] =
      if (!bySort) None else SortSpecs.registeredOrderId(t.meta, sortOrder)

    var rewritten = 0
    var added = 0
    var bytes = 0L
    var failedFiles = 0
    val newFiles = Seq.newBuilder[DataFile]
    val oldPaths = Seq.newBuilder[String]

    // delete-file applicability over the whole scan: a delete file is
    // obsolete once EVERY data file it applied to has been rewritten in
    // commits so far (masks baked into new files with higher sequences)
    val applicability = scala.collection.mutable.Map.empty[String, Set[String]]
    tasksForDeletes.foreach { ts0 =>
      ts0.deletes.foreach { d =>
        applicability(d.path) = applicability.getOrElse(d.path, Set.empty) + ts0.file.path
      }
    }
    val cumulativeRewritten = scala.collection.mutable.Set.empty[String]
    val droppedDeletes = scala.collection.mutable.Set.empty[String]
    // partial progress (reference partial-progress.enabled/max-commits):
    // commit completed file groups in batches so one failure or conflict
    // keeps everything already committed; each batch validates from the
    // previous commit (our own overwrite would otherwise conflict)
    var validateFrom = scannedSnapshotId
    val groupSeq = groups.toSeq
    val doPartial = partialProgress && groupSeq.size > 1
    val batchSize =
      if (doPartial)
        math.max(1, math.ceil(groupSeq.size.toDouble / math.max(1, maxCommits)).toInt)
      else groupSeq.size
    var pendingGroups = 0
    var pendingRewritten = 0
    var pendingAdded = 0
    var pendingBytes = 0L

    // cumulative/dropped sets and the result counters move ONLY after a
    // successful commit — a failed batch commit must not make later
    // batches believe its files were rewritten (dropping delete files
    // that still apply would resurrect deleted rows)
    def commitPending(): Unit = {
      val old = oldPaths.result()
      val nf = newFiles.result()
      val (pr, pa, pb) = (pendingRewritten, pendingAdded, pendingBytes)
      pendingGroups = 0; oldPaths.clear(); newFiles.clear()
      pendingRewritten = 0; pendingAdded = 0; pendingBytes = 0L
      if (old.isEmpty && nf.isEmpty) return
      val rewrittenIfCommitted = cumulativeRewritten.toSet ++ old
      val obsolete = applicability.collect {
        case (dp, applies) if !droppedDeletes(dp) &&
          applies.subsetOf(rewrittenIfCommitted) => dp
      }.toSeq
      val ow = t.newOverwrite()
        .deleteFiles((old ++ obsolete).distinct)
        .addFiles(nf).overrideOperation("replace")
      validateFrom.foreach(ow.validateFromSnapshot)
      try {
        val snap = ow.commit()
        validateFrom = Some(snap.snapshotId)
        cumulativeRewritten ++= old
        droppedDeletes ++= obsolete
        rewritten += pr; added += pa; bytes += pb
      } catch {
        case scala.util.control.NonFatal(e) if doPartial =>
          failedFiles += pr
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn(s"rewrite batch commit failed, forfeiting ${old.size} files", e)
      }
    }

    groupSeq.foreach { case ((specId, partition), ts) => try {
      val paths = ts.map(_.file.path)
      val totalBytes = ts.map(_.file.fileSizeBytes).sum
      val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetSize).toInt)
      // write schema UNKNOWN (pre-write-schema-id manifest entry whose
      // adding snapshot was expired) + a rename anywhere in schema
      // history: the scan reads ORC and name-mapped parquet by CURRENT
      // names, so a since-renamed column would read null and the rewrite
      // would commit that corruption permanently. Parquet files carry
      // field ids and read safely; name-only formats fail loudly.
      val unsafe = ts.filter(ft => ft.writeSchemaId < 0 &&
        Set("orc", "orc-nm", "parquet-nm")(ft.file.format) &&
        t.meta.schemas.exists(h => h.schemaId != t.meta.currentSchemaId &&
          GraftSparkTable.namesDiffer(t.meta.schema, h)))
      if (unsafe.nonEmpty)
        throw new IllegalStateException(
          "rewrite_data_files: ORC or name-mapped parquet files with unknown " +
          "write schema in a table whose schema history renames columns " +
          "cannot be read safely by name; skipping rewrite of: " +
          unsafe.map(_.file.path).mkString(", "))
      // row lineage: rewritten rows keep their ORIGINAL _row_id and
      // last-updated sequence, materialized as real columns in the new
      // files (v3 lineage; reference ExtractRowLineage)
      val df1 = GraftSparkTable.readTasks(t, ts).select(
        (schemaWithIds.fieldNames.toSeq ++
          Seq(GraftSparkTable.MetaRowIdCol, GraftSparkTable.MetaSeqCol))
          .map(org.apache.spark.sql.functions.col): _*)
      import org.apache.spark.sql.functions.{array, col => fcol, xxhash64}
      val df =
        if (bySort) df1.repartitionByRange(nOut, sortCols.toIndexedSeq: _*)
          .sortWithinPartitions(sortCols.toIndexedSeq: _*)
        else if (byZ) {
          val zin = array(zFields.toIndexedSeq.map { f =>
            df1.schema(f).dataType match {
              case org.apache.spark.sql.types.StringType =>
                xxhash64(fcol(f)).cast("double")
              case _ => fcol(f).cast("double")
            }
          }: _*)
          df1.withColumn("__z", ZOrder.zudf(zin))
            .repartitionByRange(nOut, fcol("__z"))
            .sortWithinPartitions("__z")
            .drop("__z")
        }
        else if (nOut == 1) df1.coalesce(1)
        else df1.repartition(nOut)
      // the batch write's own factory, for this group's spec: each task
      // writes one file in the table's format and write properties
      val factory = GraftBatchWrite.writerFactory(t, schemaWithIds,
        t.meta.specById(specId), lineage = true, sortOrderId = rwSortOrderId)
      val gf = df.queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
        val w = factory.createWriter(pid,
          org.apache.spark.TaskContext.get().taskAttemptId())
        try {
          rows.foreach(w.write)
          Iterator(w.commit().files)
        } catch {
          case e: Throwable => w.abort(); throw e
        } finally w.close()
      }.collect().toSeq.flatten
      pendingRewritten += ts.size
      pendingAdded += gf.size
      pendingBytes += totalBytes
      newFiles ++= gf
      oldPaths ++= paths
      pendingGroups += 1
      if (doPartial && pendingGroups >= batchSize) commitPending()
    } catch {
      // partial progress: a failed group forfeits only its own rewrite;
      // its uncommitted outputs become orphans (remove_orphan_files)
      case scala.util.control.NonFatal(e) if doPartial =>
        failedFiles += ts.size
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"rewrite group ($specId, $partition) failed, skipping", e)
    }}
    commitPending()
    GraftProcedures.out(resultSchema,
      GraftProcedures.row(rewritten, added, bytes, failedFiles))
  }
}
