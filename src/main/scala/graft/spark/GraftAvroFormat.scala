package graft.spark

import java.nio.ByteBuffer
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema => ASchema}
import org.apache.avro.file.{CodecFactory, DataFileReader, DataFileWriter, SeekableFileInput}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.expr.ColStats
import graft.core.meta.GraftIO
import graft.core.types._

/** Avro data-file format (reference core/.../avro/, `format/spec.md` Avro
  * data files): row-oriented files with per-field `field-id` schema props
  * so projection is id-based like parquet. Built directly on the Avro
  * generic API (avro-1.12 is on Spark's classpath; there is no spark-avro
  * connector here). Unlike parquet/ORC, Avro has no footer statistics —
  * per-column min/max/null metrics are collected while writing (reference
  * `core/.../FieldMetrics.java` write-time metrics), so scan pruning works
  * identically across formats.
  */
object GraftAvro {
  val FieldIdProp = "field-id"

  // ------------------------------------------------------------ schema
  private val nameCounter = new java.util.concurrent.atomic.AtomicLong

  def toAvroSchema(st: StructType, recordName: String = "graft_record"): ASchema = {
    val rec = ASchema.createRecord(recordName, null, "graft", false)
    rec.setFields(st.fields.map { f =>
      val fid =
        if (f.metadata.contains(SparkTypes.FieldIdKey))
          f.metadata.getLong(SparkTypes.FieldIdKey)
        else -1L
      val af = new ASchema.Field(avroName(f.name), toAvro(f.dataType, f.nullable),
        null, if (f.nullable) ASchema.Field.NULL_DEFAULT_VALUE else null)
      if (fid >= 0) af.addProp(FieldIdProp, fid: java.lang.Long)
      if (avroName(f.name) != f.name) af.addProp("spark-name", f.name)
      af
    }.toList.asJava)
    rec
  }

  /** avro names are [A-Za-z0-9_] starting with letter/_ — mangle others,
    * keeping the original in a `spark-name` prop (resolution is by
    * field-id anyway) */
  private def avroName(n: String): String = {
    val s = n.map(c => if (c.isLetterOrDigit || c == '_') c else '_')
    if (s.isEmpty || s.head.isDigit) "_" + s else s
  }

  private def toAvro(dt: DataType, nullable: Boolean): ASchema = {
    val base = dt match {
      case BooleanType => ASchema.create(ASchema.Type.BOOLEAN)
      case ByteType | ShortType | IntegerType => ASchema.create(ASchema.Type.INT)
      case LongType    => ASchema.create(ASchema.Type.LONG)
      case FloatType   => ASchema.create(ASchema.Type.FLOAT)
      case DoubleType  => ASchema.create(ASchema.Type.DOUBLE)
      case StringType  => ASchema.create(ASchema.Type.STRING)
      case BinaryType  => ASchema.create(ASchema.Type.BYTES)
      case DateType    => LogicalTypes.date().addToSchema(ASchema.create(ASchema.Type.INT))
      case TimestampType =>
        LogicalTypes.timestampMicros().addToSchema(ASchema.create(ASchema.Type.LONG))
      case TimestampNTZType =>
        LogicalTypes.localTimestampMicros().addToSchema(ASchema.create(ASchema.Type.LONG))
      case d: DecimalType =>
        LogicalTypes.decimal(d.precision, d.scale)
          .addToSchema(ASchema.create(ASchema.Type.BYTES))
      case s: StructType =>
        toAvroSchema(s, s"graft_struct_${nameCounter.incrementAndGet()}")
      case a: ArrayType => ASchema.createArray(toAvro(a.elementType, a.containsNull))
      case m: MapType if m.keyType == StringType =>
        ASchema.createMap(toAvro(m.valueType, m.valueContainsNull))
      case m: MapType =>
        // non-string keys: array of {key, value} records (reference Avro
        // map convention, core/.../avro/ key-value pairs)
        val kv = ASchema.createRecord(s"graft_kv_${nameCounter.incrementAndGet()}",
          null, "graft", false)
        kv.setFields(List(
          new ASchema.Field("key", toAvro(m.keyType, false), null, null),
          new ASchema.Field("value", toAvro(m.valueType, m.valueContainsNull),
            null, if (m.valueContainsNull) ASchema.Field.NULL_DEFAULT_VALUE else null)).asJava)
        ASchema.createArray(kv)
      case other => throw new IllegalArgumentException(s"avro: unsupported $other")
    }
    if (nullable)
      ASchema.createUnion(ASchema.create(ASchema.Type.NULL), base)
    else base
  }

  private def nonNull(s: ASchema): ASchema =
    if (s.getType == ASchema.Type.UNION)
      s.getTypes.asScala.find(_.getType != ASchema.Type.NULL).getOrElse(s)
    else s

  // --------------------------------------------- spark -> avro values
  private def toAvroValue(v: Any, dt: DataType, as: ASchema): Any = {
    if (v == null) return null
    val s = nonNull(as)
    dt match {
      case StringType => v.asInstanceOf[UTF8String].toString
      case BinaryType => ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
      case d: DecimalType =>
        ByteBuffer.wrap(v.asInstanceOf[Decimal].toJavaBigDecimal
          .setScale(d.scale).unscaledValue().toByteArray)
      case st: StructType =>
        val row = v.asInstanceOf[InternalRow]
        val rec = new GenericData.Record(s)
        var i = 0
        while (i < st.fields.length) {
          val f = st.fields(i)
          rec.put(i,
            if (row.isNullAt(i)) null
            else toAvroValue(row.get(i, f.dataType), f.dataType, s.getFields.get(i).schema()))
          i += 1
        }
        rec
      case at: ArrayType =>
        val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val out = new java.util.ArrayList[Any](arr.numElements())
        var i = 0
        while (i < arr.numElements()) {
          out.add(
            if (arr.isNullAt(i)) null
            else toAvroValue(arr.get(i, at.elementType), at.elementType, s.getElementType))
          i += 1
        }
        out
      case mt: MapType if mt.keyType == StringType =>
        val m = v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
        val out = new java.util.HashMap[String, Any](m.numElements())
        val ks = m.keyArray(); val vs = m.valueArray()
        var i = 0
        while (i < m.numElements()) {
          out.put(ks.getUTF8String(i).toString,
            if (vs.isNullAt(i)) null
            else toAvroValue(vs.get(i, mt.valueType), mt.valueType, s.getValueType))
          i += 1
        }
        out
      case mt: MapType =>
        val m = v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
        val kvSchema = s.getElementType
        val out = new java.util.ArrayList[Any](m.numElements())
        val ks = m.keyArray(); val vs = m.valueArray()
        var i = 0
        while (i < m.numElements()) {
          val rec = new GenericData.Record(kvSchema)
          rec.put(0, toAvroValue(ks.get(i, mt.keyType), mt.keyType,
            kvSchema.getFields.get(0).schema()))
          rec.put(1,
            if (vs.isNullAt(i)) null
            else toAvroValue(vs.get(i, mt.valueType), mt.valueType,
              kvSchema.getFields.get(1).schema()))
          out.add(rec)
          i += 1
        }
        out
      case _ => v // numerics, boolean, date int, timestamp long
    }
  }

  // --------------------------------------------- avro -> spark values
  /** convert an avro value to a Spark internal value of `dt`, widening
    * int->long / float->double for promoted schema evolution */
  private def toInternal(v: Any, dt: DataType): Any = {
    if (v == null) return null
    dt match {
      case StringType => UTF8String.fromString(v.toString)
      case BinaryType => v match {
        case b: ByteBuffer =>
          val a = new Array[Byte](b.remaining()); b.duplicate().get(a); a
        case a: Array[Byte] => a
      }
      case d: DecimalType =>
        val bytes = v match {
          case b: ByteBuffer =>
            val a = new Array[Byte](b.remaining()); b.duplicate().get(a); a
          case a: Array[Byte] => a
        }
        Decimal(new java.math.BigDecimal(new java.math.BigInteger(bytes), d.scale),
          d.precision, d.scale)
      case LongType => v match {
        case i: java.lang.Integer => i.longValue(): java.lang.Long
        case l => l
      }
      case DoubleType => v match {
        case f: java.lang.Float => f.doubleValue(): java.lang.Double
        case d => d
      }
      case st: StructType =>
        val rec = v.asInstanceOf[GenericRecord]
        val out = new GenericInternalRow(st.fields.length)
        val fileFields = rec.getSchema
        var i = 0
        while (i < st.fields.length) {
          val f = st.fields(i)
          val af = resolveField(fileFields, f)
          out.update(i, if (af == null) null else toInternal(rec.get(af.pos()), f.dataType))
          i += 1
        }
        out
      case at: ArrayType =>
        val list = v.asInstanceOf[java.util.List[Any]]
        val out = new Array[Any](list.size())
        var i = 0
        while (i < out.length) { out(i) = toInternal(list.get(i), at.elementType); i += 1 }
        new GenericArrayData(out)
      case mt: MapType => v match {
        case m: java.util.Map[_, _] =>
          val keys = new Array[Any](m.size()); val vals = new Array[Any](m.size())
          var i = 0
          m.asScala.foreach { case (k, mv) =>
            keys(i) = toInternal(k, mt.keyType); vals(i) = toInternal(mv, mt.valueType); i += 1
          }
          ArrayBasedMapData(keys, vals)
        case l: java.util.List[_] =>
          val keys = new Array[Any](l.size()); val vals = new Array[Any](l.size())
          var i = 0
          while (i < keys.length) {
            val rec = l.get(i).asInstanceOf[GenericRecord]
            keys(i) = toInternal(rec.get(0), mt.keyType)
            vals(i) = toInternal(rec.get(1), mt.valueType)
            i += 1
          }
          ArrayBasedMapData(keys, vals)
      }
      case _ => v
    }
  }

  /** resolve a required field against a file record schema: by field-id
    * prop first (rename-proof), then by (mangled) name */
  private def resolveField(fileSchema: ASchema, f: StructField): ASchema.Field = {
    val want =
      if (f.metadata.contains(SparkTypes.FieldIdKey)) f.metadata.getLong(SparkTypes.FieldIdKey)
      else -1L
    if (want >= 0) {
      val it = fileSchema.getFields.iterator()
      while (it.hasNext) {
        val af = it.next()
        val p = af.getObjectProp(FieldIdProp)
        if (p != null && p.asInstanceOf[Number].longValue() == want) return af
      }
    }
    fileSchema.getField(avroName(f.name))
  }

  // ------------------------------------------------------------ writer
  /** write-time column metrics stash: `OutputWriter`s record stats here at
    * close, keyed by file path; the enclosing fanout writer pops them in
    * the same executor JVM when building the DataFile descriptor. */
  // bounded: entries from failed/aborted/speculative tasks are never
  // popped, so insertion-order eviction keeps the stash from growing for
  // the executor's lifetime (live entries are popped right after close)
  private val MaxStash = 256
  private val statsStash = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (Long, Map[Int, ColStats])](16, 0.75f, false) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Long, Map[Int, ColStats])]): Boolean =
        size() > MaxStash
    })

  /** (file size, row count, column stats) — one call, zero re-scans when
    * the file was written (and stashed) by this JVM */
  def footerStats(path: String, gSchema: GSchema): (Long, Long, Map[Int, ColStats]) = {
    val stashed = statsStash.remove(path)
    if (stashed != null) (GraftIO.size(path), stashed._1, stashed._2)
    else scanStats(path, gSchema) // fallback: files not written by this JVM
  }

  def rowCount(path: String): Long = {
    val r = new DataFileReader[GenericRecord](
      new SeekableFileInput(GraftIO.toPath(path).toFile),
      new GenericDatumReader[GenericRecord]())
    try { var n = 0L; while (r.hasNext) { r.next(); n += 1 }; n } finally r.close()
  }

  private def scanStats(path: String, gSchema: GSchema)
      : (Long, Long, Map[Int, ColStats]) = {
    val spark = SparkTypes.toSparkSchema(gSchema)
    val tracker = new StatsTracker(spark, gSchema)
    val r = new DataFileReader[GenericRecord](
      new SeekableFileInput(GraftIO.toPath(path).toFile),
      new GenericDatumReader[GenericRecord]())
    try {
      val fields = spark.fields.map(f => resolveField(r.getSchema, f))
      while (r.hasNext) {
        val rec = r.next()
        var i = 0
        while (i < fields.length) {
          tracker.observeRaw(i, if (fields(i) == null) null else rec.get(fields(i).pos()))
          i += 1
        }
        tracker.row()
      }
    } finally r.close()
    (GraftIO.size(path), tracker.rowCount, tracker.result())
  }

  /** min/max/null metrics over raw avro-written values; bounds use the
    * engine's internal representations (String / Int / Long / Float /
    * Double) so they evaluate identically to parquet footer stats. */
  private final class StatsTracker(spark: StructType, gSchema: GSchema) {
    private val byName = gSchema.fields.map(f => f.name -> f).toMap
    private val gFields: Array[GField] =
      spark.fields.map(f => byName.getOrElse(f.name, null))
    private val nulls = new Array[Long](spark.fields.length)
    private val nans = new Array[Long](spark.fields.length)
    private val mins = new Array[Any](spark.fields.length)
    private val maxs = new Array[Any](spark.fields.length)
    private var rows = 0L

    def row(): Unit = rows += 1

    /** v is the avro-layer value (String/Utf8 for strings, Int/Long/…) */
    def observeRaw(i: Int, v: Any): Unit = {
      if (gFields(i) == null) return
      if (v == null) { nulls(i) += 1; return }
      val g = gFields(i).tpe
      val conv: Any = g match {
        case GString               => v.toString
        case GInt | GDate          => v.asInstanceOf[Number].intValue()
        case GLong | GTimestamp(_) | GTimestampNs(_) => v.asInstanceOf[Number].longValue()
        case GFloat =>
          val f = v.asInstanceOf[Number].floatValue()
          if (f.isNaN) { nans(i) += 1; return }
          f
        case GDouble =>
          val d = v.asInstanceOf[Number].doubleValue()
          if (d.isNaN) { nans(i) += 1; return }
          d
        case _ => return // decimal/binary/bool/nested: counts only
      }
      if (mins(i) == null || TypeComparators.compare(g, conv, mins(i)) < 0) mins(i) = conv
      if (maxs(i) == null || TypeComparators.compare(g, conv, maxs(i)) > 0) maxs(i) = conv
    }

    def result(): Map[Int, ColStats] =
      spark.fields.indices.flatMap { i =>
        val g = gFields(i)
        if (g == null) None
        else Some(g.id -> ColStats(
          valueCount = Some(rows),
          nullCount = Some(nulls(i)),
          nanCount = if (nans(i) > 0) Some(nans(i)) else None,
          lower = Option(mins(i)),
          upper = Option(maxs(i))))
      }.toMap

    def rowCount: Long = rows
  }

  final class AvroOutputWriter(val path: String, sparkSchema: StructType,
      gSchema: GSchema, codec: String = "snappy") extends OutputWriter {
    private val avroSchema = toAvroSchema(sparkSchema)
    private val tracker = new StatsTracker(sparkSchema, gSchema)
    private val writer = {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](avroSchema))
      w.setCodec(codec.toLowerCase match {
        case "gzip" | "deflate" => CodecFactory.deflateCodec(
          CodecFactory.DEFAULT_DEFLATE_LEVEL)
        case "zstd"             => CodecFactory.zstandardCodec(3)
        case "uncompressed" | "none" => CodecFactory.nullCodec()
        case _                  => CodecFactory.snappyCodec()
      })
      w.create(avroSchema, GraftIO.toPath(path).toFile)
    }

    override def write(row: InternalRow): Unit = {
      val rec = new GenericData.Record(avroSchema)
      var i = 0
      while (i < sparkSchema.fields.length) {
        val f = sparkSchema.fields(i)
        val v =
          if (row.isNullAt(i)) null
          else toAvroValue(row.get(i, f.dataType), f.dataType,
            avroSchema.getFields.get(i).schema())
        tracker.observeRaw(i, v)
        rec.put(i, v)
        i += 1
      }
      tracker.row()
      writer.append(rec)
    }

    override def close(): Unit = {
      writer.close()
      statsStash.put(path, (tracker.rowCount, tracker.result()))
    }
  }

  /** OutputWriterFactory drop-in next to ParquetFileFormat/OrcFileFormat's
    * prepareWrite results — serializable, reconstructs schemas from JSON. */
  final class AvroWriterFactory(gSchemaJson: String,
      codec: String = "snappy") extends OutputWriterFactory {
    @transient private lazy val gSchema =
      graft.core.meta.MetaJson.readSchema(
        graft.core.meta.MetaJson.mapper.readTree(gSchemaJson))
    override def getFileExtension(context: TaskAttemptContext): String = ".avro"
    override def newInstance(path: String, dataSchema: StructType,
        context: TaskAttemptContext): OutputWriter =
      new AvroOutputWriter(stripLocal(path), dataSchema, gSchema, codec)
  }

  private def stripLocal(path: String): String = path

  // ------------------------------------------------------------ reader
  /** Serializable `PartitionedFile => Iterator[InternalRow]` — the avro
    * analog of `ParquetFileFormat.buildReaderWithPartitionValues`. Honors
    * (start, length) via avro sync markers, so oversized files split into
    * parallel tasks exactly like parquet. Residual filters are NOT applied
    * here: the scan reports every predicate back to Spark, which re-applies
    * them above the scan (see GraftScanBuilder.pushPredicates). */
  final case class ReadFunc(requiredJson: String)
      extends (PartitionedFile => Iterator[InternalRow]) with Serializable {

    @transient private lazy val required =
      DataType.fromJson(requiredJson).asInstanceOf[StructType]
    @transient private lazy val existsDefaults: Array[Any] =
      try org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
        .existenceDefaultValues(required)
      catch { case _: Throwable => new Array[Any](required.fields.length) }

    override def apply(file: PartitionedFile): Iterator[InternalRow] = {
      val reader = new DataFileReader[GenericRecord](
        new SeekableFileInput(GraftIO.toPath(file.filePath.toString).toFile),
        new GenericDatumReader[GenericRecord]())
      val start = file.start
      // avro's pastSync(end) compares blockStart >= end + SYNC_SIZE: cap so
      // whole-file reads (length = Long.MaxValue) don't overflow negative
      val end =
        if (file.length >= Long.MaxValue - file.start - 16) Long.MaxValue - 16
        else file.start + file.length
      reader.sync(start)
      val fields = required.fields.map(f => resolveField(reader.getSchema, f))
      new Iterator[InternalRow] {
        private var closed = false
        override def hasNext: Boolean = {
          if (closed) return false
          val has = reader.hasNext && !reader.pastSync(end)
          if (!has) { closed = true; reader.close() }
          has
        }
        override def next(): InternalRow = {
          val rec = reader.next()
          val out = new GenericInternalRow(required.fields.length)
          var i = 0
          while (i < required.fields.length) {
            val v =
              if (fields(i) == null) existsDefaults(i)
              else toInternal(rec.get(fields(i).pos()), required.fields(i).dataType)
            out.update(i, v)
            i += 1
          }
          out
        }
      }
    }
  }

  // ---------------------------------------------------- DataFrame bridge
  /** Read avro files into a DataFrame (avro has no Spark connector on this
    * classpath). `withPos` adds __f/__p path+position columns, mirroring
    * what `_metadata.file_path`/`row_index` provide for parquet/ORC. */
  def readToDf(spark: SparkSession, paths: Seq[String], schema: StructType,
      withPos: Boolean): DataFrame = {
    val readFn = ReadFunc(schema.json)
    val outSchema =
      if (withPos) StructType(schema.fields ++ Seq(
        StructField("__f", StringType), StructField("__p", LongType)))
      else schema
    val rdd = spark.sparkContext.parallelize(paths, math.max(1, paths.size))
      .flatMap { p =>
        val rows = readFn(PartitionedFile(InternalRow.empty,
          org.apache.spark.paths.SparkPath.fromPathString(p), 0, Long.MaxValue,
          Array.empty[String], 0L, Long.MaxValue, Map.empty))
        val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToScalaConverter(outSchema)
        if (withPos) rows.zipWithIndex.map { case (r, i) =>
          val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow(
            r, InternalRow(UTF8String.fromString(p), i.toLong))
          conv(joined).asInstanceOf[org.apache.spark.sql.Row]
        }
        else rows.map(r => conv(r).asInstanceOf[org.apache.spark.sql.Row])
      }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Executor-side avro file write (delete files): a row stream to one
    * avro file, returning (rows, stats) for the DataFile descriptor. */
  def writeFile(path: String, sparkSchema: StructType, gSchema: GSchema,
      rows: Iterator[InternalRow]): (Long, Map[Int, ColStats]) = {
    val w = new AvroOutputWriter(path, sparkSchema, gSchema)
    try rows.foreach(w.write) finally w.close()
    val st = statsStash.remove(path)
    if (st != null) (st._1, st._2)
    else { // stash miss (evicted under pressure): re-derive from the file
      val (_, rows2, stats) = scanStats(path, gSchema)
      (rows2, stats)
    }
  }
}
