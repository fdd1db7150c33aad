package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.meta.{DataFile, FileContent, HadoopCatalog, ManifestIO}

/** Per-delete-file format dispatch (reference data/.../DeleteFilter.java
  * keys its readers on DeleteFile.format()): delete files carry their OWN
  * format independent of the table's data format. The common external
  * shape is Flink-written v2 trees — Avro position/equality deletes over
  * Parquet data — which previously failed loudly (parquet reader over
  * Avro bytes) after register_table. */
class MixedDeleteFormatSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var warehouse: String = _

  override def beforeAll(): Unit = {
    warehouse = Files.createTempDirectory("graft-mdf-wh").toString
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-mixed-delete-format")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.gmd", classOf[GraftCatalog].getName)
      .config("spark.sql.catalog.gmd.warehouse", warehouse)
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmd.db")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def coreTable(name: String) =
    new HadoopCatalog(warehouse).loadTable(Seq("db"), name).get

  private def liveDeleteFiles(name: String): Seq[DataFile] = {
    val t = coreTable(name)
    t.meta.currentSnapshot.toSeq.flatMap { sn =>
      ManifestIO.readList(sn.manifestListPath).filter(_.content == 1)
        .flatMap(mf => ManifestIO.readEntries(mf).filter(_.isLive).map(_.file))
    }
  }

  private def ids(fq: String): Seq[Long] =
    spark.sql(s"SELECT id FROM $fq ORDER BY id").collect().map(_.getLong(0)).toSeq

  test("avro position deletes over parquet data: write, scan, CDC, rewrite") {
    spark.sql("""CREATE TABLE gmd.db.avdel (id BIGINT, v STRING)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read',
                     'write.delete.format'='avro')""")
    spark.sql("SELECT id, concat('v', string(id)) AS v FROM range(0, 30)")
      .coalesce(1).writeTo("gmd.db.avdel").append()
    spark.sql("DELETE FROM gmd.db.avdel WHERE id % 3 = 1")

    val dels = liveDeleteFiles("avdel")
    assert(dels.nonEmpty && dels.forall(d =>
      d.format == "avro" && d.content == FileContent.PositionDeletes &&
        d.path.endsWith(".avro")),
      s"expected live avro position-delete files, got $dels")
    assert(ids("gmd.db.avdel") == (0L until 30L).filter(_ % 3 != 1),
      "avro position deletes not applied on scan")

    // changelog must parse the avro delete file too (DELETE rows emitted)
    val cdcDeleted = spark.sql(
      """SELECT id FROM gmd.db.avdel.changes WHERE _change_type = 'DELETE'
         ORDER BY id""").collect().map(_.getLong(0)).toSeq
    assert(cdcDeleted == (0L until 30L).filter(_ % 3 == 1),
      s"changelog misread avro deletes: $cdcDeleted")

    // maintenance parses the avro delete file through the scan's
    // positionsByFile
    spark.sql("CALL gmd.system.rewrite_position_delete_files(table => 'db.avdel')")
    assert(ids("gmd.db.avdel") == (0L until 30L).filter(_ % 3 != 1),
      "scan diverged after rewriting avro position deletes")
  }

  test("avro equality deletes over parquet data: SQL delete + update") {
    spark.sql("""CREATE TABLE gmd.db.aveq (id BIGINT, v STRING)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read',
                     'write.update.mode'='merge-on-read',
                     'write.delete.equality-enabled'='true',
                     'write.update.equality-enabled'='true',
                     'write.delete.format'='avro')""")
    spark.sql("ALTER TABLE gmd.db.aveq SET IDENTIFIER FIELDS id")
    spark.sql("SELECT id, concat('v', string(id)) AS v FROM range(0, 20)")
      .coalesce(1).writeTo("gmd.db.aveq").append()
    spark.sql("DELETE FROM gmd.db.aveq WHERE id >= 15")
    spark.sql("UPDATE gmd.db.aveq SET v = concat(v, '+') WHERE id % 5 = 0")

    val eqs = liveDeleteFiles("aveq")
      .filter(_.content == FileContent.EqualityDeletes)
    assert(eqs.nonEmpty && eqs.forall(d =>
      d.format == "avro" && d.path.endsWith(".avro")),
      s"expected live avro equality-delete files, got ${liveDeleteFiles("aveq")}")
    val rows = spark.sql("SELECT id, v FROM gmd.db.aveq ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val expected = (0L until 15L).map(i =>
      (i, if (i % 5 == 0) s"v$i+" else s"v$i"))
    assert(rows == expected, s"avro equality deletes misapplied: $rows")
  }

  test("orc position-delete file over parquet data reads per its format") {
    spark.sql("CREATE TABLE gmd.db.orcdel (id BIGINT, v STRING)")
    spark.sql("SELECT id, concat('v', string(id)) AS v FROM range(0, 10)")
      .coalesce(1).writeTo("gmd.db.orcdel").append()
    val t = coreTable("orcdel")
    val dataPath = ManifestIO.readList(t.meta.currentSnapshot.get.manifestListPath)
      .filter(_.content == 0)
      .flatMap(mf => ManifestIO.readEntries(mf).filter(_.isLive))
      .head.file.path
    // hand-written ORC delete file (graft never writes these; external
    // engines may) deleting positions 2 and 7
    val orcDir = Files.createTempDirectory("mdf-orc").toString + "/d1"
    spark.createDataFrame(Seq((dataPath, 2L), (dataPath, 7L)))
      .toDF("file_path", "pos").coalesce(1).write.orc(orcDir)
    val orcFile = new java.io.File(orcDir).listFiles()
      .filter(_.getName.endsWith(".orc")).head.getAbsolutePath
    t.newRowDelta()
      .addDeletes(DataFile(orcFile, "orc", 0, Nil, 2L,
        new java.io.File(orcFile).length(),
        content = FileContent.PositionDeletes,
        referencedDataFile = Some(dataPath)))
      .commit()
    assert(ids("gmd.db.orcdel") == Seq(0L, 1L, 3L, 4L, 5L, 6L, 8L, 9L),
      "orc position-delete file not applied per its own format")
  }

  test("mixed delete formats on one data file apply together") {
    spark.sql("""CREATE TABLE gmd.db.mixed (id BIGINT, v STRING)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read',
                     'write.delete.format'='avro')""")
    spark.sql("SELECT id, concat('v', string(id)) AS v FROM range(0, 24)")
      .coalesce(1).writeTo("gmd.db.mixed").append()
    spark.sql("DELETE FROM gmd.db.mixed WHERE id % 4 = 0") // avro deletes
    spark.sql(
      "ALTER TABLE gmd.db.mixed SET TBLPROPERTIES ('write.delete.format'='parquet')")
    spark.sql("DELETE FROM gmd.db.mixed WHERE id % 4 = 1") // parquet deletes
    spark.sql(
      "ALTER TABLE gmd.db.mixed SET TBLPROPERTIES ('write.delete.format'='dv')")
    spark.sql("DELETE FROM gmd.db.mixed WHERE id % 4 = 2") // deletion vector
    val fmts = liveDeleteFiles("mixed").map(_.format).toSet
    assert(fmts == Set("avro", "parquet", "dv"),
      s"expected one delete file per format, got $fmts")
    assert(ids("gmd.db.mixed") == (0L until 24L).filter(_ % 4 == 3),
      "mixed-format deletes over one data file misapplied")
  }

  test("one reader decision: a factory holds exactly its tasks' read keys") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import GraftSparkTable.{GraftInputPartition, GraftReaderFactory, ReadKey}
    def set(props: String): Unit =
      spark.sql(s"ALTER TABLE gmd.db.keys SET TBLPROPERTIES ($props)")
    // one data file per insert
    def insert(from: Long, until: Long): Unit =
      spark.range(from, until).selectExpr("id", "concat('r', string(id)) AS w")
        .coalesce(1).writeTo("gmd.db.keys").append()
    spark.sql("""CREATE TABLE gmd.db.keys (id BIGINT, v STRING)
      TBLPROPERTIES ('write.format.default'='orc',
                     'write.delete.mode'='merge-on-read')""")
    // ORC written before a rename, masked by an equality delete
    spark.sql("SELECT id, concat('r', string(id)) AS v FROM range(1, 4)")
      .coalesce(1).writeTo("gmd.db.keys").append()
    spark.sql("ALTER TABLE gmd.db.keys RENAME COLUMN v TO w")
    spark.sql("ALTER TABLE gmd.db.keys SET IDENTIFIER FIELDS id")
    set("'write.delete.equality-enabled'='true'")
    spark.sql("DELETE FROM gmd.db.keys WHERE id = 2")
    // parquet masked by a position delete
    set("'write.delete.equality-enabled'='false', 'write.format.default'='parquet'")
    insert(4, 7)
    spark.sql("DELETE FROM gmd.db.keys WHERE id = 5")
    // a name-mapped parquet import (no field ids)
    val ext = Files.createTempDirectory("mdf-keys").toString
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "false")
    spark.range(7, 9).selectExpr("id", "concat('i', string(id)) AS w")
      .coalesce(1).write.parquet(s"$ext/imp")
    spark.conf.unset("spark.sql.parquet.fieldId.write.enabled")
    spark.sql(s"CALL gmd.system.add_files('db.keys', '$ext/imp')")
    // Avro masked by a DV, then a clean parquet file
    set("'write.format.default'='avro', 'write.delete.format'='dv'")
    insert(10, 13)
    spark.sql("DELETE FROM gmd.db.keys WHERE id = 11")
    set("'write.format.default'='parquet'")
    insert(13, 14)
    assert(ids("gmd.db.keys") == Seq(1L, 3L, 4L, 6L, 7L, 8L, 10L, 12L, 13L))

    def scanOf(table: String): BatchScanExec =
      spark.table(table).queryExecution.sparkPlan
        .collectFirst { case b: BatchScanExec => b }.get
    val scan = scanOf("gmd.db.keys")
    val factory = scan.readerFactory.asInstanceOf[GraftReaderFactory]
    val tasks = scan.inputPartitions.flatMap(_.asInstanceOf[GraftInputPartition].tasks)
    assert(tasks.map(_.fileFormat).toSet === Set("orc", "parquet", "parquet-nm", "avro"))
    assert(tasks.exists(_.deletePaths.exists(graft.core.meta.DVIO.isDV)))
    // nothing extra, nothing missing
    assert(factory.keys === tasks.map(ReadKey.of(_, factory.facts)).toSet)
    assert(factory.deleteKeys === tasks.flatMap(ReadKey.deletesOf).toSet)
    // every resolution, every row shape, a write-time schema, both
    // delete contents
    assert(factory.keys.map(_.resolve) === Set(ReadKey.ParquetById,
      ReadKey.ParquetByName, ReadKey.Orc, ReadKey.Avro))
    assert(factory.keys.map(_.shape) === Set(ReadKey.Split, ReadKey.Unfiltered,
      ReadKey.EqMasked))
    assert(factory.keys.exists(k => k.resolve == ReadKey.Orc && k.schemaId >= 0))
    assert(factory.deleteKeys.map(_.shape) ===
      Set(ReadKey.PositionDeletes, ReadKey.EqualityDeletes))

    // a task handed to a factory built without its key fails on the
    // lookup, naming the key and the file
    spark.sql("CREATE TABLE gmd.db.keys_pq (id BIGINT, w STRING)")
    spark.sql("INSERT INTO gmd.db.keys_pq VALUES (1, 'a')")
    val pqFactory = scanOf("gmd.db.keys_pq").readerFactory
      .asInstanceOf[GraftReaderFactory]
    val orcTask = tasks.find(_.fileFormat == "orc").get
    val err = intercept[IllegalStateException] {
      pqFactory.createReader(GraftInputPartition(Array(orcTask))).next()
    }
    assert(err.getMessage.contains(ReadKey.of(orcTask, pqFactory.facts).toString) &&
      err.getMessage.contains(orcTask.path), err.getMessage)
  }
}
