package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** rewrite_data_files planner knobs (reference
  * BinPackRewriteFilePlanner.java:70-72 delete-file-threshold,
  * SizeBasedFileRewritePlanner.java:90-97 rewrite-all): a well-sized
  * file accumulating delete files qualifies for compaction at the
  * configured threshold, and rewrite-all is the explicit everything
  * escape hatch. */
class RewriteOptionsSpec extends AnyFunSuite with BeforeAndAfterAll {
  import RewriteOptionsSpec.footer

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    val warehouse = Files.createTempDirectory("graft-rwopt").toString
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-rwopt")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
      .config("spark.sql.catalog.graft.warehouse", warehouse)
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def rewriteCount(call: String): Int =
    spark.sql(call).collect().head.getInt(0)

  test("delete_file_threshold: a lone well-sized file qualifies once N delete files apply") {
    // format-version 2 + file granularity: each DELETE adds a position
    // delete FILE (v3 DVs would replace each other and stay at one)
    spark.sql("""CREATE TABLE graft.db.dft (id BIGINT, v STRING)
      TBLPROPERTIES ('format-version'='2',
                     'write.delete.mode'='merge-on-read',
                     'write.delete.granularity'='file')""")
    spark.range(0, 100).selectExpr("id", "CAST(id AS STRING) AS v")
      .coalesce(1).writeTo("graft.db.dft").append()
    (1 to 3).foreach(i => spark.sql(s"DELETE FROM graft.db.dft WHERE id = $i"))
    assert(spark.table("graft.db.dft.delete_files").count() === 3L)
    // single data file: never enough small files for min_input_files=2,
    // so ONLY the delete threshold can select it
    assert(rewriteCount("""CALL graft.system.rewrite_data_files(
      table => 'db.dft', delete_file_threshold => 4)""") === 0)
    assert(rewriteCount("""CALL graft.system.rewrite_data_files(
      table => 'db.dft', delete_file_threshold => 3)""") === 1)
    // the rewrite applied and retired the deletes
    assert(spark.table("graft.db.dft.delete_files").count() === 0L)
    assert(spark.table("graft.db.dft").count() === 97L)
  }

  test("rewrite_all rewrites a single well-formed file with no deletes") {
    spark.sql("CREATE TABLE graft.db.rwa (id BIGINT)")
    spark.range(0, 50).coalesce(1).writeTo("graft.db.rwa").append()
    assert(rewriteCount(
      "CALL graft.system.rewrite_data_files(table => 'db.rwa')") === 0)
    assert(rewriteCount("""CALL graft.system.rewrite_data_files(
      table => 'db.rwa', rewrite_all => true)""") === 1)
    assert(spark.table("graft.db.rwa").count() === 50L)
  }

  test("size band: an oversized file qualifies alone and splits toward the target") {
    spark.sql("CREATE TABLE graft.db.band (id BIGINT, v STRING)")
    // one file far above a tiny target: must qualify without any deletes
    // or small-file count, and rewrite into multiple near-target files
    spark.range(0, 60000)
      .selectExpr("id", "sha2(cast(id AS string), 256) AS v")
      .coalesce(1).writeTo("graft.db.band").append()
    val before = spark.table("graft.db.band.files").count()
    assert(before === 1L)
    val r = spark.sql("""CALL graft.system.rewrite_data_files(
      table => 'db.band', target_file_size_bytes => 1048576)""").collect().head
    assert(r.getInt(0) === 1, "the oversized file must be selected")
    assert(r.getInt(1) > 1, "the rewrite must split it into several files")
    assert(spark.table("graft.db.band").count() === 60000L)
    // a file comfortably INSIDE the band does not re-qualify
    assert(rewriteCount("""CALL graft.system.rewrite_data_files(
      table => 'db.band',
      target_file_size_bytes => 1048576,
      min_file_size_bytes => 1, max_file_size_bytes => 10485760)""") === 0)
  }

  test("default threshold 1 preserves the any-delete-qualifies behavior") {
    spark.sql("""CREATE TABLE graft.db.dft1 (id BIGINT)
      TBLPROPERTIES ('format-version'='2',
                     'write.delete.mode'='merge-on-read')""")
    spark.range(0, 40).coalesce(1).writeTo("graft.db.dft1").append()
    spark.sql("DELETE FROM graft.db.dft1 WHERE id = 7")
    assert(rewriteCount(
      "CALL graft.system.rewrite_data_files(table => 'db.dft1')") === 1)
    assert(spark.table("graft.db.dft1").count() === 39L)
  }

  test("the rewrite writes through the table's writer: codec, INT64 timestamps, bounds") {
    spark.sql("""CREATE TABLE graft.db.rwprops (id BIGINT, ts TIMESTAMP)
      TBLPROPERTIES ('write.parquet.compression-codec'='zstd')""")
    (0 until 3).foreach { i =>
      spark.range(i * 10, i * 10 + 10)
        .selectExpr("id", "timestamp_seconds(1700000000 + id) AS ts")
        .coalesce(1).writeTo("graft.db.rwprops").append()
    }
    val expected = spark.table("graft.db.rwprops").orderBy("id").collect().toSeq
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def staging() = Option(tmp.list()).toSeq.flatten
      .filter(_.startsWith("graft-rewrite")).toSet
    val stagingBefore = staging()
    // a caller's session conf is the caller's: the rewrite must neither
    // need nor change it (graft files always carry field ids)
    val idConf = "spark.sql.parquet.fieldId.write.enabled"
    spark.conf.set(idConf, "false")
    try {
      assert(rewriteCount(
        "CALL graft.system.rewrite_data_files(table => 'db.rwprops')") === 3)
      assert(spark.conf.get(idConf) === "false")
    } finally spark.conf.unset(idConf)
    assert(staging() -- stagingBefore === Set.empty[String])
    assert(spark.table("graft.db.rwprops").orderBy("id").collect().toSeq === expected)

    val files = spark.sql(
      "SELECT file_path, lower_bounds, upper_bounds FROM graft.db.rwprops.files")
      .collect()
    assert(files.length === 1)
    // field id 2 is `ts`: INT96 carries no footer statistics, so its
    // bounds exist only when the writer used INT64 micros
    assert(files.head.getMap[Int, String](1).contains(2) &&
      files.head.getMap[Int, String](2).contains(2),
      s"no ts bounds on the compacted file: ${files.head}")
    val (types, codecs) = footer(files.head.getString(0))
    assert(types("ts") === "INT64")
    assert(codecs.nonEmpty && codecs.forall(_ === "ZSTD"), s"codecs: $codecs")
  }

  test("merge-on-read UPDATEs write through the table's writers: format, codec, INT64 timestamps, bounds") {
    def create(name: String, props: String): Unit = {
      spark.sql(s"""CREATE TABLE graft.db.$name (id BIGINT, ts TIMESTAMP)
        TBLPROPERTIES ('format-version'='2',
                       'write.update.mode'='merge-on-read'$props)""")
      spark.range(0, 10)
        .selectExpr("id", "timestamp_seconds(1700000000 + id) AS ts")
        .coalesce(1).writeTo(s"graft.db.$name").append()
    }
    def dataFiles(name: String) = spark.sql(
      s"SELECT file_path, file_format, lower_bounds, upper_bounds FROM graft.db.$name.data_files")
      .collect().toSeq
    // shifts rows 0..2 one day later; returns the data files it added
    def update(name: String) = {
      val before = dataFiles(name).map(_.getString(0)).toSet
      spark.sql(s"""UPDATE graft.db.$name
        SET ts = timestamp_seconds(unix_seconds(ts) + 86400) WHERE id < 3""")
      val rows = spark.sql(s"SELECT id, unix_seconds(ts) FROM graft.db.$name ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows === (0L until 10L).map(id =>
        (id, 1700000000L + id + (if (id < 3) 86400L else 0L))), name)
      dataFiles(name).filterNot(r => before(r.getString(0)))
    }

    // position deletes, then equality deletes keyed by the identifier
    Seq("morpos" -> "", "moreq" -> ", 'write.update.equality-enabled'='true'")
      .foreach { case (name, props) =>
        create(name, ", 'write.parquet.compression-codec'='zstd'" + props)
        if (props.nonEmpty)
          spark.sql(s"CALL graft.system.set_identifier_fields('db.$name', 'id')")
        val added = update(name)
        assert(added.length === 1, s"$name: replacement files $added")
        added.foreach { r =>
          // field id 2 is `ts`: INT96 carries no footer statistics
          assert(r.getMap[Int, String](2).contains(2) &&
            r.getMap[Int, String](3).contains(2), s"$name: no ts bounds: $r")
          val (types, codecs) = footer(r.getString(0))
          assert(types("ts") === "INT64", name)
          assert(codecs.nonEmpty && codecs.forall(_ === "ZSTD"), s"$name codecs: $codecs")
        }
        val deletes = spark.sql(
          s"SELECT content, file_path FROM graft.db.$name.delete_files").collect()
        assert(deletes.map(_.getInt(0)).toSet === Set(if (props.isEmpty) 1 else 2), name)
        deletes.foreach { r =>
          val codecs = footer(r.getString(1))._2
          assert(codecs.nonEmpty && codecs.forall(_ === "ZSTD"),
            s"$name delete file codecs: $codecs")
        }
      }

    // the table's data-file format
    create("mororc", ", 'write.format.default'='orc'")
    val added = update("mororc")
    assert(added.map(_.getString(1).toLowerCase) === Seq("orc") &&
      added.head.getString(0).endsWith(".orc"), added)
  }
}

object RewriteOptionsSpec {
  /** the footer facts of the parquet file at `path` that say which
    * writer wrote it: each top-level primitive column's physical type
    * (INT96 vs INT64 timestamps) and the codec of every column chunk */
  def footer(path: String): (Map[String, String], Seq[String]) = {
    import scala.jdk.CollectionConverters._
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path("file://" + path),
        new org.apache.hadoop.conf.Configuration()))
    try {
      val meta = rd.getFooter
      val types = meta.getFileMetaData.getSchema.getFields.asScala
        .filter(_.isPrimitive)
        .map(t => t.getName -> t.asPrimitiveType.getPrimitiveTypeName.name).toMap
      val codecs = meta.getBlocks.asScala.toSeq
        .flatMap(_.getColumns.asScala.map(_.getCodec.name))
      (types, codecs)
    } finally rd.close()
  }
}
