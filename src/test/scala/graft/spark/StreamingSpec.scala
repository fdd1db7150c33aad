package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming source + sink over graft tables (mirrors the
  * reference's TestStructuredStreamingRead3 shapes). */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var warehouse: String = _

  override def beforeAll(): Unit = {
    warehouse = Files.createTempDirectory("graft-stream-wh").toString
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-stream")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
      .config("spark.sql.catalog.graft.warehouse", warehouse)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def runStream(checkpoint: String): Unit = {
    val q = spark.readStream
      .table("graft.db.stream_src")
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .toTable("graft.db.stream_dst")
    q.awaitTermination(60000)
  }

  test("micro-batch read + streaming write, exactly-once across restarts") {
    spark.sql("CREATE TABLE graft.db.stream_src (id BIGINT, v STRING)")
    spark.sql("CREATE TABLE graft.db.stream_dst (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.db.stream_src VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graft.db.stream_src VALUES (3, 'c')")

    val checkpoint = Files.createTempDirectory("graft-ckpt").toString
    runStream(checkpoint)
    assert(spark.sql("SELECT id FROM graft.db.stream_dst ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))

    // restart with no new data: nothing duplicated
    runStream(checkpoint)
    assert(spark.sql("SELECT count(*) FROM graft.db.stream_dst").collect()(0).getLong(0) === 3L)

    // new appends only are consumed on restart
    spark.sql("INSERT INTO graft.db.stream_src VALUES (4, 'd')")
    runStream(checkpoint)
    assert(spark.sql("SELECT id FROM graft.db.stream_dst ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L))
  }

  test("admission control: max-files-per-micro-batch bounds batches") {
    spark.sql("CREATE TABLE graft.db.stream_src2 (id BIGINT)")
    spark.sql("CREATE TABLE graft.db.stream_dst2 (id BIGINT)")
    (1 to 4).foreach(i => spark.sql(s"INSERT INTO graft.db.stream_src2 VALUES ($i)"))

    val checkpoint = Files.createTempDirectory("graft-ckpt2").toString
    val q = spark.readStream
      .option("max-files-per-micro-batch", "1")
      .table("graft.db.stream_src2")
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .toTable("graft.db.stream_dst2")
    q.awaitTermination(60000)
    assert(spark.sql("SELECT id FROM graft.db.stream_dst2 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L))
    // 4 single-file batches → 4 sink snapshots
    val snaps = spark.sql("SELECT count(*) FROM graft.db.stream_dst2.snapshots")
      .collect()(0).getLong(0)
    assert(snaps === 4L, s"expected 4 snapshots, got $snaps")
  }

  test("stream-from-timestamp skips snapshots committed before the cutoff") {
    spark.sql("CREATE TABLE graft.db.stream_src_ts (id BIGINT)")
    spark.sql("CREATE TABLE graft.db.stream_dst_ts (id BIGINT)")
    spark.sql("INSERT INTO graft.db.stream_src_ts VALUES (1)")
    spark.sql("INSERT INTO graft.db.stream_src_ts VALUES (2)")
    Thread.sleep(10)
    val cutoff = System.currentTimeMillis()
    Thread.sleep(10)
    spark.sql("INSERT INTO graft.db.stream_src_ts VALUES (3)")
    spark.sql("INSERT INTO graft.db.stream_src_ts VALUES (4)")

    val checkpoint = Files.createTempDirectory("graft-ckpt-ts").toString
    val q = spark.readStream
      .option("stream-from-timestamp", cutoff.toString)
      .table("graft.db.stream_src_ts")
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .toTable("graft.db.stream_dst_ts")
    q.awaitTermination(60000)
    assert(spark.sql("SELECT id FROM graft.db.stream_dst_ts ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(3L, 4L))
  }

  test("admission control: max-records-per-micro-batch bounds batches") {
    spark.sql("CREATE TABLE graft.db.stream_src3 (id BIGINT)")
    spark.sql("CREATE TABLE graft.db.stream_dst3 (id BIGINT)")
    // two appends of 3 rows each (single file per append)
    spark.range(0, 3).coalesce(1).writeTo("graft.db.stream_src3").append()
    spark.range(3, 6).coalesce(1).writeTo("graft.db.stream_src3").append()

    val checkpoint = Files.createTempDirectory("graft-ckpt3").toString
    val q = spark.readStream
      .option("max-records-per-micro-batch", "3")
      .table("graft.db.stream_src3")
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .toTable("graft.db.stream_dst3")
    q.awaitTermination(60000)
    assert(spark.sql("SELECT id FROM graft.db.stream_dst3 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === (0L to 5L))
    // 3-row cap admits one 3-row file per batch → 2 sink snapshots
    val snaps = spark.sql("SELECT count(*) FROM graft.db.stream_dst3.snapshots")
      .collect()(0).getLong(0)
    assert(snaps === 2L, s"expected 2 snapshots, got $snaps")
  }

  test("reference option spellings and polling interval work") {
    spark.sql("CREATE TABLE graft.db.stream_src5 (id BIGINT)")
    spark.sql("CREATE TABLE graft.db.stream_dst5 (id BIGINT)")
    (1 to 3).foreach(i => spark.sql(s"INSERT INTO graft.db.stream_src5 VALUES ($i)"))
    val checkpoint = Files.createTempDirectory("graft-ckpt5").toString
    val q = spark.readStream
      .option("streaming-max-files-per-micro-batch", "1") // reference name
      .option("streaming-snapshot-polling-interval-ms", "50")
      .table("graft.db.stream_src5")
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .toTable("graft.db.stream_dst5")
    q.awaitTermination(60000)
    assert(spark.sql("SELECT id FROM graft.db.stream_dst5 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    // the 1-file admission cap (under its reference spelling) held
    val snaps = spark.sql("SELECT count(*) FROM graft.db.stream_dst5.snapshots")
      .collect()(0).getLong(0)
    assert(snaps === 3L, s"expected 3 snapshots, got $snaps")
  }

  test("row-removing snapshots fail the stream unless skip options opt in") {
    spark.sql("CREATE TABLE graft.db.stream_src4 (id BIGINT)")
    spark.sql("CREATE TABLE graft.db.stream_dst4 (id BIGINT)")
    spark.sql("INSERT INTO graft.db.stream_src4 VALUES (1), (2), (3)")
    val checkpoint = Files.createTempDirectory("graft-ckpt4").toString
    val q1 = spark.readStream.table("graft.db.stream_src4")
      .writeStream.option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow()).toTable("graft.db.stream_dst4")
    q1.awaitTermination(60000)
    assert(spark.sql("SELECT count(*) FROM graft.db.stream_dst4")
      .head().getLong(0) === 3L)

    // a CoW delete lands mid-stream: the next run must FAIL by default —
    // row 2 was already emitted and cannot be retracted
    spark.sql("DELETE FROM graft.db.stream_src4 WHERE id = 2")
    spark.sql("INSERT INTO graft.db.stream_src4 VALUES (4)")
    val e = intercept[Exception] {
      val q2 = spark.readStream.table("graft.db.stream_src4")
        .writeStream.option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow()).toTable("graft.db.stream_dst4")
      q2.awaitTermination(60000)
    }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | "))
    assert(rootMsg(e).contains("streaming-skip"), rootMsg(e))

    // with the skip options the stream resumes and emits only the append
    val q3 = spark.readStream
      .option("streaming-skip-delete-snapshots", "true")
      .option("streaming-skip-overwrite-snapshots", "true")
      .table("graft.db.stream_src4")
      .writeStream.option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow()).toTable("graft.db.stream_dst4")
    q3.awaitTermination(60000)
    assert(spark.sql("SELECT id FROM graft.db.stream_dst4 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L))
  }

  test("async micro-batch planning delivers identical results") {
    spark.sql("CREATE TABLE graft.db.stream_src_ap (id BIGINT)")
    spark.sql("CREATE TABLE graft.db.stream_dst_ap (id BIGINT)")
    (1 to 5).foreach(i => spark.sql(s"INSERT INTO graft.db.stream_src_ap VALUES ($i)"))

    val checkpoint = Files.createTempDirectory("graft-ckpt-ap").toString
    def run(): Unit = {
      // one-file batches force several triggers, so the async planner's
      // prefetched lineage is actually consumed (not just the first
      // synchronous fallback)
      val q = spark.readStream
        .option("streaming-async-planning", "true")
        .option("max-files-per-micro-batch", "1")
        .table("graft.db.stream_src_ap")
        .writeStream
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .toTable("graft.db.stream_dst_ap")
      q.awaitTermination(60000)
    }
    run()
    assert(spark.sql("SELECT id FROM graft.db.stream_dst_ap ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === (1L to 5L))
    // restart: no duplicates, and appends committed between runs are
    // picked up even though the planner serves prefetched state
    spark.sql("INSERT INTO graft.db.stream_src_ap VALUES (6)")
    run()
    assert(spark.sql("SELECT id FROM graft.db.stream_dst_ap ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === (1L to 6L))
  }

  test("micro-batch reads serve each file in its own format") {
    def streamIds(src: String): Seq[Long] = {
      spark.sql(s"CREATE TABLE graft.db.${src}_dst (id BIGINT, v STRING)")
      val q = spark.readStream.table(s"graft.db.$src")
        .writeStream
        .option("checkpointLocation",
          Files.createTempDirectory(s"graft-ckpt-$src").toString)
        .trigger(Trigger.AvailableNow())
        .toTable(s"graft.db.${src}_dst")
      q.awaitTermination(60000)
      spark.sql(s"SELECT id FROM graft.db.${src}_dst ORDER BY id")
        .collect().map(_.getLong(0)).toSeq
    }
    // an Avro table
    spark.sql("""CREATE TABLE graft.db.stream_avro (id BIGINT, v STRING)
      TBLPROPERTIES ('write.format.default'='avro')""")
    spark.sql("INSERT INTO graft.db.stream_avro VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graft.db.stream_avro VALUES (3, 'c')")
    assert(streamIds("stream_avro") === Seq(1L, 2L, 3L))
    // a parquet file, then an ORC file
    spark.sql("CREATE TABLE graft.db.stream_mixed (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.db.stream_mixed VALUES (1, 'a')")
    spark.sql("""ALTER TABLE graft.db.stream_mixed
      SET TBLPROPERTIES ('write.format.default'='orc')""")
    spark.sql("INSERT INTO graft.db.stream_mixed VALUES (2, 'b')")
    assert(spark.sql("SELECT file_format FROM graft.db.stream_mixed.files")
      .collect().map(_.getString(0).toLowerCase).sorted.toSeq === Seq("orc", "parquet"))
    assert(streamIds("stream_mixed") === Seq(1L, 2L))
    // a running stream whose next micro-batch brings a file of another
    // format: each micro-batch builds its readers from its own files
    def switchFormat(name: String, first: String, second: String): Seq[Long] = {
      spark.sql(s"""CREATE TABLE graft.db.$name (id BIGINT, v STRING)
        TBLPROPERTIES ('write.format.default'='$first')""")
      spark.sql(s"CREATE TABLE graft.db.${name}_dst (id BIGINT, v STRING)")
      spark.sql(s"INSERT INTO graft.db.$name VALUES (1, 'a')")
      val q = spark.readStream.table(s"graft.db.$name")
        .writeStream
        .option("checkpointLocation",
          Files.createTempDirectory(s"graft-ckpt-$name").toString)
        .trigger(Trigger.ProcessingTime(200))
        .toTable(s"graft.db.${name}_dst")
      try {
        q.processAllAvailable()
        spark.sql(s"""ALTER TABLE graft.db.$name
          SET TBLPROPERTIES ('write.format.default'='$second')""")
        spark.sql(s"INSERT INTO graft.db.$name VALUES (2, 'b')")
        q.processAllAvailable()
      } finally q.stop()
      spark.sql(s"SELECT id FROM graft.db.${name}_dst ORDER BY id")
        .collect().map(_.getLong(0)).toSeq
    }
    assert(switchFormat("switch_pq_orc", "parquet", "orc") === Seq(1L, 2L))
    assert(switchFormat("switch_orc_pq", "orc", "parquet") === Seq(1L, 2L))
    assert(switchFormat("switch_pq_avro", "parquet", "avro") === Seq(1L, 2L))
  }
}
