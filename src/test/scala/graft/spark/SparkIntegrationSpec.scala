package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.expr.Expr
import graft.core.meta.HadoopCatalog

/** End-to-end DSv2 tests: SQL DDL/DML through the graft catalog,
  * scan pruning, time travel, metadata delete, dynamic overwrite
  * (mirrors reference spark/sql/TestSelect + TestFilterPushDown shapes). */
class SparkIntegrationSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var warehouse: String = _

  override def beforeAll(): Unit = {
    warehouse = Files.createTempDirectory("graft-wh").toString
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-it")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
      .config("spark.sql.catalog.graft.warehouse", warehouse)
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def coreTable(name: String) =
    new HadoopCatalog(warehouse).loadTable(Seq("db"), name).get

  test("create, insert, select through SQL with hidden partitioning") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("""CREATE TABLE graft.db.li (
      id BIGINT, data STRING, ts TIMESTAMP, qty INT) PARTITIONED BY (days(ts))""")

    spark.sql("""INSERT INTO graft.db.li VALUES
      (1, 'a', TIMESTAMP '2024-01-01 10:00:00', 5),
      (2, 'b', TIMESTAMP '2024-01-01 23:00:00', 10),
      (3, 'c', TIMESTAMP '2024-01-02 01:00:00', 15),
      (4, 'd', TIMESTAMP '2024-01-03 12:00:00', 20)""")

    val all = spark.sql("SELECT * FROM graft.db.li ORDER BY id").collect()
    assert(all.length === 4)
    assert(all.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L))
    assert(all(0).getString(1) === "a")
    assert(all(2).getInt(3) === 15)

    // filter returning correct rows
    val filtered = spark.sql(
      "SELECT id FROM graft.db.li WHERE ts >= TIMESTAMP '2024-01-02 00:00:00' ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(filtered === Seq(3L, 4L))

    // hidden partitioning prunes files: 3 day-partitions were written
    // (several write tasks may emit multiple files per partition)
    val t = coreTable("li")
    assert(t.newScan().planFiles().map(_.file.partition).distinct.size === 3)
    val pruned = t.newScan()
      .filter(Expr.gtEq("ts", 19725L * 86400000000L)) // 2024-01-03
      .planFiles()
    assert(pruned.size === 1)

    // column stats pruning within a partition
    val statsPruned = t.newScan().filter(Expr.equalTo("id", 4L)).planFiles()
    assert(statsPruned.size === 1)
  }

  test("time travel: version as of and snapshot isolation") {
    spark.sql("CREATE TABLE graft.db.tt (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.db.tt VALUES (1, 'one')")
    val snap1 = coreTable("tt").meta.currentSnapshot.get.snapshotId
    spark.sql("INSERT INTO graft.db.tt VALUES (2, 'two')")

    assert(spark.sql("SELECT * FROM graft.db.tt").count() === 2)
    assert(spark.sql(s"SELECT * FROM graft.db.tt VERSION AS OF $snap1").count() === 1)
    val ts1 = coreTable("tt").meta.snapshotById(snap1).get.timestampMs
    val asOf = new java.sql.Timestamp(ts1).toString
    assert(spark.sql(s"SELECT * FROM graft.db.tt TIMESTAMP AS OF '$asOf'").count() === 1)
  }

  test("metadata-only DELETE FROM on partition boundary") {
    spark.sql("""CREATE TABLE graft.db.del (id BIGINT, ts TIMESTAMP)
      PARTITIONED BY (days(ts))""")
    spark.sql("""INSERT INTO graft.db.del VALUES
      (1, TIMESTAMP '2024-02-01 05:00:00'),
      (2, TIMESTAMP '2024-02-02 05:00:00'),
      (3, TIMESTAMP '2024-02-03 05:00:00')""")
    spark.sql("DELETE FROM graft.db.del WHERE ts < TIMESTAMP '2024-02-02 00:00:00'")
    val rows = spark.sql("SELECT id FROM graft.db.del ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(rows === Seq(2L, 3L))
    assert(coreTable("del").meta.currentSnapshot.get.operation === "overwrite")
  }

  test("insert overwrite: truncate and dynamic partition modes") {
    spark.sql("""CREATE TABLE graft.db.ow (id BIGINT, part STRING)
      PARTITIONED BY (part)""")
    spark.sql("INSERT INTO graft.db.ow VALUES (1, 'p1'), (2, 'p2')")
    // dynamic overwrite replaces only partition p1
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    spark.sql("INSERT OVERWRITE graft.db.ow VALUES (10, 'p1')")
    val rows = spark.sql("SELECT id, part FROM graft.db.ow ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows === Seq((2L, "p2"), (10L, "p1")))
    // static overwrite (truncate-all)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    spark.sql("INSERT OVERWRITE graft.db.ow VALUES (100, 'p3')")
    assert(spark.sql("SELECT * FROM graft.db.ow").count() === 1)
  }

  test("schema evolution: add column reads old files as null") {
    spark.sql("CREATE TABLE graft.db.evo (id BIGINT)")
    spark.sql("INSERT INTO graft.db.evo VALUES (1)")
    spark.sql("ALTER TABLE graft.db.evo ADD COLUMN extra STRING")
    spark.sql("INSERT INTO graft.db.evo VALUES (2, 'x')")
    val rows = spark.sql("SELECT id, extra FROM graft.db.evo ORDER BY id").collect()
    assert(rows.length === 2)
    assert(rows(0).isNullAt(1))
    assert(rows(1).getString(1) === "x")
  }

  test("copy-on-write DELETE mid-partition") {
    spark.sql("""CREATE TABLE graft.db.cow (id BIGINT, ts TIMESTAMP)
      PARTITIONED BY (days(ts))""")
    spark.sql("""INSERT INTO graft.db.cow VALUES
      (1, TIMESTAMP '2024-03-01 05:00:00'),
      (2, TIMESTAMP '2024-03-01 15:00:00'),
      (3, TIMESTAMP '2024-03-02 05:00:00')""")
    // mid-partition: not provable metadata-only → CoW rewrite
    spark.sql("DELETE FROM graft.db.cow WHERE ts > TIMESTAMP '2024-03-01 10:00:00' " +
      "AND ts < TIMESTAMP '2024-03-02 00:00:00'")
    val rows = spark.sql("SELECT id FROM graft.db.cow ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(rows === Seq(1L, 3L))
  }

  test("copy-on-write UPDATE") {
    spark.sql("CREATE TABLE graft.db.upd (id BIGINT, qty INT)")
    spark.sql("INSERT INTO graft.db.upd VALUES (1, 10), (2, 20), (3, 30)")
    spark.sql("UPDATE graft.db.upd SET qty = qty + 100 WHERE id >= 2")
    val rows = spark.sql("SELECT id, qty FROM graft.db.upd ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(rows === Seq((1L, 10), (2L, 120), (3L, 130)))
  }

  test("copy-on-write MERGE INTO") {
    spark.sql("CREATE TABLE graft.db.mrg (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.db.mrg VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.range(2, 5).selectExpr("id", "concat('new', id) AS v")
      .createOrReplaceTempView("mrg_src")
    spark.sql("""MERGE INTO graft.db.mrg t USING mrg_src s ON t.id = s.id
      WHEN MATCHED AND s.id = 3 THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
    val rows = spark.sql("SELECT id, v FROM graft.db.mrg ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows === Seq((1L, "a"), (2L, "new2"), (4L, "new4")))
  }

  test("metadata columns _file and _pos") {
    spark.sql("CREATE TABLE graft.db.mc (id BIGINT, v STRING)")
    // single task → one file, so positions are 0..2 within it
    spark.range(1, 4, 1, 1).selectExpr("id", "concat('v', id) AS v")
      .writeTo("graft.db.mc").append()
    val rows = spark.sql("SELECT id, _file, _pos FROM graft.db.mc ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows.map(_._1) === Seq(1L, 2L, 3L))
    assert(rows.forall(_._2.endsWith(".parquet")))
    assert(rows.map(_._2).distinct.size === 1)
    assert(rows.map(_._3) === Seq(0L, 1L, 2L))
  }

  test("aggregate pushdown: count/min/max from metadata only") {
    spark.sql("CREATE TABLE graft.db.agg (id BIGINT, qty INT, name STRING)")
    spark.range(0, 500).selectExpr("id", "cast(id % 7 as int) AS qty", "concat('n', id) AS name")
      .writeTo("graft.db.agg").append()
    val df = spark.sql("SELECT count(*) AS c, count(qty) AS cq, min(id) AS mn, max(id) AS mx FROM graft.db.agg")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"), s"expected metadata-only answer, got:\n$plan")
    val r = df.collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) === ((500L, 500L, 0L, 499L)))
    // with a filter the pushdown must bail and read data
    val f = spark.sql("SELECT count(*) FROM graft.db.agg WHERE id < 10")
    assert(f.collect()(0).getLong(0) === 10L)
    // min/max on strings must bail (truncated parquet stats) yet stay correct
    val s = spark.sql("SELECT max(name) AS m FROM graft.db.agg")
    assert(s.collect()(0).getString(0) === "n99")
  }

  test("function catalog: bucket/truncate/days with spec test vectors") {
    // spec Appendix B vectors: murmur3(int 34)=2017239379, bucket semantics
    val b = spark.sql("SELECT graft.system.bucket(16, 34) AS b").collect()(0).getInt(0)
    assert(b === (2017239379 & Integer.MAX_VALUE) % 16)
    // long 34 hashes identically to int 34 (canonical widening)
    val bl = spark.sql("SELECT graft.system.bucket(16, CAST(34 AS BIGINT)) AS b").collect()(0).getInt(0)
    assert(bl === b)
    assert(spark.sql("SELECT graft.system.truncate(3, 'iceberg') AS t").collect()(0).getString(0) === "ice")
    assert(spark.sql("SELECT graft.system.truncate(10, -1) AS t").collect()(0).getInt(0) === -10)
    assert(spark.sql("SELECT graft.system.days(TIMESTAMP '1970-01-02 12:00:00') AS d")
      .collect()(0).getDate(0).toString === "1970-01-02")
    assert(spark.sql("SELECT graft.system.months(DATE '1970-03-15') AS m").collect()(0).getInt(0) === 2)
    assert(spark.sql("SELECT graft.system.graft_version() AS v").collect()(0).getString(0).startsWith("graft"))
  }

  test("partitioned write clusters by partition transform") {
    spark.sql("""CREATE TABLE graft.db.dist (id BIGINT, ts TIMESTAMP)
      PARTITIONED BY (days(ts))""")
    // 4 input partitions × 3 days; hash distribution must coalesce to ≤ 1
    // file per day (not 4 tasks × 3 days = 12 files)
    spark.range(0, 300, 1, 4)
      .selectExpr("id", "timestampadd(HOUR, CAST(id % 72 AS INT), TIMESTAMP '2024-05-01 00:00:00') AS ts")
      .writeTo("graft.db.dist").append()
    val files = spark.sql("SELECT DISTINCT _file FROM graft.db.dist").count()
    assert(files === 3L, s"expected 3 files (one per day), got $files")
    assert(spark.sql("SELECT count(*) FROM graft.db.dist").collect()(0).getLong(0) === 300L)
  }

  test("metadata tables: snapshots, files, history, partitions, refs") {
    spark.sql("""CREATE TABLE graft.db.mt (id BIGINT, ts TIMESTAMP)
      PARTITIONED BY (days(ts))""")
    spark.sql("INSERT INTO graft.db.mt VALUES (1, TIMESTAMP '2024-01-01 00:00:00')")
    spark.sql("INSERT INTO graft.db.mt VALUES (2, TIMESTAMP '2024-01-02 00:00:00')")
    val snaps = spark.sql("SELECT snapshot_id, operation FROM graft.db.mt.snapshots ORDER BY committed_at").collect()
    assert(snaps.length === 2)
    assert(snaps.forall(_.getString(1) === "append"))
    assert(spark.sql("SELECT * FROM graft.db.mt.history").count() === 2)
    assert(spark.sql("SELECT * FROM graft.db.mt.manifests").count() >= 1)
    val files = spark.sql("SELECT file_path, record_count FROM graft.db.mt.files").collect()
    assert(files.length === 2 && files.forall(_.getLong(1) === 1L))
    val parts = spark.sql("SELECT partition, record_count FROM graft.db.mt.partitions ORDER BY partition").collect()
    assert(parts.length === 2)
    val refs = spark.sql("SELECT name, type FROM graft.db.mt.refs").collect()
    assert(refs.exists(r => r.getString(0) === "main" && r.getString(1) === "branch"))
    assert(spark.sql("SELECT * FROM graft.db.mt.entries").count() === 2)
  }

  test("procedures: rollback, branches/tags, expire, orphans") {
    spark.sql("CREATE TABLE graft.db.proc (id BIGINT)")
    spark.sql("INSERT INTO graft.db.proc VALUES (1)")
    val snap1 = coreTable("proc").meta.currentSnapshot.get.snapshotId
    spark.sql("INSERT INTO graft.db.proc VALUES (2)")

    // tag the head, roll back, read via tag
    spark.sql(s"CALL graft.system.create_tag('db.proc', 'v2')")
    spark.sql(s"CALL graft.system.rollback_to_snapshot('db.proc', $snap1)")
    assert(spark.sql("SELECT * FROM graft.db.proc").count() === 1)
    assert(spark.sql("SELECT * FROM graft.db.proc VERSION AS OF 'v2'").count() === 2)
    // branch from the tag and fast-forward main back to it
    spark.sql("CALL graft.system.create_branch('db.proc', 'dev', " +
      coreTable("proc").meta.ref("v2").get.snapshotId + ")")
    spark.sql("CALL graft.system.fast_forward('db.proc', 'main', 'dev')")
    assert(spark.sql("SELECT * FROM graft.db.proc").count() === 2)

    // orphan removal: drop a stray file
    val stray = coreTable("proc").location + "/data/stray.parquet"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stray).getParent)
    java.nio.file.Files.write(java.nio.file.Paths.get(stray), Array[Byte](1, 2))
    // default 3-day age cutoff protects just-written (possibly in-flight
    // uncommitted) files
    val protectedCount = spark.sql(
      "CALL graft.system.remove_orphan_files('db.proc', false)")
      .collect()(0).getInt(0)
    assert(protectedCount === 0)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(stray)))
    val cutoff = System.currentTimeMillis() + 60000
    val orphans = spark.sql(
      s"CALL graft.system.remove_orphan_files('db.proc', false, ${cutoff}L)")
      .collect()(0).getInt(0)
    assert(orphans === 1)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(stray)))

    // metadata-dir orphans: a manifest written by a failed/conflicted
    // attempt (never referenced by any snapshot) is collected; live
    // manifests, manifest lists, version files and the hint survive
    val strayMf = coreTable("proc").location + "/metadata/stray-m9.avro"
    java.nio.file.Files.write(java.nio.file.Paths.get(strayMf), Array[Byte](5, 6))
    val orphansMeta = spark.sql(
      s"CALL graft.system.remove_orphan_files('db.proc', false, ${cutoff}L)")
      .collect()(0).getInt(0)
    assert(orphansMeta === 1)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(strayMf)))
    // table still fully readable: every live snapshot's metadata intact
    assert(spark.sql("SELECT * FROM graft.db.proc").count() === 2)
    assert(spark.sql("SELECT * FROM graft.db.proc.snapshots").count() >= 2)
    assert(spark.sql("SELECT * FROM graft.db.proc VERSION AS OF 'v2'").count() === 2)

    // distributed listing: orphans inside partition subdirectories are
    // found per-directory tasks, live files stay
    spark.sql("CREATE TABLE graft.db.proc_part (id BIGINT, p STRING) PARTITIONED BY (p)")
    spark.sql("INSERT INTO graft.db.proc_part VALUES (1,'x'),(2,'y')")
    val strayPart = coreTable("proc_part").location + "/data/p=x/stray2.parquet"
    java.nio.file.Files.write(java.nio.file.Paths.get(strayPart), Array[Byte](3, 4))
    val orphans2 = spark.sql(
      s"CALL graft.system.remove_orphan_files('db.proc_part', false, ${cutoff}L)")
      .collect()(0).getInt(0)
    assert(orphans2 === 1)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(strayPart)))
    assert(spark.sql("SELECT * FROM graft.db.proc_part").count() === 2)

    // expire: drop refs so old snapshots are unreferenced, keep last 1
    spark.sql("CALL graft.system.drop_ref('db.proc', 'v2')")
    spark.sql("CALL graft.system.drop_ref('db.proc', 'dev')")
    val exp = spark.sql("CALL graft.system.expire_snapshots('db.proc')").collect()(0)
    assert(exp.getInt(0) >= 1)
    assert(spark.sql("SELECT * FROM graft.db.proc").count() === 2)
  }

  test("procedures: rewrite_data_files compacts small files") {
    spark.sql("CREATE TABLE graft.db.compact (id BIGINT, v STRING)")
    (1 to 4).foreach(i => spark.sql(s"INSERT INTO graft.db.compact VALUES ($i, 'v$i')"))
    assert(spark.sql("SELECT count(*) FROM graft.db.compact.files").collect()(0).getLong(0) === 4L)
    val res = spark.sql("CALL graft.system.rewrite_data_files('db.compact')").collect()(0)
    assert(res.getInt(0) === 4 && res.getInt(1) === 1)
    assert(spark.sql("SELECT count(*) FROM graft.db.compact.files").collect()(0).getLong(0) === 1L)
    assert(spark.sql("SELECT id FROM graft.db.compact ORDER BY id").collect().map(_.getLong(0)).toSeq
      === Seq(1L, 2L, 3L, 4L))
    // sort strategy re-clusters
    spark.sql("CALL graft.system.rewrite_data_files('db.compact', 'sort', 'id DESC')")
    assert(spark.sql("SELECT count(*) FROM graft.db.compact").collect()(0).getLong(0) === 4L)
  }

  test("procedures: rewrite_data_files partial progress commits per batch") {
    spark.sql("""CREATE TABLE graft.db.pprog (id BIGINT, p BIGINT)
      PARTITIONED BY (p)""")
    // 4 partitions × 2 small files each → 4 rewrite groups
    (0 until 2).foreach { _ =>
      spark.range(0, 40).selectExpr("id", "id % 4 AS p")
        .writeTo("graft.db.pprog").append()
    }
    val before = spark.sql("SELECT COUNT(*) FROM graft.db.pprog.snapshots")
      .collect()(0).getLong(0)
    val res = spark.sql(
      """CALL graft.system.rewrite_data_files('db.pprog', 'binpack', '',
         536870912, 2, true, 2)""").collect()(0)
    assert(res.getInt(0) === 8 && res.getInt(1) === 4 && res.getInt(3) === 0)
    val after = spark.sql("SELECT COUNT(*) FROM graft.db.pprog.snapshots")
      .collect()(0).getLong(0)
    // 4 groups / max 2 commits → exactly 2 overwrite snapshots
    assert(after - before === 2)
    assert(spark.sql("SELECT COUNT(*) FROM graft.db.pprog").collect()(0).getLong(0) === 80)
    assert(spark.sql("SELECT count(*) FROM graft.db.pprog.files").collect()(0).getLong(0) === 4L)
  }

  test("procedures: rewrite_manifests and compute_table_stats") {
    spark.sql("CREATE TABLE graft.db.rm (id BIGINT)")
    (1 to 3).foreach(i => spark.sql(s"INSERT INTO graft.db.rm VALUES ($i)"))
    val res = spark.sql("CALL graft.system.rewrite_manifests('db.rm')").collect()(0)
    assert(res.getInt(0) === 3 && res.getInt(1) === 1)
    assert(spark.sql("SELECT count(*) FROM graft.db.rm").collect()(0).getLong(0) === 3L)
    spark.sql("CALL graft.system.compute_table_stats('db.rm')")
    val rm = coreTable("rm")
    assert(rm.meta.properties.get("stats.ndv.id").exists(_.toLong >= 2))
    // a Puffin statistics file is written and recorded in table metadata
    val stats = rm.meta.statistics
    assert(stats.size === 1)
    assert(stats.head.snapshotId === rm.meta.currentSnapshot.get.snapshotId)
    val blobs = graft.core.meta.Puffin.read(stats.head.path)
    assert(blobs.size === 1 &&
      blobs.head.blobType === "apache-datasketches-theta-v1")
    assert(blobs.head.fields === Seq(1))
    // the payload is a genuine DataSketches-readable compact sketch
    assert(graft.core.meta.Puffin.thetaEstimate(blobs.head.payload)
      .exists(_ >= 2L))
    assert(blobs.head.properties.get("ndv").exists(_.toLong >= 2L))

    // the stats describe LIVE rows: rows a merge-on-read DELETE masked
    // with a delete file are not counted
    spark.sql("""CREATE TABLE graft.db.rmlive (id BIGINT)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.range(0, 1000).coalesce(1).writeTo("graft.db.rmlive").append()
    spark.sql("DELETE FROM graft.db.rmlive WHERE id >= 100")
    assert(spark.table("graft.db.rmlive.delete_files").count() > 0L)
    assert(spark.table("graft.db.rmlive").count() === 100L)
    spark.sql("CALL graft.system.compute_table_stats('db.rmlive')")
    assert(coreTable("rmlive").meta.properties.get("stats.ndv.id") === Some("100"))
  }

  test("add_files imports >64 files through the distributed footer path") {
    val dir = java.nio.file.Files.createTempDirectory("graft-imp-many").toString
    // 80 files crosses the importFiles threshold: footers read on
    // executors, only DataFile descriptors return to the driver
    spark.range(0, 800).repartition(80).write.mode("overwrite").parquet(dir)
    spark.sql("CREATE TABLE graft.db.imp_many (id BIGINT)")
    val res = spark.sql(
      s"CALL graft.system.add_files('db.imp_many', '$dir')").collect()(0)
    assert(res.getInt(0) === 80 && res.getLong(1) === 800L)
    assert(spark.sql("SELECT count(*), sum(id) FROM graft.db.imp_many")
      .collect()(0) === org.apache.spark.sql.Row(800L, 319600L))
  }

  test("snapshot_table of a hive-layout source keeps its partition values") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snap-hive").toString
    spark.range(0, 40).selectExpr("id", "id % 4 AS p")
      .write.partitionBy("p").mode("overwrite").parquet(dir)
    spark.sql(s"CALL graft.system.snapshot_table('$dir', 'db.snap_hive')")
    // the hive-layout column became an identity partition, and its
    // values come back (as constants for the column-less files)
    // NB: spark.read's partition-dir inference types p as INT
    val rows = spark.sql(
      "SELECT p, count(*) FROM graft.db.snap_hive GROUP BY p ORDER BY p")
      .collect().map(r => (r.getAs[Number](0).longValue,
        r.getAs[Number](1).longValue)).toSeq
    assert(rows === Seq((0L, 10L), (1L, 10L), (2L, 10L), (3L, 10L)))
    val spec = coreTable("snap_hive").spec
    assert(spec.fields.map(_.name) === Seq("p"),
      "hive-layout source must import identity-partitioned")
    // a hive-layout ORC source imports as "orc-nm": the files lack the
    // partition column physically, so reads serve it as an identity
    // constant (the same fill as parquet-nm)
    val odir = java.nio.file.Files.createTempDirectory("graft-snap-orc").toString
    spark.range(0, 8).selectExpr("id", "id % 2 AS p")
      .write.partitionBy("p").mode("overwrite").orc(odir)
    spark.sql(s"CALL graft.system.snapshot_table('$odir', 'db.snap_orc_hive')")
    val orows = spark.sql(
      "SELECT p, count(*), sum(id) FROM graft.db.snap_orc_hive GROUP BY p ORDER BY p")
      .collect().map(r => (r.getAs[Number](0).longValue,
        r.getAs[Number](1).longValue, r.getAs[Number](2).longValue)).toSeq
    assert(orows === Seq((0L, 4L, 12L), (1L, 4L, 16L)),
      "hive-layout ORC partition values must come back as constants")
    assert(spark.sql("SELECT file_format FROM graft.db.snap_orc_hive.files")
      .collect().forall(_.getString(0) == "orc-nm"))
  }

  test("merge-on-read DELETE writes position deletes, not rewrites") {
    spark.sql("""CREATE TABLE graft.db.mor (id BIGINT, v STRING)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read',
                     'write.update.mode'='merge-on-read',
                     'write.merge.mode'='merge-on-read')""")
    spark.range(0, 100, 1, 1).selectExpr("id", "concat('v', id) AS v")
      .writeTo("graft.db.mor").append()
    val dataFile = spark.sql("SELECT DISTINCT _file FROM graft.db.mor").collect()(0).getString(0)

    spark.sql("DELETE FROM graft.db.mor WHERE id % 10 = 3")
    assert(spark.sql("SELECT count(*) FROM graft.db.mor").collect()(0).getLong(0) === 90L)
    // original data file survives; a position-delete file was added
    val files = spark.sql("SELECT content, file_path, record_count FROM graft.db.mor.files").collect()
    assert(files.exists(r => r.getInt(0) === 0 && r.getString(1) === dataFile))
    assert(files.exists(r => r.getInt(0) === 1 && r.getLong(2) === 10L))

    spark.sql("UPDATE graft.db.mor SET v = 'updated' WHERE id = 4")
    assert(spark.sql("SELECT v FROM graft.db.mor WHERE id = 4").collect()(0).getString(0) === "updated")
    assert(spark.sql("SELECT count(*) FROM graft.db.mor").collect()(0).getLong(0) === 90L)

    spark.range(98, 102).selectExpr("id", "concat('m', id) AS v")
      .createOrReplaceTempView("mor_src")
    spark.sql("""MERGE INTO graft.db.mor t USING mor_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
    val after = spark.sql("SELECT id, v FROM graft.db.mor WHERE id >= 98 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(after === Seq((98L, "m98"), (99L, "m99"), (100L, "m100"), (101L, "m101")))
  }

  test("changelog: tbl.changes, incremental read, changelog view") {
    spark.sql("CREATE TABLE graft.db.cdc (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.db.cdc VALUES (1, 'a'), (2, 'b')")
    val snap1 = coreTable("cdc").meta.currentSnapshot.get.snapshotId
    spark.sql("INSERT INTO graft.db.cdc VALUES (3, 'c')")
    spark.sql("UPDATE graft.db.cdc SET v = 'B' WHERE id = 2") // CoW rewrite

    val changes = spark.sql(
      "SELECT id, v, _change_type, _change_ordinal FROM graft.db.cdc.changes ORDER BY _change_ordinal, _change_type, id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3))).toSeq
    // ordinal 0: insert 1,2; ordinal 1: insert 3; ordinal 2: CoW rewrite of
    // the file holding (1,2): delete 1,2 + insert 1,B... (carryover of 1)
    assert(changes.count(_._3 === "INSERT") >= 4)
    assert(changes.count(_._3 === "DELETE") >= 1)
    assert(changes.contains((2L, "b", "DELETE", 2)) && changes.contains((2L, "B", "INSERT", 2)))

    // incremental append read: only snapshots after snap1
    val inc = spark.read.option("start-snapshot-id", snap1.toString)
      .table("graft.db.cdc").select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(inc === Seq(3L))

    // changelog view: carryover (1,'a') removed, update paired for id=2
    spark.sql("CALL graft.system.create_changelog_view('db.cdc', 'cdc_view', 'id')")
    val view = spark.sql(
      "SELECT id, v, _change_type FROM cdc_view WHERE _change_ordinal = 2 ORDER BY _change_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(view === Seq((2L, "B", "UPDATE_AFTER"), (2L, "b", "UPDATE_BEFORE")))

    // net_changes: the whole range collapses to each row's net effect —
    // (2,'b') was inserted then replaced, so only its final state and the
    // other survivors remain, all as INSERTs (nothing net-deleted here)
    spark.sql(
      "CALL graft.system.create_changelog_view('db.cdc', 'cdc_net', '', true)")
    val netRows = spark.sql("SELECT id, v, _change_type FROM cdc_net ORDER BY id, v")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(netRows === Seq((1L, "a", "INSERT"), (2L, "B", "INSERT"), (3L, "c", "INSERT")),
      netRows.toString)
  }

  test("changelog and incremental reads accept timestamp ranges") {
    spark.sql("CREATE TABLE graft.db.cdc_ts (id BIGINT)")
    spark.sql("INSERT INTO graft.db.cdc_ts VALUES (1)")
    Thread.sleep(10)
    val afterFirst = System.currentTimeMillis()
    Thread.sleep(10)
    spark.sql("INSERT INTO graft.db.cdc_ts VALUES (2)")
    Thread.sleep(10)
    val afterSecond = System.currentTimeMillis()
    Thread.sleep(10)
    spark.sql("INSERT INTO graft.db.cdc_ts VALUES (3)")

    // (start, end]: rows appended after ts1 up to ts2 → only id=2
    val ch = spark.read
      .option("start-timestamp", afterFirst.toString)
      .option("end-timestamp", afterSecond.toString)
      .table("graft.db.cdc_ts.changes")
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(ch === Seq(2L), s"changes in ts range: $ch")

    // incremental append scan with the same range semantics
    val inc = spark.read
      .option("start-timestamp", afterFirst.toString)
      .option("end-timestamp", afterSecond.toString)
      .table("graft.db.cdc_ts")
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(inc === Seq(2L), s"incremental in ts range: $inc")

    // mixing spellings is rejected
    val err = intercept[IllegalArgumentException] {
      spark.read.option("start-snapshot-id", "1")
        .option("start-timestamp", afterFirst.toString)
        .table("graft.db.cdc_ts").collect()
    }
    assert(err.getMessage.contains("start-snapshot-id and start-timestamp"))

    // a start-timestamp before the first snapshot means "from the
    // beginning", and the end bound still applies
    val fromStart = spark.read
      .option("start-timestamp", "1")
      .option("end-timestamp", afterSecond.toString)
      .table("graft.db.cdc_ts")
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(fromStart === Seq(1L, 2L), s"from-beginning range: $fromStart")

    // an end bound without any start is rejected (it would silently ride
    // a full-table scan otherwise)
    val err2 = intercept[IllegalArgumentException] {
      spark.read.option("end-timestamp", afterSecond.toString)
        .table("graft.db.cdc_ts").collect()
    }
    assert(err2.getMessage.contains("end bound"), err2.getMessage)

    // an end-timestamp before the first snapshot is a user error
    val err3 = intercept[IllegalArgumentException] {
      spark.read.option("start-timestamp", "1").option("end-timestamp", "2")
        .table("graft.db.cdc_ts").collect()
    }
    assert(err3.getMessage.contains("precedes the first snapshot"),
      err3.getMessage)
  }

  test("CTAS and RTAS through the staging catalog") {
    spark.sql("CREATE TABLE graft.db.ctas USING parquet AS SELECT id, id * 2 AS dbl FROM range(10)")
    assert(spark.sql("SELECT sum(dbl) FROM graft.db.ctas").collect()(0).getLong(0) === 90L)
    spark.sql("REPLACE TABLE graft.db.ctas AS SELECT id, id * 3 AS tpl FROM range(5)")
    assert(spark.sql("SELECT sum(tpl) FROM graft.db.ctas").collect()(0).getLong(0) === 30L)
    // replace keeps the table's identity: pre-replace snapshots remain
    // time-travelable (reference TableMetadata.buildReplacement)
    val snaps = spark.sql(
      "SELECT snapshot_id FROM graft.db.ctas.snapshots ORDER BY committed_at")
      .collect().map(_.getLong(0))
    assert(snaps.length >= 2, snaps.mkString(","))
    assert(spark.sql(
      s"SELECT sum(dbl) FROM graft.db.ctas VERSION AS OF ${snaps.head}")
      .collect()(0).getLong(0) === 90L)
  }

  test("staged RTAS publish rebases around a concurrent schema change") {
    import org.apache.spark.sql.connector.catalog.{Column => CCol, Identifier}
    spark.sql("CREATE TABLE graft.db.rtas_cc AS SELECT id, id * 2 AS dbl FROM range(4)")
    val firstSnap = spark.sql(
      "SELECT snapshot_id FROM graft.db.rtas_cc.snapshots").collect()(0).getLong(0)
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
    val ident = Identifier.of(Array("db"), "rtas_cc")
    // stage a replacement (fresh schema, ids minted from the current base)
    val stagedTbl = cat.stageReplace(ident,
      Array(CCol.create("id", org.apache.spark.sql.types.LongType),
        CCol.create("tpl", org.apache.spark.sql.types.LongType)),
      Array.empty, new java.util.HashMap[String, String]())
    // concurrent commits while the replacement is staged: a schema change
    // that mints the SAME schema id, and a snapshot stamped with it
    spark.sql("ALTER TABLE graft.db.rtas_cc ADD COLUMNS (extra INT)")
    spark.sql("INSERT INTO graft.db.rtas_cc VALUES (100, 200, 7)")
    val concurrentSnap = spark.sql(
      """SELECT snapshot_id FROM graft.db.rtas_cc.snapshots
         ORDER BY committed_at DESC LIMIT 1""").collect()(0).getLong(0)
    stagedTbl.commitStagedChanges()
    spark.sql("REFRESH TABLE graft.db.rtas_cc")
    // current = the replacement schema
    assert(spark.table("graft.db.rtas_cc").schema.fieldNames.toSeq ===
      Seq("id", "tpl"))
    // the concurrent snapshot still time-travels with ITS schema (the
    // ALTERed one incl. `extra`), not the replacement bound to its id
    val tt = spark.sql(
      s"SELECT * FROM graft.db.rtas_cc VERSION AS OF $concurrentSnap")
    assert(tt.schema.fieldNames.toSeq === Seq("id", "dbl", "extra"))
    assert(tt.where("id = 100").collect()(0).getInt(2) === 7)
    // and the ORIGINAL pre-replace snapshot still reads too
    assert(spark.sql(
      s"SELECT sum(dbl) FROM graft.db.rtas_cc VERSION AS OF $firstSnap")
      .collect()(0).getLong(0) === 12L)
  }

  test("staged publish renumbers sequence numbers past concurrent commits") {
    import org.apache.spark.sql.connector.catalog.Identifier
    import graft.core.meta.{DataFile, GTable, ManifestIO, StagedOps}
    import graft.core.expr.ColStats
    spark.sql("CREATE TABLE graft.db.rtseq (id BIGINT)")
    spark.sql("INSERT INTO graft.db.rtseq VALUES (1)") // seq 1
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
    val t = coreTable("rtseq")
    val stagedOps = new StagedOps(t.ops, t.meta)
    // staged append mints seq 2 (preLast = 1)
    new GTable(stagedOps).newAppend().appendFiles(Seq(DataFile(
      s"${t.location}/data/staged-seq.parquet", "parquet", 0, Nil,
      recordCount = 1, fileSizeBytes = 100,
      columnStats = Map(1 -> ColStats(Some(1L), Some(0L), None,
        Some(7L), Some(7L)))))).commit()
    // concurrent REAL append also mints seq 2 — the duplicate
    spark.sql("INSERT INTO graft.db.rtseq VALUES (2)")
    cat.publishStaged(Identifier.of(Array("db"), "rtseq"), t.ops, stagedOps,
      allowReplace = true, allowCreate = true)
    val after = coreTable("rtseq").meta
    val seqs = after.snapshots.map(_.sequenceNumber)
    assert(seqs.distinct.size === seqs.size,
      s"duplicate sequence numbers after publish: $seqs")
    assert(after.lastSequenceNumber === 3)
    // the published staged head carries the RENUMBERED seq, and its
    // manifest entries were rewritten to match
    val head = after.currentSnapshot.get
    assert(head.sequenceNumber === 3)
    val entrySeqs = ManifestIO.readList(head.manifestListPath)
      .flatMap(m => ManifestIO.readEntries(m)).map(_.dataSequenceNumber)
    assert(entrySeqs.contains(3L), s"staged entries not renumbered: $entrySeqs")
    assert(!entrySeqs.contains(2L), s"stale staged seq survived: $entrySeqs")
    // row-id ranges renumber the same way: both sides allocated _row_id
    // from the pre-staging nextRowId, so published file ranges must not
    // overlap across the whole history
    val ranges = after.snapshots
      .flatMap(sn => ManifestIO.readList(sn.manifestListPath))
      .distinctBy(_.path)
      .flatMap(m => ManifestIO.readEntries(m))
      .filter(e => e.isLive && e.file.firstRowId.isDefined)
      .map(e => (e.file.firstRowId.get, e.file.firstRowId.get + e.file.recordCount))
      .distinct.sorted
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"overlapping _row_id ranges after publish: $ranges")
      case _ => ()
    }
    assert(after.nextRowId >= ranges.map(_._2).maxOption.getOrElse(0L))
  }

  test("schema evolution: nested adds, renames, drops, moves, nullability") {
    spark.sql("""CREATE TABLE graft.db.evo_n (
      id BIGINT, info STRUCT<name: STRING, age: INT>)""")
    spark.sql("""INSERT INTO graft.db.evo_n VALUES
      (1, named_struct('name', 'a', 'age', 10)),
      (2, named_struct('name', 'b', 'age', 20))""")
    // nested ADD: old files read the new sub-column as null
    spark.sql("ALTER TABLE graft.db.evo_n ADD COLUMN info.city STRING")
    assert(spark.sql("SELECT info.city FROM graft.db.evo_n")
      .collect().forall(_.isNullAt(0)))
    spark.sql("""INSERT INTO graft.db.evo_n VALUES
      (3, named_struct('name', 'c', 'age', 30, 'city', 'x'))""")
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.evo_n WHERE info.city = 'x'")
      .collect()(0).getLong(0) === 1L)
    // nested RENAME keeps field-id addressing: old rows still resolve
    spark.sql("ALTER TABLE graft.db.evo_n RENAME COLUMN info.age TO years")
    assert(spark.sql("SELECT sum(info.years) FROM graft.db.evo_n")
      .collect()(0).getLong(0) === 60L)
    // top-level ADD with position + MOVE
    spark.sql("ALTER TABLE graft.db.evo_n ADD COLUMN flag BOOLEAN AFTER id")
    assert(spark.table("graft.db.evo_n").schema.fieldNames.toSeq ===
      Seq("id", "flag", "info"))
    spark.sql("ALTER TABLE graft.db.evo_n ALTER COLUMN flag AFTER info")
    assert(spark.table("graft.db.evo_n").schema.fieldNames.toSeq ===
      Seq("id", "info", "flag"))
    // nested DROP
    spark.sql("ALTER TABLE graft.db.evo_n DROP COLUMN info.city")
    assert(!spark.table("graft.db.evo_n").schema("info").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.contains("city"))
    assert(spark.sql("SELECT sum(info.years) FROM graft.db.evo_n")
      .collect()(0).getLong(0) === 60L)
    // nullability tightening is metadata-only here
    spark.sql("ALTER TABLE graft.db.evo_n ALTER COLUMN id DROP NOT NULL")
    assert(spark.table("graft.db.evo_n").schema("id").nullable)
  }

  test("variant shredded stats prune files on variant_get predicates") {
    spark.sql("""CREATE TABLE graft.db.vshred (id BIGINT, payload VARIANT)
      TBLPROPERTIES ('write.variant.shred.payload'='$.v:bigint')""")
    spark.sql("""INSERT INTO graft.db.vshred
      SELECT id, parse_json(concat('{"v":', id, '}')) FROM range(0, 100)""")
    spark.sql("""INSERT INTO graft.db.vshred
      SELECT id, parse_json(concat('{"v":', id, '}')) FROM range(1000, 1100)""")
    // end-to-end correctness via the pushable catalog function
    assert(spark.sql("""SELECT count(*) FROM graft.db.vshred
      WHERE graft.system.variant_get_long(payload, '$.v') >= 1000""")
      .collect()(0).getLong(0) === 100L)
    // and mixed-type extraction stays consistent with Spark's variant_get
    assert(spark.sql("""SELECT count(*) FROM graft.db.vshred
      WHERE graft.system.variant_get_long(payload, '$.v') =
            variant_get(payload, '$.v', 'bigint')""")
      .collect()(0).getLong(0) === 200L)
    // file pruning: the shred predicate must plan strictly fewer files
    // (every first-append file has v-bounds under 1000)
    import graft.core.expr._
    val t = coreTable("vshred")
    val total = t.newScan().planFiles().size
    assert(total >= 2, s"need multiple files, got $total")
    val pruned = t.newScan()
      .filter(UnboundShredPred(Op.GtEq, "payload", "$.v",
        graft.core.types.GLong, Seq(1000L)))
      .planFiles().size
    assert(pruned < total, s"expected pruning: $pruned of $total files")
    assert(pruned > 0)
  }

  test("row lineage survives CoW and MoR DML rewrites") {
    def lineage(t: String): Map[Long, (Long, Long)] =
      spark.sql(s"SELECT id, _row_id, _last_updated_sequence_number FROM $t")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

    // copy-on-write UPDATE: the whole file is rewritten; untouched rows
    // must keep BOTH lineage values, the updated row keeps _row_id and
    // moves to the update commit's sequence (spec row lineage;
    // reference ExtractRowLineage + TestRowLevelOperationsWithLineage)
    spark.sql("CREATE TABLE graft.db.lin_cow (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.db.lin_cow VALUES (1,'a'),(2,'b'),(3,'c')")
    val cowBefore = lineage("graft.db.lin_cow")
    spark.sql("UPDATE graft.db.lin_cow SET v = 'B' WHERE id = 2")
    val cowAfter = lineage("graft.db.lin_cow")
    assert(cowAfter.view.mapValues(_._1).toMap ===
      cowBefore.view.mapValues(_._1).toMap, "CoW UPDATE must keep _row_id")
    assert(cowAfter(1)._2 === cowBefore(1)._2, "untouched row keeps its seq")
    assert(cowAfter(3)._2 === cowBefore(3)._2, "untouched row keeps its seq")
    assert(cowAfter(2)._2 > cowBefore(2)._2, "updated row moves to the new seq")

    // MERGE: matched update keeps _row_id; the inserted row gets a fresh
    // one past every pre-merge id
    spark.sql("""MERGE INTO graft.db.lin_cow t
      USING (SELECT 3 AS id, 'C' AS v UNION ALL SELECT 9, 'i') s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
    val cowMerged = lineage("graft.db.lin_cow")
    assert(cowMerged(3)._1 === cowBefore(3)._1, "MERGE UPDATE must keep _row_id")
    assert(cowMerged(9)._1 > cowBefore.values.map(_._1).max,
      "MERGE INSERT gets a fresh _row_id")

    // merge-on-read UPDATE: replacement row written to a new file must
    // carry the original _row_id as a materialized column
    spark.sql("""CREATE TABLE graft.db.lin_mor (id BIGINT, v STRING)
      TBLPROPERTIES ('write.update.mode'='merge-on-read')""")
    spark.sql("INSERT INTO graft.db.lin_mor VALUES (1,'a'),(2,'b'),(3,'c')")
    val morBefore = lineage("graft.db.lin_mor")
    spark.sql("UPDATE graft.db.lin_mor SET v = 'B' WHERE id = 2")
    val morAfter = lineage("graft.db.lin_mor")
    assert(morAfter.view.mapValues(_._1).toMap ===
      morBefore.view.mapValues(_._1).toMap, "MoR UPDATE must keep _row_id")
    assert(morAfter(2)._2 > morBefore(2)._2, "updated row moves to the new seq")
    assert(morAfter(1) === morBefore(1), "untouched rows keep full lineage")
  }

  test("failed RTAS leaves the original table current and readable") {
    spark.sql("CREATE TABLE graft.db.rtas_atom AS SELECT id, id * 2 AS dbl FROM range(10)")
    spark.udf.register("rtas_boom", (x: Long) =>
      if (x > 2) throw new RuntimeException("mid-RTAS failure") else x)
    intercept[Exception] {
      spark.sql("REPLACE TABLE graft.db.rtas_atom AS SELECT rtas_boom(id) AS id FROM range(10)")
    }
    // the replace never staged: old schema, old rows, table never dropped
    assert(spark.sql("SELECT sum(dbl) FROM graft.db.rtas_atom")
      .collect()(0).getLong(0) === 90L)
    // and a subsequent successful replace still works
    spark.sql("REPLACE TABLE graft.db.rtas_atom AS SELECT id, id * 5 AS five FROM range(4)")
    assert(spark.sql("SELECT sum(five) FROM graft.db.rtas_atom")
      .collect()(0).getLong(0) === 30L)
    // RTAS on a missing table is an error; CREATE OR REPLACE is not
    intercept[Exception] {
      spark.sql("REPLACE TABLE graft.db.rtas_missing AS SELECT 1 AS one")
    }
    spark.sql("CREATE OR REPLACE TABLE graft.db.rtas_missing AS SELECT 1 AS one")
    assert(spark.sql("SELECT one FROM graft.db.rtas_missing").collect()(0).getInt(0) === 1)
  }

  test("storage-partitioned join elides shuffles on partition keys") {
    spark.sql("CREATE TABLE graft.db.spj_a (id BIGINT, part STRING) PARTITIONED BY (part)")
    spark.sql("CREATE TABLE graft.db.spj_b (id BIGINT, part STRING) PARTITIONED BY (part)")
    spark.range(0, 100).selectExpr("id", "concat('p', id % 4) AS part")
      .writeTo("graft.db.spj_a").append()
    spark.range(0, 60).selectExpr("id", "concat('p', id % 4) AS part")
      .writeTo("graft.db.spj_b").append()
    // two-switch gate like the reference: Spark's bucketing conf enables
    // the planner machinery, the graft conf is the source's explicit
    // opt-in (grouping costs parallelism, so it is never the default)
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.graft.preserveDataGrouping" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql("""SELECT a.part, count(*) AS c FROM graft.db.spj_a a
        JOIN graft.db.spj_b b ON a.part = b.part GROUP BY a.part""")
      val plan = df.queryExecution.executedPlan.toString
      val joinIdx = plan.indexOf("SortMergeJoin")
      assert(joinIdx > 0, s"expected SMJ:\n$plan")
      // no shuffle below the join: partitioning came from storage
      assert(!plan.substring(joinIdx).contains("Exchange"),
        s"expected shuffle-free join:\n$plan")
      assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toMap
        === Map("p0" -> 375L, "p1" -> 375L, "p2" -> 375L, "p3" -> 375L))
    }
    // honoring Spark's convention: its conf OFF disables SPJ even with
    // the source opt-in on
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "false",
      "spark.sql.graft.preserveDataGrouping" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val plan = spark.sql("""SELECT a.part, count(*) AS c FROM graft.db.spj_a a
        JOIN graft.db.spj_b b ON a.part = b.part GROUP BY a.part""")
        .queryExecution.executedPlan.toString
      assert(plan.contains("Exchange"), s"expected shuffled join:\n$plan")
    }
  }

  test("scan_reports metadata table records the pruning funnel") {
    // li (days(ts)-partitioned, one file per day) was built above; a
    // one-day filter must plan fewer tasks than the table has files
    spark.sql(
      "SELECT * FROM graft.db.li WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'").collect()
    val r = spark.sql("""SELECT snapshot_id, total_manifests, scanned_manifests,
        total_data_files, result_tasks, planning_ms FROM graft.db.li.scan_reports""")
      .collect().head // newest first = the scan above
    assert(r.getLong(0) !== 0L)
    assert(r.getInt(4) < r.getLong(3), s"expected pruning: $r") // tasks < files
    assert(r.getInt(2) <= r.getInt(1))
    // the report also surfaces in the scan description (explain output)
    val desc = spark.sql(
      "SELECT * FROM graft.db.li WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'")
    desc.collect()
    assert(desc.queryExecution.executedPlan.toString.contains("manifests"))
  }

  test("filtered LIMIT plans only a file prefix when rows are guaranteed") {
    spark.sql("CREATE TABLE graft.db.limtest (id BIGINT, part STRING) PARTITIONED BY (part)")
    (0 until 6).foreach { i =>
      spark.range(i * 10, i * 10 + 10).toDF("id").selectExpr("id", "'a' AS part")
        .coalesce(1).writeTo("graft.db.limtest").append()
    }
    import org.apache.spark.sql.connector.{expressions => vexpr}
    val b = new GraftSparkTable.GraftScanBuilder(coreTable("limtest"), None, None, None)
    b.pushPredicates(Array(new vexpr.filter.Predicate("=",
      Array[vexpr.Expression](vexpr.Expressions.column("part"),
        vexpr.Expressions.literal(
          org.apache.spark.unsafe.types.UTF8String.fromString("a"))))))
    b.pushLimit(15)
    val scan = b.build().asInstanceOf[GraftSparkTable.GraftScan]
    // identity-partition pruning satisfies the filter (residual TrueE), so
    // each 10-row file guarantees its rows: 15-row limit => 2 of 6 files
    assert(scan.plannedFilePaths().size === 2, scan.plannedFilePaths())
    // end-to-end LIMIT still exact (Spark re-applies the limit)
    assert(spark.sql(
      "SELECT * FROM graft.db.limtest WHERE part = 'a' LIMIT 15").count() === 15L)
  }

  private def withConfs(confs: (String, String)*)(f: => Unit): Unit = {
    val olds = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("equality deletes mask rows by identifier values") {
    spark.sql("CREATE TABLE graft.db.eqd (id BIGINT, v STRING)")
    spark.range(0, 20, 1, 1).selectExpr("id", "concat('v', id) AS v")
      .writeTo("graft.db.eqd").append()
    val t = coreTable("eqd")
    val idField = t.schema.findField("id").get

    // write an equality-delete file (id in {3, 7}) with field-id metadata,
    // as a CDC writer would (reference EqualityDeleteWriter)
    val delDir = java.nio.file.Files.createTempDirectory("eqdel").toString
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val delSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType,
        nullable = false,
        new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("parquet.field.id", idField.id.toLong).build())))
    spark.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](
        org.apache.spark.sql.Row(3L), org.apache.spark.sql.Row(7L)), delSchema)
      .coalesce(1).write.mode("overwrite").parquet(delDir)
    val delFile = java.nio.file.Files.list(java.nio.file.Paths.get(delDir))
      .filter(_.toString.endsWith(".parquet")).findFirst().get().toString

    t.newRowDelta().addDeletes(graft.core.meta.DataFile(
      delFile, "parquet", t.spec.specId, Nil, 2L,
      java.nio.file.Files.size(java.nio.file.Paths.get(delFile)),
      content = graft.core.meta.FileContent.EqualityDeletes,
      equalityIds = Seq(idField.id))).commit()

    val ids = spark.sql("SELECT id FROM graft.db.eqd ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids === (0L until 20L).filterNot(Set(3L, 7L)))
    // pruned projection still applies the mask
    assert(spark.sql("SELECT count(v) FROM graft.db.eqd").collect()(0).getLong(0) === 18L)
  }

  test("DELETE on identifier-keyed MoR table writes equality deletes") {
    spark.sql("""CREATE TABLE graft.db.eqdel (id BIGINT, cat STRING, v STRING)
      PARTITIONED BY (cat)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read',
                     'write.delete.equality-enabled'='true')""")
    spark.sql("CALL graft.system.set_identifier_fields('db.eqdel', 'id')")
    spark.range(0, 100, 1, 1)
      .selectExpr("id", "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS cat",
        "concat('v', id) AS v")
      .writeTo("graft.db.eqdel").append()

    spark.sql("DELETE FROM graft.db.eqdel WHERE id % 10 = 3") // 10 rows, all cat='b'
    assert(spark.sql("SELECT count(*) FROM graft.db.eqdel")
      .collect()(0).getLong(0) === 90L)
    assert(spark.sql("SELECT count(*) FROM graft.db.eqdel WHERE id % 10 = 3")
      .collect()(0).getLong(0) === 0L)
    // data files survive; the delta is equality-delete content (2), one
    // file carrying the 10 deleted keys, scoped to the 'b' partition
    val files = spark.sql(
      "SELECT content, record_count, partition FROM graft.db.eqdel.files").collect()
    assert(files.exists(_.getInt(0) === 0))
    assert(!files.exists(_.getInt(0) === 1)) // no position deletes
    val eqs = files.filter(_.getInt(0) === 2)
    assert(eqs.nonEmpty && eqs.map(_.getLong(1)).sum === 10L)
    assert(eqs.forall(_.get(2).toString.contains("b")))

    // equality deletes apply only to LOWER sequence numbers: re-inserting
    // a deleted key is visible
    spark.sql("INSERT INTO graft.db.eqdel VALUES (3, 'b', 'back')")
    assert(spark.sql("SELECT v FROM graft.db.eqdel WHERE id = 3")
      .collect().map(_.getString(0)).toSeq === Seq("back"))
    assert(spark.sql("SELECT count(*) FROM graft.db.eqdel")
      .collect()(0).getLong(0) === 91L)
  }

  test("UPDATE on identifier-keyed MoR table writes equality deletes + rows") {
    spark.sql("""CREATE TABLE graft.db.equpd (id BIGINT, cat STRING, v STRING)
      PARTITIONED BY (cat)
      TBLPROPERTIES ('write.update.mode'='merge-on-read',
                     'write.update.equality-enabled'='true')""")
    spark.sql("CALL graft.system.set_identifier_fields('db.equpd', 'id')")
    spark.range(0, 100, 1, 1)
      .selectExpr("id", "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS cat",
        "concat('v', id) AS v")
      .writeTo("graft.db.equpd").append()

    spark.sql("UPDATE graft.db.equpd SET v = concat(v, '!') WHERE id % 10 = 3")
    // count unchanged, touched rows carry the new value, untouched don't
    assert(spark.sql("SELECT count(*) FROM graft.db.equpd")
      .collect()(0).getLong(0) === 100L)
    assert(spark.sql("SELECT v FROM graft.db.equpd WHERE id = 13")
      .collect().map(_.getString(0)).toSeq === Seq("v13!"))
    assert(spark.sql("SELECT v FROM graft.db.equpd WHERE id = 14")
      .collect().map(_.getString(0)).toSeq === Seq("v14"))
    // the delta is equality-delete content for the OLD keys + new data
    // rows — never position deletes, never a file-group rewrite: the
    // original data files all survive
    val files = spark.sql(
      "SELECT content, record_count FROM graft.db.equpd.files").collect()
    assert(!files.exists(_.getInt(0) === 1)) // no position deletes
    val eqs = files.filter(_.getInt(0) === 2)
    assert(eqs.nonEmpty && eqs.map(_.getLong(1)).sum === 10L)
    // 10 replacement rows rode along as data
    assert(files.filter(_.getInt(0) === 0).map(_.getLong(1)).sum === 110L)
    // updating an identifier column itself also works (delete + reinsert)
    spark.sql("UPDATE graft.db.equpd SET id = 1000 WHERE id = 3")
    assert(spark.sql("SELECT count(*) FROM graft.db.equpd WHERE id = 3")
      .collect()(0).getLong(0) === 0L)
    assert(spark.sql("SELECT v FROM graft.db.equpd WHERE id = 1000")
      .collect().map(_.getString(0)).toSeq === Seq("v3!"))
  }

  test("MERGE upsert on identifier-keyed MoR table via equality deletes") {
    spark.sql("""CREATE TABLE graft.db.eqmrg (id BIGINT, v STRING)
      TBLPROPERTIES ('write.merge.mode'='merge-on-read',
                     'write.merge.equality-enabled'='true')""")
    spark.sql("CALL graft.system.set_identifier_fields('db.eqmrg', 'id')")
    spark.sql("INSERT INTO graft.db.eqmrg VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.range(2, 5).selectExpr("id", "concat('new', id) AS v")
      .createOrReplaceTempView("eqmrg_src")
    spark.sql("""MERGE INTO graft.db.eqmrg t USING eqmrg_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
    assert(spark.sql("SELECT id, v FROM graft.db.eqmrg ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a"), (2L, "new2"), (3L, "new3"), (4L, "new4")))
    // delta shape: equality deletes for the 2 matched keys, no position
    // deletes, no rewrite of the original file
    val files = spark.sql(
      "SELECT content, record_count FROM graft.db.eqmrg.files").collect()
    assert(!files.exists(_.getInt(0) === 1))
    assert(files.filter(_.getInt(0) === 2).map(_.getLong(1)).sum === 2L)
  }

  test("add_files imports external parquet without rewriting") {
    val ext = java.nio.file.Files.createTempDirectory("ext-parquet").toString
    spark.range(0, 50).selectExpr("id", "concat('x', id) AS v")
      .coalesce(1).write.parquet(s"$ext/batch1")
    spark.sql("CREATE TABLE graft.db.imported (id BIGINT, v STRING)")
    val res = spark.sql(s"CALL graft.system.add_files('db.imported', '$ext/batch1')").collect()(0)
    assert(res.getInt(0) === 1 && res.getLong(1) === 50L)
    assert(spark.sql("SELECT count(*), min(id), max(id) FROM graft.db.imported")
      .collect()(0).toSeq === Seq(50L, 0L, 49L))

    // imported files carry no field ids and resolve by NAME: a rename
    // must keep reading them under their import-time names (per-write-
    // schema translation, like ORC) — previously this read all-null
    spark.sql("ALTER TABLE graft.db.imported RENAME COLUMN v TO label")
    val renamed = spark.sql(
      "SELECT label FROM graft.db.imported WHERE id = 7").collect()
    assert(renamed.map(_.getString(0)).toSeq === Seq("x7"),
      s"imported column lost after rename: ${renamed.mkString(",")}")
    // and a filter on the renamed column still prunes correctly
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.imported WHERE label = 'x11'")
      .collect()(0).getLong(0) === 1L)
  }

  test("catalog-stored SQL views: create, read, replace, drop") {
    spark.sql("CREATE TABLE graft.db.vt (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.db.vt VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("CALL graft.system.create_view('db.v_big', 'SELECT id, v FROM graft.db.vt WHERE id >= 2')")
    assert(spark.sql("SELECT * FROM graft.db.v_big ORDER BY id").count() === 2)
    // view sees post-creation table changes (SQL views, not snapshots)
    spark.sql("INSERT INTO graft.db.vt VALUES (4, 'd')")
    assert(spark.sql("SELECT * FROM graft.db.v_big").count() === 3)
    spark.sql("CALL graft.system.create_view('db.v_big', 'SELECT id FROM graft.db.vt WHERE id >= 4', true)")
    assert(spark.sql("SELECT * FROM graft.db.v_big").count() === 1)
    // view-spec versioning: the replace appended an immutable version and
    // moved current-version-id; the version log records both states
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("db"), "v_big")
    val stored = GraftViewStore.load(warehouse, ident).get
    assert(stored.versions.map(_.versionId) === Seq(1, 2))
    assert(stored.currentVersionId === 2)
    assert(stored.versions.head.sql.contains("id >= 2"))
    assert(stored.current.sql.contains("id >= 4"))
    assert(stored.versions.head.summary.get("operation").contains("create"))
    assert(stored.current.summary.get("operation").contains("replace"))
    assert(stored.versionLog.map(_._2) === Seq(1, 2))
    assert(stored.versions.forall(_.timestampMs >= 0))
    spark.sql("CALL graft.system.drop_view('db.v_big')")
    intercept[Exception](spark.sql("SELECT * FROM graft.db.v_big").collect())
  }

  test("view documents are spec-shaped and load without graft extras") {
    spark.sql("CREATE TABLE graft.db.vspec_t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.db.vspec_t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("CALL graft.system.create_view('db.vspec', " +
      "'SELECT id, v FROM graft.db.vspec_t WHERE id <= 2')")
    val docPath = s"$warehouse/db/_views/vspec.json"
    val doc = graft.core.meta.GraftIO.readString(docPath)
    val n = graft.core.meta.MetaJson.mapper.readTree(doc)
    // every view-spec required field is present in the spec's shape
    assert(n.get("view-uuid").asText().length === 36)
    assert(n.get("format-version").asInt() === 1)
    assert(n.get("location").asText().endsWith("_views/vspec"))
    assert(n.get("schemas").isArray && n.get("schemas").size() === 1)
    val sch = n.get("schemas").get(0)
    assert(sch.get("type").asText() === "struct")
    assert(sch.get("fields").get(0).get("type").asText() === "long")
    assert(n.get("current-version-id").asInt() === 1)
    val ver = n.get("versions").get(0)
    assert(ver.get("schema-id").asInt() === 0)
    assert(ver.get("summary").isObject)
    assert(ver.get("default-namespace").isArray)
    val rep = ver.get("representations").get(0)
    assert(rep.get("type").asText() === "sql")
    assert(rep.get("dialect").asText() === "spark-sql")
    assert(rep.get("sql").asText().contains("id <= 2"))
    assert(n.get("version-log").get(0).get("version-id").asInt() === 1)
    // simulate a doc written by an external spec-conformant engine:
    // strip every graft extra and reload through the full SQL path
    val o = n.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    o.remove("name")
    o.get("versions").elements().forEachRemaining { vn =>
      val vo = vn.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      vo.remove("schema"); vo.remove("query-column-names")
      vo.remove("column-aliases"); vo.remove("column-comments")
    }
    graft.core.meta.GraftIO.writeString(docPath,
      graft.core.meta.MetaJson.mapper.writeValueAsString(o))
    val rows = spark.sql("SELECT id, v FROM graft.db.vspec ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows === Seq((1L, "a"), (2L, "b")))
    // the reconstructed schema came from the Iceberg-typed schemas list
    val stored = GraftViewStore.load(warehouse,
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("db"), "vspec")).get
    assert(stored.viewName === "vspec") // falls back to the identifier
    assert(stored.schema().fieldNames.toSeq === Seq("id", "v"))
    spark.sql("CALL graft.system.drop_view('db.vspec')")
  }

  test("snapshot_table imports an external directory as a new table") {
    val ext = java.nio.file.Files.createTempDirectory("snap-src").toString + "/t"
    spark.range(0, 30).selectExpr("id", "id * 10 AS x").coalesce(1).write.parquet(ext)
    spark.sql(s"CALL graft.system.snapshot_table('$ext', 'db.snapped')")
    assert(spark.sql("SELECT count(*), sum(x) FROM graft.db.snapped")
      .collect()(0).toSeq === Seq(30L, 4350L))
  }

  test("concurrent appends: optimistic CAS commits all succeed") {
    spark.sql("CREATE TABLE graft.db.conc (id BIGINT)")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val t = coreTable("conc")
    // 8 threads race metadata-only appends through the retry loop
    val futures = (0 until 8).map { i =>
      Future {
        t.newAppend().appendFile(graft.core.meta.DataFile(
          s"${t.location}/data/fake-$i.parquet", "parquet",
          t.spec.specId, Nil, 1L, 1L)).commit()
      }
    }
    Await.result(Future.sequence(futures), 60.seconds)
    assert(coreTable("conc").meta.snapshots.size === 8)
    // linear history: every snapshot's parent is the previous one
    val ordered = coreTable("conc").meta.snapshots.sortBy(_.sequenceNumber)
    ordered.sliding(2).foreach {
      case Seq(a, b) => assert(b.parentId.contains(a.snapshotId))
      case _         => ()
    }
  }

  test("branch writes: append to a branch, read via VERSION AS OF") {
    spark.sql("CREATE TABLE graft.db.brw (id BIGINT)")
    spark.sql("INSERT INTO graft.db.brw VALUES (1)")
    spark.sql("CALL graft.system.create_branch('db.brw', 'audit')")
    spark.range(100, 103).toDF("id")
      .writeTo("graft.db.brw").option("branch", "audit").append()
    // main unchanged; branch has both
    assert(spark.sql("SELECT count(*) FROM graft.db.brw").collect()(0).getLong(0) === 1L)
    assert(spark.sql("SELECT count(*) FROM graft.db.brw VERSION AS OF 'audit'")
      .collect()(0).getLong(0) === 4L)
    // write-audit-publish: fast-forward main to the audited branch
    spark.sql("CALL graft.system.fast_forward('db.brw', 'main', 'audit')")
    assert(spark.sql("SELECT count(*) FROM graft.db.brw").collect()(0).getLong(0) === 4L)
  }

  test("rewrite_data_files zorder clusters by z-value") {
    spark.sql("CREATE TABLE graft.db.zord (x BIGINT, y BIGINT)")
    spark.range(0, 1000).selectExpr("id % 32 AS x", "CAST(id / 32 AS BIGINT) AS y")
      .writeTo("graft.db.zord").append()
    val res = spark.sql(
      "CALL graft.system.rewrite_data_files('db.zord', 'zorder', 'x, y', 4096)").collect()(0)
    assert(res.getInt(1) >= 1)
    assert(spark.sql("SELECT count(*), sum(x), sum(y) FROM graft.db.zord")
      .collect()(0).toSeq === Seq(1000L, 15404L, 15128L))
  }

  test("bucket hidden partitioning prunes on raw-column equality") {
    spark.sql("""CREATE TABLE graft.db.bkt (id BIGINT, v STRING)
      PARTITIONED BY (bucket(8, id))""")
    spark.range(0, 800).selectExpr("id", "concat('v', id) AS v")
      .writeTo("graft.db.bkt").append()
    val t = coreTable("bkt")
    val all = t.newScan().planFiles().size
    assert(all >= 8) // one+ file per bucket
    // equality on the SOURCE column projects through the bucket transform
    val pruned = t.newScan().filter(Expr.equalTo("id", 42L)).planFiles()
    assert(pruned.size * 8 <= all, s"expected ~1/8 of $all files, got ${pruned.size}")
    assert(spark.sql("SELECT v FROM graft.db.bkt WHERE id = 42").collect()(0).getString(0) === "v42")
  }

  test("event-time windows over the streaming source") {
    spark.sql("CREATE TABLE graft.db.evt (ts TIMESTAMP, v BIGINT)")
    spark.sql("""INSERT INTO graft.db.evt VALUES
      (TIMESTAMP '2024-01-01 00:01:00', 1), (TIMESTAMP '2024-01-01 00:02:00', 2),
      (TIMESTAMP '2024-01-01 00:11:00', 10), (TIMESTAMP '2024-01-01 00:12:00', 20)""")
    val checkpoint = Files.createTempDirectory("graft-win-ckpt").toString
    // Spark's watermark + windowed agg run downstream of our micro-batch
    // source (reference delegates these to the engine)
    val q = spark.readStream.table("graft.db.evt")
      .withWatermark("ts", "1 minute")
      .groupBy(org.apache.spark.sql.functions.window(
        org.apache.spark.sql.functions.col("ts"), "10 minutes"))
      .agg(org.apache.spark.sql.functions.sum("v").as("s"))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("complete")
      .format("memory").queryName("win_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val sums = spark.sql("SELECT s FROM win_out ORDER BY window.start")
      .collect().map(_.getLong(0)).toSeq
    assert(sums === Seq(3L, 30L))
  }

  test("partition spec evolution: add field, old files keep old spec") {
    spark.sql("CREATE TABLE graft.db.spev (id BIGINT, cat STRING)")
    spark.sql("INSERT INTO graft.db.spev VALUES (1, 'a'), (2, 'b')")
    spark.sql("CALL graft.system.add_partition_field('db.spev', 'identity', 'cat')")
    spark.sql("INSERT INTO graft.db.spev VALUES (3, 'a'), (4, 'b')")
    // both generations readable
    assert(spark.sql("SELECT count(*) FROM graft.db.spev").collect()(0).getLong(0) === 4L)
    // new files land partitioned; filter prunes only the new spec's files
    val t = coreTable("spev")
    assert(t.meta.specs.size === 2)
    val pruned = t.newScan().filter(Expr.equalTo("cat", "a")).planFiles()
    val all = t.newScan().planFiles()
    assert(pruned.size < all.size)
    assert(spark.sql("SELECT id FROM graft.db.spev WHERE cat = 'a' ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 3L))
    // metadata: new_partitions table shows the evolved spec ids
    spark.sql("CALL graft.system.drop_partition_field('db.spev', 'cat')")
    spark.sql("INSERT INTO graft.db.spev VALUES (5, 'c')")
    assert(spark.sql("SELECT count(*) FROM graft.db.spev").collect()(0).getLong(0) === 5L)
  }

  test("position_deletes and all_files metadata tables") {
    spark.sql("""CREATE TABLE graft.db.pdmt (id BIGINT)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.range(0, 10, 1, 1).writeTo("graft.db.pdmt").append()
    spark.sql("DELETE FROM graft.db.pdmt WHERE id IN (2, 5)")
    val pd = spark.sql("SELECT pos FROM graft.db.pdmt.position_deletes ORDER BY pos")
      .collect().map(_.getLong(0)).toSeq
    assert(pd === Seq(2L, 5L))
    assert(spark.sql("SELECT count(*) FROM graft.db.pdmt.all_files").collect()(0).getLong(0) >= 2L)
    assert(spark.sql("SELECT count(*) FROM graft.db.pdmt.all_manifests").collect()(0).getLong(0) >= 2L)
  }

  test("ORC import: add_files reads ORC alongside parquet") {
    val ext = java.nio.file.Files.createTempDirectory("orc-src").toString + "/t"
    spark.range(0, 40).selectExpr("id", "concat('o', id) AS v")
      .coalesce(1).write.orc(ext)
    spark.sql("CREATE TABLE graft.db.orcimp (id BIGINT, v STRING)")
    spark.sql(s"CALL graft.system.add_files('db.orcimp', '$ext')")
    assert(spark.sql("SELECT count(*), min(id), max(id) FROM graft.db.orcimp")
      .collect()(0).toSeq === Seq(40L, 0L, 39L))
    assert(spark.sql("SELECT v FROM graft.db.orcimp WHERE id = 7").collect()(0).getString(0) === "o7")
    // row-level delete over an ORC file (merge-on-read style masking works
    // through the CoW rewrite: ORC in, parquet out)
    spark.sql("DELETE FROM graft.db.orcimp WHERE id % 10 = 1")
    assert(spark.sql("SELECT count(*) FROM graft.db.orcimp").collect()(0).getLong(0) === 36L)
  }

  test("write-audit-publish via spark.wap.branch") {
    spark.sql("CREATE TABLE graft.db.wap (id BIGINT)")
    spark.sql("INSERT INTO graft.db.wap VALUES (1)")
    spark.sql("CALL graft.system.create_branch('db.wap', 'staging')")
    spark.conf.set("spark.wap.branch", "staging")
    try spark.sql("INSERT INTO graft.db.wap VALUES (2), (3)")
    finally spark.conf.unset("spark.wap.branch")
    // main untouched until published
    assert(spark.sql("SELECT count(*) FROM graft.db.wap").collect()(0).getLong(0) === 1L)
    assert(spark.sql("SELECT count(*) FROM graft.db.wap VERSION AS OF 'staging'")
      .collect()(0).getLong(0) === 3L)
    spark.sql("CALL graft.system.fast_forward('db.wap', 'main', 'staging')")
    assert(spark.sql("SELECT count(*) FROM graft.db.wap").collect()(0).getLong(0) === 3L)
  }

  test("write.sort-order clusters rows for tighter file stats") {
    spark.sql("""CREATE TABLE graft.db.sorted (id BIGINT, v STRING)
      TBLPROPERTIES ('write.sort-order' = 'id ASC')""")
    // shuffled input; the required ordering sorts it before writing
    spark.range(0, 1000, 1, 4).selectExpr("CAST(hash(id) AS BIGINT) % 1000 AS id", "'x' AS v")
      .writeTo("graft.db.sorted").append()
    val t = coreTable("sorted")
    val idField = t.schema.findField("id").get
    val files = t.newScan().planFiles()
    // per-file min/max ranges exist and a point lookup prunes to few files
    assert(files.forall(_.file.columnStats.get(idField.id).exists(_.lower.isDefined)))
    val pruned = t.newScan().filter(Expr.equalTo("id", 500L)).planFiles()
    assert(pruned.size <= files.size)
    assert(spark.sql("SELECT count(*) FROM graft.db.sorted").collect()(0).getLong(0) === 1000L)
  }

  test("compaction over merge-on-read tables applies pending deletes") {
    spark.sql("""CREATE TABLE graft.db.morc (id BIGINT, v STRING)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.range(0, 100, 1, 1).selectExpr("id", "concat('v', id) AS v")
      .writeTo("graft.db.morc").append()
    spark.range(100, 200, 1, 1).selectExpr("id", "concat('v', id) AS v")
      .writeTo("graft.db.morc").append()
    spark.sql("DELETE FROM graft.db.morc WHERE id % 10 = 7")
    // pending position deletes exist
    assert(spark.sql("SELECT count(*) FROM graft.db.morc.files WHERE content = 1")
      .collect()(0).getLong(0) >= 1L)
    spark.sql("CALL graft.system.rewrite_data_files('db.morc')")
    // deletes were applied and dropped in the same commit
    assert(spark.sql("SELECT count(*) FROM graft.db.morc.files WHERE content = 1")
      .collect()(0).getLong(0) === 0L)
    assert(spark.sql("SELECT count(*) FROM graft.db.morc").collect()(0).getLong(0) === 180L)
    assert(spark.sql("SELECT count(*) FROM graft.db.morc WHERE id % 10 = 7")
      .collect()(0).getLong(0) === 0L)
  }

  test("merge-on-read row-level ops on a PARTITIONED table") {
    spark.sql("""CREATE TABLE graft.db.morp (
      id BIGINT, cat STRING, v STRING) PARTITIONED BY (cat)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read',
        'write.update.mode'='merge-on-read',
        'write.merge.mode'='merge-on-read')""")
    spark.range(0, 100, 1, 2)
      .selectExpr("id", "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS cat",
        "concat('v', id) AS v")
      .writeTo("graft.db.morp").append()

    // DELETE: previously crashed at commit (partition summary on an empty
    // delete-file tuple under the partitioned spec)
    spark.sql("DELETE FROM graft.db.morp WHERE id < 10")
    assert(spark.sql("SELECT count(*) FROM graft.db.morp").collect()(0).getLong(0) === 90L)
    // the position-delete files fanned out per partition tuple
    val delFiles = coreTable("morp").newScan().planFiles()
      .flatMap(_.deletes).distinctBy(_.path)
    assert(delFiles.nonEmpty)
    assert(delFiles.forall(_.partition.nonEmpty),
      s"expected partition-scoped deletes, got ${delFiles.map(_.partition)}")

    spark.sql("UPDATE graft.db.morp SET v = 'upd' WHERE id = 42")
    assert(spark.sql("SELECT v FROM graft.db.morp WHERE id = 42")
      .collect()(0).getString(0) === "upd")

    spark.sql("""MERGE INTO graft.db.morp t
      USING (SELECT 43 AS id, 'merged' AS v UNION ALL SELECT 999, 'new') s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET t.v = s.v
      WHEN NOT MATCHED THEN INSERT (id, cat, v) VALUES (s.id, 'c', s.v)""")
    assert(spark.sql("SELECT v FROM graft.db.morp WHERE id = 43")
      .collect()(0).getString(0) === "merged")
    assert(spark.sql("SELECT v FROM graft.db.morp WHERE id = 999")
      .collect()(0).getString(0) === "new")
    assert(spark.sql("SELECT count(*) FROM graft.db.morp").collect()(0).getLong(0) === 91L)
    // partition pruning still selects the right rows under deletes
    assert(spark.sql("SELECT count(*) FROM graft.db.morp WHERE cat = 'a'")
      .collect()(0).getLong(0) === 45L)
  }

  test("spark.wap.branch isolates overwrite, CoW and MoR deletes; reads follow") {
    spark.sql("CREATE TABLE graft.db.wap2 (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.db.wap2 VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("""CREATE TABLE graft.db.wap3 (id BIGINT, v STRING)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.sql("INSERT INTO graft.db.wap3 VALUES (1, 'a'), (2, 'b'), (3, 'c')")

    spark.conf.set("spark.wap.branch", "audit")
    try {
      // CoW / metadata delete stages on the branch
      spark.sql("DELETE FROM graft.db.wap2 WHERE id = 1")
      // staged reads see it; main does not
      assert(spark.sql("SELECT count(*) FROM graft.db.wap2").collect()(0).getLong(0) === 2L)
      // MoR delta stages on the branch
      spark.sql("DELETE FROM graft.db.wap3 WHERE id = 1")
      assert(spark.sql("SELECT count(*) FROM graft.db.wap3").collect()(0).getLong(0) === 2L)
      // overwrite stages on the branch
      spark.sql("INSERT OVERWRITE graft.db.wap2 VALUES (10, 'x')")
      assert(spark.sql("SELECT count(*) FROM graft.db.wap2").collect()(0).getLong(0) === 1L)
    } finally spark.conf.unset("spark.wap.branch")

    // main is untouched by ALL staged operations
    assert(spark.sql("SELECT count(*) FROM graft.db.wap2").collect()(0).getLong(0) === 3L)
    assert(spark.sql("SELECT count(*) FROM graft.db.wap3").collect()(0).getLong(0) === 3L)
    // publish and verify
    spark.sql("CALL graft.system.fast_forward('db.wap2', 'main', 'audit')")
    spark.sql("CALL graft.system.fast_forward('db.wap3', 'main', 'audit')")
    assert(spark.sql("SELECT id FROM graft.db.wap2").collect()(0).getLong(0) === 10L)
    assert(spark.sql("SELECT count(*) FROM graft.db.wap3").collect()(0).getLong(0) === 2L)
  }

  test("rewrite_data_files aborts on a concurrent row-level delete") {
    spark.sql("""CREATE TABLE graft.db.rwc (id BIGINT, v STRING)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    (1 to 3).foreach(i => spark.sql(s"INSERT INTO graft.db.rwc VALUES ($i, 'v$i')"))
    val t = coreTable("rwc")
    // simulate the compaction's scan→commit window: plan, then a MoR
    // DELETE lands, then the compaction tries to commit its replace
    val scan = t.newScan()
    val snapId = scan.snapshot().get.snapshotId
    val tasks = scan.planFiles()
    spark.sql("DELETE FROM graft.db.rwc WHERE id = 2") // RowDelta mid-window
    val ow = t.newOverwrite().deleteFiles(tasks.map(_.file.path))
      .validateFromSnapshot(snapId)
    intercept[graft.core.meta.CommitConflictException] { ow.commit() }
    // and the procedure run AFTER the delete still compacts correctly
    spark.sql("CALL graft.system.rewrite_data_files('db.rwc')")
    assert(spark.sql("SELECT count(*) FROM graft.db.rwc").collect()(0).getLong(0) === 2L)
  }

  test("branch snapshots don't leak into incremental or changelog reads") {
    spark.sql("CREATE TABLE graft.db.inc2 (id BIGINT)")
    spark.sql("INSERT INTO graft.db.inc2 VALUES (1)")
    val s1 = coreTable("inc2").meta.currentSnapshot.get.snapshotId
    // stage rows on a WAP branch — NOT published
    spark.conf.set("spark.wap.branch", "staging")
    try spark.sql("INSERT INTO graft.db.inc2 VALUES (2), (3)")
    finally spark.conf.unset("spark.wap.branch")
    spark.sql("INSERT INTO graft.db.inc2 VALUES (4)")

    // incremental append read from s1: only the main-branch append (4)
    val inc = spark.read.option("start-snapshot-id", s1)
      .table("graft.db.inc2").collect().map(_.getLong(0)).toSeq.sorted
    assert(inc === Seq(4L), s"incremental read leaked branch rows: $inc")

    // changelog: INSERTs on main only (1 and 4)
    val changes = spark.read.table("graft.db.inc2.changes")
      .where("_change_type = 'INSERT'")
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(changes === Seq(1L, 4L), s"changelog leaked branch rows: $changes")
  }

  test("rewrite_position_deletes compacts delete files and drops dead positions") {
    spark.sql("""CREATE TABLE graft.db.rpd (id BIGINT, v STRING)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.range(0, 50, 1, 1).selectExpr("id", "concat('v', id) AS v")
      .writeTo("graft.db.rpd").append()
    spark.range(50, 100, 1, 1).selectExpr("id", "concat('v', id) AS v")
      .writeTo("graft.db.rpd").append()
    // two separate MoR deletes → at least 2 position-delete files
    spark.sql("DELETE FROM graft.db.rpd WHERE id IN (1, 51)")
    spark.sql("DELETE FROM graft.db.rpd WHERE id IN (2, 52)")
    val delsBefore = spark.sql(
      "SELECT count(*) FROM graft.db.rpd.delete_files").collect()(0).getLong(0)
    assert(delsBefore >= 2L)
    val res = spark.sql("CALL graft.system.rewrite_position_deletes('db.rpd')")
      .collect()(0)
    assert(res.getInt(0) >= 2) // rewritten
    val delsAfter = spark.sql(
      "SELECT count(*) FROM graft.db.rpd.delete_files").collect()(0).getLong(0)
    assert(delsAfter < delsBefore)
    // masking still correct after the rewrite
    assert(spark.sql("SELECT count(*) FROM graft.db.rpd").collect()(0).getLong(0) === 96L)
    assert(spark.sql("SELECT count(*) FROM graft.db.rpd WHERE id IN (1, 2, 51, 52)")
      .collect()(0).getLong(0) === 0L)
    // data_files/delete_files metadata table split
    assert(spark.sql("SELECT count(*) FROM graft.db.rpd.data_files")
      .collect()(0).getLong(0) === 2L)
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.rpd.all_delete_files").collect()(0).getLong(0) >= 1L)
  }

  test("rewrite_position_deletes partial progress: earlier batches survive a failure") {
    spark.sql("""CREATE TABLE graft.db.rpdp (id BIGINT, p BIGINT)
      PARTITIONED BY (p)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    (0 until 2).foreach { _ =>
      spark.range(0, 40).selectExpr("id", "id % 4 AS p")
        .writeTo("graft.db.rpdp").append()
    }
    // two MoR deletes → ≥2 position-delete files in EVERY partition →
    // 4 rewritable groups
    spark.sql("DELETE FROM graft.db.rpdp WHERE id % 5 = 0")
    spark.sql("DELETE FROM graft.db.rpdp WHERE id % 7 = 2")
    // ids removed: 8 (%5) + 6 (%7=2) - 1 (id 30 in both) = 13 → 27 ids × 2
    val expected = 54L
    def rows() = spark.sql("SELECT count(*) FROM graft.db.rpdp")
      .collect()(0).getLong(0)
    def snaps() = spark.sql("SELECT count(*) FROM graft.db.rpdp.snapshots")
      .collect()(0).getLong(0)
    assert(rows() === expected)
    val delsBefore = spark.sql(
      "SELECT count(*) FROM graft.db.rpdp.delete_files").collect()(0).getLong(0)
    assert(delsBefore >= 8L) // 4 partitions × 2 delete files
    // inject a failure into batch 2 of 2: batch 1's commit must survive,
    // batch 2 forfeits its groups, and the table keeps masking correctly
    val before = snaps()
    System.setProperty("graft.test.rpd.failBatch", "2")
    val res1 = try spark.sql(
      "CALL graft.system.rewrite_position_deletes('db.rpdp', true, 2)")
      .collect()(0)
    finally System.clearProperty("graft.test.rpd.failBatch")
    assert(snaps() - before === 1L, "exactly the surviving batch committed")
    assert(res1.getInt(0) > 0 && res1.getInt(0) < delsBefore.toInt,
      s"partial result must reflect only committed batches: $res1")
    assert(rows() === expected, "masking intact after the partial run")
    val delsMid = spark.sql(
      "SELECT count(*) FROM graft.db.rpdp.delete_files").collect()(0).getLong(0)
    assert(delsMid < delsBefore, "batch 1's consolidation is visible")
    // re-run without the failpoint: the forfeited groups get rewritten
    spark.sql("CALL graft.system.rewrite_position_deletes('db.rpdp', true, 2)")
    val delsAfter = spark.sql(
      "SELECT count(*) FROM graft.db.rpdp.delete_files").collect()(0).getLong(0)
    assert(delsAfter === 4L, s"one merged delete file per partition: $delsAfter")
    assert(rows() === expected)
  }

  test("join on non-partition key with partition column pruned away (DPP refs)") {
    // regression: filterAttributes used to report partition source columns
    // unconditionally; when the projection dropped them, Spark's dynamic
    // partition pruning failed the whole query resolving the refs
    spark.sql("""CREATE TABLE graft.db.dppk (
      id BIGINT, grp BIGINT, ts TIMESTAMP) PARTITIONED BY (days(ts))""")
    spark.sql("""INSERT INTO graft.db.dppk VALUES
      (1, 10, TIMESTAMP '2024-01-01 00:00:00'),
      (2, 20, TIMESTAMP '2024-01-02 00:00:00'),
      (3, 10, TIMESTAMP '2024-01-03 00:00:00')""")
    spark.sql("CREATE TABLE graft.db.dppd (grp BIGINT, name STRING)")
    spark.sql("INSERT INTO graft.db.dppd VALUES (10, 'a'), (20, 'b')")
    val rows = spark.sql("""
      SELECT d.name, COUNT(*) AS n
      FROM graft.db.dppk k JOIN graft.db.dppd d ON k.grp = d.grp
      GROUP BY d.name ORDER BY d.name""").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("a", 2L), ("b", 1L)))
  }

  test("isolation: serializable flags matching concurrent appends, snapshot allows") {
    spark.sql("CREATE TABLE graft.db.iso (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.db.iso VALUES (1, 'a'), (2, 'b')")
    val t = coreTable("iso")
    // simulate a CoW DELETE's scan→commit window with a concurrent append
    val scan = t.newScan()
    val snapId = scan.snapshot().get.snapshotId
    val tasks = scan.planFiles()
    spark.sql("INSERT INTO graft.db.iso VALUES (1, 'dup')") // lands mid-window
    // serializable: the appended row might match id=1 → abort
    val ser = t.newOverwrite().deleteFiles(tasks.map(_.file.path))
      .validateFromSnapshot(snapId)
      .failOnNewMatchingData(graft.core.expr.Expr.equalTo("id", 1L))
    intercept[graft.core.meta.CommitConflictException] { ser.commit() }
    // filter provably not matching the appended stats → commits (and a
    // missing filter = snapshot isolation, same path)
    t.newOverwrite().deleteFiles(tasks.map(_.file.path))
      .validateFromSnapshot(snapId)
      .failOnNewMatchingData(graft.core.expr.Expr.equalTo("id", 999L))
      .commit()
    assert(spark.sql("SELECT v FROM graft.db.iso").collect().map(_.getString(0)).toSeq
      === Seq("dup"))
  }

  test("identifier fields feed changelog update pairing by default") {
    spark.sql("""CREATE TABLE graft.db.idf (id BIGINT, v STRING)
      TBLPROPERTIES ('write.update.mode'='merge-on-read')""")
    spark.sql("INSERT INTO graft.db.idf VALUES (1, 'a'), (2, 'b')")
    spark.sql("CALL graft.system.set_identifier_fields('db.idf', 'id')")
    assert(coreTable("idf").schema.identifierFieldIds.nonEmpty)
    spark.sql("UPDATE graft.db.idf SET v = 'a2' WHERE id = 1")
    // no identifier_columns arg: pairing key comes from the schema
    spark.sql("CALL graft.system.create_changelog_view('db.idf', '', '')")
    val types = spark.sql(
      "SELECT _change_type FROM idf_changes WHERE id = 1 ORDER BY _change_type")
      .collect().map(_.getString(0)).toSeq
    assert(types.contains("UPDATE_BEFORE") && types.contains("UPDATE_AFTER"),
      s"expected paired update, got $types")
  }

  test("deletion vectors: MoR deletes as roaring bitmaps (write.delete.format=dv)") {
    spark.sql("""CREATE TABLE graft.db.dvt (id BIGINT, cat STRING, v STRING)
      PARTITIONED BY (cat)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read',
                     'write.update.mode'='merge-on-read',
                     'write.delete.format'='dv')""")
    spark.range(0, 100, 1, 2)
      .selectExpr("id", "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS cat",
        "concat('v', id) AS v")
      .writeTo("graft.db.dvt").append()
    spark.sql("DELETE FROM graft.db.dvt WHERE id < 20")
    // delete files are DVs: one roaring bitmap per referenced data file
    val dels = coreTable("dvt").newScan().planFiles().flatMap(_.deletes).distinctBy(_.path)
    assert(dels.nonEmpty && dels.forall(_.format == "dv"), s"${dels.map(_.format)}")
    assert(dels.forall(_.referencedDataFile.isDefined))
    assert(spark.sql("SELECT count(*) FROM graft.db.dvt").collect()(0).getLong(0) === 80L)
    // columnar read path stays on under DVs (position deletes only)
    assert(spark.sql("SELECT sum(id) FROM graft.db.dvt").collect()(0).getLong(0) ===
      (20L until 100L).sum)
    // position_deletes metadata table decodes bitmaps
    assert(spark.sql("SELECT count(*) FROM graft.db.dvt.position_deletes")
      .collect()(0).getLong(0) === 20L)
    // changes table emits DV-masked rows as DELETEs
    assert(spark.read.table("graft.db.dvt.changes")
      .where("_change_type = 'DELETE'").count() === 20L)
    // compaction applies DVs and drops them
    spark.sql("CALL graft.system.rewrite_data_files('db.dvt')")
    assert(spark.sql("SELECT count(*) FROM graft.db.dvt.delete_files")
      .collect()(0).getLong(0) === 0L)
    assert(spark.sql("SELECT count(*) FROM graft.db.dvt").collect()(0).getLong(0) === 80L)
    assert(spark.sql("SELECT count(*) FROM graft.db.dvt WHERE id < 20")
      .collect()(0).getLong(0) === 0L)
  }

  test("wap.id staging + publish_changes + ancestors_of") {
    spark.sql("""CREATE TABLE graft.db.wapid (id BIGINT, v STRING)
      TBLPROPERTIES ('write.wap.enabled'='true')""")
    spark.sql("INSERT INTO graft.db.wapid VALUES (1, 'base')")
    // staged write: snapshot exists but main does not move
    spark.conf.set("spark.wap.id", "audit-1")
    spark.sql("INSERT INTO graft.db.wapid VALUES (2, 'staged')")
    spark.conf.unset("spark.wap.id")
    assert(spark.sql("SELECT count(*) FROM graft.db.wapid").collect()(0).getLong(0) === 1L)
    val t = coreTable("wapid")
    assert(t.meta.snapshots.exists(_.summary.get("wap.id").contains("audit-1")))
    // publish: cherry-picks the staged snapshot onto main
    spark.sql("CALL graft.system.publish_changes('db.wapid', 'audit-1')")
    assert(spark.sql("SELECT count(*) FROM graft.db.wapid").collect()(0).getLong(0) === 2L)
    // double-publish refused
    intercept[Exception] {
      spark.sql("CALL graft.system.publish_changes('db.wapid', 'audit-1')")
    }
    // ancestors_of walks the parent chain of the current head
    val anc = spark.sql("CALL graft.system.ancestors_of('db.wapid')").collect()
    assert(anc.length === 2, s"expected 2 main ancestors, got ${anc.length}")
    assert(anc.map(_.getString(2)).forall(_ == "append"))
  }

  test("compute_partition_stats is incremental over pure-append deltas") {
    spark.sql("""CREATE TABLE graft.db.ipstats (id BIGINT, cat STRING)
      PARTITIONED BY (cat)""")
    spark.sql("INSERT INTO graft.db.ipstats VALUES (1,'a'),(2,'b'),(3,'a')")
    def call() = spark.sql(
      "CALL graft.system.compute_partition_stats('db.ipstats')").collect()(0)
    // first run: full compute over the head snapshot's one manifest
    val first = call()
    assert(first.getInt(2) === 1, s"full pass should read 1 manifest")
    // same snapshot again: no-op, nothing read, same file returned
    val rerun = call()
    assert(rerun.getInt(2) === 0)
    assert(rerun.getString(0) === first.getString(0))
    // two pure-append commits → only the TWO delta manifests are read
    // (reference ComputePartitionStatsSparkAction incremental compute),
    // not the table's three
    spark.sql("INSERT INTO graft.db.ipstats VALUES (4,'a'),(5,'c')")
    spark.sql("INSERT INTO graft.db.ipstats VALUES (6,'c')")
    val inc = call()
    assert(inc.getInt(2) === 2,
      s"incremental pass should read only the delta, got ${inc.getInt(2)}")
    assert(inc.getInt(1) === 3) // partitions a, b, c
    def statsRows(p: String): Seq[(String, Int, Long, Int, Long)] =
      spark.read.parquet(p).selectExpr("partition.cat", "spec_id",
          "data_record_count", "data_file_count", "last_updated_snapshot_id")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
          r.getInt(3), r.getLong(4))).toSeq.sortBy(_._1)
    val incRows = statsRows(inc.getString(0))
    // the checkpoint sidecar is reachable engine state: an orphan sweep
    // must not delete it (the no-op fast path below only works while the
    // head's checkpoint is readable)
    spark.sql(s"""CALL graft.system.remove_orphan_files('db.ipstats',
      dry_run => false, older_than_ms => ${System.currentTimeMillis() + 3600000L})""")
    assert(call().getInt(2) === 0,
      "checkpoint must survive remove_orphan_files")
    // force a FULL recompute (delete every incremental checkpoint
    // sidecar) — the incremental result must be bit-identical to it
    coreTable("ipstats").meta.partitionStatistics.foreach(f =>
      graft.core.meta.GraftIO.delete(GraftProcedures.statsCkptPath(f.path)))
    val full = call()
    assert(full.getInt(2) === 3, "without a checkpoint, all manifests read")
    assert(statsRows(full.getString(0)) === incRows)
    assert(incRows.map(r => r._1 -> r._3) === Seq("a" -> 3L, "b" -> 1L, "c" -> 2L))
    // a non-append delta (CoW delete) disables the incremental path:
    // graft rewrites drop manifest entries rather than writing Deleted
    // markers, so removals are invisible to a manifest diff
    spark.sql("DELETE FROM graft.db.ipstats WHERE id = 1")
    val headList = graft.core.meta.ManifestIO.readList(
      coreTable("ipstats").meta.currentSnapshot.get.manifestListPath)
    val afterDel = call()
    assert(afterDel.getInt(2) === headList.size,
      "a delete in the history must force a full recompute")
    val delRows = statsRows(afterDel.getString(0))
    assert(delRows.map(r => r._1 -> r._3) === Seq("a" -> 2L, "b" -> 1L, "c" -> 2L))
    // out-of-band removal of the stats parquet (sidecar intact) must
    // self-heal via a recompute — never a no-op returning a dangling path
    graft.core.meta.GraftIO.delete(afterDel.getString(0))
    val healed = call()
    assert(healed.getInt(2) > 0, "dangling stats file must force a recompute")
    assert(graft.core.meta.GraftIO.exists(healed.getString(0)))
    assert(statsRows(healed.getString(0)) === delRows)
  }

  test("register_table, migrate, compute_partition_stats, rewrite_table_path") {
    spark.sql("""CREATE TABLE graft.db.regsrc (id BIGINT, cat STRING)
      PARTITIONED BY (cat)""")
    spark.sql("INSERT INTO graft.db.regsrc VALUES (1,'a'),(2,'b'),(3,'a')")
    // register the SAME metadata under a new table name
    val src = coreTable("regsrc")
    val ver = src.ops.currentVersion()
    val metaFile = s"${src.location}/metadata/v$ver.metadata.json"
    val reg = spark.sql(
      s"CALL graft.system.register_table('db.regdst', '$metaFile')").collect()(0)
    assert(reg.getLong(1) >= 1L) // total_snapshots_count
    assert(spark.sql("SELECT count(*) FROM graft.db.regdst").collect()(0).getLong(0) === 3L)

    // migrate an external parquet dir
    val extDir = Files.createTempDirectory("graft-mig").toString
    spark.range(0, 10).selectExpr("id", "concat('m', id) AS v")
      .write.mode("overwrite").parquet(extDir)
    spark.sql(s"CALL graft.system.migrate('$extDir', 'db.migrated')")
    assert(spark.sql("SELECT count(*) FROM graft.db.migrated").collect()(0).getLong(0) === 10L)
    assert(coreTable("migrated").meta.properties.get("migrated-from").contains(extDir))

    // partition stats: one row per live partition
    val ps = spark.sql("CALL graft.system.compute_partition_stats('db.regsrc')").collect()(0)
    assert(ps.getInt(1) === 2, s"expected 2 partitions, got ${ps.getInt(1)}")
    assert(graft.core.meta.GraftIO.exists(ps.getString(0)))
    // registered as a spec partition-statistics file (snapshot-scoped),
    // and the registration survives a metadata JSON round-trip
    val psMeta = coreTable("regsrc").meta
    val psReg = psMeta.partitionStatistics
    assert(psReg.size === 1 && psReg.head.path === ps.getString(0))
    assert(psReg.head.snapshotId === psMeta.currentSnapshot.get.snapshotId)
    assert(psReg.head.fileSizeBytes > 0)
    // re-running replaces (not stacks) the snapshot's entry
    spark.sql("CALL graft.system.compute_partition_stats('db.regsrc')")
    assert(coreTable("regsrc").meta.partitionStatistics.size === 1)
    // the stats file is the SPEC's Parquet shape (partition struct +
    // counts, reference PartitionStatistics.java) — readable as-is
    val psFile = coreTable("regsrc").meta.partitionStatistics.head.path
    assert(psFile.endsWith(".parquet"))
    val psDf = spark.read.parquet(psFile)
    assert(psDf.columns.take(5) === Array("partition", "spec_id",
      "data_record_count", "data_file_count", "total_data_file_size_in_bytes"))
    val byCat = psDf.selectExpr("partition.cat", "data_record_count")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byCat === Map("a" -> 2L, "b" -> 1L))

    // rewrite_table_path: staged metadata copies + file list
    val rp = spark.sql(
      s"CALL graft.system.rewrite_table_path('db.regsrc', '$warehouse', '/new/wh')")
      .collect()(0)
    val fileList = rp.getString(1)
    assert(graft.core.meta.GraftIO.exists(fileList))
    val lines = graft.core.meta.GraftIO.readString(fileList).split("\n")
    assert(lines.nonEmpty && lines.forall(_.contains(",/new/wh")),
      s"file list not rewritten: ${lines.take(3).mkString(";")}")

    // avro-manifest tree: the staged copies must stay VALID Avro with
    // moved paths (a text replace would corrupt the binary container)
    spark.sql("""CREATE TABLE graft.db.rtpa (id BIGINT)
      TBLPROPERTIES ('compatibility.format'='iceberg', 'format-version'='3',
        'write.delete.mode'='merge-on-read', 'write.delete.format'='dv')""")
    spark.sql("INSERT INTO graft.db.rtpa VALUES (1),(2),(3)")
    spark.sql("DELETE FROM graft.db.rtpa WHERE id % 3 = 2")
    val rpa = spark.sql(
      s"CALL graft.system.rewrite_table_path('db.rtpa', '$warehouse', '/new/wh')")
      .collect()(0)
    val stagingDir = graft.core.meta.GraftIO.toPath(rpa.getString(1)).getParent
    val stagedAvro = scala.jdk.CollectionConverters
      .IteratorHasAsScala(java.nio.file.Files.list(stagingDir).iterator())
      .asScala.filter(_.toString.endsWith(".avro")).toSeq
    assert(stagedAvro.nonEmpty, "no staged avro metadata files")
    stagedAvro.foreach { p =>
      val bytes = java.nio.file.Files.readAllBytes(p)
      assert(graft.core.meta.AvroManifests.isAvro(bytes),
        s"staged $p is not valid Avro")
      // every embedded path moved to the new prefix
      if (p.toString.contains("manifest-list") || p.toString.contains("snap-")) {
        val mfs = graft.core.meta.AvroManifests.readList(bytes)
        assert(mfs.forall(_.path.startsWith("/new/wh")),
          s"list $p keeps old paths: ${mfs.map(_.path)}")
      }
    }
    // delete-file CONTENT is rewritten too: an external reader of the
    // moved tree matches deletes by exact path, so the staged DV puffin
    // must reference the data file under the NEW prefix
    val srcDeletes = coreTable("rtpa").newScan().planFiles()
      .flatMap(_.deletes).map(_.path)
    val stagedDv = scala.jdk.CollectionConverters
      .IteratorHasAsScala(java.nio.file.Files.list(stagingDir).iterator())
      .asScala.map(_.toString).find(graft.core.meta.DVIO.isDV)
    assert(stagedDv.isDefined,
      s"no staged deletion vector; source deletes=$srcDeletes staged=" +
        scala.jdk.CollectionConverters.IteratorHasAsScala(
          java.nio.file.Files.list(stagingDir).iterator()).asScala.toSeq)
    val (dvRef, dvBm) = graft.core.meta.DVIO.read(stagedDv.get)
    assert(dvRef.startsWith("/new/wh"), s"DV still references $dvRef")
    assert(dvBm.getLongCardinality === 1L)

    // position-delete PARQUET content: file_path column moves as well
    spark.sql("""CREATE TABLE graft.db.rtpp (id BIGINT)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read',
        'write.delete.format'='parquet')""")
    spark.sql("INSERT INTO graft.db.rtpp VALUES (1),(2),(3)")
    spark.sql("DELETE FROM graft.db.rtpp WHERE id % 3 = 2")
    val rpp = spark.sql(
      s"CALL graft.system.rewrite_table_path('db.rtpp', '$warehouse', '/new/wh')")
      .collect()(0)
    val ppStaging = graft.core.meta.GraftIO.toPath(rpp.getString(1)).getParent
    val stagedPd = scala.jdk.CollectionConverters
      .IteratorHasAsScala(java.nio.file.Files.list(ppStaging).iterator())
      .asScala.map(_.toString)
      .find(p => p.endsWith(".parquet") && p.contains("delete"))
    assert(stagedPd.isDefined, "no staged position-delete parquet")
    val pd = spark.read.parquet(stagedPd.get).collect()
    assert(pd.nonEmpty && pd.forall(_.getString(0).startsWith("/new/wh")),
      s"pos-delete file_path not moved: ${pd.map(_.getString(0)).take(2).mkString(",")}")
    // external readers project delete files BY FIELD ID: the rewrite must
    // preserve the reserved ids (2147483546/2147483545), not drop them
    // the way a plain read→write does
    locally {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(stagedPd.get),
        new org.apache.hadoop.conf.Configuration())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val fields = r.getFooter.getFileMetaData.getSchema.getFields
        val ids = (0 until fields.size()).map { i =>
          fields.get(i).getName -> Option(fields.get(i).getId).map(_.intValue())
        }.toMap
        assert(ids.get("file_path").flatten.contains(2147483546) &&
          ids.get("pos").flatten.contains(2147483545),
          s"rewritten delete parquet lost its reserved field ids: $ids")
      } finally r.close()
    }
    // and the staged manifest entry tracks the REWRITTEN file's size
    val fl = graft.core.meta.GraftIO.readString(rpp.getString(1))
    assert(fl.split("\n").exists(l => l.startsWith(stagedPd.get + ",")),
      "file list must ship the staged delete file")

    // avro position deletes (the Flink shape) rewrite through the avro
    // codec — content moves and the file round-trips as genuine avro
    spark.sql("""CREATE TABLE graft.db.rtpav (id BIGINT)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read',
        'write.delete.format'='avro')""")
    spark.sql("INSERT INTO graft.db.rtpav VALUES (1),(2),(3)")
    spark.sql("DELETE FROM graft.db.rtpav WHERE id % 3 = 2")
    val rav = spark.sql(
      s"CALL graft.system.rewrite_table_path('db.rtpav', '$warehouse', '/new/wh')")
      .collect()(0)
    val avStaging = graft.core.meta.GraftIO.toPath(rav.getString(1)).getParent
    val stagedAv = scala.jdk.CollectionConverters
      .IteratorHasAsScala(java.nio.file.Files.list(avStaging).iterator())
      .asScala.map(_.toString)
      .find(p => p.endsWith(".avro") && p.contains("delete"))
    assert(stagedAv.isDefined, "no staged position-delete avro")
    val avRows = GraftAvro.readToDf(spark, Seq(stagedAv.get),
      GraftDeltaWriter.DeleteSchema, withPos = false).collect()
    assert(avRows.nonEmpty && avRows.forall(_.getString(0).startsWith("/new/wh")),
      s"avro delete file_path not moved: ${avRows.map(_.getString(0)).take(2).mkString(",")}")
  }

  test("rewrite_table_path distributes the manifest rewrite on big trees") {
    // 70 manifests (one per commit) crosses the ≥64 Spark-job threshold;
    // built through the core API so no Spark write amplification
    import graft.core.meta.{HadoopCatalog => HC}
    import graft.core.types.{GField, GLong, GSchema, GString, GStruct}
    val schema = GSchema(GStruct(Seq(
      GField(1, "id", GLong, required = true), GField(2, "v", GString))))
    val cat = new HC(warehouse)
    val t = cat.createTable(Seq("db"), "bigrtp", schema,
      graft.core.expr.PartitionSpec.Unpartitioned, Map.empty)
    (0 until 70).foreach { i =>
      t.newAppend().appendFile(graft.core.meta.DataFile(
        s"${t.location}/data/f$i.parquet", "parquet", 0, Nil,
        recordCount = 10, fileSizeBytes = 100)).commit()
    }
    val r = spark.sql(
      s"CALL graft.system.rewrite_table_path('db.bigrtp', '$warehouse', '/new/wh')")
      .collect()(0)
    val fl = graft.core.meta.GraftIO.readString(r.getString(1)).split("\n")
    // every one of the 70 manifests staged, every data file listed
    assert(fl.count(_.contains("manifest-")) === 70,
      s"expected 70 staged manifests, got ${fl.count(_.contains("manifest-"))}")
    (0 until 70).foreach(i => assert(
      fl.exists(l => l.endsWith(s",/new/wh/db/bigrtp/data/f$i.parquet")),
      s"data file f$i missing from the copy list"))
  }

  test("register_table auto-enables compat for spec-dialect sources") {
    // graft-dialect source: registering must NOT add the property
    assert(!coreTable("regdst").meta.properties.contains("compatibility.format"))

    // spec-dialect source WITHOUT the property — what a genuine Iceberg
    // tree looks like (strip the property from a compat-written doc)
    spark.sql("""CREATE TABLE graft.db.icesrc2 (id BIGINT, cat STRING)
      TBLPROPERTIES ('compatibility.format'='iceberg')""")
    spark.sql("INSERT INTO graft.db.icesrc2 VALUES (1,'a'),(2,'b')")
    val src = coreTable("icesrc2")
    val metaJson = graft.core.meta.MetaJson.mapper.readTree(
      graft.core.meta.GraftIO.readString(src.ops.currentMetadataPath.get))
    metaJson.get("properties").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .remove("compatibility.format")
    val doctored = Files.createTempDirectory("graft-icereg").resolve("v3.metadata.json")
    Files.write(doctored, graft.core.meta.MetaJson.mapper
      .writeValueAsString(metaJson).getBytes("UTF-8"))
    spark.sql(s"CALL graft.system.register_table('db.icereg2', '$doctored')")
    assert(spark.sql("SELECT count(*) FROM graft.db.icereg2")
      .collect()(0).getLong(0) === 2L)
    // compat auto-set, and the NEXT commit still writes the spec dialect
    assert(coreTable("icereg2").meta.properties
      .get("compatibility.format").contains("iceberg"))
    spark.sql("INSERT INTO graft.db.icereg2 VALUES (3,'c')")
    val t2 = coreTable("icereg2")
    val n2 = graft.core.meta.MetaJson.mapper.readTree(
      graft.core.meta.GraftIO.readString(t2.ops.currentMetadataPath.get))
    assert(n2.get("schemas").get(0).get("fields").get(0).has("type"))
    assert(t2.meta.currentSnapshot.get.manifestListPath.endsWith(".avro"))
  }

  test("orc data format: write, columnar read, prune, CoW delete, compaction") {
    spark.sql("""CREATE TABLE graft.db.orct (id BIGINT, cat STRING, v DOUBLE)
      PARTITIONED BY (cat)
      TBLPROPERTIES ('write.format.default'='orc')""")
    spark.range(0, 1000, 1, 4)
      .selectExpr("id", "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS cat",
        "CAST(id AS DOUBLE) / 7 AS v")
      .writeTo("graft.db.orct").append()
    // files are orc with footer stats
    val files = coreTable("orct").newScan().planFiles().map(_.file)
    assert(files.nonEmpty && files.forall(_.format == "orc"), files.map(_.format).distinct)
    assert(files.forall(_.columnStats.nonEmpty), "orc footer stats missing")
    assert(spark.sql("SELECT count(*) FROM graft.db.orct").collect()(0).getLong(0) === 1000L)
    assert(spark.sql("SELECT sum(id) FROM graft.db.orct WHERE cat = 'a'")
      .collect()(0).getLong(0) === (0L until 1000L by 2).sum)
    // min/max stats prune: id < 0 planning should read no files
    val t = coreTable("orct")
    val sc = t.newScan().filter(graft.core.expr.Expr.lt("id", 0L))
    assert(sc.planFiles().isEmpty, "stats pruning failed for orc")
    // CoW delete + read back
    spark.sql("DELETE FROM graft.db.orct WHERE id < 100")
    assert(spark.sql("SELECT count(*) FROM graft.db.orct").collect()(0).getLong(0) === 900L)
    // compaction keeps the orc format
    spark.sql("CALL graft.system.rewrite_data_files('db.orct')")
    val after = coreTable("orct").newScan().planFiles().map(_.file)
    assert(after.forall(_.format == "orc"), after.map(_.format).distinct)
    assert(spark.sql("SELECT count(*) FROM graft.db.orct").collect()(0).getLong(0) === 900L)
    assert(spark.sql("SELECT sum(id) FROM graft.db.orct").collect()(0).getLong(0) ===
      (100L until 1000L).sum)
  }

  test("SQL extension DDL: partition field, identifier fields, write order, branch/tag") {
    spark.sql("CREATE TABLE graft.db.ddlx (id BIGINT, cat STRING, ts TIMESTAMP)")
    spark.sql("INSERT INTO graft.db.ddlx VALUES (1, 'a', TIMESTAMP '2024-03-01 10:00:00')")

    spark.sql("ALTER TABLE graft.db.ddlx ADD PARTITION FIELD bucket(4, id)")
    assert(coreTable("ddlx").spec.fields.exists(_.name == "id_bucket"))
    spark.sql("ALTER TABLE graft.db.ddlx ADD PARTITION FIELD days(ts)")
    assert(coreTable("ddlx").spec.fields.exists(_.name == "ts_day"))
    spark.sql("ALTER TABLE graft.db.ddlx DROP PARTITION FIELD bucket(4, id)")
    assert(!coreTable("ddlx").spec.fields.exists(_.name == "id_bucket"))
    spark.sql("ALTER TABLE graft.db.ddlx REPLACE PARTITION FIELD ts_day WITH months(ts)")
    val fields = coreTable("ddlx").spec.fields.map(_.name)
    assert(fields.contains("ts_month") && !fields.contains("ts_day"), fields)

    spark.sql("ALTER TABLE graft.db.ddlx SET IDENTIFIER FIELDS id")
    assert(coreTable("ddlx").meta.schema.identifierFieldIds.nonEmpty)
    spark.sql("ALTER TABLE graft.db.ddlx DROP IDENTIFIER FIELDS")
    assert(coreTable("ddlx").meta.schema.identifierFieldIds.isEmpty)

    spark.sql("ALTER TABLE graft.db.ddlx WRITE ORDERED BY cat ASC, id DESC")
    assert(coreTable("ddlx").meta.properties("write.sort-order").contains("cat"))
    assert(coreTable("ddlx").meta.properties("write.distribution-mode") == "range")
    spark.sql("ALTER TABLE graft.db.ddlx WRITE DISTRIBUTED BY PARTITION")
    assert(coreTable("ddlx").meta.properties("write.distribution-mode") == "hash")

    spark.sql("ALTER TABLE graft.db.ddlx CREATE BRANCH audit")
    assert(coreTable("ddlx").meta.refs.contains("audit"))
    spark.sql("ALTER TABLE graft.db.ddlx CREATE TAG v1 RETAIN 7 DAYS")
    assert(coreTable("ddlx").meta.refs.contains("v1"))
    spark.sql("ALTER TABLE graft.db.ddlx DROP BRANCH audit")
    assert(!coreTable("ddlx").meta.refs.contains("audit"))
    spark.sql("ALTER TABLE graft.db.ddlx DROP TAG IF EXISTS v1")
    assert(!coreTable("ddlx").meta.refs.contains("v1"))

    // ordinary ALTER statements still reach Spark's parser
    spark.sql("ALTER TABLE graft.db.ddlx ADD COLUMN extra STRING")
    assert(coreTable("ddlx").meta.schema.findField("extra").isDefined)

    // AS name is honored
    spark.sql("ALTER TABLE graft.db.ddlx ADD PARTITION FIELD bucket(8, id) AS shard")
    assert(coreTable("ddlx").spec.fields.exists(_.name == "shard"))
    spark.sql("ALTER TABLE graft.db.ddlx DROP PARTITION FIELD shard")
    // DROP IDENTIFIER FIELDS with a column list drops only those
    spark.sql("ALTER TABLE graft.db.ddlx SET IDENTIFIER FIELDS id, cat")
    spark.sql("ALTER TABLE graft.db.ddlx DROP IDENTIFIER FIELDS cat")
    val remaining = coreTable("ddlx").meta.schema.identifierFieldIds
      .flatMap(id => coreTable("ddlx").meta.schema.fields.find(_.id == id)).map(_.name)
    assert(remaining === Set("id"), remaining)
    // re-adding a field already in the current spec is refused (reference
    // BaseUpdatePartitionSpec duplicate check; ts_month is live from the
    // REPLACE above and recycling resolves the re-add to the same id)
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.db.ddlx ADD PARTITION FIELD months(ts)")
    }
    // REPLACE with an invalid transform fails WITHOUT dropping the original
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.db.ddlx REPLACE PARTITION FIELD ts_month WITH months(cat)")
    }
    assert(coreTable("ddlx").spec.fields.exists(_.name == "ts_month"),
      "failed REPLACE must not drop the original field")
  }

  test("core review regressions: retention survives commits, staged WAP vs CoW, time travel errors") {
    // 1. branch retention must survive subsequent commits to the branch
    spark.sql("CREATE TABLE graft.db.coreg (id BIGINT)")
    spark.sql("INSERT INTO graft.db.coreg VALUES (1)")
    spark.sql("ALTER TABLE graft.db.coreg CREATE BRANCH keepme WITH SNAPSHOT RETENTION 5 SNAPSHOTS")
    spark.sql("INSERT INTO graft.db.coreg.branch_keepme VALUES (2)")
    assert(coreTable("coreg").meta.refs("keepme").minSnapshotsToKeep.contains(5),
      "retention wiped by branch commit")

    // 2. a STAGED wap.id snapshot must not block later CoW deletes on main
    spark.sql("""CREATE TABLE graft.db.wapblk (id BIGINT)
      TBLPROPERTIES ('write.wap.enabled'='true')""")
    spark.sql("INSERT INTO graft.db.wapblk VALUES (1), (2), (3)")
    spark.conf.set("spark.wap.id", "staged-ow")
    try spark.sql("INSERT OVERWRITE graft.db.wapblk VALUES (9)") // staged overwrite
    finally spark.conf.unset("spark.wap.id")
    // CoW delete on main validates from its scanned snapshot — the staged
    // overwrite is NOT on main's ancestry and must not conflict
    spark.sql("DELETE FROM graft.db.wapblk WHERE id = 2")
    assert(spark.sql("SELECT count(*) FROM graft.db.wapblk").collect()(0).getLong(0) === 2L)

    // 3. unknown snapshot ids / refs error instead of silently reading current
    intercept[Exception] {
      spark.read.option("snapshot-id", "123456789").table("graft.db.coreg").collect()
    }
    intercept[Exception] {
      spark.read.option("branch", "nope").table("graft.db.coreg").collect()
    }

    // 4. out-of-int-range literals resolve statically, not clamped
    spark.sql("CREATE TABLE graft.db.intrange (i INT)")
    spark.sql(s"INSERT INTO graft.db.intrange VALUES (${Int.MaxValue}), (5)")
    val t = coreTable("intrange")
    val eqOver = t.newScan().filter(graft.core.expr.Expr.equalTo("i", 5000000000L))
    assert(eqOver.planFiles().isEmpty, "Eq above int range must match nothing")
    val ltOver = t.newScan().filter(graft.core.expr.Expr.lt("i", 5000000000L))
    assert(ltOver.planFiles().nonEmpty, "Lt above int range must match everything")
  }

  test("changes scan: eq-delete DELETEs, no re-reported rows after compaction") {
    // equality deletes from a streaming upsert appear as DELETE changes
    spark.sql("""CREATE TABLE graft.db.cdceq (id BIGINT, v STRING)
      TBLPROPERTIES ('write.upsert.enabled'='true')""")
    spark.sql("ALTER TABLE graft.db.cdceq SET IDENTIFIER FIELDS id")
    val s2 = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s2.sqlContext
    import s2.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("id", "v").writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft-cdceq-ckpt").toString)
      .toTable("graft.db.cdceq")
    ms.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
    ms.addData((2L, "b2")); q.processAllAvailable()
    q.stop()
    val ch = spark.read.table("graft.db.cdceq.changes")
      .select("id", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    // the upsert of key 2 must surface BOTH the delete of the old version
    // and the insert of the new one
    assert(ch.contains((2L, "b", "DELETE")), s"missing eq-delete change: $ch")
    assert(ch.contains((2L, "b2", "INSERT")), ch)
    assert(!ch.contains((1L, "a", "DELETE")), ch)

    // MoR delete then compaction: the deleted row is reported ONCE
    spark.sql("""CREATE TABLE graft.db.cdcmor (id BIGINT)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.sql("INSERT INTO graft.db.cdcmor VALUES (1), (2), (3)")
    spark.sql("DELETE FROM graft.db.cdcmor WHERE id = 2")
    spark.sql("CALL graft.system.rewrite_data_files('db.cdcmor', min_input_files => 1)")
    val dels = spark.read.table("graft.db.cdcmor.changes")
      .where("_change_type = 'DELETE' AND id = 2").count()
    assert(dels === 1L, s"row 2 reported deleted $dels times (expected 1)")
  }

  test("changes scan: a row an equality delete removed is not reported again") {
    spark.sql("""CREATE TABLE graft.db.cdceq_once (id INT, v STRING)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read',
                     'write.delete.equality-enabled'='true')""")
    spark.sql("CALL graft.system.set_identifier_fields('db.cdceq_once', 'id')")
    spark.sql("""INSERT INTO graft.db.cdceq_once SELECT /*+ COALESCE(1) */ *
      FROM VALUES (1, 'a1'), (2, 'a2'), (3, 'a3'), (4, 'a4') AS s(id, v)""")
    spark.sql("DELETE FROM graft.db.cdceq_once WHERE id = 1")
    spark.sql("""INSERT INTO graft.db.cdceq_once SELECT /*+ COALESCE(1) */ *
      FROM VALUES (1, 'c1'), (2, 'c2') AS s(id, v)""")
    spark.sql("DELETE FROM graft.db.cdceq_once WHERE id = 1")
    // the second delete's equality file also keys the first file's
    // (1, a1), which the first delete already removed at ordinal 1
    val dels = spark.sql("""SELECT _change_ordinal, id, v
        FROM graft.db.cdceq_once.changes WHERE _change_type = 'DELETE'""")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2))).sorted.toSeq
    assert(dels === Seq((1, 1, "a1"), (3, 1, "c1")), s"DELETE changes: $dels")
  }

  test("equality deletes under two identifier-field sets: read, changes, rewrite") {
    spark.sql("""CREATE TABLE graft.db.eq_two_keys (id INT, k STRING)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read',
                     'write.delete.equality-enabled'='true')""")
    spark.range(0, 30, 1, 1).selectExpr("CAST(id AS INT) AS id", "concat('k', id) AS k")
      .writeTo("graft.db.eq_two_keys").append()
    spark.sql("CALL graft.system.set_identifier_fields('db.eq_two_keys', 'id')")
    spark.sql("DELETE FROM graft.db.eq_two_keys WHERE id < 5")
    spark.sql("CALL graft.system.set_identifier_fields('db.eq_two_keys', 'k')")
    spark.sql("DELETE FROM graft.db.eq_two_keys WHERE k = 'k7'")
    val files = spark.sql("SELECT content FROM graft.db.eq_two_keys.files")
      .collect().map(_.getInt(0))
    assert(files.count(_ == 2) === 2, s"expected two equality-delete files: ${files.toSeq}")
    def count(): Long =
      spark.sql("SELECT count(*) FROM graft.db.eq_two_keys").head().getLong(0)
    assert(count() === 24L)
    assert(spark.sql("""SELECT id FROM graft.db.eq_two_keys.changes
        WHERE _change_type = 'DELETE'""").collect().map(_.getInt(0)).sorted.toSeq ===
      Seq(0, 1, 2, 3, 4, 7))
    spark.sql("CALL graft.system.rewrite_data_files('db.eq_two_keys', min_input_files => 1)")
    assert(count() === 24L)
    assert(spark.sql("SELECT id FROM graft.db.eq_two_keys").collect()
      .map(_.getInt(0)).sorted.toSeq === ((5 until 30).filter(_ != 7)))
  }

  test("ALTER TABLE RENAME moves a directory-catalog table, deletes intact") {
    spark.sql("""CREATE TABLE graft.db.ren_a (id BIGINT)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.range(0, 100).writeTo("graft.db.ren_a").append()
    spark.sql("DELETE FROM graft.db.ren_a WHERE id % 5 = 0")
    spark.sql("ALTER TABLE graft.db.ren_a RENAME TO db.ren_b")
    // old name gone, new name serves the data with position deletes applied
    assert(spark.sql("SELECT count(*) FROM graft.db.ren_b")
      .collect()(0).getLong(0) === 80L)
    intercept[Exception](spark.table("graft.db.ren_a").count())
    // the renamed table keeps working as a write target
    spark.sql("INSERT INTO graft.db.ren_b VALUES (1000)")
    assert(spark.sql("SELECT count(*) FROM graft.db.ren_b")
      .collect()(0).getLong(0) === 81L)
  }

  test("streaming sink restart from checkpoint neither loses nor duplicates") {
    // exactly-once across a query RESTART: the second query resumes from
    // the same checkpoint; epoch ids recorded in snapshot summaries must
    // dedup any replayed batch while data added after the restart still
    // lands exactly once
    spark.sql("CREATE TABLE graft.db.restart_sink (id BIGINT)")
    val s2 = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s2.sqlContext
    import s2.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ckpt = Files.createTempDirectory("graft-restart-ckpt").toString
    val ms = MemoryStream[Long]
    val q1 = ms.toDF().toDF("id").writeStream
      .option("checkpointLocation", ckpt).toTable("graft.db.restart_sink")
    ms.addData(1L, 2L, 3L); q1.processAllAvailable()
    q1.stop()
    // simulate a crash BETWEEN the sink commit and the checkpoint commit
    // log: deleting the commit-log entry forces the restarted query to
    // RE-EXECUTE batch 0, so the epoch-id dedup is actually on the hook
    // (with a clean stop the restart would just continue at batch 1 and
    // the test would pass even with dedup deleted)
    val commitLog = java.nio.file.Paths.get(ckpt, "commits", "0")
    assert(java.nio.file.Files.deleteIfExists(commitLog), "commit log entry expected")
    // the local checksum FS keeps a .crc sidecar; leaving it behind makes
    // the re-written commit file fail its rename (looks like a concurrent
    // query to Spark), which is not the scenario under test
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckpt, "commits", ".0.crc"))
    val q2 = ms.toDF().toDF("id").writeStream
      .option("checkpointLocation", ckpt).toTable("graft.db.restart_sink")
    ms.addData(4L, 5L); q2.processAllAvailable()
    q2.stop()
    val got = spark.table("graft.db.restart_sink")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got === Seq(1L, 2L, 3L, 4L, 5L),
      s"restart must neither drop nor duplicate rows: $got")
  }

  test("watermarked tumbling-window aggregation streams into a graft sink") {
    // the classic stateful-streaming pipeline: event-time window + late-
    // data watermark aggregating into a graft table (readStream of the
    // table is covered by the streaming source tests; this drives the
    // state-store side end to end, including the append-mode rule that a
    // window only emits once the watermark passes its end)
    spark.sql("""CREATE TABLE graft.db.wmk_sink (
      win_start TIMESTAMP, user_id BIGINT, n BIGINT)""")
    val s2 = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s2.sqlContext
    import s2.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, count, lit, window}
    val ms = MemoryStream[(java.sql.Timestamp, Long)]
    val q = ms.toDF().toDF("ts", "user_id")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("user_id"), col("n"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-wmk-ckpt").toString)
      .toTable("graft.db.wmk_sink")
    def t(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-06-01 $h%02d:$m%02d:00")
    // hour 10: two events for user 1, one for user 2
    ms.addData((t(10, 5), 1L), (t(10, 40), 1L), (t(10, 20), 2L))
    q.processAllAvailable()
    // hour 12 event pushes the watermark past hour 10's end → hour-10
    // windows close and land in the sink on the NEXT batch
    ms.addData((t(12, 30), 3L))
    q.processAllAvailable()
    // a late hour-10 straggler behind the watermark must be DROPPED, not
    // double-counted into an already-emitted window
    ms.addData((t(10, 55), 1L), (t(12, 45), 3L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("graft.db.wmk_sink")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2)))
      .toSet
    assert(rows.contains(("2024-06-01 10:00:00.0", 1L, 2L)),
      s"hour-10 window for user 1 must have exactly the 2 pre-watermark events: $rows")
    assert(rows.contains(("2024-06-01 10:00:00.0", 2L, 1L)), rows)
    // hour-12 windows are still open (watermark has not passed 13:00)
    assert(!rows.exists(_._1.startsWith("2024-06-01 12")), rows)
  }

  test("orc footer stats index correctly past nested columns") {
    spark.sql("""CREATE TABLE graft.db.orcnested (
      a STRUCT<x: INT, y: INT>, b BIGINT)
      TBLPROPERTIES ('write.format.default'='orc')""")
    spark.sql("""INSERT INTO graft.db.orcnested
      SELECT named_struct('x', CAST(id AS INT), 'y', 1), id + 1000 FROM range(0, 50)""")
    val files = coreTable("orcnested").newScan().planFiles().map(_.file)
    assert(files.forall(_.format == "orc"))
    val bField = coreTable("orcnested").meta.schema.findField("b").get
    val bStats = files.flatMap(_.columnStats.get(bField.id))
    // b's min/max must be in [1000, 1049] — NOT a.x's [0, 49]
    assert(bStats.nonEmpty, "no stats for b")
    // every per-file bound must be in b's value range [1000, 1049] —
    // misattribution would surface a.x's [0, 49]
    assert(bStats.forall(st =>
        st.lower.exists(_.asInstanceOf[Long] >= 1000L) &&
        st.upper.exists(_.asInstanceOf[Long] <= 1049L)),
      s"misattributed stats: $bStats")
    // and a pruning query over b stays correct
    assert(spark.sql("SELECT count(*) FROM graft.db.orcnested WHERE b >= 1040")
      .collect()(0).getLong(0) === 10L)
  }

  test("system-function predicate pushdown prunes bucket partitions") {
    spark.sql("""CREATE TABLE graft.db.fnpush (id BIGINT, v STRING)
      PARTITIONED BY (bucket(8, id))""")
    spark.range(0, 4000).selectExpr("id", "concat('v', id) AS v")
      .writeTo("graft.db.fnpush").append()
    val total = coreTable("fnpush").newScan().planFiles().size
    assert(total >= 8, s"expected >=8 files, got $total")

    def filesRead(sql: String): Int = {
      val df = spark.sql(sql)
      df.collect() // force
      import scala.jdk.CollectionConverters._
      df.queryExecution.executedPlan.collectLeaves().collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputRDD.getNumPartitions
      }.sum
    }

    // predicate on the bucket function prunes to ~1/8 of the partitions
    val rows = spark.sql(
      "SELECT count(*) FROM graft.db.fnpush WHERE graft.bucket(8, id) = 3")
      .collect()(0).getLong(0)
    assert(rows > 0, "bucket(8,id)=3 selected nothing")
    // verify against the engine's own pruning: a TransformPred scan plans
    // fewer files than the full table
    val t = coreTable("fnpush")
    val pruned = t.newScan().filter(graft.core.expr.TransformPred(
      graft.core.expr.Op.Eq, graft.core.transform.BucketT(8), "id", Seq(3)))
      .planFiles().size
    assert(pruned < total, s"pruned=$pruned total=$total")
    // and the SQL result matches an unpushed evaluation
    val expected = spark.range(0, 4000)
      .filter("abs(hash(id)) >= 0") // no-op, keep spark side
      .collect()
    val viaSql = spark.sql(
      "SELECT id FROM graft.db.fnpush WHERE graft.bucket(8, id) = 3 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    val viaScan = spark.table("graft.db.fnpush")
      .collect().map(_.getLong(0))
      .filter(id => graft.core.transform.BucketT(8)
        .apply(id, graft.core.types.GLong) == 3).sorted.toSeq
    assert(viaSql === viaScan)
  }

  test("streaming upsert: equality deletes replace prior key versions") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    spark.sql("""CREATE TABLE graft.db.upsrt (id BIGINT, v STRING)
      TBLPROPERTIES ('write.upsert.enabled'='true',
                     'write.parquet.compression-codec'='zstd')""")
    spark.sql("ALTER TABLE graft.db.upsrt SET IDENTIFIER FIELDS id")
    val s = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val ms = MemoryStream[(Long, String)]
    val ckpt = Files.createTempDirectory("graft-upsert-ckpt").toString
    val q = ms.toDF().toDF("id", "v").writeStream
      .option("checkpointLocation", ckpt)
      .toTable("graft.db.upsrt")
    ms.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    ms.addData((2L, "b2"), (3L, "c")) // updates key 2, inserts key 3
    q.processAllAvailable()
    // same-epoch duplicate: only the LAST version of key 3 survives
    ms.addData((3L, "c2"), (3L, "c3"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT id, v FROM graft.db.upsrt ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows === Seq((1L, "a"), (2L, "b2"), (3L, "c3")), rows)
    // the second epoch committed equality-delete files
    val eq = coreTable("upsrt").newScan().planFiles().flatMap(_.deletes)
      .filter(_.content == graft.core.meta.FileContent.EqualityDeletes)
    assert(eq.nonEmpty, "no equality-delete files written")
    // written like the table's data files: its parquet codec
    eq.foreach { f =>
      val codecs = RewriteOptionsSpec.footer(
        graft.core.meta.GraftIO.toPath(f.path).toString)._2
      assert(codecs.nonEmpty && codecs.forall(_ === "ZSTD"), s"${f.path}: $codecs")
    }
    // compaction applies the equality deletes and drops them
    spark.sql("CALL graft.system.rewrite_data_files('db.upsrt')")
    val eqAfter = coreTable("upsrt").newScan().planFiles().flatMap(_.deletes)
      .filter(_.content == graft.core.meta.FileContent.EqualityDeletes)
    assert(eqAfter.isEmpty, s"eq deletes survived compaction: ${eqAfter.map(_.path)}")
    val rowsAfter = spark.sql("SELECT id, v FROM graft.db.upsrt ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rowsAfter === Seq((1L, "a"), (2L, "b2"), (3L, "c3")), rowsAfter)
  }

  test("row lineage: _row_id / _last_updated_sequence_number metadata columns") {
    spark.sql("""CREATE TABLE graft.db.lineage (id BIGINT, v STRING)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.sql("INSERT INTO graft.db.lineage VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graft.db.lineage VALUES (3, 'c')")
    val rows = spark.sql(
      "SELECT id, _row_id, _last_updated_sequence_number FROM graft.db.lineage ORDER BY _row_id")
      .collect()
    // row ids are dense and unique across both appends
    assert(rows.map(_.getLong(1)).toSeq === Seq(0L, 1L, 2L))
    // second append has a higher sequence number
    assert(rows.last.getLong(2) > rows.head.getLong(2))
    // MoR delete does NOT rewrite files: surviving rows keep their _row_id
    spark.sql("DELETE FROM graft.db.lineage WHERE id = 1")
    val after = spark.sql("SELECT id, _row_id FROM graft.db.lineage ORDER BY _row_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(after === Seq((2L, 1L), (3L, 2L)), after)
    // next-row-id persisted in table metadata
    assert(coreTable("lineage").meta.nextRowId === 3L)
  }

  test("row lineage survives compaction (materialized lineage columns)") {
    spark.sql("""CREATE TABLE graft.db.lin_c (id BIGINT, v STRING)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.sql("INSERT INTO graft.db.lin_c VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graft.db.lin_c VALUES (3, 'c'), (4, 'd')")
    spark.sql("DELETE FROM graft.db.lin_c WHERE id = 2")
    val before = spark.sql(
      "SELECT id, _row_id, _last_updated_sequence_number FROM graft.db.lin_c ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

    spark.sql("CALL graft.system.rewrite_data_files('db.lin_c')")
    assert(spark.sql("SELECT count(*) FROM graft.db.lin_c.files")
      .collect()(0).getLong(0) === 1L)
    val after = spark.sql(
      "SELECT id, _row_id, _last_updated_sequence_number FROM graft.db.lin_c ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // rewritten rows keep their original row ids AND last-updated seqs
    assert(after === before, s"before=$before after=$after")

    // a second compaction round-trips the materialized columns
    spark.sql("INSERT INTO graft.db.lin_c VALUES (5, 'e')")
    spark.sql("CALL graft.system.rewrite_data_files('db.lin_c', 'sort', 'id DESC')")
    val again = spark.sql("SELECT id, _row_id FROM graft.db.lin_c WHERE id <= 4 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(again === before.map(t => (t._1, t._2)), again)
  }

  test("variant type: write, read, shred with variant_get, evolve") {
    spark.sql("CREATE TABLE graft.db.vart (id BIGINT, payload VARIANT)")
    spark.sql("""INSERT INTO graft.db.vart SELECT 1, parse_json('{"a": 1, "b": "x"}')""")
    spark.sql("""INSERT INTO graft.db.vart SELECT 2, parse_json('{"a": 7, "c": [1,2,3]}')""")
    val rows = spark.sql("""
      SELECT id, variant_get(payload, '$.a', 'int') AS a,
             variant_get(payload, '$.b', 'string') AS b
      FROM graft.db.vart ORDER BY id""").collect()
    assert(rows.map(_.getInt(1)).toSeq === Seq(1, 7))
    assert(rows(0).getString(2) === "x" && rows(1).isNullAt(2))
    // filters over shredded values evaluate post-scan
    assert(spark.sql(
      "SELECT id FROM graft.db.vart WHERE variant_get(payload, '$.a', 'int') > 3")
      .collect().map(_.getLong(0)).toSeq === Seq(2L))
    // evolution: add a variant column to an existing table
    spark.sql("ALTER TABLE graft.db.vart ADD COLUMN extra VARIANT")
    spark.sql("""INSERT INTO graft.db.vart
      SELECT 3, parse_json('{"a": 9}'), parse_json('[true, false]')""")
    val ev = spark.sql("""
      SELECT id, variant_get(extra, '$[0]', 'boolean') FROM graft.db.vart
      WHERE id = 3""").collect()
    assert(ev(0).getBoolean(1) === true)
    // CoW delete rewrites files carrying variants intact
    spark.sql("DELETE FROM graft.db.vart WHERE id = 1")
    assert(spark.sql("SELECT COUNT(*) FROM graft.db.vart").collect()(0).getLong(0) === 2)
  }

  test("branch_/tag_ identifiers: ref-pinned reads, branch writes") {
    spark.sql("CREATE TABLE graft.db.refid (id BIGINT)")
    spark.sql("INSERT INTO graft.db.refid VALUES (1), (2)")
    spark.sql("ALTER TABLE graft.db.refid CREATE BRANCH dev")
    spark.sql("ALTER TABLE graft.db.refid CREATE TAG v1")
    spark.sql("INSERT INTO graft.db.refid VALUES (3)") // main only
    assert(spark.sql("SELECT count(*) FROM graft.db.refid").collect()(0).getLong(0) === 3L)
    assert(spark.sql("SELECT count(*) FROM graft.db.refid.branch_dev")
      .collect()(0).getLong(0) === 2L)
    assert(spark.sql("SELECT count(*) FROM graft.db.refid.tag_v1")
      .collect()(0).getLong(0) === 2L)
    // writes to a branch identifier land on the branch, not main
    spark.sql("INSERT INTO graft.db.refid.branch_dev VALUES (10), (11)")
    assert(spark.sql("SELECT count(*) FROM graft.db.refid.branch_dev")
      .collect()(0).getLong(0) === 4L)
    assert(spark.sql("SELECT count(*) FROM graft.db.refid").collect()(0).getLong(0) === 3L)
    // tags are read-only
    intercept[Exception] {
      spark.sql("INSERT INTO graft.db.refid.tag_v1 VALUES (99)")
    }
    // row-level DML on a branch identifier stays on the branch
    spark.sql("DELETE FROM graft.db.refid.branch_dev WHERE id = 10")
    assert(spark.sql("SELECT count(*) FROM graft.db.refid.branch_dev")
      .collect()(0).getLong(0) === 3L)
    assert(spark.sql("SELECT count(*) FROM graft.db.refid").collect()(0).getLong(0) === 3L)
    spark.sql("UPDATE graft.db.refid.branch_dev SET id = 20 WHERE id = 11")
    assert(spark.sql("SELECT sum(id) FROM graft.db.refid.branch_dev")
      .collect()(0).getLong(0) === (1L + 2L + 20L))
  }

  test("branch/tag retention: DDL stores policy, expire honors it") {
    spark.sql("CREATE TABLE graft.db.reten (id BIGINT)")
    (1 to 4).foreach(i => spark.sql(s"INSERT INTO graft.db.reten VALUES ($i)"))
    spark.sql("""ALTER TABLE graft.db.reten CREATE BRANCH hist
      RETAIN 30 DAYS WITH SNAPSHOT RETENTION 3 SNAPSHOTS 10 DAYS""")
    val r = coreTable("reten").meta.refs("hist")
    assert(r.maxRefAgeMs.contains(30L * 24 * 3600 * 1000), r)
    assert(r.minSnapshotsToKeep.contains(3), r)
    assert(r.maxSnapshotAgeMs.contains(10L * 24 * 3600 * 1000), r)
    // aggressive expire: ALL snapshots qualify by time, but the branch's
    // 3-ancestor minimum plus main's head must survive
    spark.sql(
      s"CALL graft.system.expire_snapshots('db.reten', ${System.currentTimeMillis + 1000}, 1)")
    val left = coreTable("reten").meta.snapshots.map(_.snapshotId).toSet
    assert(left.size >= 3, s"expected >=3 kept, got ${left.size}")
    val anc = coreTable("reten").meta.ancestry("hist").map(_.snapshotId)
    assert(anc.take(3).forall(left), "branch retention violated")
    // tag with short RETAIN ages out on expire
    spark.sql("ALTER TABLE graft.db.reten CREATE TAG old RETAIN 0 MINUTES")
    Thread.sleep(5)
    spark.sql(
      s"CALL graft.system.expire_snapshots('db.reten', 0, ${left.size})")
    assert(!coreTable("reten").meta.refs.contains("old"), "aged-out tag kept")
  }

  test("column default values: initial-default on old files, current on insert") {
    spark.sql("CREATE TABLE graft.db.dflt (id BIGINT, v STRING DEFAULT 'seed')")
    spark.sql("INSERT INTO graft.db.dflt (id) VALUES (1)")
    assert(spark.sql("SELECT v FROM graft.db.dflt WHERE id = 1")
      .collect()(0).getString(0) === "seed")
    // add a column with a default AFTER data exists: old rows read it
    spark.sql("ALTER TABLE graft.db.dflt ADD COLUMN score INT DEFAULT 42")
    assert(spark.sql("SELECT score FROM graft.db.dflt WHERE id = 1")
      .collect()(0).getInt(0) === 42)
    // new inserts that omit the column also get it
    spark.sql("INSERT INTO graft.db.dflt (id, v) VALUES (2, 'x')")
    assert(spark.sql("SELECT score FROM graft.db.dflt WHERE id = 2")
      .collect()(0).getInt(0) === 42)
    // explicit values win, and SET DEFAULT changes only future writes
    spark.sql("ALTER TABLE graft.db.dflt ALTER COLUMN score SET DEFAULT 7")
    spark.sql("INSERT INTO graft.db.dflt (id, v) VALUES (3, 'y')")
    assert(spark.sql("SELECT score FROM graft.db.dflt WHERE id = 3")
      .collect()(0).getInt(0) === 7)
    // rows written before the column existed STILL read initial-default
    assert(spark.sql("SELECT score FROM graft.db.dflt WHERE id = 1")
      .collect()(0).getInt(0) === 42)
    // filters over defaulted columns stay correct
    assert(spark.sql("SELECT count(*) FROM graft.db.dflt WHERE score = 42")
      .collect()(0).getLong(0) === 2L)
  }

  test("session catalog delegates: graft and built-in tables in spark_catalog") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.spark_catalog",
      classOf[GraftSessionCatalog].getName)
    s2.conf.set("spark.sql.catalog.spark_catalog.warehouse", warehouse)
    s2.sql("CREATE NAMESPACE IF NOT EXISTS spark_catalog.sdb")
    // graft-provider table goes to the graft warehouse
    s2.sql("CREATE TABLE spark_catalog.sdb.gt (id BIGINT, v STRING) USING graft")
    s2.sql("INSERT INTO spark_catalog.sdb.gt VALUES (1, 'a'), (2, 'b')")
    assert(s2.sql("SELECT count(*) FROM spark_catalog.sdb.gt").collect()(0).getLong(0) === 2L)
    assert(new HadoopCatalog(warehouse).loadTable(Seq("sdb"), "gt").isDefined)
    // graft DML still works through the session catalog
    s2.sql("DELETE FROM spark_catalog.sdb.gt WHERE id = 1")
    assert(s2.sql("SELECT count(*) FROM spark_catalog.sdb.gt").collect()(0).getLong(0) === 1L)
    // non-graft table falls through to the built-in session catalog
    s2.sql("DROP TABLE IF EXISTS spark_catalog.sdb.pt")
    s2.sql("CREATE TABLE spark_catalog.sdb.pt (id BIGINT) USING parquet")
    s2.sql("INSERT INTO spark_catalog.sdb.pt VALUES (7)")
    assert(s2.sql("SELECT count(*) FROM spark_catalog.sdb.pt").collect()(0).getLong(0) === 1L)
    assert(new HadoopCatalog(warehouse).loadTable(Seq("sdb"), "pt").isEmpty)
    s2.sql("DROP TABLE IF EXISTS spark_catalog.sdb.pt")

    // CTAS routes by provider through the staging path: graft CTAS
    // stages atomically in the warehouse; parquet CTAS goes to the
    // delegate (and never creates a graft table)
    s2.sql("""CREATE TABLE spark_catalog.sdb.gt_ctas USING graft
      AS SELECT id FROM range(5)""")
    assert(s2.sql("SELECT count(*) FROM spark_catalog.sdb.gt_ctas")
      .collect()(0).getLong(0) === 5L)
    assert(new HadoopCatalog(warehouse).loadTable(Seq("sdb"), "gt_ctas").isDefined)
    s2.sql("DROP TABLE IF EXISTS spark_catalog.sdb.pt_ctas")
    s2.sql("""CREATE TABLE spark_catalog.sdb.pt_ctas USING parquet
      AS SELECT id FROM range(3)""")
    assert(s2.sql("SELECT count(*) FROM spark_catalog.sdb.pt_ctas")
      .collect()(0).getLong(0) === 3L)
    assert(new HadoopCatalog(warehouse).loadTable(Seq("sdb"), "pt_ctas").isEmpty)
    s2.sql("DROP TABLE IF EXISTS spark_catalog.sdb.pt_ctas")
  }

  test("distributed scan planning matches local planning") {
    spark.sql("""CREATE TABLE graft.db.dplan (id BIGINT, cat STRING)
      PARTITIONED BY (cat)""")
    // several appends → several manifests
    (0 until 4).foreach { i =>
      spark.range(i * 100, (i + 1) * 100)
        .selectExpr("id", "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS cat")
        .writeTo("graft.db.dplan").append()
    }
    val local = spark.sql(
      "SELECT cat, count(*) AS n, sum(id) AS s FROM graft.db.dplan GROUP BY cat ORDER BY cat")
      .collect().map(_.toString).toSeq
    // force the cluster-job planning path
    spark.conf.set("spark.graft.distributed-planning-min-bytes", "1")
    try {
      val dist = spark.sql(
        "SELECT cat, count(*) AS n, sum(id) AS s FROM graft.db.dplan GROUP BY cat ORDER BY cat")
        .collect().map(_.toString).toSeq
      assert(dist === local)
      // pruning still works through the distributed path
      val pruned = spark.sql("SELECT count(*) FROM graft.db.dplan WHERE cat = 'a'")
        .collect()(0).getLong(0)
      assert(pruned === 200L)
    } finally spark.conf.unset("spark.graft.distributed-planning-min-bytes")
  }

  test("pushdown plumbing: pushed predicates prune, spark re-filters") {
    spark.sql("CREATE TABLE graft.db.pd (id BIGINT, s STRING)")
    spark.range(0, 1000).selectExpr("id", "concat('v', id) AS s")
      .writeTo("graft.db.pd").append()
    assert(spark.sql("SELECT count(*) FROM graft.db.pd WHERE id < 100").collect()(0).getLong(0) === 100)
    assert(spark.sql("SELECT count(*) FROM graft.db.pd WHERE s = 'v42'").collect()(0).getLong(0) === 1)
    // stats-based file pruning visible at the planner level
    val plan = spark.sql("SELECT * FROM graft.db.pd WHERE id < 100").queryExecution
      .executedPlan.toString
    assert(plan.contains("BatchScan") || plan.contains("graft"))
  }

  test("runtime filtering (DPP) re-plans tasks against the runtime predicate") {
    spark.sql("""CREATE TABLE graft.db.rtf (
      id BIGINT, ts TIMESTAMP) PARTITIONED BY (days(ts))""")
    spark.sql("""INSERT INTO graft.db.rtf VALUES
      (1, TIMESTAMP '2024-03-01 10:00:00'),
      (2, TIMESTAMP '2024-03-02 10:00:00'),
      (3, TIMESTAMP '2024-03-03 10:00:00')""")
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
    import org.apache.spark.sql.connector.expressions.{Expressions => VE}
    import org.apache.spark.sql.connector.expressions.filter.{Predicate => VP}
    import org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[TableCatalog]
    val tbl = cat.loadTable(Identifier.of(Array("db"), "rtf"))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
    val scan = tbl.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(new java.util.HashMap()))
      .build()
    assert(scan.toBatch.planInputPartitions().length === 3)
    // Spark hands the DPP subquery result to the scan as a predicate on
    // the partition source column; the scan must re-plan, not append
    val rf = scan.asInstanceOf[SupportsRuntimeV2Filtering]
    assert(rf.filterAttributes().map(_.describe()).toSeq === Seq("ts"))
    val micros = java.time.Instant.parse("2024-03-02T10:00:00Z").getEpochSecond * 1000000L
    rf.filter(Array(new VP("=", Array(VE.column("ts"),
      VE.literal(micros).asInstanceOf[org.apache.spark.sql.connector.expressions.Expression]))))
    assert(scan.toBatch.planInputPartitions().length === 1)
  }

  test("v4 relative locations: copied table re-registers and reads, deletes intact") {
    spark.sql("""CREATE TABLE graft.db.relo (
      id BIGINT, grp STRING) PARTITIONED BY (grp)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.range(0, 100).selectExpr("id", "concat('g', id % 2) AS grp")
      .writeTo("graft.db.relo").append()
    spark.sql("DELETE FROM graft.db.relo WHERE id % 10 = 3") // MoR position deletes
    assert(spark.sql("SELECT count(*) FROM graft.db.relo").collect()(0).getLong(0) === 90L)

    // tracked paths under the table location are stored RELATIVE
    val srcDir = s"$warehouse/db/relo"
    val metaJson = graft.core.meta.GraftIO.list(s"$srcDir/metadata")
      .filter(_.endsWith(".metadata.json")).max
    assert(!graft.core.meta.GraftIO.readString(metaJson).contains(s"$srcDir/metadata"),
      "metadata must not embed absolute tracked paths under the table location")

    // relocate: a plain directory copy IS a usable table — no metadata
    // rewrite, no re-registration (the directory catalog discovers it;
    // every tracked path re-roots under the new home on read)
    val dstDir = s"$warehouse/db/relo_copy"
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(srcDir), new java.io.File(dstDir))

    // reads come from the NEW location with position deletes still applied
    // the deletion index must match the re-rooted referenced data files
    val tasks = coreTable("relo_copy").newScan().planFiles()
    assert(tasks.exists(_.deletes.nonEmpty), "expected deletes attached after relocation")
    assert(spark.sql("SELECT count(*) FROM graft.db.relo_copy")
      .collect()(0).getLong(0) === 90L)
    // ids ending in 3 are all odd, so every deleted row was in g1
    assert(spark.sql("SELECT count(*) FROM graft.db.relo_copy WHERE grp = 'g1'")
      .collect()(0).getLong(0) === 40L)
    // and the copy is independent: drop the ORIGINAL, copy still reads
    spark.sql("DROP TABLE graft.db.relo")
    assert(spark.sql("SELECT sum(id) FROM graft.db.relo_copy")
      .collect()(0).getLong(0) === (0L until 100L).filterNot(_ % 10 == 3).sum)

    // the changelog scan reads the same position deletes through the same
    // suffix matching: each deleted row is reported once
    assert(spark.sql("""SELECT count(*) FROM graft.db.relo_copy.changes
      WHERE _change_type = 'DELETE'""").collect()(0).getLong(0) === 10L)

    // compacting the RELOCATED copy applies its position deletes through
    // the suffix-canonical matching (the delete content still references
    // the original absolute paths) — deleted rows must not resurrect
    spark.sql("CALL graft.system.rewrite_data_files('db.relo_copy')")
    assert(spark.sql("SELECT count(*) FROM graft.db.relo_copy")
      .collect()(0).getLong(0) === 90L)
    assert(spark.sql("SELECT sum(id) FROM graft.db.relo_copy")
      .collect()(0).getLong(0) === (0L until 100L).filterNot(_ % 10 == 3).sum)
    // and the rewrite dropped the applied position deletes
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.relo_copy.delete_files").collect()(0).getLong(0) === 0L)
  }

  test("MERGE with NOT MATCHED BY SOURCE DELETE on MoR table") {
    spark.sql("""CREATE TABLE graft.db.mrgnb (id BIGINT, v STRING)
      TBLPROPERTIES ('write.merge.mode'='merge-on-read')""")
    spark.sql("INSERT INTO graft.db.mrgnb VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.range(2, 4).selectExpr("id", "concat('s', id) AS v")
      .createOrReplaceTempView("mrgnb_src")
    spark.sql("""MERGE INTO graft.db.mrgnb t USING mrgnb_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)
      WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    assert(spark.sql("SELECT id, v FROM graft.db.mrgnb ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((2L, "s2"), (3L, "s3")))
  }

  test("variant read-side shredding: mat fast path, binary fallback, deletes") {
    // file 1 written BEFORE the shred spec exists → no materialized
    // column → per-row binary fallback; files 2/3 carry the typed column
    spark.sql("CREATE TABLE graft.db.vshred_rs (id BIGINT, payload VARIANT)")
    spark.sql("""INSERT INTO graft.db.vshred_rs
      SELECT 1L, parse_json('{"a": 10, "b": "x"}')""")
    spark.sql("""ALTER TABLE graft.db.vshred_rs
      SET TBLPROPERTIES ('write.variant.shred.payload'='$.a:bigint')""")
    spark.sql("""INSERT INTO graft.db.vshred_rs
      SELECT 2L, parse_json('{"a": 20, "b": "y"}')""")
    spark.sql("""INSERT INTO graft.db.vshred_rs
      SELECT 3L, parse_json('{"b": "z"}')""")

    val df = spark.sql("""SELECT id,
        graft.system.variant_get_long(payload, '$.a') AS a
      FROM graft.db.vshred_rs ORDER BY id""")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("_shred_payload_a"),
      "shredded column did not serve the read:\n" + plan)
    assert(!plan.contains("variant_get_long"),
      "variant_get_long still evaluated per row:\n" + plan)
    assert(df.collect().map(r =>
      (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1))).toSeq ===
      Seq((1L, 10L), (2L, 20L), (3L, null)))

    // the hidden column stays hidden from star expansion
    assert(spark.sql("SELECT * FROM graft.db.vshred_rs").columns.toSeq ===
      Seq("id", "payload"))

    // filter across mat and legacy files (prunes via shred stats where
    // present, Spark re-filters post-scan)
    assert(spark.sql("""SELECT id FROM graft.db.vshred_rs
        WHERE graft.system.variant_get_long(payload, '$.a') >= 15
        ORDER BY id""").collect().map(_.getLong(0)).toSeq === Seq(2L))

    // MoR delete: the delete-aware (no-filter) read path serves shreds too
    spark.sql("""ALTER TABLE graft.db.vshred_rs
      SET TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.sql("DELETE FROM graft.db.vshred_rs WHERE id = 2")
    assert(spark.sql("""SELECT id,
        graft.system.variant_get_long(payload, '$.a') AS a
      FROM graft.db.vshred_rs ORDER BY id""").collect().map(r =>
      (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1))).toSeq ===
      Seq((1L, 10L), (3L, null)))

    // CoW DML whose condition is a rewritten variant_get: the row-level
    // rewrite reads the shred metadata column, and the rewritten files
    // re-materialize it for later scans
    spark.sql("""CREATE TABLE graft.db.vshred_cow (id BIGINT, payload VARIANT)
      TBLPROPERTIES ('write.variant.shred.payload'='$.a:bigint')""")
    spark.sql("""INSERT INTO graft.db.vshred_cow SELECT
      id, parse_json(concat('{"a": ', id * 10, '}')) FROM range(1, 5)""")
    spark.sql("""DELETE FROM graft.db.vshred_cow
      WHERE graft.system.variant_get_long(payload, '$.a') >= 30""")
    assert(spark.sql("""SELECT id,
        graft.system.variant_get_long(payload, '$.a') AS a
      FROM graft.db.vshred_cow ORDER BY id""").collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 10L), (2L, 20L)))
  }

  test("commit_reports metadata table records commit outcomes") {
    spark.sql("CREATE TABLE graft.db.crep (id BIGINT)")
    spark.range(0, 10).writeTo("graft.db.crep").append()
    spark.range(10, 20).writeTo("graft.db.crep").append()
    spark.sql("DELETE FROM graft.db.crep WHERE id < 5")
    val reports = spark.sql("""SELECT operation, branch, attempts, summary
      FROM graft.db.crep.commit_reports""").collect()
    assert(reports.length >= 3) // newest first: delete, append, append
    assert(reports.forall(_.getInt(2) >= 1))
    assert(reports.forall(_.getString(1) === "main"))
    val ops = reports.map(_.getString(0)).toSeq
    assert(ops.count(_ == "append") === 2)
    // appends carry added-file/record summary counts
    val appendSummary = reports.find(_.getString(0) == "append").get
      .getMap[String, String](3)
    assert(appendSummary.get("added-records").contains("10"))
  }

  test("merge-schema write: new column, widened column, by-name subset") {
    import org.apache.spark.sql.functions._
    spark.sql("""CREATE TABLE graft.db.msch (
      id BIGINT, cat STRING, qty INT) PARTITIONED BY (cat)
      TBLPROPERTIES ('write.spark.accept-any-schema'='true')""")
    spark.sql("""INSERT INTO graft.db.msch VALUES
      (1, 'a', 10), (2, 'b', 20)""")

    // a new column arrives + qty widens int -> long
    val evolved = spark.range(3, 5)
      .withColumn("cat", lit("c"))
      .withColumn("qty", col("id") * 100)           // LongType: widens
      .withColumn("score", col("id").cast("double")) // brand new
    evolved.writeTo("graft.db.msch").option("merge-schema", "true").append()

    val t = coreTable("msch")
    assert(t.schema.fields.map(_.name) === Seq("id", "cat", "qty", "score"))
    assert(t.schema.findField("qty").get.tpe === graft.core.types.GLong)
    val newId = t.schema.findField("score").get.id
    assert(newId > 0 && t.schema.fields.map(_.id).distinct.length === 4)

    // old rows read null for the new column; widened column reads fine
    val rows = spark.sql(
      "SELECT id, qty, score FROM graft.db.msch ORDER BY id").collect()
    assert(rows.length === 4)
    assert(rows(0).getLong(1) === 10L && rows(0).isNullAt(2))
    assert(rows(3).getLong(1) === 400L && rows(3).getDouble(2) === 4.0)

    // by-name SUBSET + reordered write (accept-any-schema, no merge):
    // missing optional columns read back null
    spark.createDataFrame(Seq(("d", 9L))).toDF("cat", "id")
      .writeTo("graft.db.msch").append()
    val sub = spark.sql(
      "SELECT id, cat, qty, score FROM graft.db.msch WHERE cat = 'd'").collect()
    assert(sub.length === 1)
    assert(sub(0).getLong(0) === 9L && sub(0).isNullAt(2) && sub(0).isNullAt(3))

    // narrower dataset type (int into the widened long column) writes a
    // pre-promotion-shaped file that reads back as long
    val narrow = spark.range(6, 7).withColumn("cat", lit("e"))
      .withColumn("qty", lit(7))   // IntegerType into LongType column
      .select("id", "cat", "qty")
    narrow.writeTo("graft.db.msch").option("merge-schema", "true").append()
    val nr = spark.sql("SELECT qty FROM graft.db.msch WHERE cat = 'e'").collect()
    assert(nr.length === 1 && nr(0).getLong(0) === 7L)

    // without merge-schema, an unknown column is rejected
    val extra = spark.range(7, 8).withColumn("cat", lit("f"))
      .withColumn("mystery", lit(1L))
    val e2 = intercept[Exception] { extra.writeTo("graft.db.msch").append() }
    assert(e2.getMessage.contains("mystery") ||
      e2.getMessage.contains("not in the table schema"))
  }

  test("format-version 3 tables default MoR deletes to deletion vectors") {
    spark.sql("""CREATE TABLE graft.db.fv3 (id BIGINT, v STRING)
      TBLPROPERTIES ('format-version'='3',
                     'write.delete.mode'='merge-on-read')""")
    assert(coreTable("fv3").meta.formatVersion === 3)
    spark.range(0, 100).selectExpr("id", "concat('v', id) AS v")
      .writeTo("graft.db.fv3").append()
    spark.sql("DELETE FROM graft.db.fv3 WHERE id % 4 = 0")
    // the delta landed as a roaring deletion vector, not a parquet file
    val dels = spark.sql(
      "SELECT file_format, file_path FROM graft.db.fv3.delete_files").collect()
    assert(dels.nonEmpty && dels.forall(_.getString(0) == "dv"), dels.mkString)
    assert(spark.sql("SELECT count(*) FROM graft.db.fv3").head().getLong(0) === 75L)

    // v2 table upgrades via the reserved property; downgrade is rejected
    spark.sql("CREATE TABLE graft.db.fv2 (id BIGINT)")
    assert(coreTable("fv2").meta.formatVersion === 2)
    spark.sql("ALTER TABLE graft.db.fv2 SET TBLPROPERTIES ('format-version'='3')")
    assert(coreTable("fv2").meta.formatVersion === 3)
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.db.fv2 SET TBLPROPERTIES ('format-version'='2')")
    }
  }

  test("scan planning funnel surfaces as DSv2 custom metrics") {
    spark.sql("""CREATE TABLE graft.db.cmx (id BIGINT, ts TIMESTAMP)
      PARTITIONED BY (days(ts))""")
    spark.sql("""INSERT INTO graft.db.cmx VALUES
      (1, TIMESTAMP '2024-03-01 10:00:00'), (2, TIMESTAMP '2024-03-02 10:00:00'),
      (3, TIMESTAMP '2024-03-03 10:00:00')""")
    val df = spark.table("graft.db.cmx")
      .filter(org.apache.spark.sql.functions.col("ts") >=
        org.apache.spark.sql.functions.lit("2024-03-03 00:00:00").cast("timestamp"))
    assert(df.count() === 1)
    df.collect()
    val scanExec = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head
    val m = scanExec.metrics
    assert(m.contains("resultDataFiles") && m.contains("skippedDataFiles") &&
      m.contains("totalPlanningDuration"), s"metrics: ${m.keys}")
    assert(m("resultDataFiles").value >= 1)
    assert(m("skippedDataFiles").value >= 1) // day pruning skipped files
  }

  test("rewrite_data_files with a where filter compacts only matching files") {
    spark.sql("CREATE TABLE graft.db.rwf (id BIGINT, cat STRING) PARTITIONED BY (cat)")
    for (i <- 0 until 2) {
      spark.range(i * 10, i * 10 + 10).selectExpr("id", "'a' AS cat")
        .writeTo("graft.db.rwf").append()
      spark.range(i * 10, i * 10 + 10).selectExpr("id", "'b' AS cat")
        .writeTo("graft.db.rwf").append()
    }
    def filesPer: Map[String, Long] = spark.sql(
      "SELECT CAST(partition AS STRING), count(*) FROM graft.db.rwf.files GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      .map { case (k, v) => k.split("=").last.replaceAll("[^a-z]", "") -> v }
    assert(filesPer === Map("a" -> 2L, "b" -> 2L))
    // filtered rewrite: only partition 'a' compacts
    spark.sql("CALL graft.system.rewrite_data_files(" +
      "'db.rwf', 'binpack', '', 536870912, 2, false, 10, \"cat = 'a'\")")
    assert(filesPer === Map("a" -> 1L, "b" -> 2L))
    assert(spark.sql("SELECT count(*) FROM graft.db.rwf").head().getLong(0) === 40L)
    // an unsupported where is rejected, not silently widened
    intercept[Exception] {
      spark.sql("CALL graft.system.rewrite_data_files(" +
        "'db.rwf', 'binpack', '', 536870912, 2, false, 10, \"length(cat) = 1\")")
    }
  }

  test("equality deletes apply inside vectorized batches") {
    import org.apache.spark.sql.functions._
    spark.sql("""CREATE TABLE graft.db.eqv (id BIGINT, grp STRING, v DOUBLE)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read',
                     'write.delete.equality-enabled'='true')""")
    spark.sql("CALL graft.system.set_identifier_fields('db.eqv', 'id')")
    spark.range(0, 1000)
      .selectExpr("id", "concat('g', id % 7) AS grp", "id * 1.5 AS v")
      .writeTo("graft.db.eqv").append()
    spark.sql("DELETE FROM graft.db.eqv WHERE id % 10 = 3")
    // the deletes really are equality deletes (content code 2)
    val dels = spark.sql("SELECT content FROM graft.db.eqv.delete_files").collect()
    assert(dels.nonEmpty && dels.forall(_.getInt(0) === 2))

    // the masked scan stays on the vectorized path...
    val df = spark.table("graft.db.eqv").filter(col("id") < 500)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), s"expected a vectorized scan:\n$plan")
    // ...and masks correctly: 50 of the 500 ids end in 3
    assert(df.count() === 450)
    assert(spark.table("graft.db.eqv").count() === 900)

    // task metrics: the masked rows surface as numDeletes in the UI
    val dfm = spark.table("graft.db.eqv")
    dfm.collect()
    val mScan = dfm.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head.metrics
    assert(mScan.contains("numDeletes") && mScan("numDeletes").value === 100L,
      s"numDeletes: ${mScan.get("numDeletes").map(_.value)}")
    assert(mScan("numSplits").value >= 1)

    // a projection that does NOT include the key column still masks
    // (the key rides along as a dropped trailing batch column)
    val got = spark.table("graft.db.eqv").agg(sum("v")).head().getDouble(0)
    val expect = (0L until 1000L).filterNot(_ % 10 == 3).map(_ * 1.5).sum
    assert(math.abs(got - expect) < 1e-6)

    // eq + position deletes on the same file mask together
    spark.sql("ALTER TABLE graft.db.eqv UNSET TBLPROPERTIES ('write.delete.equality-enabled')")
    spark.sql("DELETE FROM graft.db.eqv WHERE id = 4")
    assert(spark.table("graft.db.eqv").count() === 899)
    val all = spark.table("graft.db.eqv").select("id").collect().map(_.getLong(0)).toSet
    assert(!all.contains(4L) && !all.contains(3L) && all.contains(5L))
  }

  test("merge-schema write: nested struct gains a field") {
    import org.apache.spark.sql.functions._
    spark.sql("""CREATE TABLE graft.db.msch_n (
      id BIGINT, info STRUCT<a: STRING, b: BIGINT>)
      TBLPROPERTIES ('write.spark.accept-any-schema'='true')""")
    spark.sql(
      "INSERT INTO graft.db.msch_n VALUES (1, named_struct('a', 'x', 'b', 2L))")

    spark.range(2, 3)
      .withColumn("info", struct(lit("y").as("a"), lit(3L).as("b"),
        lit(1.5).as("c")))
      .writeTo("graft.db.msch_n").option("merge-schema", "true").append()

    val t = coreTable("msch_n")
    val info = t.schema.findField("info").get.tpe
      .asInstanceOf[graft.core.types.GStruct]
    assert(info.fields.map(_.name) === Seq("a", "b", "c"))

    val rows = spark.sql(
      "SELECT id, info.a, info.c FROM graft.db.msch_n ORDER BY id").collect()
    assert(rows(0).getString(1) === "x" && rows(0).isNullAt(2))
    assert(rows(1).getString(1) === "y" && rows(1).getDouble(2) === 1.5)
  }

  test("write.delete.granularity=file scopes position deletes per data file") {
    spark.sql("""CREATE TABLE graft.db.delgran (id BIGINT, data STRING)
      TBLPROPERTIES ('write.merge.mode'='merge-on-read',
        'write.delete.mode'='merge-on-read',
        'write.delete.granularity'='file')""")
    // two appends of ONE file each (coalesce(1)), so the delete hits a
    // strict subset of every file — a metadata-only delete is impossible
    // and the MoR delta path must write position deletes
    import org.apache.spark.sql.functions.{col => fcol, concat, lit => flit}
    spark.range(1, 3).select(fcol("id"), concat(flit("d"), fcol("id")).as("data"))
      .coalesce(1).writeTo("graft.db.delgran").append()
    spark.range(3, 5).select(fcol("id"), concat(flit("d"), fcol("id")).as("data"))
      .coalesce(1).writeTo("graft.db.delgran").append()
    spark.sql("DELETE FROM graft.db.delgran WHERE id IN (1, 3)")

    val t = coreTable("delgran")
    val dels = t.meta.currentSnapshot.map { sn =>
      graft.core.meta.ManifestIO.readList(sn.manifestListPath)
        .filter(_.content == 1)
        .flatMap(mf => graft.core.meta.ManifestIO.readEntries(mf))
        .filter(_.isLive).map(_.file)
    }.getOrElse(Nil)
    // file granularity: one position-delete file per touched data file,
    // each carrying its referenced-data-file pointer
    assert(dels.size === 2, s"expected 2 file-scoped delete files: $dels")
    assert(dels.forall(_.referencedDataFile.isDefined))
    assert(dels.map(_.referencedDataFile.get).distinct.size === 2)
    assert(spark.sql("SELECT id FROM graft.db.delgran ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(2L, 4L))
  }

  test("read options: versionAsOf/timestampAsOf/tag/split-size; write-format") {
    spark.sql("CREATE TABLE graft.db.ropt (id BIGINT)")
    spark.sql("INSERT INTO graft.db.ropt VALUES (1)")
    val t1 = coreTable("ropt")
    val snap1 = t1.meta.currentSnapshot.get.snapshotId
    val ts1 = System.currentTimeMillis()
    spark.sql(s"ALTER TABLE graft.db.ropt CREATE TAG v1")
    Thread.sleep(5)
    spark.sql("INSERT INTO graft.db.ropt VALUES (2), (3)")

    // Spark's analyzer owns these two option spellings: it parses them
    // (timestampAsOf as a castable timestamp string) and routes to the
    // catalog's time-travel loadTable overloads
    assert(spark.read.option("versionAsOf", snap1.toString)
      .table("graft.db.ropt").count() === 1)
    val tsStr = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(ts1))
    assert(spark.read.option("timestampAsOf", tsStr)
      .table("graft.db.ropt").count() === 1)
    assert(spark.read.option("tag", "v1").table("graft.db.ropt").count() === 1)
    // split-size forces one input partition per file-ish byte range;
    // just assert the scan still returns correct rows with a tiny target
    assert(spark.read.option("split-size", "1024")
      .option("file-open-cost", "1").table("graft.db.ropt").count() === 3)

    // per-write format override beats write.format.default
    spark.range(2).selectExpr("id")
      .writeTo("graft.db.ropt").option("write-format", "orc").append()
    val formats = spark.sql(
      "SELECT DISTINCT file_format FROM graft.db.ropt.files").collect()
      .map(_.getString(0)).toSet
    assert(formats === Set("parquet", "orc"))
    assert(spark.table("graft.db.ropt").count() === 5)

    // per-write codec override: the new parquet file's footer says gzip
    spark.range(5, 6).selectExpr("id")
      .writeTo("graft.db.ropt").option("compression-codec", "gzip").append()
    val gzFile = spark.sql("""SELECT file_path FROM graft.db.ropt.files
      WHERE file_format = 'parquet' ORDER BY file_path""").collect()
      .map(_.getString(0)).find { p =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path("file://" + p),
            new org.apache.hadoop.conf.Configuration()))
        try rd.getFooter.getBlocks.get(0).getColumns.get(0).getCodec.name
          .equalsIgnoreCase("gzip")
        finally rd.close()
      }
    assert(gzFile.isDefined, "no gzip-compressed parquet file written")

    // vectorization toggle changes the plan, not the rows
    assert(spark.read.option("vectorization-enabled", "false")
      .table("graft.db.ropt").count() === 6)
  }

  test("DROP TABLE PURGE deletes the tree; plain DROP keeps data; gc guard") {
    spark.sql("""CREATE TABLE graft.db.purge_ok (id BIGINT)""")
    spark.sql("INSERT INTO graft.db.purge_ok VALUES (1)")
    val loc = coreTable("purge_ok").location
    spark.sql("DROP TABLE graft.db.purge_ok PURGE")
    assert(!graft.core.meta.GraftIO.exists(loc))

    spark.sql("""CREATE TABLE graft.db.purge_no (id BIGINT)
      TBLPROPERTIES ('gc.enabled'='false')""")
    spark.sql("INSERT INTO graft.db.purge_no VALUES (7)")
    val loc2 = coreTable("purge_no").location
    val e = intercept[Exception](spark.sql("DROP TABLE graft.db.purge_no PURGE"))
    assert(e.getMessage.contains("gc.enabled"))
    assert(spark.sql("SELECT count(*) FROM graft.db.purge_no").head().getLong(0) === 1)
    // plain DROP removes the identity but leaves the data files —
    // that is the protection gc.enabled=false promises external readers
    spark.sql("DROP TABLE graft.db.purge_no")
    assert(!graft.core.meta.GraftIO.exists(s"$loc2/metadata"))
    assert(graft.core.meta.GraftIO.walkFiles(s"$loc2/data").nonEmpty)
  }

  test("write.metadata.compression-codec=gzip compresses metadata and manifests") {
    spark.sql("""CREATE TABLE graft.db.gzmeta (id BIGINT, data STRING)
      TBLPROPERTIES ('write.metadata.compression-codec'='gzip')""")
    spark.range(4).selectExpr("id", "cast(id as string) as data")
      .writeTo("graft.db.gzmeta").append()
    spark.sql("DELETE FROM graft.db.gzmeta WHERE id = 1")

    def isGzip(p: String): Boolean = {
      val in = new java.io.FileInputStream(p)
      try { val a = in.read(); val b = in.read(); a == 0x1f && b == 0x8b }
      finally in.close()
    }
    val t = coreTable("gzmeta")
    val mdir = s"${t.location}/metadata"
    // every JSON document — metadata versions, manifest lists, manifests —
    // is gzip on disk (the property arrives with CREATE, so v1 included)
    val all = graft.core.meta.GraftIO.list(mdir).filter(_.endsWith(".json"))
    assert(all.size >= 5, s"expected metadata tree, got $all")
    assert(all.forall(isGzip), s"uncompressed metadata left: ${all.filterNot(isGzip)}")
    // reads stay transparent: rows, metadata tables, compaction
    assert(spark.table("graft.db.gzmeta").count() === 3)
    spark.sql("CALL graft.system.rewrite_manifests('db.gzmeta')")
    assert(spark.table("graft.db.gzmeta").count() === 3)
    assert(spark.sql("SELECT count(*) FROM graft.db.gzmeta.files").head().getLong(0) >= 1)
  }

  test("snapshot-property write options land in the snapshot summary") {
    spark.sql("CREATE TABLE graft.db.sprop (id BIGINT, data STRING)")
    spark.range(3).selectExpr("id", "cast(id as string) as data")
      .writeTo("graft.db.sprop")
      .option("snapshot-property.job-id", "run-42")
      .option("snapshot-property.source", "unit")
      .append()
    val sum = coreTable("sprop").meta.currentSnapshot.get.summary
    assert(sum.get("job-id") === Some("run-42"))
    assert(sum.get("source") === Some("unit"))
    // totals computed by the commit itself are present alongside
    assert(sum.get("total-records") === Some("3"))
  }

  test("metadata_log_entries lists previous metadata files with latest snapshots") {
    spark.sql("CREATE TABLE graft.db.mlog (id BIGINT, data STRING)")
    spark.sql("INSERT INTO graft.db.mlog VALUES (1, 'a')")
    spark.sql("INSERT INTO graft.db.mlog VALUES (2, 'b')")

    val rows = spark.sql("""SELECT file, latest_snapshot_id
      FROM graft.db.mlog.metadata_log_entries ORDER BY timestamp""").collect()
    // create + 2 inserts = v1, v2 previous + v3 current
    assert(rows.length === 3)
    assert(rows.map(_.getString(0)).forall(_.endsWith(".metadata.json")))
    assert(rows(0).isNullAt(1)) // pre-first-snapshot document
    val snaps = spark.sql(
      "SELECT snapshot_id FROM graft.db.mlog.snapshots ORDER BY committed_at")
      .collect().map(_.getLong(0))
    assert(rows(1).getLong(1) === snaps(0)) // v2 was current at snapshot 1
    assert(rows(2).getLong(1) === snaps(1)) // current doc carries snapshot 2
    // reference MetadataLogEntriesTable also serves the latest snapshot's
    // schema id + sequence number
    val extra = spark.sql("""SELECT latest_schema_id, latest_sequence_number
      FROM graft.db.mlog.metadata_log_entries ORDER BY timestamp""").collect()
    assert(extra(0).isNullAt(1))
    assert(extra(1).getLong(1) === 1L && extra(2).getLong(1) === 2L)
  }

  test("executor cache: repeated scans parse each DV container once") {
    spark.sql("""CREATE TABLE graft.db.dvc (id BIGINT, v STRING)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read',
                     'write.delete.format'='dv')""")
    spark.range(0, 500).selectExpr("id", "cast(id as string) as v")
      .writeTo("graft.db.dvc").append()
    spark.sql("DELETE FROM graft.db.dvc WHERE id % 10 = 3")
    assert(spark.table("graft.db.dvc").count() === 450)
    // warm: the first scan above parsed each DV exactly once per JVM;
    // subsequent scans must hit the executor cache, not re-read the file
    val before = graft.core.meta.DVIO.readCount.get()
    assert(spark.table("graft.db.dvc").count() === 450)
    assert(spark.sql("SELECT sum(id) FROM graft.db.dvc").head().getLong(0) ===
      (0L until 500L).filter(_ % 10 != 3).sum)
    assert(graft.core.meta.DVIO.readCount.get() === before,
      "DV containers were re-read despite the executor cache")
  }

  test("invalidateCache: out-of-band drops become visible to the session") {
    spark.sql("CREATE TABLE graft.db.oob (id BIGINT)")
    spark.sql("INSERT INTO graft.db.oob VALUES (1)")
    assert(spark.table("graft.db.oob").count() === 1)
    // drop through a FOREIGN catalog instance (the r7 gate-wipe pattern):
    // the session catalog's TTL cache still believes the table exists
    new HadoopCatalog(warehouse).dropTable(Seq("db"), "oob")
    val g = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
    g.invalidateCache()
    // with the cache invalidated, re-creating under the same name works
    // inside the same JVM (previously: "table already exists" cascade)
    spark.sql("CREATE TABLE graft.db.oob (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.db.oob VALUES (2, 'x')")
    assert(spark.table("graft.db.oob").collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("v3 DV invariant: consecutive MoR deletes merge to one DV per file") {
    spark.sql("""CREATE TABLE graft.db.dvm (id BIGINT, v STRING)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read',
                     'write.delete.format'='dv')""")
    spark.range(0, 100).selectExpr("id", "concat('v', id) AS v")
      .writeTo("graft.db.dvm").append()
    spark.sql("DELETE FROM graft.db.dvm WHERE id < 10")
    spark.sql("DELETE FROM graft.db.dvm WHERE id >= 90")
    // spec v3: at most ONE deletion vector per data file in a snapshot —
    // the second commit must union with the first file's DV and drop it
    val tasks = coreTable("dvm").newScan().planFiles()
    val byData = tasks.filter(_.deletes.nonEmpty)
      .map(t => t.file.path -> t.deletes.map(_.path).distinct)
    assert(byData.nonEmpty)
    byData.foreach { case (data, dvs) =>
      assert(dvs.size === 1, s"$data carries stacked DVs: $dvs")
    }
    // merged cardinality is visible in metadata and the masked read
    val delCard = spark.sql(
      "SELECT CAST(SUM(record_count) AS BIGINT) FROM graft.db.dvm.delete_files")
      .head().getLong(0)
    assert(delCard === 20L)
    assert(spark.sql("SELECT count(*) FROM graft.db.dvm").head().getLong(0) === 80L)
    assert(spark.sql("SELECT CAST(sum(id) AS BIGINT) FROM graft.db.dvm")
      .head().getLong(0) === (10L until 90L).sum)
  }

  test("rewrite_position_deletes emits DVs on v3 tables") {
    // a v2 table accumulates parquet position deletes, then upgrades to
    // v3: the spec forbids ADDING position-delete files to v3 tables and
    // requires compaction to rewrite them as deletion vectors
    spark.sql("""CREATE TABLE graft.db.rpd3 (id BIGINT, v STRING)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.range(0, 100).selectExpr("id", "concat('v', id) AS v")
      .writeTo("graft.db.rpd3").append()
    spark.sql("DELETE FROM graft.db.rpd3 WHERE id % 5 = 0")
    spark.sql("DELETE FROM graft.db.rpd3 WHERE id % 7 = 0")
    val fmtsBefore = spark.sql(
      "SELECT DISTINCT file_format FROM graft.db.rpd3.delete_files")
      .collect().map(_.getString(0)).toSet
    assert(fmtsBefore === Set("parquet"))
    spark.sql("ALTER TABLE graft.db.rpd3 SET TBLPROPERTIES ('format-version'='3')")
    spark.sql("CALL graft.system.rewrite_position_deletes('db.rpd3')")
    val fmtsAfter = spark.sql(
      "SELECT DISTINCT file_format FROM graft.db.rpd3.delete_files")
      .collect().map(_.getString(0)).toSet
    assert(fmtsAfter === Set("dv"), s"expected DV output, got $fmtsAfter")
    // 100/5 + 100/7 - overlap(0,35,70) = 20 + 15 - 3 → 32 masked rows
    assert(spark.sql("SELECT count(*) FROM graft.db.rpd3").head().getLong(0) === 68L)
    assert(spark.sql(
      "SELECT CAST(SUM(record_count) AS BIGINT) FROM graft.db.rpd3.delete_files")
      .head().getLong(0) === 32L)
  }

  test("retiring a data file retires its DV in the same commit") {
    spark.sql("""CREATE TABLE graft.db.dvret (id BIGINT, v STRING)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read',
                     'write.delete.format'='dv')""")
    spark.range(0, 60).selectExpr("id", "concat('v', id) AS v")
      .writeTo("graft.db.dvret").append()
    spark.range(60, 120).selectExpr("id", "concat('v', id) AS v")
      .writeTo("graft.db.dvret").append()
    spark.sql("DELETE FROM graft.db.dvret WHERE id % 3 = 1")
    assert(spark.sql("SELECT count(*) FROM graft.db.dvret.delete_files")
      .head().getLong(0) >= 1L)
    // compaction rewrites the data files (applying the DV masks); spec
    // v3 requires the same commit to drop the DVs that referenced them —
    // no dangling delete files, no remove_dangling_deletes needed
    spark.sql("CALL graft.system.rewrite_data_files('db.dvret')")
    assert(spark.sql("SELECT count(*) FROM graft.db.dvret.delete_files")
      .head().getLong(0) === 0L,
      "DVs referencing rewritten data files survived the rewrite commit")
    assert(spark.sql("SELECT count(*) FROM graft.db.dvret").head().getLong(0) === 80L)
    assert(spark.sql("SELECT CAST(sum(id) AS BIGINT) FROM graft.db.dvret")
      .head().getLong(0) === (0L until 120L).filter(_ % 3 != 1).sum)
  }

  test("MoR UPDATE on a dv table writes DVs and upholds the merge invariant") {
    spark.sql("""CREATE TABLE graft.db.dvup (id BIGINT, v STRING)
      TBLPROPERTIES ('write.update.mode'='merge-on-read',
                     'write.delete.mode'='merge-on-read',
                     'write.delete.format'='dv')""")
    spark.range(0, 100).selectExpr("id", "concat('v', id) AS v")
      .writeTo("graft.db.dvup").append()
    // two UPDATEs with overlapping ranges: each masks old row versions
    // via DVs; the second commit must merge into the first file's vector
    spark.sql("UPDATE graft.db.dvup SET v = concat(v, '+a') WHERE id < 30")
    spark.sql("UPDATE graft.db.dvup SET v = concat(v, '+b') WHERE id >= 20 AND id < 40")
    val dels = spark.sql(
      "SELECT file_format, content_offset FROM graft.db.dvup.delete_files").collect()
    assert(dels.nonEmpty && dels.forall(_.getString(0) == "dv"), dels.mkString)
    assert(dels.forall(!_.isNullAt(1)), "DV entries missing content_offset")
    val tasks = coreTable("dvup").newScan().planFiles()
    tasks.filter(_.deletes.nonEmpty).foreach { ft =>
      assert(ft.deletes.map(_.path).distinct.size === 1,
        s"stacked DVs on ${ft.file.path}")
    }
    assert(spark.sql("SELECT count(*) FROM graft.db.dvup").head().getLong(0) === 100L)
    val rows = spark.sql("SELECT id, v FROM graft.db.dvup ORDER BY id").collect()
    assert(rows(5).getString(1) === "v5+a")
    assert(rows(25).getString(1) === "v25+a+b")
    assert(rows(35).getString(1) === "v35+b")
    assert(rows(50).getString(1) === "v50")
  }

  test("MERGE INTO a dv table routes its deletes through DVs") {
    spark.sql("""CREATE TABLE graft.db.dvmg (id BIGINT, v STRING)
      TBLPROPERTIES ('write.merge.mode'='merge-on-read',
                     'write.delete.format'='dv')""")
    spark.range(0, 50).selectExpr("id", "concat('v', id) AS v")
      .writeTo("graft.db.dvmg").append()
    spark.range(40, 60).selectExpr("id", "concat('n', id) AS v")
      .createOrReplaceTempView("dvmg_src")
    spark.sql("""MERGE INTO graft.db.dvmg t USING dvmg_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val fmts = spark.sql(
      "SELECT DISTINCT file_format FROM graft.db.dvmg.delete_files")
      .collect().map(_.getString(0)).toSet
    assert(fmts === Set("dv"), s"MERGE wrote non-DV deletes: $fmts")
    assert(spark.sql("SELECT count(*) FROM graft.db.dvmg").head().getLong(0) === 60L)
    val vs = spark.sql("SELECT v FROM graft.db.dvmg ORDER BY id").collect()
    assert(vs(39).getString(0) === "v39")
    assert(vs(45).getString(0) === "n45") // matched → updated
    assert(vs(55).getString(0) === "n55") // unmatched → inserted
  }

  test("changelog reads deletes recorded as deletion vectors") {
    spark.sql("""CREATE TABLE graft.db.dvcdc (id BIGINT, v STRING)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read',
                     'write.delete.format'='dv')""")
    spark.range(0, 30).selectExpr("id", "concat('v', id) AS v")
      .writeTo("graft.db.dvcdc").append()
    spark.sql("DELETE FROM graft.db.dvcdc WHERE id % 10 = 7")
    val changes = spark.sql("""SELECT _change_type, id FROM graft.db.dvcdc.changes
      ORDER BY _change_ordinal, _change_type, id""").collect()
    val deletes = changes.filter(_.getString(0) == "DELETE").map(_.getLong(1)).toSeq
    assert(deletes === Seq(7L, 17L, 27L),
      s"DV-backed changelog deletes wrong: $deletes")
    val inserts = changes.filter(_.getString(0) == "INSERT")
    assert(inserts.length === 30)
  }

  test("expire + orphan cleanup reclaims superseded DV containers") {
    spark.sql("""CREATE TABLE graft.db.dvgc (id BIGINT, v STRING)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read',
                     'write.delete.format'='dv')""")
    spark.range(0, 40).selectExpr("id", "concat('v', id) AS v")
      .coalesce(1).writeTo("graft.db.dvgc").append()
    spark.sql("DELETE FROM graft.db.dvgc WHERE id < 5")
    spark.sql("DELETE FROM graft.db.dvgc WHERE id >= 35")
    def dvOnDisk(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      val dataDir = java.nio.file.Paths.get(coreTable("dvgc").location + "/data")
      val st = java.nio.file.Files.list(dataDir)
      try st.iterator().asScala.map(_.toString).filter(_.endsWith(".dv")).toSeq
      finally st.close()
    }
    // commit 2 merged; disk holds the two commit DVs plus the merged one,
    // only one of which is live
    assert(dvOnDisk().size >= 3)
    val cutoff = System.currentTimeMillis() + 60000
    // expire reclaims the DV referenced ONLY by expired snapshots; orphan
    // cleanup reclaims commit 2's pre-merge DV, which no snapshot ever
    // referenced (the commit published the merged vector instead)
    spark.sql(s"CALL graft.system.expire_snapshots('db.dvgc', ${cutoff}L, 1)")
    assert(dvOnDisk().size === 2, s"expire left: ${dvOnDisk()}")
    val removed = spark.sql(
      s"CALL graft.system.remove_orphan_files('db.dvgc', false, ${cutoff}L)")
      .collect()(0).getInt(0)
    assert(removed >= 1, s"expected the pre-merge DV reclaimed, removed=$removed")
    assert(dvOnDisk().size === 1, s"DVs left on disk: ${dvOnDisk()}")
    assert(spark.sql("SELECT count(*) FROM graft.db.dvgc").head().getLong(0) === 30L)
    assert(spark.sql("SELECT CAST(sum(id) AS BIGINT) FROM graft.db.dvgc")
      .head().getLong(0) === (5L until 35L).sum)
  }

  test("custom scan metrics instantiate reflectively (listener contract)") {
    // Spark's SQLAppStatusListener re-creates each CustomMetric class by
    // name with a PUBLIC ZERO-ARG constructor to aggregate task values; a
    // nested/parameterized class compiles but never aggregates (and spams
    // listener errors on every query end)
    val metrics = GraftScanMetrics.supported
    assert(metrics.map(_.name()).toSet.contains("skippedDataFiles"))
    metrics.foreach { m =>
      val cls = Class.forName(m.getClass.getName)
      val inst = cls.getDeclaredConstructor().newInstance()
        .asInstanceOf[org.apache.spark.sql.connector.metric.CustomMetric]
      assert(inst.name() === m.name())
      // the aggregation path Spark actually runs at query end
      assert(inst.aggregateTaskMetrics(Array(2L, 3L)).nonEmpty)
    }
  }

  test("DROP NAMESPACE refuses non-empty without CASCADE") {
    spark.sql("CREATE NAMESPACE graft.dnx")
    spark.sql("CREATE TABLE graft.dnx.t1 (id BIGINT)")
    spark.sql("INSERT INTO graft.dnx.t1 VALUES (1)")
    // a plain drop on a namespace with live tables must refuse, not
    // recursively destroy them
    val e = intercept[Exception](spark.sql("DROP NAMESPACE graft.dnx"))
    assert(e.getMessage.toLowerCase.contains("empty") ||
      e.getMessage.toLowerCase.contains("cascade"), e.getMessage)
    assert(spark.sql("SELECT * FROM graft.dnx.t1").count() === 1,
      "refused drop must leave the table intact")
    // CASCADE opts in to the recursive delete
    spark.sql("DROP NAMESPACE graft.dnx CASCADE")
    assert(!spark.catalog.databaseExists("graft.dnx"))
  }

  test("unmarked dir with child tables named 'metadata' AND 'data' stays live") {
    // the nasty shape: the parent LOOKS table-ish (it has a metadata
    // child), but that child is itself a live TABLE — the data-prune
    // must not hide the sibling table named data
    spark.sql("CREATE NAMESPACE graft.dnm")
    spark.sql("CREATE TABLE graft.dnm.metadata (id BIGINT)")
    spark.sql("INSERT INTO graft.dnm.metadata VALUES (1)")
    spark.sql("CREATE TABLE graft.dnm.data (id BIGINT)")
    spark.sql("INSERT INTO graft.dnm.data VALUES (2)")
    java.nio.file.Files.deleteIfExists(
      graft.core.meta.GraftIO.toPath(s"$warehouse/dnm/_namespace.json"))
    assert(graft.core.meta.NamespaceProps
      .nonEmptyBlocker(warehouse, Seq("dnm")).nonEmpty,
      "both live child tables must block a non-cascade drop")
    val e = intercept[Exception](spark.sql("DROP NAMESPACE graft.dnm"))
    assert(e.getMessage.toLowerCase.contains("empty") ||
      e.getMessage.toLowerCase.contains("cascade"), e.getMessage)
    assert(spark.sql("SELECT * FROM graft.dnm.data").count() === 1)
    spark.sql("DROP NAMESPACE graft.dnm CASCADE")
  }

  test("unmarked dir whose ONLY child is a table named 'metadata' stays live") {
    // the liveness walk's metadata arm must recurse when the child named
    // metadata is ITSELF a table, or the two surfaces disagree (blocker
    // blocks the drop while existence reads absent)
    spark.sql("CREATE NAMESPACE graft.dnm2")
    spark.sql("CREATE TABLE graft.dnm2.metadata (id BIGINT)")
    spark.sql("INSERT INTO graft.dnm2.metadata VALUES (1)")
    java.nio.file.Files.deleteIfExists(
      graft.core.meta.GraftIO.toPath(s"$warehouse/dnm2/_namespace.json"))
    assert(graft.core.meta.NamespaceProps.isNamespaceDir(warehouse, Seq("dnm2")),
      "a nested live table named metadata must keep the namespace visible")
    assert(graft.core.meta.NamespaceProps
      .nonEmptyBlocker(warehouse, Seq("dnm2")).nonEmpty,
      "the nested live table must block a non-cascade drop")
    assert(spark.sql("SELECT * FROM graft.dnm2.metadata").count() === 1)
    spark.sql("DROP NAMESPACE graft.dnm2 CASCADE")
  }

  test("a live table literally named 'data' blocks a non-cascade drop") {
    // legacy layout: an UNMARKED namespace directory whose child table is
    // called data — the walk's data-prune must not make it invisible
    spark.sql("CREATE NAMESPACE graft.dnd")
    spark.sql("CREATE TABLE graft.dnd.data (id BIGINT)")
    spark.sql("INSERT INTO graft.dnd.data VALUES (7)")
    // simulate the pre-marker layout: remove the namespace marker
    java.nio.file.Files.deleteIfExists(
      graft.core.meta.GraftIO.toPath(s"$warehouse/dnd/_namespace.json"))
    assert(graft.core.meta.NamespaceProps.isNamespaceDir(warehouse, Seq("dnd")),
      "live content under an unmarked dir must read as a namespace")
    val e = intercept[Exception](spark.sql("DROP NAMESPACE graft.dnd"))
    assert(e.getMessage.toLowerCase.contains("empty") ||
      e.getMessage.toLowerCase.contains("cascade"), e.getMessage)
    assert(spark.sql("SELECT * FROM graft.dnd.data").count() === 1,
      "the table named 'data' must survive the refused drop")
    spark.sql("DROP NAMESPACE graft.dnd CASCADE")
  }

  test("bare legacy namespace directories back-fill markers on catalog open") {
    // an empty namespace created before the marker existed: plain dir
    val legacy = graft.core.meta.GraftIO.toPath(s"$warehouse/legacyns")
    java.nio.file.Files.createDirectories(legacy)
    assert(!graft.core.meta.NamespaceProps.isNamespaceDir(
      warehouse, Seq("legacyns")), "precondition: bare dir reads absent")
    // a fresh catalog open over the same warehouse migrates it
    spark.conf.set("spark.sql.catalog.gmig", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmig.warehouse", warehouse)
    val names = spark.sql("SHOW NAMESPACES IN gmig")
      .collect().map(_.getString(0))
    assert(names.contains("legacyns"),
      s"legacy namespace must surface after marker back-fill: ${names.toSeq}")
    // dropped-table residuals must NOT be resurrected by the back-fill
    assert(java.nio.file.Files.exists(legacy.resolve("_namespace.json")))
  }

  test("catalog property policy: table/view defaults under, overrides over") {
    // reference CatalogProperties TABLE_DEFAULT_PREFIX / TABLE_OVERRIDE_
    // PREFIX (BaseMetastoreCatalog.TableBuilder) and the view twins
    spark.conf.set("spark.sql.catalog.gpol", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gpol.warehouse", s"$warehouse/_polwh")
    spark.conf.set(
      "spark.sql.catalog.gpol.table-default.write.parquet.compression-codec",
      "zstd")
    spark.conf.set(
      "spark.sql.catalog.gpol.table-override.commit.retry.num-retries", "9")
    spark.conf.set("spark.sql.catalog.gpol.view-default.team", "data-eng")
    spark.conf.set("spark.sql.catalog.gpol.view-override.audited", "true")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gpol.db")

    def props(tbl: String): Map[String, String] =
      spark.sql(s"SHOW TBLPROPERTIES $tbl").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap

    // defaults seed, user values win over defaults, overrides win over user
    spark.sql("""CREATE TABLE gpol.db.pol_plain (id BIGINT)
      TBLPROPERTIES ('commit.retry.num-retries'='2')""")
    val p1 = props("gpol.db.pol_plain")
    assert(p1.get("write.parquet.compression-codec").contains("zstd"))
    assert(p1.get("commit.retry.num-retries").contains("9"),
      "table-override must win over the statement's own property")
    spark.sql("""CREATE TABLE gpol.db.pol_user (id BIGINT)
      TBLPROPERTIES ('write.parquet.compression-codec'='gzip')""")
    assert(props("gpol.db.pol_user")
      .get("write.parquet.compression-codec").contains("gzip"),
      "a user-supplied value must win over table-default")

    // the CTAS (staged) path applies the same policy
    spark.sql("CREATE TABLE gpol.db.pol_ctas AS SELECT 1L AS id")
    val p3 = props("gpol.db.pol_ctas")
    assert(p3.get("write.parquet.compression-codec").contains("zstd"))
    assert(p3.get("commit.retry.num-retries").contains("9"))

    // imports create through the same policy as CREATE TABLE
    spark.sql("SELECT 1L AS id, 2L AS v").write.mode("overwrite")
      .parquet(s"$warehouse/_polwh/_src_pol")
    spark.sql(s"CALL gpol.system.snapshot_table(" +
      s"'$warehouse/_polwh/_src_pol', 'db.pol_imp')")
    val p4 = props("gpol.db.pol_imp")
    assert(p4.get("write.parquet.compression-codec").contains("zstd"))
    assert(p4.get("commit.retry.num-retries").contains("9"))

    // view policy through the create_view procedure
    spark.sql("CALL gpol.system.create_view('db.pol_v', " +
      "'SELECT id FROM gpol.db.pol_plain')")
    val v = GraftViewStore.load(
      GraftViewStore.FileViewDocs(s"$warehouse/_polwh"),
      org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("db"), "pol_v")).get
    assert(v.properties.get("team").contains("data-eng"))
    assert(v.properties.get("audited").contains("true"))
  }
}
