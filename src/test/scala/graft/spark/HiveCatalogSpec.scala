package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.meta._
import graft.core.types.{GField, GLong, GSchema, GString, GStruct}

/** Hive Metastore catalog (reference hive-metastore HiveCatalog +
  * HiveTableOperations): the metadata pointer lives in the HMS table's
  * metadata_location parameter; commits CAS through an exclusive HMS
  * table lock. The metastore runs EMBEDDED over Derby (standard HMS
  * local mode) with the txn schema bootstrapped, so the REAL lock API
  * path runs here, not the JVM fallback. */
class HiveCatalogSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var warehouse: String = _
  private var cat: HiveMsCatalog = _

  override def beforeAll(): Unit = {
    warehouse = Files.createTempDirectory("graft-hive-wh").toString
    System.setProperty("derby.system.home", warehouse)
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-hive")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.ghms", classOf[GraftCatalog].getName)
      .config("spark.sql.catalog.ghms.warehouse", warehouse)
      .config("spark.sql.catalog.ghms.catalog-impl", "hive")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    cat = new HiveMsCatalog(warehouse,
      HiveMs.connect(None, s"$warehouse/_hms_db", warehouse))
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val schema = GSchema(GStruct(Seq(
    GField(1, "id", GLong, required = true),
    GField(2, "v", GString))))

  test("create/load/commit/drop through the HMS pointer") {
    val t = cat.createTable(Seq("hdb"), "core_t", schema)
    assert(cat.tableExists(Seq("hdb"), "core_t"))
    assert(cat.listTables(Seq("hdb")) === Seq("core_t"))
    // a Hive-NATIVE table in the same database is not listed (reference
    // HiveCatalog filters to Iceberg-marked entries)
    locally {
      import org.apache.hadoop.hive.metastore.api._
      val sd = new StorageDescriptor()
      sd.setCols(java.util.Collections.singletonList(
        new FieldSchema("x", "int", "")))
      sd.setLocation(s"file://$warehouse/hdb/native_t")
      sd.setInputFormat("org.apache.hadoop.mapred.TextInputFormat")
      sd.setOutputFormat("org.apache.hadoop.mapred.FileOutputFormat")
      val serde = new SerDeInfo()
      serde.setSerializationLib(
        "org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe")
      sd.setSerdeInfo(serde)
      val nt = new Table()
      nt.setDbName("hdb"); nt.setTableName("native_t")
      nt.setTableType("MANAGED_TABLE"); nt.setSd(sd)
      nt.setParameters(new java.util.HashMap())
      cat.hive.sync(_.createTable(nt))
      assert(cat.listTables(Seq("hdb")) === Seq("core_t"),
        "hive-native tables must not list as graft tables")
    }
    // the pointer and version live in HMS parameters
    val hms = cat.hive.sync(_.getTable("hdb", "core_t"))
    assert(hms.getParameters.get("table_type") === "ICEBERG")
    assert(hms.getParameters.get("graft.version") === "1")
    val mdLoc = hms.getParameters.get("metadata_location")
    assert(mdLoc != null && GraftIO.exists(mdLoc.stripPrefix("file:")))
    assert(hms.getParameters.get("EXTERNAL") === "TRUE")
    assert(hms.getTableType === "EXTERNAL_TABLE")
    // commit advances the pointer and records the previous one
    t.updateProperties(Map("who" -> "hms"))
    val hms2 = cat.hive.sync(_.getTable("hdb", "core_t"))
    assert(hms2.getParameters.get("graft.version") === "2")
    assert(hms2.getParameters.get("previous_metadata_location") === mdLoc)
    assert(hms2.getParameters.get("metadata_location") !== mdLoc)
    assert(cat.loadTable(Seq("hdb"), "core_t").get
      .meta.properties.get("who").contains("hms"))
    // CAS: a commit against a stale base loses cleanly
    val ops = cat.tableOps(Seq("hdb"), "core_t")
    val stale = ops.current().get.copy(
      properties = ops.current().get.properties + ("x" -> "stale"))
    assert(!ops.commit(1, stale), "stale base version must lose the CAS")
    assert(ops.currentVersion() === 2)
    // drop without purge leaves files, removes the HMS identity
    val loc = ops.location
    assert(cat.dropTable(Seq("hdb"), "core_t", purge = false))
    assert(!cat.tableExists(Seq("hdb"), "core_t"))
    assert(GraftIO.exists(loc), "EXTERNAL drop must not delete files")
  }

  test("HMS lock API is genuinely used (txn schema bootstrapped)") {
    // acquire the same exclusive lock the commit path takes; if this
    // works, commits are NOT on the JVM fallback
    import org.apache.hadoop.hive.metastore.api._
    cat.createTable(Seq("hdb"), "lock_t", schema)
    val comp = new LockComponent(LockType.EXCLUSIVE, LockLevel.TABLE, "hdb")
    comp.setTablename("lock_t")
    val req = new LockRequest(
      java.util.Collections.singletonList(comp), "graft-test", "localhost")
    val resp = cat.hive.sync(_.lock(req))
    assert(resp.getState === LockState.ACQUIRED,
      s"embedded HMS lock API must work: ${resp.getState}")
    // a second exclusive request on the same table must WAIT, not acquire
    val resp2 = cat.hive.sync(_.lock(req))
    assert(resp2.getState === LockState.WAITING,
      s"second exclusive lock must wait: ${resp2.getState}")
    cat.hive.sync(_.unlock(resp2.getLockid))
    cat.hive.sync(_.unlock(resp.getLockid))
    cat.dropTable(Seq("hdb"), "lock_t", purge = true)
  }

  test("concurrent committers: exactly one wins per version") {
    cat.createTable(Seq("hdb"), "race_t", schema)
    val threads = 4
    val rounds = 6
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val tasks = (0 until threads).map { i =>
      pool.submit(new Runnable {
        override def run(): Unit = (0 until rounds).foreach { r =>
          var done = false
          var spins = 0
          while (!done && spins < 200) {
            spins += 1
            val ops = cat.tableOps(Seq("hdb"), "race_t")
            val v = ops.currentVersion()
            val m = ops.current().get
            if (ops.commit(v, m.copy(
                properties = m.properties + (s"t$i-r$r" -> "1")))) {
              wins.incrementAndGet(); done = true
            }
          }
          assert(done, s"committer $i round $r starved")
        }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    val ops = cat.tableOps(Seq("hdb"), "race_t")
    assert(wins.get() === threads * rounds)
    assert(ops.currentVersion() === 1 + threads * rounds,
      "every win must advance the version exactly once")
    val props = ops.current().get.properties
    (0 until threads).foreach(i => (0 until rounds).foreach(r =>
      assert(props.contains(s"t$i-r$r"), s"lost update t$i-r$r")))
    cat.dropTable(Seq("hdb"), "race_t", purge = true)
  }

  test("thrift mode: a standalone metastore serves the same protocol") {
    // start a REAL thrift metastore in-process (HiveMetaStore.startMetaStore,
    // the standalone service entry point) over its own Derby, then drive
    // the catalog through uri=thrift://... — the deployment shape the
    // embedded tests cannot cover
    val msDir = Files.createTempDirectory("graft-hms-thrift").toString
    val port = {
      val ss = new java.net.ServerSocket(0)
      try ss.getLocalPort finally ss.close()
    }
    val msConf = new org.apache.hadoop.hive.conf.HiveConf()
    msConf.set("javax.jdo.option.ConnectionURL",
      s"jdbc:derby:;databaseName=$msDir/ms_db;create=true")
    msConf.set("javax.jdo.option.ConnectionDriverName",
      "org.apache.derby.jdbc.EmbeddedDriver")
    msConf.set("hive.metastore.schema.verification", "false")
    msConf.set("datanucleus.schema.autoCreateAll", "true")
    msConf.set("datanucleus.connectionPoolingType", "DBCP")
    msConf.set("hive.metastore.warehouse.dir", s"file://$msDir/wh")
    HiveMs.ensureTxnSchema(s"jdbc:derby:;databaseName=$msDir/ms_db;create=true")
    @volatile var startupError: Throwable = null
    val server = new Thread(() =>
      try org.apache.hadoop.hive.metastore.HiveMetaStore.startMetaStore(
        port, org.apache.hadoop.hive.shims.ShimLoader.getHadoopThriftAuthBridge,
        msConf)
      catch { case e: Throwable => startupError = e }, "hms-thrift")
    server.setDaemon(true)
    server.start()
    // wait for the thrift port; a startup failure (stolen port, Derby
    // error) surfaces its cause instead of a bare 60s timeout
    val deadline = System.currentTimeMillis() + 60000
    var up = false
    while (!up && startupError == null &&
        System.currentTimeMillis() < deadline) {
      try {
        val s = new java.net.Socket("127.0.0.1", port)
        s.close(); up = true
      } catch { case _: Throwable => Thread.sleep(200) }
    }
    assert(up, s"thrift metastore did not start: ${Option(startupError)
      .map(_.toString).getOrElse("timeout")}")
    val tcat = new HiveMsCatalog(s"$msDir/wh",
      HiveMs.connect(Some(s"thrift://127.0.0.1:$port"), "", s"$msDir/wh"))
    val t = tcat.createTable(Seq("tdb"), "thrift_t", schema)
    t.updateProperties(Map("via" -> "thrift"))
    assert(tcat.loadTable(Seq("tdb"), "thrift_t").get
      .meta.properties.get("via").contains("thrift"))
    assert(tcat.listTables(Seq("tdb")) === Seq("thrift_t"))
    // the pointer CAS (lock -> verify -> alter) ran over the wire
    val hms = tcat.hive.sync(_.getTable("tdb", "thrift_t"))
    assert(hms.getParameters.get("graft.version") === "2")
    assert(tcat.dropTable(Seq("tdb"), "thrift_t", purge = true))
  }

  test("adopts a foreign Iceberg HMS entry (pointer param only, no graft.version)") {
    // plant an entry the way another engine (reference Spark, Trino,
    // Flink) would: metadata_location + table_type=ICEBERG, Iceberg-style
    // document name, and NO graft-private parameters
    import org.apache.hadoop.hive.metastore.api._
    val loc = s"$warehouse/hdb/foreign_t"
    val meta = TableMetadata.newTable(loc, schema,
      graft.core.expr.PartitionSpec.Unpartitioned, Map("origin" -> "foreign"))
    val mdPath =
      s"$loc/metadata/00000-${java.util.UUID.randomUUID}.metadata.json"
    GraftIO.writeString(mdPath, MetaJson.writeMetadata(meta))
    val sd = new StorageDescriptor()
    sd.setCols(java.util.Collections.singletonList(
      new FieldSchema("id", "bigint", "")))
    sd.setLocation(s"file://$loc")
    sd.setInputFormat("org.apache.iceberg.mr.hive.HiveIcebergInputFormat")
    sd.setOutputFormat("org.apache.iceberg.mr.hive.HiveIcebergOutputFormat")
    val serde = new SerDeInfo()
    serde.setSerializationLib(
      "org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe")
    sd.setSerdeInfo(serde)
    val ft = new Table()
    ft.setDbName("hdb"); ft.setTableName("foreign_t")
    ft.setTableType("EXTERNAL_TABLE"); ft.setSd(sd)
    val params = new java.util.HashMap[String, String]()
    params.put("EXTERNAL", "TRUE")
    params.put("table_type", "ICEBERG")
    params.put("metadata_location", mdPath)
    ft.setParameters(params)
    cat.hive.sync(_.createTable(ft))
    // reads: the entry is live despite carrying no graft.version
    assert(cat.tableExists(Seq("hdb"), "foreign_t"),
      "a pointer-bearing HMS entry must load without graft parameters")
    assert(cat.listTables(Seq("hdb")).contains("foreign_t"))
    val t = cat.loadTable(Seq("hdb"), "foreign_t").get
    assert(t.meta.properties.get("origin").contains("foreign"))
    // writes: a graft commit CASes the pointer and seeds the counter
    t.updateProperties(Map("adopted" -> "yes"))
    val hms = cat.hive.sync(_.getTable("hdb", "foreign_t"))
    assert(hms.getParameters.get("metadata_location") !== mdPath)
    assert(hms.getParameters.get("previous_metadata_location") === mdPath)
    assert(Option(hms.getParameters.get("graft.version"))
      .flatMap(_.toIntOption).exists(_ > 0), "commit must seed the counter")
    assert(cat.loadTable(Seq("hdb"), "foreign_t").get
      .meta.properties.get("adopted").contains("yes"))
    cat.dropTable(Seq("hdb"), "foreign_t", purge = true)
  }

  test("adopts an entry pointing at REFERENCE-authored metadata bytes") {
    // the strongest adoption claim: the pointer names a metadata
    // document written by the reference implementation itself
    // (core/src/test/resources/TableMetadataV2Valid.json; offline, the
    // bundled spec document of that name), planted the way a genuine
    // engine's HMS entry looks
    import org.apache.hadoop.hive.metastore.api._
    val loc = s"$warehouse/hdb/ref_fixture_t"
    val mdPath = s"$loc/metadata/00034-${java.util.UUID.randomUUID}.metadata.json"
    GraftIO.writeString(mdPath,
      graft.core.SpecFixtures.string("TableMetadataV2Valid.json"))
    val sd = new StorageDescriptor()
    sd.setCols(java.util.Collections.singletonList(
      new FieldSchema("x", "bigint", "")))
    sd.setLocation(s"file://$loc")
    sd.setInputFormat("org.apache.hadoop.mapred.FileInputFormat")
    sd.setOutputFormat("org.apache.hadoop.mapred.FileOutputFormat")
    val serde = new SerDeInfo()
    serde.setSerializationLib(
      "org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe")
    sd.setSerdeInfo(serde)
    val ft = new Table()
    ft.setDbName("hdb"); ft.setTableName("ref_fixture_t")
    ft.setTableType("EXTERNAL_TABLE"); ft.setSd(sd)
    val params = new java.util.HashMap[String, String]()
    params.put("EXTERNAL", "TRUE")
    params.put("table_type", "ICEBERG")
    params.put("metadata_location", mdPath)
    ft.setParameters(params)
    cat.hive.sync(_.createTable(ft))
    val t = cat.loadTable(Seq("hdb"), "ref_fixture_t").get
    // the reference document parsed: schema, snapshots, sequence state
    assert(t.schema.fields.map(_.name) === Seq("x", "y", "z"))
    assert(t.meta.formatVersion === 2)
    assert(t.meta.currentSnapshotId.contains(3055729675574597004L))
    assert(t.meta.lastSequenceNumber === 34L)
    // a graft commit lands ON TOP of the reference state
    t.updateProperties(Map("adopted-from" -> "reference-fixture"))
    val hms = cat.hive.sync(_.getTable("hdb", "ref_fixture_t"))
    assert(hms.getParameters.get("previous_metadata_location") === mdPath)
    val t2 = cat.loadTable(Seq("hdb"), "ref_fixture_t").get
    assert(t2.meta.properties.get("adopted-from")
      .contains("reference-fixture"))
    assert(t2.meta.currentSnapshotId.contains(3055729675574597004L),
      "the reference snapshot state must survive the graft commit")
    cat.dropTable(Seq("hdb"), "ref_fixture_t", purge = true)
  }

  test("foreign HMS databases list and resolve through the Spark catalog") {
    // a database created straight in the metastore by another engine —
    // no local namespace marker exists, but SHOW NAMESPACES/SHOW TABLES
    // and reads must see it (reference HiveCatalog.listNamespaces)
    import org.apache.hadoop.hive.metastore.api._
    cat.hive.sync(_.createDatabase(new Database("foreigndb", "",
      s"file://$warehouse/foreigndb", new java.util.HashMap())))
    val loc = s"$warehouse/foreigndb/ft1"
    val meta = TableMetadata.newTable(loc, schema,
      graft.core.expr.PartitionSpec.Unpartitioned, Map.empty)
    val mdPath = s"$loc/metadata/00000-${java.util.UUID.randomUUID}.metadata.json"
    GraftIO.writeString(mdPath, MetaJson.writeMetadata(meta))
    val sd = new StorageDescriptor()
    sd.setCols(java.util.Collections.singletonList(
      new FieldSchema("id", "bigint", "")))
    sd.setLocation(s"file://$loc")
    sd.setInputFormat("org.apache.hadoop.mapred.FileInputFormat")
    sd.setOutputFormat("org.apache.hadoop.mapred.FileOutputFormat")
    val serde = new SerDeInfo()
    serde.setSerializationLib(
      "org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe")
    sd.setSerdeInfo(serde)
    val ft = new Table()
    ft.setDbName("foreigndb"); ft.setTableName("ft1")
    ft.setTableType("EXTERNAL_TABLE"); ft.setSd(sd)
    val params = new java.util.HashMap[String, String]()
    params.put("EXTERNAL", "TRUE")
    params.put("table_type", "ICEBERG")
    params.put("metadata_location", mdPath)
    ft.setParameters(params)
    cat.hive.sync(_.createTable(ft))
    assert(spark.sql("SHOW NAMESPACES IN ghms").collect()
      .map(_.getString(0)).contains("foreigndb"),
      "a metastore-only database must list as a namespace")
    assert(spark.sql("SHOW TABLES IN ghms.foreigndb").collect()
      .map(_.getString(1)).contains("ft1"))
    // write + read through Spark against the adopted foreign table
    spark.sql("INSERT INTO ghms.foreigndb.ft1 VALUES (7, 'x')")
    assert(spark.sql("SELECT id, v FROM ghms.foreigndb.ft1").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((7L, "x")))
    spark.sql("DROP TABLE ghms.foreigndb.ft1")
    assert(!cat.tableExists(Seq("foreigndb"), "ft1"))
    cat.hive.sync(_.dropDatabase("foreigndb", true, true, true))
  }

  test("a foreign pointer swap between refresh and commit wins the race") {
    val t = cat.createTable(Seq("hdb"), "swap_t", schema)
    t.updateProperties(Map("base" -> "1"))
    val ops = cat.tableOps(Seq("hdb"), "swap_t")
    val v = ops.currentVersion()
    val base = ops.current().get
    // a FOREIGN engine commits now: new document, pointer swap via raw
    // alter_table, graft.version deliberately untouched
    val foreignMeta = base.copy(properties = base.properties + ("foreign" -> "won"))
    val foreignPath = s"${ops.location}/metadata/00007-${
      java.util.UUID.randomUUID}.metadata.json"
    GraftIO.writeString(foreignPath, MetaJson.writeMetadata(foreignMeta))
    val hms = cat.hive.sync(_.getTable("hdb", "swap_t"))
    hms.getParameters.put("metadata_location", foreignPath)
    cat.hive.sync(_.alter_table("hdb", "swap_t", hms))
    // graft's in-flight commit (built on the pre-swap base) must LOSE
    val mine = base.copy(properties = base.properties + ("mine" -> "lost"))
    assert(!ops.commit(v, mine),
      "a commit whose base pointer moved must fail the CAS, not clobber " +
        "the foreign commit")
    val after = cat.hive.sync(_.getTable("hdb", "swap_t"))
    assert(after.getParameters.get("metadata_location") === foreignPath,
      "the foreign pointer must survive")
    // the standard retry loop lands ON TOP of the foreign base
    cat.loadTable(Seq("hdb"), "swap_t").get
      .updateProperties(Map("mine" -> "retried"))
    val props = cat.tableOps(Seq("hdb"), "swap_t").current().get.properties
    assert(props.get("foreign").contains("won"))
    assert(props.get("mine").contains("retried"))
    cat.dropTable(Seq("hdb"), "swap_t", purge = true)
  }

  test("held locks heartbeat: a slow commit keeps HL_LAST_HEARTBEAT fresh") {
    // the default interval is half the metastore's expiry horizon
    // (hive.txn.timeout 300s -> 150s); shrink it on the SHARED client to
    // observe beats in-test — a second embedded metastore in the JVM
    // would poison HMSHandler's static per-thread RawStore state
    assert(cat.hive.heartbeatIntervalMs === cat.hive.txnTimeoutMs / 2)
    cat.createTable(Seq("hdb"), "hb_t", schema)
    val ops = cat.tableOps(Seq("hdb"), "hb_t").asInstanceOf[HiveTableOps]
    def lastHeartbeat(): Long = {
      val c = java.sql.DriverManager.getConnection(
        s"jdbc:derby:;databaseName=$warehouse/_hms_db")
      try {
        val rs = c.createStatement().executeQuery(
          "SELECT MAX(HL_LAST_HEARTBEAT) FROM HIVE_LOCKS")
        try { rs.next(); rs.getLong(1) } finally rs.close()
      } finally c.close()
    }
    val saved = cat.hive.heartbeatIntervalMs
    cat.hive.heartbeatIntervalMs = 250L
    try ops.withTableLock {
      Thread.sleep(350)
      val first = lastHeartbeat()
      assert(first > 0L, "the exclusive lock row must exist while held")
      // a commit stalled well past several beat intervals stays fresh
      Thread.sleep(1200)
      val later = lastHeartbeat()
      assert(later > first,
        s"heartbeat must advance HL_LAST_HEARTBEAT while held ($first -> $later)")
    } finally cat.hive.heartbeatIntervalMs = saved
    // and a real commit through the same client still works afterwards
    cat.loadTable(Seq("hdb"), "hb_t").get
      .updateProperties(Map("after" -> "heartbeat"))
    assert(cat.loadTable(Seq("hdb"), "hb_t").get
      .meta.properties.get("after").contains("heartbeat"))
    cat.dropTable(Seq("hdb"), "hb_t", purge = true)
  }

  test("namespace create/drop mirrors into HMS databases") {
    spark.sql("CREATE NAMESPACE ghms.mirror_ns")
    assert(cat.hive.sync(_.getAllDatabases).contains("mirror_ns"),
      "CREATE NAMESPACE on a hive-backed catalog must create the HMS database")
    spark.sql("DROP NAMESPACE ghms.mirror_ns")
    assert(!cat.hive.sync(_.getAllDatabases).contains("mirror_ns"),
      "DROP NAMESPACE must drop the mirrored HMS database")
  }

  test("multi-op transaction commits atomically through the HMS pointer") {
    val t = cat.createTable(Seq("hdb"), "txn_t", schema)
    val before = cat.tableOps(Seq("hdb"), "txn_t").currentVersion()
    // property update + a second metadata op in ONE CAS: the HMS
    // pointer must advance exactly once
    t.transaction { txn =>
      txn.updateProperties(Map("a" -> "1"))
      txn.updateProperties(Map("b" -> "2"))
    }
    val ops = cat.tableOps(Seq("hdb"), "txn_t")
    assert(ops.currentVersion() === before + 1,
      "a transaction is ONE pointer advance")
    val props = ops.current().get.properties
    assert(props.get("a").contains("1") && props.get("b").contains("2"))
    cat.dropTable(Seq("hdb"), "txn_t", purge = true)
  }

  test("rename keeps the location; Spark SQL end-to-end over catalog-impl=hive") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ghms.sdb")
    spark.sql("""CREATE TABLE ghms.sdb.hive_t (id BIGINT, grp BIGINT, v STRING)
      PARTITIONED BY (grp)""")
    spark.sql("""INSERT INTO ghms.sdb.hive_t
      SELECT id, id % 3, concat('v', id) FROM range(0, 30)""")
    spark.sql("DELETE FROM ghms.sdb.hive_t WHERE id % 5 = 0")
    val got = spark.sql(
      "SELECT count(*), sum(id) FROM ghms.sdb.hive_t WHERE grp = 1").collect()(0)
    val exp = spark.sql(
      """SELECT count(*), sum(id) FROM range(0, 30)
         WHERE id % 3 = 1 AND id % 5 <> 0""").collect()(0)
    assert(got === exp)
    // time travel still works (the pointer chain is graft metadata)
    val snaps = spark.sql(
      "SELECT snapshot_id FROM ghms.sdb.hive_t.snapshots ORDER BY committed_at")
      .collect().map(_.getLong(0))
    assert(snaps.length === 2)
    assert(spark.sql(
      s"SELECT count(*) FROM ghms.sdb.hive_t VERSION AS OF ${snaps.head}")
      .collect()(0).getLong(0) === 30L)
    // rename through HMS: identity moves, location and files stay
    val locBefore = cat.tableOps(Seq("sdb"), "hive_t").location
    spark.sql("ALTER TABLE ghms.sdb.hive_t RENAME TO sdb.hive_renamed")
    assert(!cat.tableExists(Seq("sdb"), "hive_t"))
    val after = cat.tableOps(Seq("sdb"), "hive_renamed")
    assert(after.currentVersion() > 0)
    assert(after.location === locBefore, "rename must not move files")
    assert(spark.sql("SELECT count(*) FROM ghms.sdb.hive_renamed")
      .collect()(0).getLong(0) === 24L)
  }

  test("views register as HMS VIRTUAL_VIEW entries; foreign entries adopt") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ghms.vdb")
    spark.sql("CREATE TABLE ghms.vdb.base (id BIGINT, v STRING)")
    spark.sql("INSERT INTO ghms.vdb.base VALUES (1,'a'), (2,'b'), (3,'c')")
    spark.sql("CALL ghms.system.create_view('vdb.v_top', " +
      "'SELECT id FROM ghms.vdb.base WHERE id >= 2')")
    assert(spark.sql("SELECT count(*) FROM ghms.vdb.v_top")
      .collect().head.getLong(0) === 2)

    // the pointer entry carries the reference markers (HiveViewOperations:
    // VIRTUAL_VIEW + table_type=ICEBERG-VIEW + metadata_location)
    val e = cat.hive.sync(_.getTable("vdb", "v_top"))
    assert(e.getTableType === "VIRTUAL_VIEW")
    assert(e.getParameters.get("table_type") === "ICEBERG-VIEW")
    val loc = e.getParameters.get("metadata_location")
    assert(loc != null && GraftIO.exists(loc.stripPrefix("file:")))

    // a view is NOT a table: existence, listing, rename all refuse
    assert(!cat.tableExists(Seq("vdb"), "v_top"))
    assert(!cat.listTables(Seq("vdb")).contains("v_top"))
    intercept[IllegalArgumentException](
      cat.renameTable(Seq("vdb"), "v_top", Seq("vdb"), "v_moved"))
    val docs = new GraftViewStore.HiveViewDocs(cat)
    assert(docs.names(Seq("vdb")) === Seq("v_top"))

    // replace rotates the pointer to a fresh document
    spark.sql("CALL ghms.system.create_view('vdb.v_top', " +
      "'SELECT id FROM ghms.vdb.base WHERE id >= 3', true)")
    assert(spark.sql("SELECT count(*) FROM ghms.vdb.v_top")
      .collect().head.getLong(0) === 1)
    val e2 = cat.hive.sync(_.getTable("vdb", "v_top"))
    assert(e2.getParameters.get("metadata_location") !== loc)
    assert(e2.getParameters.get("previous_metadata_location") === loc)

    // FOREIGN adoption: a raw-HMS VIRTUAL_VIEW entry (markers + pointer,
    // no graft involvement in its creation) lists and reads
    locally {
      import org.apache.hadoop.hive.metastore.api._
      val sd = new StorageDescriptor()
      sd.setCols(java.util.Collections.singletonList(
        new FieldSchema("dummy", "string", "")))
      val serde = new SerDeInfo()
      serde.setSerializationLib(
        "org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe")
      sd.setSerdeInfo(serde)
      val ft = new Table()
      ft.setDbName("vdb"); ft.setTableName("v_foreign")
      ft.setTableType("VIRTUAL_VIEW"); ft.setSd(sd)
      val params = new java.util.HashMap[String, String]()
      params.put("table_type", "ICEBERG-VIEW")
      params.put("metadata_location",
        e2.getParameters.get("metadata_location"))
      ft.setParameters(params)
      cat.hive.sync(_.createTable(ft))
    }
    assert(docs.names(Seq("vdb")) === Seq("v_foreign", "v_top"))
    assert(spark.sql("SELECT count(*) FROM ghms.vdb.v_foreign")
      .collect().head.getLong(0) === 1)

    // concurrent replaces serialize through the HMS lock: the final
    // pointer names a readable document and no replace is lost half-way
    locally {
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until 6).map { i =>
        new Thread(() =>
          try docs.put(Seq("vdb"), "v_race", s"""{"view-uuid":"u$i"}""",
            replace = true)
          catch { case t: Throwable => failures.add(t) })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(failures.isEmpty, s"concurrent view replaces failed: $failures")
      val e3 = cat.hive.sync(_.getTable("vdb", "v_race"))
      val ptr = e3.getParameters.get("metadata_location")
      assert(ptr != null && GraftIO.exists(ptr.stripPrefix("file:")))
      val doc = docs.get(Seq("vdb"), "v_race").get
      assert((0 until 6).exists(i => doc.contains(s"u$i")))
      assert(docs.delete(Seq("vdb"), "v_race"))
    }

    // drop removes the HMS entry
    spark.sql("CALL ghms.system.drop_view('vdb.v_top')")
    assert(docs.names(Seq("vdb")) === Seq("v_foreign"))
    assert(cat.hive.sync(c =>
      try { c.getTable("vdb", "v_top"); false }
      catch {
        case _: org.apache.hadoop.hive.metastore.api.NoSuchObjectException =>
          true
      }))
  }
}
