package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.meta._

/** rewrite_position_delete_files: one Spark job per commit batch, the
  * read path's matching rule applied per source file, and the compacted
  * content checked through the `position_deletes` metadata table
  * (reference RewritePositionDeleteFilesSparkAction). */
class RewritePositionDeletesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var warehouse: String = _
  private val masterB64 =
    java.util.Base64.getEncoder.encodeToString(AesGcm.randomBytes(16))

  override def beforeAll(): Unit = {
    warehouse = Files.createTempDirectory("graft-rpd-wh").toString
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-rpd")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.grpd", classOf[GraftCatalog].getName)
      .config("spark.sql.catalog.grpd.warehouse", warehouse)
      .config("spark.sql.catalog.grpd.encryption.kms.key-list", s"mk0:$masterB64")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS grpd.db")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def coreTable(name: String) =
    new HadoopCatalog(warehouse).loadTable(Seq("db"), name).get

  private def liveFiles(name: String, content: Int): Seq[DataFile] = {
    val t = coreTable(name)
    t.meta.currentSnapshot.toSeq.flatMap { sn =>
      ManifestIO.readList(sn.manifestListPath).filter(_.content == content)
        .flatMap(mf => ManifestIO.readEntries(mf).filter(_.isLive).map(_.file))
    }
  }

  private def rewrite(name: String, args: String = ""): (Int, Int) = {
    val r = spark.sql(
      s"CALL grpd.system.rewrite_position_delete_files('db.$name'$args)").head()
    (r.getInt(0), r.getInt(1))
  }

  private def positionDeletes(name: String): Seq[(String, Long)] =
    spark.sql(s"SELECT file_path, pos FROM grpd.db.$name.position_deletes")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted

  private def countAndSum(name: String): (Long, Long) = {
    val r = spark.sql(
      s"SELECT count(*), CAST(coalesce(sum(id), 0) AS BIGINT) FROM grpd.db.$name").head()
    (r.getLong(0), r.getLong(1))
  }

  /** a hand-written parquet position-delete file, committed as-is (the
    * shape an external writer or an older graft leaves behind) */
  private def addDeleteFile(name: String, rows: Seq[(String, Long)]): Unit = {
    val dir = Files.createTempDirectory("rpd-del").toString + "/d"
    spark.createDataFrame(rows).toDF("file_path", "pos").coalesce(1)
      .write.parquet(dir)
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    coreTable(name).newRowDelta()
      .addDeletes(DataFile(f.getAbsolutePath, "parquet", 0, Nil,
        rows.size.toLong, f.length(), content = FileContent.PositionDeletes))
      .commit()
  }

  /** Spark jobs `body` starts, counted by job group so events of earlier
    * statements still in the listener queue are never counted */
  private def jobsOf(body: => Unit): Int = {
    val group = s"rpd-jobs-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "rewrite_position_delete_files")
      try body finally spark.sparkContext.clearJobGroup()
      // listener events are asynchronous
      Thread.sleep(1500)
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** K partitions, two MoR deletes each → K rewritable groups */
  private def partitionedWithDeletes(name: String, k: Int): Unit = {
    spark.sql(s"""CREATE TABLE grpd.db.$name (id BIGINT, p BIGINT)
      PARTITIONED BY (p)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.range(0, 20L * k).selectExpr("id", s"id % $k AS p")
      .writeTo(s"grpd.db.$name").append()
    spark.sql(s"DELETE FROM grpd.db.$name WHERE id % 5 = 0")
    spark.sql(s"DELETE FROM grpd.db.$name WHERE id % 7 = 1")
  }

  test("one Spark job per rewrite call, one per batch under partial progress") {
    val k = 3
    partitionedWithDeletes("jobs", k)
    val before = countAndSum("jobs")
    val pdBefore = positionDeletes("jobs")
    val res = jobsOf {
      val (rewritten, added) = rewrite("jobs")
      assert(rewritten >= 2 * k && added === k)
    }
    assert(res === 1, s"rewrite over $k partitions ran $res jobs")
    assert(countAndSum("jobs") === before)
    assert(positionDeletes("jobs") === pdBefore)

    partitionedWithDeletes("jobs2", k)
    val before2 = countAndSum("jobs2")
    val res2 = jobsOf(assert(rewrite("jobs2", ", true, 2")._2 === k))
    assert(res2 === 2, s"partial progress over 2 commits ran $res2 jobs")
    assert(countAndSum("jobs2") === before2)
  }

  test("compacted delete files carry file_path bounds the delete index prunes by") {
    spark.sql("""CREATE TABLE grpd.db.bounds (id BIGINT)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    (0 until 4).foreach { i =>
      spark.range(i * 10L, i * 10L + 10, 1, 1).writeTo("grpd.db.bounds").append()
    }
    // delete from the two data files with the SMALLEST suffix keys, so
    // the other two lie outside the compacted file's path range
    val fileOfId = spark.sql("SELECT id, _file FROM grpd.db.bounds").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val bySuffix = fileOfId.values.toSeq.distinct.sortBy(GraftIO.dataSuffix)
    assert(bySuffix.size === 4)
    val targets = bySuffix.take(2)
    val ids = targets.map(f => fileOfId.collect { case (id, `f`) => id }.toSeq.sorted)
    spark.sql(s"DELETE FROM grpd.db.bounds WHERE id IN (${ids(0)(1)}, ${ids(1)(2)})")
    spark.sql(s"DELETE FROM grpd.db.bounds WHERE id IN (${ids(0)(3)}, ${ids(1)(4)})")
    val before = countAndSum("bounds")
    assert(rewrite("bounds")._2 === 1)
    val Seq(compacted) = liveFiles("bounds", 1)
    val st = compacted.columnStats(DeleteFileIndex.FilePathFieldId)
    assert(st.lower.map(_.toString) === Some(GraftIO.dataSuffix(targets(0))))
    assert(st.upper.map(_.toString) === Some(GraftIO.dataSuffix(targets(1))))
    val attached = coreTable("bounds").newScan().planFiles()
      .map(t => GraftIO.stripScheme(t.file.path) -> t.deletes.map(_.path)).toMap
    assert(attached.size === 4)
    attached.foreach { case (path, dels) =>
      val inside = targets.map(GraftIO.stripScheme).contains(path)
      assert(dels === (if (inside) Seq(compacted.path) else Nil),
        s"$path: attached $dels")
    }
    assert(countAndSum("bounds") === before)
  }

  test("a rewrite leaves no staging directory in java.io.tmpdir") {
    partitionedWithDeletes("tmpdir", 2)
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def staging() = Option(tmp.list()).toSeq.flatten
      .filter(_.startsWith("graft-posdel")).toSet
    val before = staging()
    rewrite("tmpdir")
    assert(staging() -- before === Set.empty[String])
  }

  test("a directory-copied table compacts through suffix-only matches") {
    spark.sql("""CREATE TABLE grpd.db.relo (id BIGINT, grp STRING)
      PARTITIONED BY (grp)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.range(0, 100).selectExpr("id", "concat('g', id % 2) AS grp")
      .writeTo("grpd.db.relo").append()
    spark.sql("DELETE FROM grpd.db.relo WHERE id % 10 IN (3, 4)")
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$warehouse/db/relo"),
      new java.io.File(s"$warehouse/db/relo_copy"))
    // the copy's delete content still names the ORIGINAL paths
    val livePaths = liveFiles("relo_copy", 0).map(_.path).toSet
    val pdCopied = positionDeletes("relo_copy")
    assert(pdCopied.nonEmpty && pdCopied.forall(d => !livePaths.contains(d._1)))
    // a delete written AFTER the move names the new paths: the one
    // output per partition must still apply both
    spark.sql("DELETE FROM grpd.db.relo_copy WHERE id % 10 IN (5, 6)")
    val expected = (0L until 100L).filterNot(i => Set(3L, 4L, 5L, 6L)(i % 10))
    assert(countAndSum("relo_copy") === ((expected.size.toLong, expected.sum)))
    val pdBefore = positionDeletes("relo_copy")
    assert(rewrite("relo_copy")._2 === 2)
    assert(countAndSum("relo_copy") === ((expected.size.toLong, expected.sum)))
    // same positions, now keyed by the manifest paths they apply to
    val pdAfter = positionDeletes("relo_copy")
    assert(pdAfter.size === pdBefore.size)
    assert(pdAfter.map(d => (GraftIO.dataSuffix(d._1), d._2)).sorted ===
      pdBefore.map(d => (GraftIO.dataSuffix(d._1), d._2)).sorted)
    assert(pdAfter.forall(d => livePaths.contains(d._1)))
    // the source table is untouched
    assert(countAndSum("relo")._1 === 80L)
  }

  test("ambiguous suffixes, duplicate positions and dead data files") {
    spark.sql("CREATE TABLE grpd.db.rule (id BIGINT)")
    spark.range(0, 10, 1, 1).writeTo("grpd.db.rule").append()
    spark.range(10, 20, 1, 1).writeTo("grpd.db.rule").append()
    val minIdOf = spark.sql("SELECT _file, min(id) FROM grpd.db.rule GROUP BY _file")
      .collect().map(r => GraftIO.stripScheme(r.getString(0)) -> r.getLong(1)).toMap
    val Seq(a, b) = liveFiles("rule", 0).map(_.path)
      .sortBy(p => minIdOf(GraftIO.stripScheme(p)))
    val sfx = GraftIO.dataSuffix(a)
    def ids() = spark.sql("SELECT id FROM grpd.db.rule ORDER BY id").collect()
      .map(_.getLong(0)).toSeq
    // two foreign keys sharing a's suffix in ONE file: the read path
    // applies neither, and neither may be compacted into a real delete
    addDeleteFile("rule", Seq(("/x1" + sfx, 1L), ("/x2" + sfx, 2L)))
    // a foreign key whose suffix is unique in its file applies to a
    addDeleteFile("rule", Seq(("/x1" + sfx, 4L), (b, 7L)))
    // (a, 4) and (b, 7) again, from another file: written once
    addDeleteFile("rule", Seq((a, 4L), (a, 5L), (b, 7L), (b, 8L)))
    val expected = (0L until 20L).filterNot(Set(4L, 5L, 17L, 18L))
    assert(ids() === expected)
    assert(rewrite("rule") === ((3, 1)))
    assert(ids() === expected)
    assert(positionDeletes("rule") === Seq((a, 4L), (a, 5L), (b, 7L), (b, 8L)).sorted)

    // b leaves the table: the next rewrite drops its positions
    coreTable("rule").newOverwrite().deleteFiles(Seq(b)).commit()
    addDeleteFile("rule", Seq((a, 6L)))
    assert(rewrite("rule") === ((2, 1)))
    assert(positionDeletes("rule") === Seq((a, 4L), (a, 5L), (a, 6L)))
    assert(ids() === (0L until 10L).filterNot(Set(4L, 5L, 6L)))
  }

  test("an encrypted table compacts into an encrypted delete file") {
    spark.sql("""CREATE TABLE grpd.db.sec (id BIGINT, secret STRING)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read',
                     'encryption.key-id'='mk0')""")
    spark.range(0, 40).selectExpr("id", "concat('topsecret-', id) AS secret")
      .writeTo("grpd.db.sec").append()
    spark.sql("DELETE FROM grpd.db.sec WHERE id % 3 = 0")
    spark.sql("DELETE FROM grpd.db.sec WHERE id % 4 = 1")
    val before = countAndSum("sec")
    val pdBefore = positionDeletes("sec")
    assert(rewrite("sec")._2 === 1)
    assert(countAndSum("sec") === before)
    assert(positionDeletes("sec") === pdBefore)
    val Seq(compacted) = liveFiles("sec", 1)
    val bytes = Files.readAllBytes(GraftIO.toPath(compacted.path))
    assert(new String(bytes, bytes.length - 4, 4, "ISO-8859-1") === "PARE",
      s"compacted delete file has a plaintext footer: ${compacted.path}")
  }
}
