package graft.spark

import java.nio.file.Files

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Model-based DML fuzz: a seeded random sequence of appends, CoW/MoR
  * deletes (parquet position deletes AND deletion vectors), updates,
  * merges and maintenance procedures runs against a graft table while a
  * plain in-memory map applies the same semantics; after EVERY operation
  * the full table read must equal the model. This is the cheapest way to
  * catch cross-feature interactions (e.g. a DV committed over a file the
  * same sequence later compacts, an equality-superseded position delete,
  * an expire racing nothing but still rewriting metadata) that
  * feature-scoped tests never line up in one history. */
class DmlFuzzSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var warehouse: String = _
  private var restWarehouse: String = _
  private var hiveWarehouse: String = _
  private var restServer: com.sun.net.httpserver.HttpServer = _

  override def beforeAll(): Unit = {
    warehouse = Files.createTempDirectory("graft-fuzz-wh").toString
    restWarehouse = Files.createTempDirectory("graft-fuzz-rest-wh").toString
    hiveWarehouse = Files.createTempDirectory("graft-fuzz-hms-wh").toString
    System.setProperty("derby.system.home", hiveWarehouse)
    // auth-hardened server: the bearer token genuinely expires every 3s,
    // so any fuzz history over REST (each runs many seconds) crosses
    // several token lifetimes — the AuthSession refresh path is soaked
    // by EVERY rest-arm seed, not a dedicated test
    val started = graft.core.meta.RestCatalogServer.start(restWarehouse,
      credential = Some(("fuzz", "pw")), tokenTtlSec = 3)
    restServer = started._1
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-dml-fuzz")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.gfz", classOf[GraftCatalog].getName)
      .config("spark.sql.catalog.gfz.warehouse", warehouse)
      // the same fuzz over the spec REST commit protocol: every commit
      // crosses as a derived CommitTableRequest that the server replays
      .config("spark.sql.catalog.gfzr", classOf[GraftCatalog].getName)
      .config("spark.sql.catalog.gfzr.catalog-impl", "rest")
      .config("spark.sql.catalog.gfzr.uri", started._2)
      .config("spark.sql.catalog.gfzr.credential", "fuzz:pw")
      .config("spark.sql.catalog.gfzr.commit-protocol", "spec")
      // thin-client arm: every SCAN of a gfzp table plans through the
      // server's planTableScan endpoints, so a full DML history churns
      // the plan store (admission, eviction, chunking) with real
      // MoR delete attachment riding the wire
      .config("spark.sql.catalog.gfzp", classOf[GraftCatalog].getName)
      .config("spark.sql.catalog.gfzp.catalog-impl", "rest")
      .config("spark.sql.catalog.gfzp.uri", started._2)
      .config("spark.sql.catalog.gfzp.credential", "fuzz:pw")
      .config("spark.sql.catalog.gfzp.rest-scan-planning", "server")
      // lazy-history arm: every LOAD of a gfzl table ships only
      // branch/tag-referenced snapshots plus an ETag (304 conditional
      // reloads); anything past the ref heads (time travel, snapshot
      // procedures) goes through the lazy full-load supplier
      .config("spark.sql.catalog.gfzl", classOf[GraftCatalog].getName)
      .config("spark.sql.catalog.gfzl.catalog-impl", "rest")
      .config("spark.sql.catalog.gfzl.uri", started._2)
      .config("spark.sql.catalog.gfzl.credential", "fuzz:pw")
      .config("spark.sql.catalog.gfzl.snapshot-loading-mode", "refs")
      // Hive Metastore arm: every commit of a gfzh history CASes
      // through the embedded metastore's exclusive table locks
      .config("spark.sql.catalog.gfzh", classOf[GraftCatalog].getName)
      .config("spark.sql.catalog.gfzh.warehouse", hiveWarehouse)
      .config("spark.sql.catalog.gfzh.catalog-impl", "hive")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gfz.db")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gfzr.db")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gfzh.db")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gfzl.db")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    if (restServer != null) restServer.stop(0)
  }

  private def runSeed(seed: Int, partitioned: Boolean, steps: Int,
      evolveSpec: Boolean = false, format: String = "parquet",
      icebergCompat: Boolean = false, cat: String = "gfz",
      mergeMinCount: Option[Int] = None,
      // run the incremental-vs-full partition-stats invariant every N
      // steps (the checkpoint-seeded delta path re-deriving aggregates
      // over MERGED manifest lists is the subtlest interaction of the
      // two features)
      statsEvery: Option[Int] = None,
      // tiny row groups/stripes + a small split target: EVERY read in the
      // run exercises offsets-aware delete-tolerant splits (r16) — the
      // per-split posBase accounting is positional and new, so it gets
      // the same model-checked sweep over random DV/pos/eq histories as
      // everything else
      tinySplits: Boolean = false,
      // partition clause override: a TRANSFORMED spec (bucket) drives the
      // coerced unified struct, summary pruning and the pushdown
      // invariant through non-identity partition values
      partitionBy: String = "grp",
      // identifier `id` + equality-enabled DELETE/UPDATE/MERGE: every
      // merge-on-read row-level op writes equality deletes
      equality: Boolean = false): Unit = {
    val name = s"fuzz_${seed}_${if (partitioned) "p" else "u"}_$format" +
      (if (partitionBy != "grp") "_t" else "")
    val fq = s"$cat.db.$name"
    val catWarehouse =
      if (cat == "gfzr" || cat == "gfzp" || cat == "gfzl") restWarehouse
      else if (cat == "gfzh") hiveWarehouse
      else warehouse
    val partClause = if (partitioned) s"PARTITIONED BY ($partitionBy)" else ""
    val compatProp =
      if (icebergCompat) ", 'compatibility.format'='iceberg'" else ""
    // merge-enabled arm: an aggressive min-count makes commit-time
    // manifest merging fire repeatedly within a short history, so every
    // random op lands on freshly-rewritten (Existing-status) manifests
    val mergeProp = mergeMinCount
      .map(n => s", 'commit.manifest.min-count-to-merge'='$n'").getOrElse("")
    val splitProp = if (!tinySplits) "" else
      ", 'write.parquet.row-group-size-bytes'='32768'" +
      ", 'write.orc.stripe-size-bytes'='32768'" +
      ", 'read.split.target-size'='65536'"
    val eqProp = if (!equality) "" else
      ", 'write.delete.mode'='merge-on-read'" +
      ", 'write.update.mode'='merge-on-read'" +
      ", 'write.merge.mode'='merge-on-read'" +
      ", 'write.delete.equality-enabled'='true'" +
      ", 'write.update.equality-enabled'='true'" +
      ", 'write.merge.equality-enabled'='true'"
    spark.sql(s"""CREATE TABLE $fq (id BIGINT, grp BIGINT, v STRING)
      $partClause TBLPROPERTIES ('format-version'='3',
        'write.format.default'='$format'$compatProp$mergeProp$splitProp$eqProp)""")
    if (equality)
      spark.sql(s"CALL $cat.system.set_identifier_fields('db.$name', 'id')")

    val rng = new Random(seed)
    val model = mutable.LinkedHashMap.empty[Long, (Long, String)]
    var nextId = 0L

    def appendRows(): String = {
      // tiny-splits arm: appends must be big enough — and INCOMPRESSIBLE
      // enough (a constant pad snappy-compresses below the split target)
      // — that files span several 32 KB row groups/stripes, or no read
      // would ever split
      val n = if (tinySplits) 4000 + rng.nextInt(4000) else 1 + rng.nextInt(40)
      val rows = (0 until n).map { _ =>
        val id = nextId; nextId += 1
        val grp = rng.nextInt(5).toLong
        val pad = if (tinySplits) "-" + rng.alphanumeric.take(40).mkString else ""
        val v = s"v$id-${rng.nextInt(100)}$pad"
        model.put(id, (grp, v))
        (id, grp, v)
      }
      val df = spark.createDataFrame(rows).toDF("id", "grp", "v")
      // sometimes several files, sometimes one
      (if (rng.nextBoolean()) df.repartition(2) else df.coalesce(1))
        .writeTo(fq).append()
      s"append($n)"
    }

    def setModes(): String = {
      val del = if (rng.nextBoolean()) "merge-on-read" else "copy-on-write"
      val upd = if (rng.nextBoolean()) "merge-on-read" else "copy-on-write"
      // avro included: delete files keep their own format independent of
      // the data's, so this seeds mixed-format MoR trees (the Flink shape)
      val fmt = rng.nextInt(3) match {
        case 0 => "dv"
        case 1 => "avro"
        case _ => "parquet"
      }
      // flipping the manifest codec mid-history leaves a MIXED JSON/Avro
      // metadata tree that every later op (and the sniffing readers)
      // must keep handling
      val mf = if (rng.nextBoolean()) "avro" else "json"
      spark.sql(s"""ALTER TABLE $fq SET TBLPROPERTIES (
        'write.delete.mode'='$del', 'write.update.mode'='$upd',
        'write.merge.mode'='${if (rng.nextBoolean()) "merge-on-read" else "copy-on-write"}',
        'write.delete.format'='$fmt',
        'write.manifests.format'='$mf')""")
      // flipping the metadata DIALECT mid-history (graft JSON ↔ spec
      // Appendix-C) leaves a version log whose documents alternate
      // dialects — readMetadata sniffs per-document, so every later op,
      // time travel and expiry must keep working across the flip
      val compat = if (icebergCompat && rng.nextBoolean()) {
        if (rng.nextBoolean()) {
          spark.sql(
            s"ALTER TABLE $fq SET TBLPROPERTIES ('compatibility.format'='iceberg')")
          ",compat=iceberg"
        } else {
          spark.sql(
            s"ALTER TABLE $fq UNSET TBLPROPERTIES ('compatibility.format')")
          ",compat=off"
        }
      } else ""
      s"modes($del,$upd,$fmt,$mf$compat)"
    }

    def deleteByGroup(): String = {
      val g = rng.nextInt(5)
      spark.sql(s"DELETE FROM $fq WHERE grp = $g")
      model.filterInPlace { case (_, (grp, _)) => grp != g }
      s"delete(grp=$g)"
    }

    def deleteByMod(): String = {
      val m = 2 + rng.nextInt(5); val r = rng.nextInt(m)
      spark.sql(s"DELETE FROM $fq WHERE id % $m = $r")
      model.filterInPlace { case (id, _) => id % m != r }
      s"delete(id%$m=$r)"
    }

    def update(): String = {
      val m = 2 + rng.nextInt(5); val r = rng.nextInt(m)
      spark.sql(s"UPDATE $fq SET v = concat(v, '+') WHERE id % $m = $r")
      model.mapValuesInPlace { case (id, (g, v)) =>
        if (id % m == r) (g, v + "+") else (g, v)
      }
      s"update(id%$m=$r)"
    }

    def merge(): String = {
      // half the source hits existing ids (update), half are fresh inserts
      val existing = rng.shuffle(model.keys.toVector).take(rng.nextInt(10))
      val fresh = (0 until rng.nextInt(10)).map { _ =>
        val id = nextId; nextId += 1; id
      }
      val rows = (existing ++ fresh).map { id =>
        (id, rng.nextInt(5).toLong, s"m$id-${rng.nextInt(100)}")
      }
      if (rows.isEmpty) return "merge(skip)"
      spark.createDataFrame(rows).toDF("id", "grp", "v")
        .createOrReplaceTempView("fuzz_src")
      spark.sql(s"""MERGE INTO $fq t USING fuzz_src s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      rows.foreach { case (id, g, v) => model.put(id, (g, v)) }
      s"merge(${existing.size}u+${fresh.size}i)"
    }

    // partition-spec evolution: old files keep their write-time spec;
    // scans, deletes and compaction groups must handle a mixed-spec table
    val specStates = Seq("", "grp", "bucket4") // identity / bucket(4, id)
    var specState = if (partitioned) 1 else 0
    def evolvePartitioning(): String = {
      val next = (specState + 1 + rng.nextInt(2)) % 3
      // drop current field (if any), add the next (if any)
      specState match {
        case 1 => spark.sql(s"ALTER TABLE $fq DROP PARTITION FIELD grp")
        case 2 => spark.sql(s"ALTER TABLE $fq DROP PARTITION FIELD bucket(4, id)")
        case _ => ()
      }
      next match {
        case 1 => spark.sql(s"ALTER TABLE $fq ADD PARTITION FIELD grp")
        case 2 => spark.sql(s"ALTER TABLE $fq ADD PARTITION FIELD bucket(4, id)")
        case _ => ()
      }
      val from = specStates(specState); specState = next
      s"spec($from->${specStates(next)})"
    }

    var expired = false
    def procedure(): String = rng.nextInt(4) match {
      case 0 =>
        spark.sql(s"CALL $cat.system.rewrite_data_files(table => 'db.$name')")
        "rewrite_data_files"
      case 1 =>
        spark.sql(s"CALL $cat.system.rewrite_position_delete_files(table => 'db.$name')")
        "rewrite_position_deletes"
      case 2 =>
        spark.sql(s"CALL $cat.system.expire_snapshots(table => 'db.$name', retain_last => 1)")
        expired = true
        "expire_snapshots"
      case _ =>
        spark.sql(s"CALL $cat.system.rewrite_manifests('db.$name')")
        "rewrite_manifests"
    }

    // (snapshotId, model state right after the op) for time-travel checks
    val snapshotsSeen = mutable.ArrayBuffer.empty[(Long, Seq[(Long, (Long, String))])]
    def coreTable() = {
      // the HMS arm's pointer lives in the metastore, not a version file
      val c: graft.core.meta.HadoopCatalog =
        if (cat == "gfzh")
          new graft.core.meta.HiveMsCatalog(catWarehouse,
            graft.core.meta.HiveMs.connect(
              None, s"$catWarehouse/_hms_db", catWarehouse))
        else new graft.core.meta.HadoopCatalog(catWarehouse)
      c.loadTable(Seq("db"), name).get
    }

    var sawSplit = false
    def check(step: Int, op: String): Unit = {
      val actual = spark.sql(s"SELECT id, grp, v FROM $fq")
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2))))
        .sortBy(_._1).toSeq
      val expected = model.toSeq.sortBy(_._1)
      assert(actual == expected,
        s"seed=$seed partitioned=$partitioned step=$step after $op: " +
          s"table=${actual.take(8)}... (${actual.size} rows) vs " +
          s"model ${expected.take(8)}... (${expected.size} rows)")
      coreTable().meta.currentSnapshot.foreach(s =>
        snapshotsSeen += ((s.snapshotId, expected)))
      // tiny-splits arm: the sweep is only meaningful if reads actually
      // plan MORE tasks than there are live data files at least once
      if (tinySplits && !sawSplit) {
        val live = coreTable().newScan().planFiles()
          .map(_.file.path).distinct.size
        sawSplit = spark.table(fq).rdd.getNumPartitions > live
      }
    }

    // incremental-vs-full partition-stats invariant (reference
    // PartitionStatsHandler.computeAndMergeStatsIncremental): the
    // incremental call — seeded from whatever checkpoint an earlier
    // mid-history call left, re-deriving deltas over commit-time-MERGED
    // manifest lists — must produce byte-identical aggregates to a full
    // recompute of the same snapshot (forced by deleting every stats
    // artifact so no checkpoint can seed). Skipped once snapshots
    // expired: entries whose ADDING snapshot expired resolve to
    // commit-ts 0 in a full recompute, so last-updated election can
    // legitimately differ from a checkpoint that recorded the live ts.
    def statsInvariant(step: Int): Unit = {
      def computeAndRead(): Map[(Int, Seq[Any]), GraftProcedures.PartStatsAgg] = {
        spark.sql(s"CALL $cat.system.compute_partition_stats(table => 'db.$name')")
        val meta = coreTable().refresh()
        val cur = meta.currentSnapshot.get.snapshotId
        val sf = meta.partitionStatistics.find(_.snapshotId == cur)
          .getOrElse(fail(s"seed=$seed step=$step: no stats registered"))
        GraftProcedures.readStatsCkpt(sf.path)
          .getOrElse(fail(s"seed=$seed step=$step: unreadable ckpt"))
      }
      val inc = computeAndRead()
      // drop EVERY stats artifact: nothing can seed → full recompute
      coreTable().meta.partitionStatistics.foreach { f =>
        graft.core.meta.GraftIO.delete(f.path)
        graft.core.meta.GraftIO.delete(GraftProcedures.statsCkptPath(f.path))
      }
      val full = computeAndRead()
      assert(inc == full,
        s"seed=$seed step=$step: incremental partition stats diverge from " +
          s"full recompute (${inc.size} vs ${full.size} partitions)")
    }

    // always start with data so the first DML has something to chew on
    check(0, appendRows())
    (1 to steps).foreach { step =>
      val op = rng.nextInt(if (evolveSpec) 11 else 10) match {
        case 0 | 1 | 2 => appendRows()
        case 3         => setModes()
        case 4         => deleteByGroup()
        case 5         => deleteByMod()
        case 6 | 7     => update()
        case 8         => merge()
        case 9         => procedure()
        case _         => evolvePartitioning()
      }
      check(step, op)
      if (!expired && statsEvery.exists(n => step % n == 0)) statsInvariant(step)
    }
    // CDC invariant: replaying the raw changelog — per ordinal, deletes
    // first, then inserts (a CoW rewrite emits both for carried-over
    // rows) — must reconstruct exactly the final table state. Only
    // checkable while the full history is retained: an expire truncates
    // the ancestry and the changelog legitimately starts mid-stream.
    if (!expired) {
    val changes = spark.sql(
      s"""SELECT id, grp, v, _change_type, _change_ordinal
          FROM $fq.changes""").collect()
      .map(r => (r.getInt(4), r.getString(3),
        (r.getLong(0), (r.getLong(1), r.getString(2)))))
    val replay = mutable.AnyRefMap.empty[AnyRef, Int] // multiset
    changes.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (_, ops) =>
      ops.filter(_._2 == "DELETE").foreach { case (_, _, row) =>
        val k = row.asInstanceOf[AnyRef]
        replay.get(k) match {
          case Some(1) => replay.remove(k)
          case Some(n) => replay.put(k, n - 1)
          case None => fail(s"seed=$seed: changelog DELETE of absent row $row")
        }
      }
      ops.filter(_._2 == "INSERT").foreach { case (_, _, row) =>
        val k = row.asInstanceOf[AnyRef]
        replay.put(k, replay.getOrElse(k, 0) + 1)
      }
    }
    val replayed = replay.keys.map(_.asInstanceOf[(Long, (Long, String))])
      .toSeq.sortBy(_._1)
    assert(replay.values.forall(_ == 1), s"seed=$seed: replay multiset skew")
    assert(replayed == model.toSeq.sortBy(_._1),
      s"seed=$seed: changelog replay diverges from final state " +
        s"(${replayed.size} vs ${model.size} rows)")

    // changes-scan pushdown invariant: a grp-filtered changelog read
    // (each snapshot's plan prunes with the pushed filter) must
    // serve exactly the post-filtered full changelog, across the same
    // random CoW/MoR/compaction histories the replay above walked
    changes.map(_._3._2._1).headOption.foreach { g =>
      val pushed = spark.sql(
        s"""SELECT id, grp, v, _change_type, _change_ordinal
            FROM $fq.changes WHERE grp = $g""").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getString(3), r.getInt(4))).sorted.toSeq
      val full = changes
        .filter(_._3._2._1 == g)
        .map(c => (c._3._1, c._3._2._1, c._3._2._2, c._2, c._1))
        .sorted.toSeq
      assert(pushed == full,
        s"seed=$seed: pushdown-pruned changes scan diverges on grp=$g " +
          s"(${pushed.size} vs ${full.size} rows)")
    }
    }

    // equality arm: the replay above must have walked equality deletes
    assert(!equality || (!expired && coreTable().meta.snapshots.exists(
        _.summary.get("added-equality-deletes").exists(_.toLong > 0))),
      s"seed=$seed: the equality arm replayed no equality deletes")

    // time-travel invariant: VERSION AS OF any still-retained snapshot
    // must reproduce the model state captured right after its commit —
    // MoR deletes, DV merges and compactions must never bleed newer
    // state into an older snapshot's read
    val retained = coreTable().meta.snapshots.map(_.snapshotId).toSet
    snapshotsSeen.toSeq.reverse.distinctBy(_._1).filter(p => retained(p._1))
      .take(12).foreach { case (sid, state) =>
        val tt = spark.sql(s"SELECT id, grp, v FROM $fq VERSION AS OF $sid")
          .collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2))))
          .sortBy(_._1).toSeq
        assert(tt == state,
          s"seed=$seed: time travel to $sid diverges " +
            s"(${tt.size} vs ${state.size} rows)")
      }

    // metadata-table consistency: the files table must list exactly the
    // planned data files; snapshots must mirror the metadata; the
    // partitions table's physical row total must equal the sum of file
    // record counts
    val plannedPaths = coreTable().newScan().planFiles().map(_.file.path).toSet
    // content=0: the files table also lists DELETE files (reference
    // BaseFilesTable) — only data files appear in the scan plan
    val filesRows = spark.sql(
      s"SELECT file_path, record_count FROM $fq.files WHERE content = 0")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(filesRows.map(_._1).toSet == plannedPaths,
      s"seed=$seed: files metadata table diverges from the scan plan")
    // count(*) pushdown answers from manifest-LIST counts
    // (added+existing = live entries) with zero manifest reads — this
    // ties that bookkeeping to the actual rows across random histories,
    // including Avro-manifest (icebergCompat) and merge-rewritten arms
    val allFilesRows = spark.table(s"$fq.files").collect().length.toLong
    val pushedCount = spark.sql(s"SELECT count(*) FROM $fq.files")
      .head().getLong(0)
    assert(pushedCount == allFilesRows,
      s"seed=$seed: pushed count(*) $pushedCount != files rows $allFilesRows" +
        " (manifest-list live counts drifted from entries)")
    // entries serve ALL statuses (Deleted markers included, reference
    // BaseEntriesTable), and their pushed count adds the list entry's
    // deleted count — tie both to the served rows across random
    // delete/rewrite histories
    val entryRows = spark.table(s"$fq.entries").collect()
    val pushedEntries = spark.sql(s"SELECT count(*) FROM $fq.entries")
      .head().getLong(0)
    assert(pushedEntries == entryRows.length.toLong,
      s"seed=$seed: pushed entries count(*) $pushedEntries != " +
        s"${entryRows.length} served rows")
    val statusIdx = entryRows.headOption
      .map(_.fieldIndex("status")).getOrElse(0)
    assert(entryRows.count(_.getInt(statusIdx) != 2).toLong == allFilesRows,
      s"seed=$seed: live entries != files rows (status accounting drifted)")
    // chained snapshot totals (total-position-deletes /
    // total-equality-deletes) must equal the files table's LIVE
    // delete-record sums after every random step — catches any commit
    // path (CoW retire, DV supersede, rewrite_position_deletes,
    // remove_dangling_deletes, rollback) whose added/removed deltas
    // drift the chain
    val curSummary = coreTable().meta.currentSnapshot.map(_.summary)
      .getOrElse(Map.empty[String, String])
    def liveDeleteRecords(content: Int): Long = {
      val r = spark.sql(s"SELECT sum(record_count) FROM $fq.files " +
        s"WHERE content = $content").head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    curSummary.get("total-position-deletes").foreach(v =>
      assert(v.toLong == liveDeleteRecords(1),
        s"seed=$seed: total-position-deletes $v drifted from live " +
          s"DV/pos records ${liveDeleteRecords(1)}"))
    curSummary.get("total-equality-deletes").foreach(v =>
      assert(v.toLong == liveDeleteRecords(2),
        s"seed=$seed: total-equality-deletes $v drifted from live " +
          s"eq records ${liveDeleteRecords(2)}"))
    val snapCount = spark.sql(s"SELECT count(*) FROM $fq.snapshots")
      .collect()(0).getLong(0)
    assert(snapCount == coreTable().meta.snapshots.size.toLong,
      s"seed=$seed: snapshots table count $snapCount != metadata")
    val partSum = spark.sql(s"SELECT sum(record_count) FROM $fq.partitions")
      .collect()(0)
    assert((if (partSum.isNullAt(0)) 0L else partSum.getLong(0)) ==
      filesRows.map(_._2).sum,
      s"seed=$seed: partitions record_count total diverges from files")
    // typed partitions table ≡ files-table aggregation per UNIFIED key:
    // the delete-debt counters (data/position/equality) of every
    // coerced partition must match what the files table says, across
    // whatever spec-evolution/merge/delete history the seed produced
    if (spark.table(s"$fq.partitions").schema.fieldNames.contains("partition")) {
      val byKey = scala.collection.mutable.Map
        .empty[String, (Long, Long, Long)].withDefaultValue((0L, 0L, 0L))
      spark.sql(s"""SELECT CAST(partition AS STRING) AS k, content,
          CAST(sum(record_count) AS BIGINT) AS rc
        FROM $fq.files GROUP BY 1, 2""").collect().foreach { r =>
        val (d, p, q) = byKey(r.getString(0))
        byKey(r.getString(0)) = r.getInt(1) match {
          case 0 => (d + r.getLong(2), p, q)
          case 1 => (d, p + r.getLong(2), q)
          case _ => (d, p, q + r.getLong(2))
        }
      }
      val pTab = spark.sql(s"""SELECT CAST(partition AS STRING),
          record_count, position_delete_record_count,
          equality_delete_record_count FROM $fq.partitions""").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      assert(pTab == byKey.toMap,
        s"seed=$seed: partitions debt diverges from files aggregation\n" +
          s"  partitions=$pTab\n  files=${byKey.toMap}")

      // metadata-scan pushdown invariant: a partition-filtered t.files
      // query (manifest pruning fires at planning) must serve exactly
      // the post-filtered FULL scan, across whatever spec-evolution /
      // delete / merge history the seed produced — inclusive pruning may
      // only drop manifests whose rows the predicate drops anyway
      import org.apache.spark.sql.functions.{col, lit}
      val pcol = spark.table(s"$fq.files").schema("partition").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.head
      val cand = spark.table(s"$fq.files")
        .select(col(s"partition.$pcol"))
        .filter(col(s"partition.$pcol").isNotNull).limit(1).collect()
      if (cand.nonEmpty && !cand.head.get(0).isInstanceOf[Array[Byte]]) {
        val v = cand.head.get(0)
        val pruned = spark.table(s"$fq.files")
          .filter(col(s"partition.$pcol") === lit(v))
          .select("file_path", "record_count").collect()
          .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
        val full = spark.table(s"$fq.files")
          .select(col("file_path"), col("record_count"),
            col(s"partition.$pcol").as("pv"))
          .collect().filter(r => !r.isNullAt(2) && r.get(2) == v)
          .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
        assert(pruned == full,
          s"seed=$seed: pushdown-pruned files scan diverges from the " +
            s"post-filtered full scan on partition.$pcol = $v\n" +
            s"  pruned=$pruned\n  full=$full")
      }
    }

    // merge-enabled arm: commit-time manifest merging must keep the
    // manifest list bounded by the min-count guard — per content kind,
    // and per spec (spec evolution can leave one unmerged group per old
    // spec) — while every read/time-travel/metadata check above passed
    mergeMinCount.foreach { n =>
      val meta = coreTable().meta
      val ms = graft.core.meta.ManifestIO.readList(
        meta.currentSnapshot.get.manifestListPath)
      val bound = n * meta.specs.size + 2
      Seq(0, 1).foreach { content =>
        val cnt = ms.count(_.content == content)
        assert(cnt <= bound,
          s"seed=$seed: $cnt content-$content manifests exceed bound $bound")
      }
    }

    assert(!tinySplits || sawSplit,
      s"seed=$seed: the tiny-splits arm never planned a multi-split read " +
        "— the sweep exercised nothing; grow the appends or shrink the target")

    // end-of-life: everything still reads after a final compact + expire
    spark.sql(s"CALL $cat.system.rewrite_data_files(table => 'db.$name')")
    spark.sql(s"CALL $cat.system.expire_snapshots(table => 'db.$name', retain_last => 1)")
    check(steps + 1, "final-compact-expire")
  }

  /** Branch fuzz: main and a `dev` branch evolve through independent
    * random DML (appends, deletes, updates on either ref); after every
    * op BOTH refs must match their own models — no write may bleed
    * across refs, and dropping/recreating the branch resets it to the
    * main state it forked from. */
  private def runBranchSeed(seed: Int, steps: Int,
      icebergCompat: Boolean = false,
      mergeMinCount: Option[Int] = None): Unit = {
    val name = s"bfz_$seed"
    val fq = s"gfz.db.$name"
    val compatProp =
      if (icebergCompat) ", 'compatibility.format'='iceberg'" else ""
    // merging is per-branch-lineage (parentManifests follows the target
    // ref): an aggressive min-count makes both refs' histories merge
    // independently — a cross-ref bleed would corrupt one model
    val mergeProp = mergeMinCount
      .map(n => s", 'commit.manifest.min-count-to-merge'='$n'").getOrElse("")
    spark.sql(s"""CREATE TABLE $fq (id BIGINT, grp BIGINT, v STRING)
      TBLPROPERTIES ('format-version'='3'$compatProp$mergeProp)""")
    val rng = new Random(seed)
    val main = mutable.LinkedHashMap.empty[Long, (Long, String)]
    var branch: mutable.LinkedHashMap[Long, (Long, String)] = null
    var nextId = 0L

    def target(): (String, mutable.LinkedHashMap[Long, (Long, String)]) =
      if (branch != null && rng.nextBoolean()) (s"$fq.branch_dev", branch)
      else (fq, main)

    def append(): String = {
      val (tgt, model) = target()
      val n = 1 + rng.nextInt(20)
      val rows = (0 until n).map { _ =>
        val id = nextId; nextId += 1
        val grp = rng.nextInt(5).toLong
        val v = s"b$id-${rng.nextInt(100)}"
        model.put(id, (grp, v))
        (id, grp, v)
      }
      spark.createDataFrame(rows).toDF("id", "grp", "v")
        .coalesce(1).writeTo(tgt).append()
      s"append($tgt, $n)"
    }

    def delete(): String = {
      val (tgt, model) = target()
      val m = 2 + rng.nextInt(4); val r = rng.nextInt(m)
      spark.sql(s"DELETE FROM $tgt WHERE id % $m = $r")
      model.filterInPlace { case (id, _) => id % m != r }
      s"delete($tgt, id%$m=$r)"
    }

    def update(): String = {
      val (tgt, model) = target()
      val m = 2 + rng.nextInt(4); val r = rng.nextInt(m)
      spark.sql(s"UPDATE $tgt SET v = concat(v, '~') WHERE id % $m = $r")
      model.mapValuesInPlace { case (id, (g, v)) =>
        if (id % m == r) (g, v + "~") else (g, v)
      }
      s"update($tgt, id%$m=$r)"
    }

    def flipBranch(): String =
      if (branch == null) {
        spark.sql(s"ALTER TABLE $fq CREATE BRANCH dev")
        branch = main.clone() // forks from the current main state
        "create-branch"
      } else {
        spark.sql(s"ALTER TABLE $fq DROP BRANCH dev")
        branch = null
        "drop-branch"
      }

    def check(step: Int, op: String): Unit = {
      def read(tgt: String) = spark.sql(s"SELECT id, grp, v FROM $tgt")
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2))))
        .sortBy(_._1).toSeq
      assert(read(fq) == main.toSeq.sortBy(_._1),
        s"seed=$seed step=$step after $op: MAIN diverges")
      if (branch != null)
        assert(read(s"$fq.branch_dev") == branch.toSeq.sortBy(_._1),
          s"seed=$seed step=$step after $op: BRANCH diverges")
    }

    check(0, append())
    (1 to steps).foreach { step =>
      val op = rng.nextInt(8) match {
        case 0 | 1 | 2 => append()
        case 3 | 4     => delete()
        case 5 | 6     => update()
        case _         => flipBranch()
      }
      check(step, op)
    }
  }

  /** Register-chain fuzz: the migrating user's whole lifecycle as one
    * model-checked history. A table is BORN as a spec-dialect (compat)
    * tree at format-version 1, mutates through random DML, upgrades
    * v1→v2 mid-history (flipping on MoR deletes with a random delete
    * format), and is repeatedly adopted under a fresh name via
    * register_table — then mutated FURTHER as the registered copy, so
    * the re-register chain covers trees whose history mixes dialects,
    * format versions, and delete shapes. Ends by rewrite_table_path-ing
    * the final table to a real directory, copying per the file list,
    * and registering the MOVED tree — which must read the same model. */
  private def runRegisterSeed(seed: Int, steps: Int): Unit = {
    val rng = new Random(seed)
    var gen = 0
    var name = s"reg_${seed}_0"
    def fq = s"gfz.db.$name"
    def coreT(n: String) =
      new graft.core.meta.HadoopCatalog(warehouse).loadTable(Seq("db"), n).get
    spark.sql(s"""CREATE TABLE $fq (id BIGINT, grp BIGINT, v STRING)
      TBLPROPERTIES ('format-version'='1',
                     'compatibility.format'='iceberg')""")
    // generation 0 must really be the spec dialect from birth
    assert(graft.core.meta.MetaJson.isSpecDialect(
      graft.core.meta.GraftIO.readString(
        coreT(name).ops.currentMetadataPath.get)),
      s"seed=$seed: compat table's metadata is not spec-dialect")

    val model = mutable.LinkedHashMap.empty[Long, (Long, String)]
    var nextId = 0L
    var upgraded = false

    def append(): String = {
      val n = 1 + rng.nextInt(25)
      val rows = (0 until n).map { _ =>
        val id = nextId; nextId += 1
        val grp = rng.nextInt(4).toLong
        val v = s"r$id-${rng.nextInt(100)}"
        model.put(id, (grp, v))
        (id, grp, v)
      }
      spark.createDataFrame(rows).toDF("id", "grp", "v")
        .coalesce(1).writeTo(fq).append()
      s"append($n)"
    }
    def delete(): String = {
      val m = 2 + rng.nextInt(4); val r = rng.nextInt(m)
      spark.sql(s"DELETE FROM $fq WHERE id % $m = $r")
      model.filterInPlace { case (id, _) => id % m != r }
      s"delete(id%$m=$r)"
    }
    def update(): String = {
      val m = 2 + rng.nextInt(4); val r = rng.nextInt(m)
      spark.sql(s"UPDATE $fq SET v = concat(v, '^') WHERE id % $m = $r")
      model.mapValuesInPlace { case (id, (g, v)) =>
        if (id % m == r) (g, v + "^") else (g, v)
      }
      s"update(id%$m=$r)"
    }
    def upgrade(): String =
      if (upgraded) append()
      else {
        upgraded = true
        // v1 histories carry CoW snapshots only; from here MoR deletes
        // (random file format) stack v2 shapes onto the v1 prefix
        val fmt = if (rng.nextBoolean()) "avro" else "parquet"
        spark.sql(s"""ALTER TABLE $fq SET TBLPROPERTIES (
          'format-version'='2', 'write.delete.mode'='merge-on-read',
          'write.delete.format'='$fmt')""")
        s"upgrade(v1->v2, deletes=$fmt)"
      }
    def reRegister(): String = {
      gen += 1
      val old = name
      name = s"reg_${seed}_$gen"
      val metaPath = coreT(old).ops.currentMetadataPath.get
      spark.sql(s"CALL gfz.system.register_table('db.$name', '$metaPath')")
      s"re-register($old -> $name)"
    }
    def check(step: Int, op: String): Unit = {
      val actual = spark.sql(s"SELECT id, grp, v FROM $fq")
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2))))
        .sortBy(_._1).toSeq
      assert(actual == model.toSeq.sortBy(_._1),
        s"seed=$seed step=$step after $op on $name: " +
          s"${actual.size} rows vs model ${model.size}")
    }

    check(0, append())
    (1 to steps).foreach { step =>
      val op = rng.nextInt(10) match {
        case 0 | 1 | 2 => append()
        case 3 | 4     => delete()
        case 5 | 6     => update()
        case 7         => upgrade()
        case _         => reRegister()
      }
      check(step, op)
    }
    if (gen == 0) check(steps + 1, reRegister())

    // final act of the migration story: MOVE the tree (rewrite paths to
    // a real directory, copy per the file list) and register the copy
    val dst = Files.createTempDirectory(s"graft-reg-moved-$seed").toString
    val r = spark.sql(
      s"CALL gfz.system.rewrite_table_path('db.$name', '$warehouse', '$dst')")
      .collect()(0)
    val fileList = graft.core.meta.GraftIO.readString(r.getString(1))
    fileList.split("\n").filter(_.nonEmpty).foreach { line =>
      val Array(src, tgt) = line.split(",", 2)
      val tp = graft.core.meta.GraftIO.toPath(tgt)
      java.nio.file.Files.createDirectories(tp.getParent)
      java.nio.file.Files.copy(graft.core.meta.GraftIO.toPath(src), tp,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val movedMeta = s"$dst/db/$name/metadata/${r.getString(0)}"
    assert(graft.core.meta.GraftIO.exists(movedMeta),
      s"seed=$seed: moved tree missing its metadata document at $movedMeta")
    spark.sql(
      s"CALL gfz.system.register_table('db.${name}_moved', '$movedMeta')")
    val moved = spark.sql(s"SELECT id, grp, v FROM gfz.db.${name}_moved")
      .collect().map(r2 => (r2.getLong(0), (r2.getLong(1), r2.getString(2))))
      .sortBy(_._1).toSeq
    assert(moved == model.toSeq.sortBy(_._1),
      s"seed=$seed: the MOVED re-registered tree diverges " +
        s"(${moved.size} rows vs model ${model.size})")
  }

  test("seeded branch DML fuzz") { runBranchSeed(321, 25) }

  test("register-chain fuzz: spec birth, v1->v2 upgrade, re-register, move") {
    runRegisterSeed(515151, 25)
  }

  test("v1 snapshot with an embedded manifests array of AVRO manifests registers") {
    // genuine OLD v1 writers embed the manifest list as a `manifests`
    // path array in the snapshot itself (SnapshotParser v1 form) while
    // the manifests are spec Avro — synthesize that tree from a compat
    // table and register it
    import graft.core.meta.{AvroManifests, GraftIO, ManifestIO, MetaJson}
    spark.sql("""CREATE TABLE gfz.db.emb_src (id BIGINT, v STRING)
      TBLPROPERTIES ('format-version'='1',
                     'compatibility.format'='iceberg')""")
    spark.sql(
      "INSERT INTO gfz.db.emb_src SELECT id, concat('v', id) FROM range(0, 12)")
    val t = new graft.core.meta.HadoopCatalog(warehouse)
      .loadTable(Seq("db"), "emb_src").get
    val metaPath = t.ops.currentMetadataPath.get
    val doc = MetaJson.mapper.readTree(GraftIO.readString(metaPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val snaps = doc.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("snapshots")
    assert(snaps.size() === 1)
    val sn = snaps.get(0).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val listPath = sn.get("manifest-list").asText()
    val mfs = ManifestIO.readList(listPath)
    assert(mfs.nonEmpty && mfs.forall(mf => AvroManifests.isAvro(
      java.nio.file.Files.readAllBytes(GraftIO.toPath(mf.path)))),
      "precondition: compat manifests must be genuine Avro")
    sn.remove("manifest-list")
    val arr = sn.putArray("manifests")
    mfs.foreach(mf => arr.add(mf.path))
    val embPath = s"${t.location}/metadata/v1-embedded.metadata.json"
    GraftIO.writeString(embPath, MetaJson.mapper.writeValueAsString(doc))
    spark.sql(s"CALL gfz.system.register_table('db.emb_reg', '$embPath')")
    val got = spark.sql("SELECT id FROM gfz.db.emb_reg ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(got === (0L until 12L),
      s"embedded-manifests v1 tree misread after register: $got")

    // v1→v2 upgrade: v2 REQUIRES manifest-list, so the embedded-array
    // snapshot must materialize a real list file — the upgraded document
    // may not carry the v1 `manifests` form (external parsers reject it)
    spark.sql(
      "ALTER TABLE gfz.db.emb_reg SET TBLPROPERTIES ('format-version'='2')")
    val reg = new graft.core.meta.HadoopCatalog(warehouse)
      .loadTable(Seq("db"), "emb_reg").get
    val upDoc = GraftIO.readString(reg.ops.currentMetadataPath.get)
    val upSnaps = MetaJson.mapper.readTree(upDoc).get("snapshots")
    (0 until upSnaps.size()).foreach { i =>
      val s2 = upSnaps.get(i)
      assert(!s2.has("manifests") && s2.hasNonNull("manifest-list"),
        s"v2 document must not carry embedded manifests arrays: $s2")
    }
    assert(spark.sql("SELECT id FROM gfz.db.emb_reg ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === (0L until 12L),
      "upgraded embedded-manifests tree must still read")
  }

  // branch refs + retention fields must survive the spec (Appendix-C)
  // refs serialization on every commit
  test("seeded branch DML fuzz in iceberg-compat mode") {
    runBranchSeed(654, 25, icebergCompat = true)
  }

  test("seeded DML fuzz on an unpartitioned v3 table") {
    runSeed(seed = 1337, partitioned = false, steps = 30)
  }

  test("seeded DML fuzz on a partitioned v3 table") {
    runSeed(seed = 9001, partitioned = true, steps = 30)
  }

  test("seeded DML fuzz on an ORC table") {
    runSeed(seed = 808, partitioned = false, steps = 25, format = "orc")
  }

  test("seeded DML fuzz on an Avro table") {
    runSeed(seed = 909, partitioned = false, steps = 25, format = "avro")
  }

  test("seeded DML fuzz with equality deletes") {
    // merge-on-read DELETE/UPDATE/MERGE write equality deletes keyed on
    // `id`, so the changelog replay checks the rows they remove
    runSeed(seed = 515, partitioned = true, steps = 12, equality = true)
  }

  test("seeded DML fuzz with partition-spec evolution") {
    runSeed(seed = 60005, partitioned = true, steps = 40, evolveSpec = true)
  }

  // every random op commits spec-dialect (Appendix-C) metadata + Avro
  // manifests and is immediately re-read through the spec parsers — the
  // interop writer/reader pair gets the same model-checked history as
  // the graft dialect, including mid-history dialect flips
  test("seeded DML fuzz in iceberg-compat mode") {
    runSeed(seed = 424242, partitioned = true, steps = 35,
      evolveSpec = true, icebergCompat = true)
  }

  // every random op's COMMIT crosses the wire as a spec
  // CommitTableRequest (requirements + update actions) that the REST
  // server validates and replays — the whole model-checked history
  // exercises deriveCommit/applyCommit on real DML, procedures, spec
  // evolution and time travel
  test("seeded DML fuzz over the spec REST commit protocol") {
    runSeed(seed = 777001, partitioned = true, steps = 30,
      evolveSpec = true, cat = "gfzr")
  }

  // every random op's COMMIT takes an exclusive HMS table lock and
  // alters the metastore pointer (catalog-impl=hive, embedded Derby
  // metastore with the real txn-lock schema) — the full model-checked
  // history of DML, procedures, spec evolution and time travel runs
  // over the Hive Metastore commit protocol
  test("seeded DML fuzz over the Hive Metastore catalog") {
    runSeed(seed = 999001, partitioned = true, steps = 30,
      evolveSpec = true, cat = "gfzh")
  }

  // every random op's READS plan through the REST server (thin-client
  // rest-scan-planning=server): a full model-checked history of appends,
  // MoR deletes, spec evolution and time travel where the surviving
  // FileScanTasks + delete files always cross the wire — and the 3s
  // token TTL forces several AuthSession refreshes along the way
  test("seeded DML fuzz with server-side scan planning") {
    runSeed(seed = 888001, partitioned = true, steps = 30,
      evolveSpec = true, cat = "gfzp")
  }

  // every LOAD ships the refs-filtered metadata with an ETag (304
  // conditional reloads on repeat loads), and every access past the
  // ref heads — time travel, snapshot procedures — goes through the
  // lazy full-load supplier: the model-checked history must be
  // invariant to HOW the snapshot list is materialized
  test("seeded DML fuzz over refs-mode lazy snapshot loading") {
    runSeed(seed = 555001, partitioned = true, steps = 30,
      evolveSpec = true, cat = "gfzl")
  }

  // every commit merges manifests aggressively (min-count 2–8 derived
  // from the seed, so merging fires many times in 35 steps): random DML,
  // CoW/MoR deletes, compaction and spec evolution all land on
  // freshly-merged Existing-status manifests — manifest rewrites under
  // concurrent history churn are exactly where a lost-file or
  // sequence-number bug would hide
  test("seeded DML fuzz with aggressive manifest merging") {
    runSeed(seed = 321001, partitioned = true, steps = 35,
      evolveSpec = true, mergeMinCount = Some(2 + 321001 % 7))
  }

  test("seeded DML fuzz with manifest merging in iceberg-compat mode") {
    runSeed(seed = 321002, partitioned = true, steps = 30,
      icebergCompat = true, mergeMinCount = Some(3))
  }

  test("seeded branch DML fuzz with aggressive manifest merging") {
    runBranchSeed(321003, 25, mergeMinCount = Some(3))
  }

  test("seeded DML fuzz: incremental partition stats under manifest merging") {
    // mid-history compute_partition_stats every 3 steps on a
    // merge-enabled table: each call's checkpoint seeds the NEXT call's
    // incremental path over freshly-merged manifest lists, and every
    // result must equal a forced full recompute
    runSeed(seed = 321004, partitioned = true, steps = 21,
      mergeMinCount = Some(3), statsEvery = Some(3))
  }

  test("seeded DML fuzz: incremental stats, spec evolution and merging") {
    runSeed(seed = 321005, partitioned = true, steps = 18,
      evolveSpec = true, mergeMinCount = Some(2), statsEvery = Some(4))
  }

  test("seeded DML fuzz: incremental stats on an UNPARTITIONED compat table") {
    // soak find (seed 434999): unpartitioned tables took the JSON stats
    // branch with no checkpoint sidecar — no incremental path and an
    // unreadable seed for the invariant
    runSeed(seed = 434999, partitioned = false, steps = 16,
      evolveSpec = true, icebergCompat = true, statsEvery = Some(4))
  }

  test("seeded DML fuzz: global deletes against old-spec rows (soak 333150)") {
    // soak find: a MoR delete/update hitting rows written under a
    // NON-current spec produced a delete file stamped with the CURRENT
    // spec id but an EMPTY partition tuple — arity-inconsistent metadata
    // that crashed compute_partition_stats and would mis-render in
    // spec-Avro partition records. Global deletes now commit under a
    // real unpartitioned spec (added on demand).
    runSeed(seed = 333150, partitioned = false, steps = 30,
      evolveSpec = true, icebergCompat = true, cat = "gfzp",
      mergeMinCount = Some(8), statsEvery = Some(4))
  }

  test("seeded DML fuzz: global deletes over the spec REST protocol (soak 333154)") {
    runSeed(seed = 333154, partitioned = false, steps = 30,
      evolveSpec = true, icebergCompat = true, cat = "gfzr",
      statsEvery = Some(5))
  }

  // offsets-aware split sweep: 32 KB row groups + a 64 KB split target
  // mean EVERY read here plans multiple splits per file over random
  // DV/pos/eq-delete histories — the per-split posBase accounting (r16)
  // is positional, so masking staying file-absolute gets model-checked
  // on both the parquet and ORC paths
  test("seeded DML fuzz under bucket-transformed partitioning") {
    // non-identity partition values flow through the coerced unified
    // struct, summary pruning, the partitions/files cross-check and the
    // pushdown invariant
    runSeed(seed = 4242, partitioned = true, steps = 30,
      partitionBy = "bucket(8, grp)")
  }

  test("seeded DML fuzz with tiny row-group splits (parquet)") {
    runSeed(seed = 171001, partitioned = true, steps = 15, tinySplits = true)
  }

  test("seeded DML fuzz with tiny stripe splits (ORC)") {
    runSeed(seed = 171002, partitioned = false, steps = 12, format = "orc",
      tinySplits = true)
  }

  // opt-in soak: GRAFT_FUZZ_SOAK=n runs n fresh random seeds per config
  // (failure messages carry the seed — promote any find to a fixed test)
  sys.env.get("GRAFT_FUZZ_SOAK").map(_.toInt).filter(_ > 0).foreach { n =>
    val base = (System.nanoTime() % 1000000).toInt
    (0 until n).foreach { i =>
      test(s"soak DML fuzz, seed ${base + i}") {
        runSeed(seed = base + i, partitioned = i % 2 == 0, steps = 30,
          evolveSpec = i % 3 != 0,
          format = if (i % 4 == 3) "orc" else "parquet",
          icebergCompat = i % 2 == 1,
          // a third of the soak merges manifests aggressively
          mergeMinCount = if (i % 3 == 1) Some(2 + (base + i) % 7) else None,
          // a slice runs the incremental-vs-full stats invariant
          statsEvery = if (i % 2 == 1) Some(3 + i % 3) else None,
          // a third of the soak routes every commit through the spec
          // REST protocol (derive→apply on the server); another slice
          // plans every scan through the server's plan store
          cat = if (i % 3 == 2) "gfzr"
                else if (i % 4 == 1) "gfzp"
                else if (i % 5 == 0) "gfzh"
                else "gfz",
          // a slice forces offsets-aware splits on every read
          tinySplits = i % 5 == 2)
      }
      test(s"soak branch fuzz, seed ${base + i}") {
        runBranchSeed(base + i, 20, icebergCompat = i % 2 == 0)
      }
      test(s"soak register-chain fuzz, seed ${base + i}") {
        runRegisterSeed(base + i, 20)
      }
    }
  }
}
