package graftbench

import scala.collection.mutable
import scala.util.Random

import graft.core.expr.{ColStats, Expr}
import graft.core.meta.{DataFile, GTable, HadoopCatalog, SyntheticMeta}

/** Metadata only, through graft's core API; no Spark. The table is
  * synthetic (`SyntheticMeta`): 30 identity partitions of 3000 files
  * each, one manifest per partition, plus 20 position-delete files per
  * partition in one delete manifest each — 60 manifests, under the 64
  * entries of graft's manifest parse cache. Each round makes three
  * single-file appends and one pruned plan, in a seeded order; each
  * append adds a manifest until commit-time merging folds them, so
  * within two rounds the table outgrows the cache. Every plan's task count
  * must equal the count from the benchmark's own model of the files.
  * Each round ends with the run's control, which needs no graft: a
  * metadata-sized JSON document written to a file and parsed back, like
  * a commit's writes, and a sort of 100k longs, in-memory work like a
  * plan over cached manifests. */
final class CommitStream(rec: Recorder, seed: Long, work: String) extends Workload {
  private val Partitions = 30
  private val FilesPerPartition = 3000
  private val DeletesPerPartition = 20
  // synthetic file i of a partition holds ids [i * 1000, i * 1000 + 999]
  private val IdSpan = FilesPerPartition * 1000L
  private val PlanWidth = 20000L

  private val cat = new HadoopCatalog(s"$work/warehouse")
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val controlFile = new java.io.File(s"$work/control.json")
  private val controlDoc = {
    val r = new Random(seed)
    val doc = mapper.createArrayNode()
    (0 until 1000).foreach { i =>
      val e = doc.addObject()
      e.put("path", s"data/p=${r.nextInt(Partitions)}/f$i.parquet")
      e.put("records", r.nextInt(100000)).put("lower", r.nextLong()).put("upper", r.nextLong())
    }
    doc
  }
  private val controlKeys = { val r = new Random(seed); Array.fill(100000)(r.nextLong()) }
  private val rng = new Random(seed)
  private var table: GTable = _
  private var sourceBytes = 0L
  private var commits = 0
  // the model: id bounds of every appended file, by partition
  private val appended = mutable.Map.empty[Long, mutable.ArrayBuffer[(Long, Long)]]

  def setup(rep: Int): Unit = {
    table = SyntheticMeta.build(cat, s"stream_$rep", Partitions,
      FilesPerPartition, DeletesPerPartition)
    sourceBytes = Main.bytesUnder(table.location)
    appended.clear()
    commits = 0
  }

  // three default merge cycles (commit.manifest.min-count-to-merge=100)
  def minRounds: Int = 100
  // a setup takes about half a second and varies by a third from one to
  // the next, so more of them make its median
  override def setupReps: Int = 12
  def storageAmp(): Double = Main.bytesUnder(table.location).toDouble / sourceBytes

  private def modelTasks(p: Long, lo: Long, hi: Long): Int = {
    val synthetic = (0 until FilesPerPartition)
      .count(i => i * 1000L <= hi && i * 1000L + 999 >= lo)
    synthetic + appended.get(p).fold(0)(_.count { case (a, b) => a <= hi && b >= lo })
  }

  def round(i: Int, traced: Boolean, warmup: Boolean, more: () => Boolean): Unit = {
    rng.shuffle(Seq("commit", "commit", "commit", "plan")).foreach { kind =>
      if (more()) { if (kind == "commit") commit(traced, warmup) else plan(traced, warmup) }
    }
    rec.op("json", "control", warmup, traced) {
      mapper.writeValue(controlFile, controlDoc)
      val n = mapper.readTree(controlFile).size.toString
      Check(n, n)
    }
    rec.op("sort", "control", warmup, traced) {
      val a = controlKeys.clone()
      java.util.Arrays.sort(a)
      Check(controlKeys.min.toString, a(0).toString)
    }
  }

  private def commit(traced: Boolean, warmup: Boolean): Unit = {
    val p = rng.nextInt(Partitions).toLong
    val lo = (rng.nextDouble() * IdSpan).toLong
    val hi = lo + rng.nextInt(5000)
    val path = s"${table.location}/data/p=$p/a${commits}_$seed.parquet"
    val metaBefore = if (traced) metadataBytes() else 0L
    val op = rec.op("commit", "graft", warmup, traced) {
      val f = DataFile(path, "parquet", table.spec.specId, Seq(p),
        recordCount = 1000, fileSizeBytes = 8L << 20,
        columnStats = Map(1 -> ColStats(Some(1000L), Some(0L), None,
          Some(lo), Some(hi))))
      val snap = rec.span("core.meta", "commit")(table.newAppend().appendFile(f).commit())
      appended.getOrElseUpdate(p, mutable.ArrayBuffer.empty) += ((lo, hi))
      commits += 1
      val model = Partitions.toLong * FilesPerPartition + commits
      Check(model.toString, snap.summary.getOrElse("total-data-files", "missing"))
    }
    if (traced) rec.annotate(op, "metadata_bytes" -> (metadataBytes() - metaBefore).toDouble)
  }

  private def metadataBytes(): Long = Main.bytesUnder(s"${table.location}/metadata")

  private def plan(traced: Boolean, warmup: Boolean): Unit = {
    val p = rng.nextInt(Partitions).toLong
    val lo = (rng.nextDouble() * (IdSpan - PlanWidth)).toLong
    val hi = lo + PlanWidth - 1
    rec.op("plan", "graft", warmup, traced) {
      val filter = rec.span("core.expr", "filter")(
        Expr.and(Expr.equalTo("p", p), Expr.and(Expr.gtEq("id", lo), Expr.ltEq("id", hi))))
      val tasks = rec.span("core.meta", "plan") {
        val scan = table.newScan().filter(filter)
        val ts = scan.planFiles()
        if (rec.tracing) {
          val r = scan.buildReport(ts, 0L)
          rec.attrs("manifests_total" -> r.totalManifests.toDouble,
            "manifests_scanned" -> r.scannedManifests.toDouble,
            "live_files" -> r.totalDataFiles.toDouble,
            "tasks" -> r.resultTasks.toDouble,
            "delete_files" -> r.resultDeleteFiles.toDouble)
        }
        ts
      }
      Check(modelTasks(p, lo, hi).toString, tasks.size.toString)
    }
  }
}
