package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}

import graft.core.meta.GTable
import graft.spark.GraftSparkTable

/** One workload: a set of inputs built from the seed, a table set up
  * from them, and a closed loop of rounds against that table. */
trait Workload {
  /** Builds the workload's table from its inputs into a fresh table
    * named after `rep`. Timed; the loop uses the last one built. */
  def setup(rep: Int): Unit
  /** One round of operations; `traced` says whether its ops record
    * spans. Before each op (or pair of ops that belong together) the
    * round asks `more()`, so a run ends on time mid-round. */
  def round(i: Int, traced: Boolean, warmup: Boolean, more: () => Boolean): Unit
  /** Rounds the loop completes at least, whatever the time budget. */
  def minRounds: Int
  /** How many times to set up; `setup_s` is the median of all but the
    * first two. */
  def setupReps: Int = 5
  /** Bytes under the table's location ÷ bytes of its source data. */
  def storageAmp(): Double
}

/** Runs one workload and writes everything it measured to `--out` as
  * JSON. `run.py` turns that into the benchmark's metrics. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = Files.createDirectories(Paths.get(args("work")).toAbsolutePath).toString

    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      try f finally phases(name) = (System.nanoTime() - t0) / 1e9
    }
    val spark =
      if (workload == "commit_stream") None // core API only, no Spark
      else {
        val s = phase("session")(session(work))
        phase("catalog")(s.sql("CREATE NAMESPACE IF NOT EXISTS graft.db"))
        Some(s)
      }
    val rec = new Recorder(spark, trace)
    try {
      val w: Workload = phase("inputs")(workload match {
        case "scan_mix"      => new ScanMix(spark.get, rec, seed, work)
        case "commit_stream" => new CommitStream(rec, seed, work)
        case "row_dml"       => new RowDml(spark.get, rec, seed, work)
        case other           => throw new IllegalArgumentException(s"unknown workload $other")
      })
      (0 until w.setupReps).foreach { rep =>
        System.gc() // so that no collection owed to earlier work lands in a setup
        phase(s"setup_$rep")(w.setup(rep))
      }
      val setupS = (0 until w.setupReps).map(rep => phases(s"setup_$rep"))
      phase("warmup")(w.round(-1, traced = false, warmup = true, () => true))
      // in a traced run every other round records spans; the untraced
      // rounds between them give the tracing overhead
      val t0 = System.nanoTime()
      var rounds = 0
      def more() = rounds < w.minRounds || (System.nanoTime() - t0) / 1e9 < seconds
      var storageAmp = 0.0
      while (more()) {
        w.round(rounds, traced = trace && rounds % 2 == 0, warmup = false, () => more())
        rounds += 1
        // taken at a fixed point of the op sequence, so that it does not
        // depend on how fast the ops ran
        if (rounds == w.minRounds) storageAmp = w.storageAmp()
      }
      val loopS = (System.nanoTime() - t0) / 1e9
      write(args("out"), Map(
        "workload" -> workload, "seed" -> seed, "trace" -> trace,
        "cpus" -> Runtime.getRuntime.availableProcessors,
        "setup_s" -> setupS, "loop_s" -> loopS, "phases_s" -> phases, "rounds" -> rounds,
        "storage_amp" -> storageAmp,
        "ops" -> rec.ops.map(o => Map(
          "id" -> o.id, "kind" -> o.kind, "side" -> o.side,
          "warmup" -> o.warmup, "traced" -> o.traced, "t0" -> o.t0,
          "t1" -> o.t1, "error" -> o.error.orNull,
          "expected" -> o.expected, "actual" -> o.actual)),
        "spans" -> rec.spans.map(s => Map(
          "id" -> s.id, "parent" -> s.parent, "op" -> s.op,
          "layer" -> s.layer, "name" -> s.name, "t0" -> s.t0, "t1" -> s.t1,
          "attrs" -> s.attrs))))
    } finally {
      rec.close()
      spark.foreach(_.stop())
    }
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val s = graft.Sessions.builder(cpus)
      .appName("graftbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.catalog.graft", "graft.spark.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", s"$work/warehouse")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Table `db.<name>`, loaded through graft's Spark catalog. */
  def graftTable(spark: SparkSession, name: String): GTable =
    spark.sessionState.catalogManager.catalog("graft").asInstanceOf[TableCatalog]
      .loadTable(Identifier.of(Array("db"), name)).asInstanceOf[GraftSparkTable].table

  /** Bytes of the regular files under `dir`, leaving out the checksum
    * side files the local Hadoop file system writes next to each file. */
  def bytesUnder(dirs: String*): Long = dirs.map { d =>
    val s = Files.walk(Paths.get(d))
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc"))
      .map(p => Files.size(p)).sum
    finally s.close()
  }.sum

  private def write(path: String, v: Any): Unit = {
    def toJava(x: Any): Any = x match {
      case m: collection.Map[_, _] => m.map { case (k, v) => k.toString -> toJava(v) }.asJava
      case s: Iterable[_] => s.map(toJava).toSeq.asJava
      case o             => o
    }
    val f = new File(path)
    f.getParentFile.mkdirs()
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(f, toJava(v))
  }
}
