package graftbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Read-only mix over sf0.05 lineitem (300k rows) in a graft table
  * partitioned by months(l_shipdate), loaded as two appends. Each round
  * runs the five query templates in a seeded order, with parameters
  * drawn afresh from the seeded sequence; each graft query is
  * followed by its twin over the same rows as plain parquet, and the two
  * results must be equal. */
final class ScanMix(spark: SparkSession, rec: Recorder, seed: Long, work: String)
    extends Workload {
  private val Rows = 300000L
  private val src1 = s"$work/src/lineitem_1.parquet"
  private val src2 = s"$work/src/lineitem_2.parquet"
  private val rng = new Random(seed)
  private var table = ""
  private var firstSnapshot = 0L

  // the inputs: the first append holds the lower half of the order keys
  {
    Data.lineitem(spark, seed, 0, Rows / 2, Rows).write.parquet(src1)
    Data.lineitem(spark, seed, Rows / 2, Rows, Rows).write.parquet(src2)
    spark.read.parquet(src1, src2).createOrReplaceTempView("native_all")
    spark.read.parquet(src1).createOrReplaceTempView("native_first")
  }

  def setup(rep: Int): Unit = {
    table = s"lineitem_$rep"
    spark.sql(s"""CREATE TABLE graft.db.$table (l_orderkey BIGINT,
      l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT,
      l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE,
      l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING,
      l_shipdate DATE) PARTITIONED BY (months(l_shipdate))""")
    spark.read.parquet(src1).writeTo(s"graft.db.$table").append()
    spark.read.parquet(src2).writeTo(s"graft.db.$table").append()
    firstSnapshot = load().meta.snapshots.map(_.snapshotId).head
  }

  def minRounds: Int = 2
  def storageAmp(): Double =
    Main.bytesUnder(load().location).toDouble / Main.bytesUnder(src1, src2)

  /** The table through graft's Spark catalog, refreshed. */
  private def load() = {
    val t = Main.graftTable(spark, table)
    t.refresh()
    t
  }

  private def cents(c: String) = s"CAST(CAST($c AS DECIMAL(18,2)) * 100 AS BIGINT)"

  private val FirstMonth = java.time.LocalDate.of(1992, 1, 1)

  /** Template name -> SQL over `{T}`, parameters drawn from the seed.
    * The draws move where a query reads, not how much it reads. */
  private def draw(name: String): String = name match {
    case "prune" => // partition-pruned: a 3-month window of ship dates
      // away from the ramps at both ends of the order dates
      val from = FirstMonth.plusMonths(6 + rng.nextInt(60))
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
        sum(${cents("l_extendedprice")}) AS price,
        sum(CAST(l_quantity AS BIGINT)) AS qty FROM {T}
        WHERE l_shipdate >= DATE'$from' AND l_shipdate < DATE'${from.plusMonths(3)}'
        GROUP BY l_returnflag, l_linestatus"""
    case "stats" => // file min/max on l_orderkey prune
      val lo = 1 + rng.nextInt((Rows / 4 - 3000).toInt)
      s"""SELECT count(*) AS n, sum(${cents("l_extendedprice")}) AS price,
        sum(${cents("l_discount")}) AS disc FROM {T}
        WHERE l_orderkey BETWEEN $lo AND ${lo + 2999}"""
    case "full" => // nothing prunes a quantity filter
      val q = 4800 + rng.nextInt(300)
      f"""SELECT l_returnflag, l_linestatus, count(*) AS n,
        sum(${cents("l_extendedprice")}) AS price,
        sum(${cents("l_discount")}) AS disc, sum(${cents("l_tax")}) AS tax
        FROM {T} WHERE l_quantity < ${q / 100}%d.${q % 100}%02d
        GROUP BY l_returnflag, l_linestatus"""
    case "meta" => // answered from manifest statistics alone
      """SELECT min(l_shipdate) AS d0, max(l_shipdate) AS d1, count(*) AS n,
        min(l_orderkey) AS k0, max(l_orderkey) AS k1 FROM {T}"""
    case "travel" => // all of the first snapshot
      val q = 4800 + rng.nextInt(300)
      f"""SELECT l_linestatus, count(*) AS n,
        sum(${cents("l_extendedprice")}) AS price FROM {T}
        WHERE l_quantity < ${q / 100}%d.${q % 100}%02d GROUP BY l_linestatus"""
  }

  private val Templates = Seq("prune", "stats", "full", "meta", "travel")
  private val asked = mutable.Set.empty[String]

  /** A query of template `name` whose parameters this run has not asked
    * before. Spark compiles a query's generated code per literal, so
    * every such query is compiled, as an ad-hoc one is; a repeat would
    * skip that. `meta` has no parameters and is compiled once. */
  private def fresh(name: String): String =
    Iterator.continually(draw(name)).take(100).find(asked.add).getOrElse(draw(name))

  def round(i: Int, traced: Boolean, warmup: Boolean, more: () => Boolean): Unit =
    rng.shuffle(Templates).foreach { name => if (more()) {
      val sql = fresh(name)
      val graftSql = sql.replace("{T}",
        if (name == "travel") s"graft.db.$table VERSION AS OF $firstSnapshot"
        else s"graft.db.$table")
      val graftOp = rec.op(name, "graft", warmup, traced) {
        rec.span("core.meta", "refresh")(load())
        Check("", canon(query(graftSql)))
      }
      val nativeSql = sql.replace("{T}",
        if (name == "travel") "native_first" else "native_all")
      val nativeOp = rec.op(name, "control", warmup, traced) {
        val rows = query(nativeSql)
        val c = canon(rows)
        Check(c, c)
      }
      rec.setExpected(graftOp.id,
        nativeOp.error.fold(nativeOp.actual)(e => s"native twin failed: $e"))
    }}

  private def query(sql: String): Array[Row] = {
    val df = rec.span("spark", "plan") {
      val d = spark.sql(sql)
      d.queryExecution.executedPlan
      d
    }
    val rows = rec.span("spark", "execute")(df.collect())
    if (rec.tracing) rec.attrs(
      "input_partitions" -> ScanMix.inputPartitions(df.queryExecution.executedPlan),
      "rows_out" -> rows.length.toDouble)
    rows
  }

  private def canon(rows: Array[Row]): String = rows.map(_.toString).sorted.mkString(";")
}

object ScanMix extends AdaptiveSparkPlanHelper {
  def inputPartitions(plan: SparkPlan): Double =
    collect(plan) { case b: BatchScanExec => b.inputPartitions.size.toDouble }.sum
}
