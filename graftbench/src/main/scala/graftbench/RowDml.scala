package graftbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** Row-level writes beside reads on one scan layer. sf0.05 orders (75k
  * rows) sit in a merge-on-read table partitioned by years(o_orderdate).
  * Each round runs an INSERT batch, a DELETE and an UPDATE of a key
  * range and a MERGE upsert, in a seeded order, each followed by a
  * grouped count/sum read that must equal the benchmark's own model of
  * the table (key -> status, cents). The run's control is native Spark:
  * every second read has a twin, the same aggregate over the source
  * parquet, and every DML is followed by a small batch written as plain
  * parquet. Each round draws one year partition uniformly; its DELETE
  * and UPDATE, and the matched half of its MERGE, each touch a range of
  * that year's keys, drawn uniformly. Every round ends with
  * `rewrite_position_delete_files` and one more read. graft's rewrite
  * runs one Spark job per partition with two or more delete files, so
  * keeping a round in one partition gives every rewrite the same work. */
final class RowDml(spark: SparkSession, rec: Recorder, seed: Long, work: String)
    extends Workload {
  private val Rows = 75000L
  private val RangeKeys = 200
  private val InsertRows = 20
  private val MergeRows = 40
  private val src = s"$work/src/orders.parquet"
  private val rng = new Random(seed)
  private var table = ""
  private var reads = 0

  // the model: key -> (status, price in cents)
  private val initial = mutable.LongMap.empty[(String, Long)]
  private val model = mutable.LongMap.empty[(String, Long)]
  private var nextKey = Rows + 1

  {
    Data.orders(spark, seed, Rows).write.parquet(src)
    spark.read.parquet(src).createOrReplaceTempView("native_orders")
    spark.read.parquet(src)
      .selectExpr("o_orderkey", "o_orderstatus", "CAST(o_totalprice * 100 AS BIGINT)")
      .collect().foreach(r => initial(r.getLong(0)) = (r.getString(1), r.getLong(2)))
  }

  def setup(rep: Int): Unit = {
    table = s"orders_$rep"
    spark.sql(s"""CREATE TABLE graft.db.$table (o_orderkey BIGINT,
      o_custkey BIGINT, o_orderstatus STRING, o_totalprice DECIMAL(12,2),
      o_orderdate DATE, o_comment STRING)
      PARTITIONED BY (years(o_orderdate))
      TBLPROPERTIES ('format-version'='2',
        'write.delete.mode'='merge-on-read',
        'write.update.mode'='merge-on-read',
        'write.merge.mode'='merge-on-read')""")
    spark.read.parquet(src).writeTo(fq).append()
    model.clear()
    model ++= initial
    nextKey = Rows + 1
  }

  private def fq = s"graft.db.$table"

  // three rewrite cycles, and three samples of each DML kind
  def minRounds: Int = 3
  def storageAmp(): Double = Main.bytesUnder(load().location).toDouble / Main.bytesUnder(src)

  private def load() = Main.graftTable(spark, table)

  private val Statuses = Array("F", "O", "P")

  def round(i: Int, traced: Boolean, warmup: Boolean, more: () => Boolean): Unit = {
    year = Years(rng.nextInt(Years.size))
    rng.shuffle(Seq("insert", "delete", "update", "merge")).foreach { kind => if (more()) {
      val sql = kind match {
        case "insert" => insert()
        case "delete" => delete()
        case "update" => update()
        case _        => merge()
      }
      dml(kind, sql, traced, warmup)
      controlWrite(traced, warmup)
      read(traced, warmup)
    }}
    if (more()) {
      dml("rewrite",
        s"CALL graft.system.rewrite_position_delete_files(table => 'db.$table')",
        traced, warmup, procedure = true)
      read(traced, warmup)
    }
  }

  private def price(cents: Long) = f"CAST(${cents / 100}%d.${cents % 100}%02d AS DECIMAL(12,2))"

  private def dateOf(key: Long) = s"date_add(DATE'1992-01-01', ${key * Data.DaySpan / Rows})"

  private def newRow(key: Long): String = {
    val status = Statuses(rng.nextInt(3))
    val cents = 100000L + rng.nextInt(50000000)
    model(key) = (status, cents)
    s"($key, ${1 + rng.nextInt(15000)}, '$status', ${price(cents)}, ${dateOf(key)}, 'new-$key')"
  }

  private def insert(): String = {
    val rows = (0 until InsertRows).map { _ => nextKey += 1; newRow(nextKey - 1) }
    s"INSERT INTO $fq VALUES ${rows.mkString(", ")}"
  }

  // the loaded keys of each year partition: (first, last)
  private val Years = (1L to Rows)
    .groupBy(k => java.time.LocalDate.of(1992, 1, 1).plusDays(k * Data.DaySpan / Rows).getYear)
    .values.map(ks => (ks.min, ks.max)).toIndexedSeq.sorted
  private var year = Years.head

  /** A key of this round's year, leaving room for `span` keys from it. */
  private def keyIn(span: Int): Long = year._1 + rng.nextInt((year._2 - year._1 - span + 2).toInt)

  private def keyRange(): (Long, Long) = {
    val lo = keyIn(RangeKeys)
    (lo, lo + RangeKeys - 1)
  }

  private def delete(): String = {
    val (lo, hi) = keyRange()
    (lo to hi).foreach(model.remove)
    s"DELETE FROM $fq WHERE o_orderkey BETWEEN $lo AND $hi"
  }

  private def update(): String = {
    val (lo, hi) = keyRange()
    val status = Statuses(rng.nextInt(3))
    (lo to hi).foreach(k => model.get(k).foreach { case (_, c) => model(k) = (status, c + 100) })
    s"""UPDATE $fq SET o_orderstatus = '$status', o_totalprice = o_totalprice + 1.00
      WHERE o_orderkey BETWEEN $lo AND $hi"""
  }

  private def merge(): String = {
    // half the source is a range of keys that may exist, half is new
    val lo = keyIn(MergeRows / 2)
    val keys = (lo until lo + MergeRows / 2) ++
      (0 until MergeRows / 2).map { _ => nextKey += 1; nextKey - 1 }
    val rows = keys.map(newRow)
    s"""MERGE INTO $fq t USING (SELECT * FROM VALUES ${rows.mkString(", ")}
      AS s(o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_comment)) s
      ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED THEN UPDATE SET t.o_orderstatus = s.o_orderstatus,
        t.o_totalprice = s.o_totalprice
      WHEN NOT MATCHED THEN INSERT *"""
  }

  private def dml(kind: String, sql: String, traced: Boolean, warmup: Boolean,
      procedure: Boolean = false): Unit = {
    val metaBefore = if (traced) metadataBytes() else 0L
    val op = rec.op(kind, "graft", warmup, traced) {
      val layer = if (procedure) "spark.procedures" else "spark"
      val out = rec.span(layer, s"dml.$kind")(spark.sql(sql).collect())
      if (procedure) {
        // compaction never leaves more delete files than it read
        val (rewritten, added) = (out(0).getInt(0), out(0).getInt(1))
        Check("true", (added <= rewritten).toString)
      } else Check("", "")
    }
    if (traced) rec.annotate(op, "metadata_bytes" -> (metadataBytes() - metaBefore).toDouble)
  }

  private def controlWrite(traced: Boolean, warmup: Boolean): Unit =
    rec.op("write", "control", warmup, traced) {
      spark.range(InsertRows).selectExpr("id AS o_orderkey", "'O' AS o_orderstatus")
        .write.mode("overwrite").parquet(s"$work/control-write")
      Check("", "")
    }

  private def metadataBytes(): Long = Main.bytesUnder(s"${load().location}/metadata")

  private def read(traced: Boolean, warmup: Boolean): Unit = {
    val expected = model.values.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (s, vs) => s"[$s,${vs.size},${vs.map(_._2).sum}]" }.mkString(";")
    def sql(t: String) = s"""SELECT o_orderstatus, count(*) AS n,
      sum(CAST(o_totalprice * 100 AS BIGINT)) AS cents FROM $t GROUP BY o_orderstatus"""
    rec.op("read", "graft", warmup, traced) {
      rec.span("core.meta", "refresh")(load().refresh())
      val rows = rec.span("spark", "execute")(spark.sql(sql(fq)).collect())
      Check(expected, rows.map(_.toString).sorted.mkString(";"))
    }
    reads += 1
    if (reads % 2 == 0) rec.op("read", "control", warmup, traced) {
      val c = spark.sql(sql("native_orders")).collect().map(_.toString).sorted.mkString(";")
      Check(c, c)
    }
  }
}
