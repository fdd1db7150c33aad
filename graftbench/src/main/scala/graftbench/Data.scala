package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TPC-H-shaped inputs, made from the workload seed alone. Every column
  * is a hash of (seed, row, column), so a seed always gives the same
  * rows. Order dates rise with the order key, as in an append-only
  * order log, so a key range lands in a few date partitions and file
  * min/max statistics on the key can prune. */
object Data {
  val EpochDay0 = 8035 // 1992-01-01
  val DaySpan = 2400   // order dates run over ~6.5 years

  private def h(seed: Long, k: Int): Column =
    pmod(xxhash64(lit(seed), col("id"), lit(k)), lit(Long.MaxValue))

  private def orderDate(key: Column, keys: Long): Column =
    date_add(lit(java.sql.Date.valueOf("1992-01-01")),
      (key * DaySpan / keys).cast("int"))

  /** Rows [from, until) of a `rows`-row lineitem, four lines per order. */
  def lineitem(spark: SparkSession, seed: Long, from: Long, until: Long,
      rows: Long): DataFrame = {
    val orders = rows / 4
    spark.range(from, until, 1, 4).select(
      (col("id") / 4 + 1).cast("long").as("l_orderkey"),
      (h(seed, 1) % 20000 + 1).as("l_partkey"),
      (h(seed, 2) % 1000 + 1).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (h(seed, 3) % 50 + 1).cast("double").as("l_quantity"),
      ((h(seed, 4) % 9000000 + 90000) / 100.0).as("l_extendedprice"),
      ((h(seed, 5) % 11) / 100.0).as("l_discount"),
      ((h(seed, 6) % 9) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (h(seed, 7) % 3 + 1).cast("int")).as("l_returnflag"),
      h(seed, 8).as("h8"))
      .withColumn("l_shipdate", date_add(orderDate(col("l_orderkey"), orders),
        (col("h8") % 121 + 1).cast("int")))
      .withColumn("l_linestatus",
        when(col("l_shipdate") > lit(java.sql.Date.valueOf("1995-06-17")), "O")
          .otherwise("F"))
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
  }

  /** `rows` orders with keys 1..rows; prices are exact DECIMAL(12,2). */
  def orders(spark: SparkSession, seed: Long, rows: Long): DataFrame =
    spark.range(0, rows, 1, 4).select(
      (col("id") + 1).as("o_orderkey"),
      (h(seed, 11) % 15000 + 1).as("o_custkey"),
      element_at(array(lit("F"), lit("O"), lit("P")),
        (h(seed, 12) % 3 + 1).cast("int")).as("o_orderstatus"),
      ((h(seed, 13) % 50000000 + 100000) / 100).cast("decimal(12,2)").as("o_totalprice"),
      orderDate(col("id") + 1, rows).as("o_orderdate"),
      concat(lit("order-"), h(seed, 14).cast("string")).as("o_comment"))
}
