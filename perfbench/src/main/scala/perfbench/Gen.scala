package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cube._
import graft.tables.Tpch

/** Seeded input generator. Every input a workload feeds graft comes from
  * here: the base tables (same schema as the TPC-H-ish test tables), the
  * cube URL streams, the append/delete batches and the derived corpus.
  * The same seed gives the same inputs.
  */
final class Gen(spark: SparkSession, val seed: Long) {

  /** Deterministic integer in [0, n) from (seed, salt, key columns). */
  private def pick(n: Int, salt: String, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: keys): _*), lit(n.toLong))

  private def choose(values: Seq[String], salt: String, keys: Column*): Column =
    element_at(array(values.map(lit): _*), (pick(values.size, salt, keys: _*) + 1).cast("int"))

  private def day(base: String, span: Int, salt: String, key: Column): Column =
    date_add(to_date(lit(base)), pick(span, salt, key).cast("int")).cast("timestamp")

  /** Lineitem rows of orders [from, until): 1..7 lines per order. */
  def lineitem(from: Long, until: Long): DataFrame = {
    val o = col("l_orderkey")
    spark.range(from, until).select(col("id").as("l_orderkey"))
      .withColumn("l_linenumber",
        explode(sequence(lit(1), (pick(7, "lines", o) + 1).cast("int"))))
      .select(
        o, pick(20000, "part", o, col("l_linenumber")).as("l_partkey"),
        pick(1000, "supp", o, col("l_linenumber")).as("l_suppkey"),
        col("l_linenumber"),
        (pick(50, "qty", o, col("l_linenumber")) + 1).cast("double").as("l_quantity"),
        round((pick(50, "qty", o, col("l_linenumber")) + 1) *
          (lit(900.0) + pick(100000, "price", o, col("l_linenumber")) / 100.0), 2)
          .as("l_extendedprice"),
        (pick(11, "disc", o, col("l_linenumber")) / 100.0).as("l_discount"),
        (pick(9, "tax", o, col("l_linenumber")) / 100.0).as("l_tax"),
        choose(Seq("A", "N", "R"), "flag", o, col("l_linenumber")).as("l_returnflag"),
        choose(Seq("O", "F"), "status", o, col("l_linenumber")).as("l_linestatus"),
        day("1992-01-02", 2526, "ship", o).as("l_shipdate"))
  }

  def orders(from: Long, until: Long): DataFrame = {
    val o = col("o_orderkey")
    spark.range(from, until).select(col("id").as("o_orderkey"))
      .select(o, pick(15000, "cust", o).as("o_custkey"),
        choose(Seq("F", "O", "P"), "ostatus", o).as("o_orderstatus"),
        round(lit(1000.0) + pick(50000000, "total", o) / 100.0, 2).as("o_totalprice"),
        day("1992-01-01", 2405, "odate", o).as("o_orderdate"),
        choose(Gen.priorities, "prio", o).as("o_orderpriority"))
  }

  /** Events [from, until): a 90-day stream, user ids skewed toward a few
    * heavy users.
    */
  def events(from: Long, until: Long): DataFrame = {
    val e = col("event_id")
    spark.range(from, until).select(col("id").as("event_id"))
      .select(e,
        (lit(Gen.eventsStart).cast("timestamp").cast("long") +
          pick(90 * 86400, "ts", e)).cast("timestamp").as("ts"),
        (pick(5000, "user", e) * pick(5000, "user2", e) / 5000).as("user_id"),
        choose(Gen.eventTypes, "etype", e).as("event_type"),
        round(pick(100000, "value", e) / 100.0, 2).as("value"),
        to_json(struct(pick(100, "props", e).as("k"))).as("props"))
  }

  /** A fresh generator stream per purpose, so adding one input never
    * shifts another.
    */
  def rng(purpose: String): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 1000003L + purpose.hashCode.toLong)
}

object Gen {
  val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val eventTypes = Seq("view", "view", "view", "click", "click", "purchase", "error", "signup")
  val eventsStart = "2024-01-01 00:00:00"

  /** Zipf-skewed index in [0, n): low indexes come up most. */
  def zipf(r: java.util.SplittableRandom, n: Int): Int = {
    val u = r.nextDouble()
    math.min(n - 1, (math.pow(n + 1.0, u) - 1).toInt)
  }

  def cubeDef(name: String): CubeDef = name match {
    case "lineitem" => Tpch.lineitemCube
    case "orders"   => Tpch.ordersCube
    case "events"   => Tpch.eventsCube
  }
}
