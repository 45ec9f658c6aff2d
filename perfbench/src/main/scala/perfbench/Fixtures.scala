package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded star-schema tables for the engine's queries, in the shape and
  * value ranges of the engine's test fixtures: TPC-H-ish `region`, `nation`,
  * `customer`, `supplier`, `part`, `orders`, `lineitem`, plus `events`,
  * `documents` and `embeddings`. Row counts scale with `sf` (lineitem is
  * 6 M × sf rows).
  *
  * Every value is a hash of (seed, column, row id), so a table is the same
  * for a seed whatever the partitioning, and generation runs on all cores. */
object Fixtures {

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val Vocab = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  private final class Gen(seed: Long) {
    /** Uniform in [0, 1) from (seed, salt, key columns). */
    def u(salt: String, key: Column*): Column =
      pmod(xxhash64((lit(seed) +: lit(salt) +: key): _*), lit(1L << 40)).cast("double") / (1L << 40).toDouble
    /** Uniform integer in [lo, hi]. */
    def int(salt: String, lo: Long, hi: Long, key: Column*): Column =
      (lit(lo) + floor(u(salt, key: _*) * (hi - lo + 1))).cast("long")
    def pick(salt: String, values: Seq[String], key: Column*): Column =
      element_at(array(values.map(lit): _*), int(salt, 1, values.size, key: _*).cast("int"))
    def money(salt: String, lo: Double, hi: Double, key: Column*): Column =
      round(lit(lo) + u(salt, key: _*) * (hi - lo), 2)
    def day(salt: String, from: String, days: Int, key: Column*): Column =
      to_timestamp(date_add(to_date(lit(from)), int(salt, 0, days - 1, key: _*).cast("int")))
  }

  private def n(base: Long, sf: Double): Long = math.max(1L, math.round(base * sf))

  /** Build every table for `sf` and `seed` as `<dir>/<table>.parquet`. */
  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit =
    Tables.foreach(t => table(spark, t, sf, seed).write.mode("overwrite").parquet(s"$dir/$t.parquet"))

  def table(spark: SparkSession, name: String, sf: Double, seed: Long): DataFrame = {
    val g = new Gen(seed)
    val nCust = n(150000, sf); val nSupp = n(10000, sf); val nPart = n(200000, sf)
    val nOrd = n(1500000, sf)
    def ids(count: Long) = spark.range(0, count, 1, 4)
    val id = col("id")
    name match {
      case "region" =>
        spark.createDataFrame(Seq(0 -> "AFRICA", 1 -> "AMERICA", 2 -> "ASIA", 3 -> "EUROPE",
          4 -> "MIDDLE EAST")).toDF("r_regionkey", "r_name")
      case "nation" =>
        spark.range(25).select(id.cast("int").as("n_nationkey"),
          concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey"))
      case "customer" =>
        ids(nCust).select(id.as("c_custkey"), format_string("Customer#%09d", id).as("c_name"),
          g.int("c_nat", 0, 24, id).cast("int").as("c_nationkey"),
          g.money("c_bal", -999.99, 9999.99, id).as("c_acctbal"),
          g.pick("c_seg", Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"), id)
            .as("c_mktsegment"))
      case "supplier" =>
        ids(nSupp).select(id.as("s_suppkey"), format_string("Supplier#%09d", id).as("s_name"),
          g.int("s_nat", 0, 24, id).cast("int").as("s_nationkey"),
          g.money("s_bal", -999.99, 9999.99, id).as("s_acctbal"))
      case "part" =>
        ids(nPart).select(id.as("p_partkey"),
          concat_ws(" ", g.pick("p_adj", Seq("blue", "old", "large", "hot", "cold", "small", "new", "red"), id),
            g.pick("p_noun", Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"), id))
            .as("p_name"),
          concat(lit("Brand#"), g.int("p_brand", 1, 25, id)).as("p_brand"),
          g.pick("p_type", Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"), id).as("p_type"),
          g.int("p_size", 1, 50, id).cast("int").as("p_size"),
          (lit(900.0) + (id % 1000) / 10.0).as("p_retailprice"))
      case "orders" =>
        ids(nOrd).select(id.as("o_orderkey"), g.int("o_cust", 0, nCust - 1, id).as("o_custkey"),
          g.pick("o_status", Seq("F", "O", "P"), id).as("o_orderstatus"),
          g.money("o_total", 1000.0, 500000.0, id).as("o_totalprice"),
          g.day("o_date", "1995-01-01", 2404, id).as("o_orderdate"),
          g.pick("o_prio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), id)
            .as("o_orderpriority"))
      case "lineitem" =>
        ids(n(6000000, sf)).select(g.int("l_ord", 0, nOrd - 1, id).as("l_orderkey"),
          g.int("l_part", 0, nPart - 1, id).as("l_partkey"),
          g.int("l_supp", 0, nSupp - 1, id).as("l_suppkey"),
          g.int("l_line", 1, 7, id).cast("int").as("l_linenumber"),
          g.int("l_qty", 1, 50, id).cast("double").as("l_quantity"),
          g.money("l_price", 900.0, 105000.0, id).as("l_extendedprice"),
          (g.int("l_disc", 0, 10, id) / 100.0).as("l_discount"),
          (g.int("l_tax", 0, 8, id) / 100.0).as("l_tax"),
          g.pick("l_flag", Seq("N", "A", "R"), id).as("l_returnflag"),
          g.pick("l_status", Seq("O", "F"), id).as("l_linestatus"),
          g.day("l_ship", "1995-01-02", 2499, id).as("l_shipdate"))
      case "events" =>
        val count = n(1000000, sf)
        val stepUs = 30L * 86400L * 1000000L / count
        ids(count).select(id.as("event_id"),
          timestamp_micros(lit(1704067200000000L) +
            ((id + g.u("e_ts", id)) * stepUs).cast("long")).as("ts"),
          g.int("e_user", 0, n(15000, sf) - 1, id).as("user_id"),
          g.pick("e_type", Seq("click", "error", "purchase", "signup", "view"), id).as("event_type"),
          round(-log(lit(1.0) - g.u("e_val", id)) * 50.0, 2).as("value"),
          format_string("{\"k\": %d}", g.int("e_k", 0, 99, id)).as("props"))
      case "documents" =>
        def words(key: Column): Column =
          concat_ws(" ", transform(sequence(lit(1), g.int("d_len", 10, 100, key).cast("int")),
            i => element_at(array(Vocab.map(lit): _*),
              (pmod(xxhash64(lit(seed), lit("d_word"), key, i), lit(Vocab.size.toLong)) + 1).cast("int"))))
        // one document in twenty repeats an earlier one with a marker word,
        // so the near-duplicate operators have true positives to find
        val dupOf = g.int("d_dupof", 0, 1L << 30, id) % greatest(id, lit(1L))
        val text = when(id > 0 && g.u("d_dup", id) < 0.05, concat(words(dupOf), lit(" dup")))
          .otherwise(words(id))
        ids(n(50000, sf)).select(id.as("doc_id"), text.as("text"),
          g.pick("d_lang", Seq("en", "en", "en", "zh", "es", "fr", "de"), id).as("lang"),
          concat(lit("src"), g.int("d_src", 0, 19, id)).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      case "embeddings" =>
        val label = g.int("v_label", 0, 9, id).cast("int")
        val raw = transform(sequence(lit(0), lit(63)), i =>
          (pmod(xxhash64(lit(seed), lit("v_center"), label, i), lit(1000L)) / 1000.0 - 0.5) * 0.2 +
            (pmod(xxhash64(lit(seed), lit("v_noise"), id, i), lit(1000L)) / 1000.0 - 0.5))
        ids(n(20000, sf)).select(id.as("vec_id"), raw.as("raw"), label.as("label"))
          .select(col("vec_id"), transform(col("raw"), x =>
            (x / sqrt(aggregate(col("raw"), lit(0.0), (acc, y) => acc + y * y))).cast("float"))
            .as("embedding"), col("label"))
    }
  }
}
