package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the ten query tables the system reads through
  * `graft.Tables`, with their column names and types. Row counts scale with
  * `sf` as in the system's own test data: at sf 0.001 there are 150
  * customers, 1,500 orders, about 6,000 line items, 1,000 events, 500
  * documents and 500 embeddings. Every value is a hash of (seed, row id,
  * column), so the output does not depend on partitioning. Each table is
  * written as one parquet file, like the system's test data. */
object DataGen {

  private val Words = Seq("the", "a", "data", "query", "spark", "join", "scan",
    "sort", "merge", "hash", "table", "row", "column", "key", "value", "batch",
    "stream", "window", "agg", "filter", "group", "order", "line", "part",
    "customer", "vector", "fast", "slow", "big", "small", "dup", "index")

  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    def n(base: Double) = math.max(1L, math.round(base * sf / 0.001))
    // Uniform [0, 1) from (seed, id, k); the same for any partitioning.
    def u(k: Int): Column =
      pmod(xxhash64(col("id"), lit(seed), lit(k)), lit(1000003L)).cast("double") / 1000003.0
    def int(k: Int, lo: Long, hi: Long): Column =
      (lit(lo) + floor(u(k) * (hi - lo + 1))).cast("long")
    def pick(k: Int, xs: Seq[String]): Column =
      element_at(typedLit(xs), (floor(u(k) * xs.size) + 1).cast("int"))
    def money(k: Int, lo: Double, hi: Double): Column =
      round(lit(lo) + u(k) * (hi - lo), 2)
    def day(k: Int, from: String, days: Int): Column =
      to_timestamp(date_add(lit(from).cast("date"), int(k, 0, days - 1).cast("int")))
    def rows(count: Long) = spark.range(0, count, 1, 4)
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    val customers = n(150); val suppliers = n(10); val parts = n(200)
    val orders = n(1500)

    save("region", rows(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(typedLit(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")),
        (col("id") + 1).cast("int")).as("r_name")))
    save("nation", rows(25).select(col("id").cast("int").as("n_nationkey"),
      format_string("NATION_%02d", col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")))
    save("customer", rows(customers).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      int(1, 0, 24).cast("int").as("c_nationkey"),
      money(2, -999.99, 9999.99).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")))
    save("supplier", rows(suppliers).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      int(1, 0, 24).cast("int").as("s_nationkey"),
      money(2, -999.99, 9999.99).as("s_acctbal")))
    save("part", rows(parts).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(1, Seq("cold", "small", "large", "shiny", "plain")),
        pick(2, Seq("widget", "gadget", "bolt", "panel", "valve"))).as("p_name"),
      format_string("Brand#%d", int(3, 1, 25)).as("p_brand"),
      pick(4, Seq("ECONOMY", "STANDARD", "PROMO", "MEDIUM", "LARGE")).as("p_type"),
      int(5, 1, 50).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000) * 0.1, 2).as("p_retailprice")))
    save("orders", rows(orders).select(col("id").as("o_orderkey"),
      int(1, 0, customers - 1).as("o_custkey"),
      pick(2, Seq("F", "O", "P")).as("o_orderstatus"),
      money(3, 1000.0, 400000.0).as("o_totalprice"),
      day(4, "1995-01-01", 2400).as("o_orderdate"),
      pick(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")))
    // One to seven line items per order: about four on average.
    save("lineitem", rows(orders)
      .select(col("id").as("l_orderkey"), explode(sequence(lit(1), int(1, 1, 7).cast("int"))).as("l_linenumber"))
      .withColumn("id", col("l_orderkey") * 8 + col("l_linenumber"))
      .select(col("l_orderkey"), int(2, 0, parts - 1).as("l_partkey"),
        int(3, 0, suppliers - 1).as("l_suppkey"), col("l_linenumber"),
        int(4, 1, 50).cast("double").as("l_quantity"),
        money(5, 900.0, 100000.0).as("l_extendedprice"),
        (int(6, 0, 10) / 100.0).as("l_discount"), (int(7, 0, 8) / 100.0).as("l_tax"),
        pick(8, Seq("A", "N", "R")).as("l_returnflag"), pick(9, Seq("F", "O")).as("l_linestatus"),
        day(10, "1995-01-02", 2400).as("l_shipdate")))
    save("events", rows(n(1000)).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        (col("id") * 2592 + int(1, 0, 2591)) * 1000000L + int(6, 0, 999999)).as("ts"),
      int(2, 0, math.max(14L, n(15) - 1)).as("user_id"),
      pick(3, Seq("click", "purchase", "error", "signup", "view")).as("event_type"),
      money(4, 0.0, 500.0).as("value"),
      format_string("{\"k\": %d}", int(5, 0, 99)).as("props")))
    // Word-soup documents; one in ten repeats an earlier document's text so
    // that the de-duplication queries find duplicates.
    val docs = rows(n(500)).withColumn("doc_id", col("id"))
      .withColumn("id", greatest(lit(0L),
        when(u(9) < 0.1, col("id") - int(10, 1, 20)).otherwise(col("id"))))
      .withColumn("text", concat_ws(" ", transform(sequence(lit(1), int(1, 8, 80).cast("int")),
        i => element_at(typedLit(Words),
          (pmod(xxhash64(col("id"), lit(seed), i), lit(Words.size.toLong)) + 1).cast("int")))))
      .withColumn("id", col("doc_id"))
    save("documents", docs.select(col("doc_id"), col("text"),
      pick(2, Seq("en", "en", "en", "fr", "es", "zh", "de")).as("lang"),
      format_string("src%d", col("id") % 20).as("source"),
      length(col("text")).cast("long").as("n_chars")))
    save("embeddings", rows(n(500)).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)),
        i => (pmod(xxhash64(col("id"), lit(seed), i), lit(20001L)).cast("double") / 25000.0 - 0.4).cast("float")).as("embedding"),
      int(1, 0, 9).cast("int").as("label")))
  }
}
