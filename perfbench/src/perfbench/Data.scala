package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic generator of the harness tables (TPC-H-ish star schema,
  * `events`, `documents`, `embeddings`) with the column names and types
  * the registered queries read. Every value is a hash of the row id and a
  * per-column salt, so a table depends only on its scale factor: the
  * benchmark seed never reaches the data, it only picks which rows, days
  * and orders the ops touch. Each table is one parquet file with one row
  * group, the layout of the tables the queries were developed on.
  *
  * Row counts follow TPC-H ratios: lineitem 6M x sf, orders 1.5M x sf,
  * events 1M x sf, documents 50k x sf, embeddings 20k x sf. */
object Data {
  val ShipDays = 2499          // l_shipdate spans 1995-01-02 + [0, 2499)
  val FirstShipDate = "1995-01-02"
  val EventDays = 30           // events span 2024-01-01 + [0, 30) days
  val EventStartMicros = 1704067200000000L

  val Vocab: Seq[String] = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  private def h(salt: Int, key: Column = col("id")): Column =
    xxhash64(key, lit(salt))
  private def u(salt: Int, n: Long, key: Column = col("id")): Column =
    pmod(h(salt, key), lit(n))
  private def pick(salt: Int, values: Seq[String],
                   key: Column = col("id")): Column =
    element_at(array(values.map(lit): _*), (u(salt, values.size, key) + 1).cast("int"))
  private def money(salt: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + u(salt, math.round((hi - lo) * 100)) / 100.0, 2)
  private def day(start: String, offset: Column): Column =
    date_add(to_date(lit(start)), offset.cast("int")).cast("timestamp_ntz")

  def rows(sf: Double, base: Long): Long = math.max(1L, math.round(base * sf))

  def generate(spark: SparkSession, dir: String, sf: Double): Unit = {
    def ids(n: Long): DataFrame = spark.range(0, n, 1, 1).toDF()
    val nCust = rows(sf, 150000)
    val nSupp = rows(sf, 10000)
    val nPart = rows(sf, 200000)
    val nOrders = rows(sf, 1500000)
    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> ids(5).select(col("id").cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
          "MIDDLE EAST").map(lit): _*), (col("id") + 1).cast("int"))
          .as("r_name")),
      "nation" -> ids(25).select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"),
        pmod(col("id"), lit(5)).cast("int").as("n_regionkey")),
      "customer" -> ids(nCust).select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        u(1, 25).cast("int").as("c_nationkey"),
        money(2, -999.99, 9999.99).as("c_acctbal"),
        pick(3, Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
          "FURNITURE")).as("c_mktsegment")),
      "supplier" -> ids(nSupp).select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        u(1, 25).cast("int").as("s_nationkey"),
        money(2, -999.99, 9999.99).as("s_acctbal")),
      "part" -> ids(nPart).select(col("id").as("p_partkey"),
        concat_ws(" ", pick(1, Seq("large", "hot", "small", "cold", "bright",
          "dark", "old", "new")), pick(2, Seq("ring", "bolt", "nut", "gear",
          "pipe", "plate", "screw", "wire"))).as("p_name"),
        concat(lit("Brand#"), u(3, 25) + 1).as("p_brand"),
        pick(4, Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
          "PROMO")).as("p_type"),
        (u(5, 50) + 1).cast("int").as("p_size"),
        (lit(900.0) + pmod(col("id"), lit(1000)) / 10.0).as("p_retailprice")),
      "orders" -> ids(nOrders).select(col("id").as("o_orderkey"),
        u(1, nCust).as("o_custkey"),
        pick(2, Seq("F", "O", "P")).as("o_orderstatus"),
        money(3, 1001.0, 499999.0).as("o_totalprice"),
        day("1995-01-01", u(4, 2404)).as("o_orderdate"),
        pick(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
          "5-LOW")).as("o_orderpriority")),
      "lineitem" -> ids(rows(sf, 6000000)).select(
        u(1, nOrders).as("l_orderkey"), u(2, nPart).as("l_partkey"),
        u(3, nSupp).as("l_suppkey"), (u(4, 7) + 1).cast("int").as("l_linenumber"),
        (u(5, 50) + 1).cast("double").as("l_quantity"),
        money(6, 900.0, 105000.0).as("l_extendedprice"),
        (u(7, 11) / 100.0).as("l_discount"), (u(8, 9) / 100.0).as("l_tax"),
        pick(9, Seq("A", "N", "R")).as("l_returnflag"),
        pick(10, Seq("O", "F")).as("l_linestatus"),
        day(FirstShipDate, u(11, ShipDays)).as("l_shipdate")),
      "events" -> events(ids(rows(sf, 1000000)), rows(sf, 15000)),
      "documents" -> documents(ids(rows(sf, 50000))),
      "embeddings" -> embeddings(ids(rows(sf, 20000))))
    tables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
  }

  /** Events in event-time order: event i sits in its own slot of the
    * 30-day span, at a hashed offset inside the slot. */
  private def events(ids: DataFrame, users: Long): DataFrame = {
    val n = ids.count()
    val slot = EventDays * 86400L * 1000000L / n
    ids.select(col("id").as("event_id"),
      timestamp_micros(lit(EventStartMicros) + col("id") * slot + u(1, slot))
        .cast("timestamp_ntz").as("ts"),
      u(2, users).as("user_id"),
      pick(3, Seq("signup", "click", "error", "view", "purchase"))
        .as("event_type"),
      money(4, 0.0, 560.21).as("value"),
      concat(lit("{\"k\": "), u(5, 100), lit("}")).as("props"))
  }

  /** Bag-of-words documents over a 30-word vocabulary. Every 20th doc is
    * its predecessor's text plus a `dup` marker (a near duplicate) and
    * every 600th an exact copy of its predecessor. */
  private def documents(ids: DataFrame): DataFrame = {
    val base = when(pmod(col("id"), lit(20)) === 19 ||
      pmod(col("id"), lit(600)) === 599, col("id") - 1).otherwise(col("id"))
    val vocab = array(Vocab.map(lit): _*)
    val nWords = (u(1, 91, base) + 10).cast("int")
    val words = transform(sequence(lit(1), nWords), i =>
      element_at(vocab, (pmod(xxhash64(base, i), lit(Vocab.size)) + 1).cast("int")))
    val text = concat_ws(" ", words)
    ids.select(col("id").as("doc_id"),
      when(pmod(col("id"), lit(20)) === 19, concat(text, lit(" dup")))
        .otherwise(text).as("text"),
      when(u(2, 100) < 41, lit("en"))
        .otherwise(pick(3, Seq("zh", "de", "fr", "es"))).as("lang"),
      concat(lit("src"), u(4, 20)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Unit-norm 64-d float vectors clustered around one of ten label
    * centroids. */
  private def embeddings(ids: DataFrame): DataFrame = {
    val label = u(1, 10)
    val raw = transform(sequence(lit(0), lit(63)), j =>
      (pmod(xxhash64(label, j, lit(7)), lit(2001)) - 1000) / 2000.0 +
        (pmod(xxhash64(col("id"), j, lit(8)), lit(2001)) - 1000) / 2500.0)
    ids.select(col("id").as("vec_id"), raw.as("raw"), label.cast("int").as("label"))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0),
          (acc, y) => acc + y * y))).cast("float")).as("embedding"),
        col("label"))
  }
}
