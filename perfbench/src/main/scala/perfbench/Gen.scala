package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the TPC-H-like corpus the program's queries
  * read: the same ten tables, column names and types as the test
  * corpus, with its row counts, key domains and value ranges (compared
  * table by table with the sf0.01 and sf0.1 corpus; see the README).
  * Every value is a hash of (row id, seed, column salt), so the same
  * seed gives the same tables whatever the partitioning. `sf` = 1
  * would be 1.5M orders. */
final class Gen(spark: SparkSession, seed: Long, sf: Double) {
  private def rows(base: Double): Long = math.max(1L, math.round(base * sf))
  val nOrders: Long = rows(1500000)
  val nLineitem: Long = rows(6000000)
  val nCustomer: Long = rows(150000)
  val nSupplier: Long = rows(10000).max(10)
  val nPart: Long = rows(200000)
  val nEvents: Long = rows(1000000)
  val nUsers: Long = rows(15000)
  /** The corpus holds 500 documents and embeddings at sf0.001 and
    * sf0.01, and 5000 documents at sf0.1: they do not scale with sf
    * below 0.1. */
  val nDocs: Long = rows(50000).max(500)

  private def range(n: Long): DataFrame = spark.range(0, n, 1, 4).toDF()

  /** Uniform integer in [0, m) from the row id and a per-column salt. */
  private def h(salt: Int, m: Long, id: Column = col("id")): Column =
    pmod(xxhash64(id, lit(seed), lit(salt)), lit(m))

  private def money(salt: Int, lo: Double, hi: Double): Column =
    (lit(lo) + h(salt, math.round((hi - lo) * 100)) / 100.0).cast("double")

  private def day(salt: Int, from: String, days: Int): Column =
    date_add(lit(from).cast("date"), h(salt, days).cast("int")).cast("timestamp_ntz")

  private def pick(salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (h(salt, values.size) + 1).cast("int"))

  def region: DataFrame = spark.createDataFrame(Seq(
    (0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST")))
    .toDF("r_regionkey", "r_name")

  def nation: DataFrame = range(25).select(col("id").cast("int").as("n_nationkey"),
    concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey"))

  def customer: DataFrame = range(nCustomer).select(col("id").as("c_custkey"),
    format_string("Customer#%09d", col("id")).as("c_name"),
    h(1, 25).cast("int").as("c_nationkey"), money(2, -999.99, 9999.99).as("c_acctbal"),
    pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))

  def supplier: DataFrame = range(nSupplier).select(col("id").as("s_suppkey"),
    format_string("Supplier#%09d", col("id")).as("s_name"),
    h(4, 25).cast("int").as("s_nationkey"), money(5, -999.99, 9999.99).as("s_acctbal"))

  def part: DataFrame = range(nPart).select(col("id").as("p_partkey"),
    concat_ws(" ", pick(6, Seq("small", "red", "blue", "hot", "green", "large", "cold", "tiny")),
      pick(7, Seq("ring", "widget", "bolt", "gear", "gizmo", "nut", "valve", "pipe"))).as("p_name"),
    concat(lit("Brand#"), (h(8, 25) + 1).cast("string")).as("p_brand"),
    pick(9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
    (h(10, 50) + 1).cast("int").as("p_size"),
    (lit(900.0) + (col("id") % 1000) / 10.0).as("p_retailprice"))

  def orders: DataFrame = range(nOrders).select(col("id").as("o_orderkey"),
    h(11, nCustomer).as("o_custkey"), pick(12, Seq("F", "O", "P")).as("o_orderstatus"),
    money(13, 1000.0, 500000.0).as("o_totalprice"), day(14, "1995-01-01", 2404).as("o_orderdate"),
    pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))

  private def lineitemColumns: Seq[Column] = {
    val qty = (h(19, 50) + 1).cast("double")
    Seq(h(16, nOrders).as("l_orderkey"), h(17, nPart).as("l_partkey"),
      h(18, nSupplier).as("l_suppkey"), (h(20, 7) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"), round(qty * money(21, 900.0, 2100.0), 2).as("l_extendedprice"),
      (h(22, 11) / 100.0).as("l_discount"), (h(23, 9) / 100.0).as("l_tax"),
      pick(24, Seq("A", "N", "R")).as("l_returnflag"), pick(25, Seq("F", "O")).as("l_linestatus"),
      day(26, "1995-01-02", 2498).as("l_shipdate"))
  }

  def lineitem: DataFrame = range(nLineitem).select(lineitemColumns: _*)

  /** lineitem with its row id as a unique key `l_id` first. */
  def lineitemKeyed: DataFrame = range(nLineitem).select(col("id").as("l_id") +: lineitemColumns: _*)

  /** As in the corpus: 30 days from 2024-01-01, increasing, one event
    * per 30 days / n on average. */
  private val eventGapUs: Long = 2592000000000L / nEvents

  def events: DataFrame = range(nEvents).select(col("id").as("event_id"),
    (lit(1704067200000000L) + col("id") * eventGapUs + h(27, eventGapUs)).as("ts_us"),
    h(28, nUsers).as("user_id"), pick(29, Seq("view", "click", "purchase", "signup", "error")).as("event_type"),
    money(30, 0.01, 490.0).as("value"), format_string("{\"k\": %d}", h(31, 100)).as("props"))
    .withColumn("ts", timestamp_micros(col("ts_us")).cast("timestamp_ntz")).drop("ts_us")
    .select("event_id", "ts", "user_id", "event_type", "value", "props")

  private val vocab = Seq("a", "the", "key", "agg", "row", "scan", "slow", "fast", "table", "value",
    "part", "hash", "merge", "batch", "spark", "line", "sort", "window", "data", "column", "join",
    "small", "big", "customer", "query", "order", "group", "stream", "filter", "vector")

  /** Word-soup documents of 10-99 words from a 30-word vocabulary; as
    * in the corpus, one in twenty repeats one of the 19 documents
    * before it with " dup" appended, so the dedup operators find
    * near-duplicates but no exact ones, and `n_chars` is the text's
    * length. */
  def documents: DataFrame = {
    val words = array(vocab.map(lit): _*)
    def text(id: Column): Column = {
      val n = (h(32, 90, id) + 10).cast("int")
      concat_ws(" ", transform(sequence(lit(1), n), i =>
        element_at(words, (pmod(xxhash64(id, lit(seed), i), lit(vocab.size.toLong)) + 1).cast("int"))))
    }
    val dup = col("id") % 20 === 19
    val body = when(dup, concat(text(col("id") - 1 - h(33, 19)), lit(" dup")))
      .otherwise(text(col("id")))
    range(nDocs).select(col("id").as("doc_id"), body.as("text"),
      pick(34, Seq("en", "en", "en", "es", "zh", "de", "fr")).as("lang"),
      concat(lit("src"), (col("id") % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** 64-d embeddings around ten label centroids. */
  def embeddings: DataFrame = {
    val label = h(36, 10).cast("int")
    range(nDocs).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)), i =>
        ((pmod(xxhash64(label, lit(seed), i), lit(2001L)) - 1000) / 4000.0 +
          (pmod(xxhash64(col("id"), lit(seed), i), lit(2001L)) - 1000) / 10000.0).cast("float"))
        .as("embedding"),
      label.as("label"))
  }

  def tables: Seq[(String, DataFrame)] = Seq("region" -> region, "nation" -> nation,
    "customer" -> customer, "supplier" -> supplier, "part" -> part, "orders" -> orders,
    "lineitem" -> lineitem, "events" -> events, "documents" -> documents, "embeddings" -> embeddings)

  /** Write every table as `<dir>/<name>.parquet`, one file each. */
  def writeAll(dir: String): Unit = tables.foreach { case (name, df) =>
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
  }
}
