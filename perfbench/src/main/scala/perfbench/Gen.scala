package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs: the TPC-H-shaped star schema, an `events`
  * stream, a `documents` corpus with planted duplicate families and
  * unit-norm `embeddings` — the same ten tables, column names and types
  * the library's corpus queries read.
  *
  * Every value is a hash of (seed, column salt, row key), so one seed
  * always yields the same rows whatever the partitioning.
  * `scale` 1.0 is about the size of the sf0.01 corpus; 0.1 about sf0.001.
  */
final class Gen(spark: SparkSession, seed: Long, scale: Double) {

  def n(base: Long, min: Long = 1L): Long = math.max(min, math.round(base * scale))

  val nCustomer: Long = n(1500, 20)
  val nSupplier: Long = n(100, 10)
  val nPart: Long = n(2000, 20)
  val nOrders: Long = n(15000, 100)
  val nEvents: Long = n(10000, 100)
  val nUsers: Long = n(150, 10)
  val nDocs: Long = n(2000, 200)
  val nEmb: Long = n(500, 64)

  /** Orders span this many days from 1995-01-01. */
  val SpanDays = 2400L
  private val Epoch1995 = 788918400L
  private val Epoch2024 = 1704067200L

  private def h(salt: String, cols: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cols): _*)
  private def ri(m: Long, salt: String, cols: Column*): Column = pmod(h(salt, cols: _*), lit(m))
  private def u(salt: String, cols: Column*): Column =
    pmod(h(salt, cols: _*), lit(1000000007L)).cast("double") / 1000000007.0
  private def pick(values: Seq[String], salt: String, cols: Column*): Column =
    element_at(array(values.map(lit): _*), (ri(values.size.toLong, salt, cols: _*) + 1).cast("int"))

  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Colors = Seq("blue", "red", "green", "small", "large", "shiny", "black", "white")
  private val Nouns = Seq("anvil", "bolt", "ring", "widget", "gear", "nut", "pipe", "spring")
  private val Types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Statuses = Seq("F", "O", "P")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Seq("click", "view", "purchase", "error", "login")
  private val Langs = Seq("en", "en", "en", "zh", "es", "de", "fr")

  /** The corpus vocabulary; the corpus queries search for some of these
    * terms ("customer", "vector", "stream", "table").
    */
  val Vocab: Seq[String] = Seq(
    "join", "hash", "row", "batch", "scan", "column", "customer", "filter", "small",
    "slow", "merge", "order", "vector", "line", "table", "data", "agg", "value", "key",
    "stream", "window", "a", "spark", "part", "group", "big", "sort", "query", "fast", "the")

  private def keys(n: Long): DataFrame = spark.range(n).withColumn("v", lit(0L))

  def region: DataFrame =
    spark.range(5).select(
      col("id").cast("int").as("r_regionkey"),
      element_at(array(Regions.map(lit): _*), (col("id") + 1).cast("int")).as("r_name"))

  def nation: DataFrame =
    spark.range(25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))

  def customer: DataFrame = keys(nCustomer).select(
    col("id").as("c_custkey"),
    format_string("Customer#%09d", col("id")).as("c_name"),
    ri(25, "c_nat", col("id")).cast("int").as("c_nationkey"),
    round(u("c_bal", col("id"), col("v")) * 11000 - 1000, 2).as("c_acctbal"),
    pick(Segments, "c_seg", col("id"), col("v")).as("c_mktsegment"))

  def supplier: DataFrame = keys(nSupplier).select(
    col("id").as("s_suppkey"),
    format_string("Supplier#%09d", col("id")).as("s_name"),
    ri(25, "s_nat", col("id")).cast("int").as("s_nationkey"),
    round(u("s_bal", col("id")) * 11000 - 1000, 2).as("s_acctbal"))

  def part: DataFrame = keys(nPart).select(
    col("id").as("p_partkey"),
    concat(pick(Colors, "p_c", col("id")), lit(" "), pick(Nouns, "p_n", col("id"))).as("p_name"),
    concat(lit("Brand#"), (ri(25, "p_b", col("id")) + 1).cast("string")).as("p_brand"),
    pick(Types, "p_t", col("id")).as("p_type"),
    (ri(50, "p_s", col("id")) + 1).cast("int").as("p_size"),
    (lit(900.0) + (col("id") % 1000).cast("double") / 10.0).as("p_retailprice"))

  /** Order date as a function of the order key: keys spread over
    * [[SpanDays]] days in key order.
    */
  def orderDate(okey: Column): Column = {
    val day = floor(okey * lit(SpanDays) / lit(nOrders)) + ri(3, "o_d", okey)
    timestamp_seconds(lit(Epoch1995) + day * 86400L)
  }

  def orders: DataFrame = keys(nOrders).select(
    col("id").as("o_orderkey"),
    ri(nCustomer, "o_c", col("id")).as("o_custkey"),
    pick(Statuses, "o_s", col("id"), col("v")).as("o_orderstatus"),
    round(u("o_p", col("id"), col("v")) * 499000 + 1000, 2).as("o_totalprice"),
    orderDate(col("id")).as("o_orderdate"),
    pick(Priorities, "o_pr", col("id")).as("o_orderpriority"))

  /** 1..7 line items per order. */
  def lineitem: DataFrame = {
    val ok = col("o")
    keys(nOrders).select(col("id").as("o"), col("v"))
      .select(ok, col("v"), explode(sequence(lit(1), (ri(7, "l_n", ok) + 1).cast("int"))).as("ln"))
      .select(
        ok.as("l_orderkey"),
        ri(nPart, "l_p", ok, col("ln")).as("l_partkey"),
        ri(nSupplier, "l_s", ok, col("ln")).as("l_suppkey"),
        col("ln").cast("int").as("l_linenumber"),
        (ri(50, "l_q", ok, col("ln"), col("v")) + 1).cast("double").as("l_quantity"),
        round(u("l_e", ok, col("ln"), col("v")) * 104000 + 900, 2).as("l_extendedprice"),
        (ri(11, "l_d", ok, col("ln")).cast("double") / 100.0).as("l_discount"),
        (ri(9, "l_t", ok, col("ln")).cast("double") / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), "l_r", ok, col("ln")).as("l_returnflag"),
        pick(Seq("F", "O"), "l_ls", ok, col("ln")).as("l_linestatus"),
        timestamp_seconds(unix_seconds(orderDate(ok)) + (ri(120, "l_sd", ok, col("ln")) + 1) * 86400L)
          .as("l_shipdate"))
  }

  def events: DataFrame = keys(nEvents).select(
    col("id").as("event_id"),
    timestamp_micros(
      lit(Epoch2024 * 1000000L) + col("id") * lit(30L * 86400L * 1000000L / math.max(1L, nEvents)) +
        ri(1000000L, "e_ts", col("id"))).as("ts"),
    ri(nUsers, "e_u", col("id")).as("user_id"),
    pick(EventTypes, "e_t", col("id"), col("v")).as("event_type"),
    round(u("e_v", col("id"), col("v")) * 490 + 0.01, 2).as("value"),
    concat(lit("{\"k\": "), ri(100, "e_k", col("id")).cast("string"), lit("}")).as("props"))

  /** Text of "text id" `t`: 10..99 vocabulary words. */
  private def textOf(t: Column): Column = {
    val len = (ri(90, "d_len", t) + 10).cast("int")
    val vocab = array(Vocab.map(lit): _*)
    array_join(
      transform(sequence(lit(1), len), i =>
        element_at(vocab, (ri(Vocab.size.toLong, "d_w", t, i) + 1).cast("int"))),
      " ")
  }

  /** Documents with planted duplicate families: ids ≡ 7 (mod 20) copy an
    * earlier document and append "dup" (near duplicates), ids ≡ 49
    * (mod 50) copy an earlier document verbatim (exact duplicates).
    */
  def documents: DataFrame = {
    val id = col("id")
    val near = id % 20 === 7 && id >= 20
    val exact = id % 50 === 49
    val textId = when(exact, id - 31).when(near, id - 13).otherwise(id)
    val text = when(near && !exact, concat(textOf(textId), lit(" dup"))).otherwise(textOf(textId))
    spark.range(nDocs).select(id.as("doc_id"), text.as("text"))
      .select(
        col("doc_id"), col("text"),
        pick(Langs, "d_l", col("doc_id")).as("lang"),
        concat(lit("src"), ri(20, "d_s", col("doc_id")).cast("string")).as("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** 64-d unit vectors around one of ten label centroids. */
  def embeddings: DataFrame = {
    val id = col("id")
    val label = ri(10, "x_l", id)
    val raw = transform(sequence(lit(0), lit(63)), d =>
      (u("x_c", label, d) * 2 - 1) + (u("x_n", id, d) * 2 - 1) * 0.35)
    spark.range(nEmb)
      .select(id.as("vec_id"), label.cast("int").as("label"), raw.as("raw"))
      .select(
        col("vec_id"),
        transform(col("raw"), x =>
          (x / sqrt(aggregate(col("raw"), lit(0.0), (a, y) => a + y * y))).cast("float"))
          .as("embedding"),
        col("label"))
  }

  /** All ten corpus tables, as the corpus queries read them. */
  def corpus: Seq[(String, DataFrame)] = Seq(
    "region" -> region, "nation" -> nation, "customer" -> customer, "supplier" -> supplier,
    "part" -> part, "orders" -> orders, "lineitem" -> lineitem, "events" -> events,
    "documents" -> documents, "embeddings" -> embeddings)
}
