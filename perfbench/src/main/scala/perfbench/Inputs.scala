package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Generator
import graft.vault.Models

/** The nine raw tables of the reference lake, made by `graft.sources.Generator`
  * from a seed. Corporate transactions carry a company id as customer id and
  * every company has a customer row, as in the reference generator.
  */
object Lake {
  final case class Size(transactions: Long, customers: Long, corporates: Long,
      days: Int, newsPerTicker: Int)

  val cryptoSyms = Seq("BTC-USD", "ETH-USD")
  val stockSyms = Seq("AAPL", "MSFT", "NVDA")
  val feeds = Seq("binance", "coingecko", "yfinance")
  val loadTs: Column = lit("2024-01-31 20:00:00").cast("timestamp")

  private def stamp(df: DataFrame) =
    df.withColumn("load_timestamp", loadTs).withColumn("source", lit("BATCH_DATA"))

  private def companyId(seed: Long, bucket: Column) =
    upper(substring(md5(concat(lit(seed), lit("|corp|"), bucket)), 1, 12))

  /** Transactions with ids in [from, until) of the seeded id space; corporate
    * ones are re-keyed to their company.
    */
  def transactions(s: SparkSession, size: Size, seed: Long, from: Long, until: Long): DataFrame = {
    val lo = f"TXN-$from%010d"
    val hi = f"TXN-$until%010d"
    stamp(Generator.transactions(s, until, size.customers, seed))
      .filter(col("transaction_id") >= lo && col("transaction_id") < hi)
      .withColumn("customer_id", when(col("customer_type") === "CORPORATE",
        companyId(seed, pmod(xxhash64(col("transaction_id")), lit(size.corporates))))
        .otherwise(col("customer_id")))
  }

  /** Every raw table but the transactions. */
  def reference(s: SparkSession, size: Size, seed: Long): Map[String, DataFrame] = {
    val corporateCustomers = stamp(Generator.customers(s, size.corporates, seed))
      .withColumn("customer_id", companyId(seed, substring(col("customer_id"), 6, 8).cast("long")))
      .dropDuplicates("customer_id")
    val customers = stamp(Generator.customers(s, size.customers, seed))
      .unionByName(corporateCustomers)
      .withColumn("company_id", when(pmod(xxhash64(col("customer_id")), lit(5)) === 0,
        companyId(seed, pmod(xxhash64(col("customer_id")), lit(size.corporates)))))
    Map(
      "customers" -> customers,
      "corporates" -> stamp(Generator.corporates(s, size.corporates, seed)),
      "news" -> stamp(Generator.news(s, cryptoSyms, size.newsPerTicker, seed)),
      "stock_prices" -> Generator.stockPrices(s, stockSyms, size.days, seed)
        .withColumn("load_timestamp", loadTs)) ++
      feeds.map(f => s"crypto_$f" -> Generator.cryptoPrices(s, cryptoSyms, size.days, f, seed)
        .withColumn("load_timestamp", loadTs))
  }

  def splitTransactions(tx: DataFrame): Map[String, DataFrame] = Map(
    "transaction_personal" -> tx.filter(col("customer_type") === "PERSONAL"),
    "transaction_corporate" -> tx.filter(col("customer_type") === "CORPORATE"))

  /** All nine raw tables. */
  def tables(s: SparkSession, size: Size, seed: Long): Map[String, DataFrame] =
    reference(s, size, seed) ++ splitTransactions(transactions(s, size, seed, 0, size.transactions))

  /** Writes the tables as parquet, side by side. */
  def write(tables: Map[String, DataFrame], dir: String): Unit =
    Workload.concurrently(4)(tables.toSeq.map { case (name, df) =>
      () => df.write.parquet(s"$dir/$name")
    })

  def read(s: SparkSession, dir: String, names: Iterable[String]): Map[String, DataFrame] =
    names.map(n => n -> s.read.parquet(s"$dir/$n")).toMap

  def raw(t: Map[String, DataFrame]): Models.Raw = Models.Raw(
    transactionPersonal = t("transaction_personal"),
    transactionCorporate = t("transaction_corporate"),
    customers = t("customers"),
    corporates = t("corporates"),
    news = t("news"),
    cryptoPrices = feeds.map(f => f -> t(s"crypto_$f")).toMap,
    stockPrices = t("stock_prices"))
}

/** The chatbot tools' tables (TPC-H-shaped `customer` and `orders`, and an
  * `events` stream table), made from a seed with pure column expressions.
  */
object ServiceTables {
  final case class Size(customers: Long, orders: Long, events: Long, users: Long)

  val statuses = Seq("F", "O", "P")
  val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val eventTypes = Seq("view", "click", "cart", "purchase")

  private def h(seed: Long, tag: String, c: Column) = xxhash64(lit(seed), lit(tag), c)
  private def pick(seed: Long, tag: String, c: Column, xs: Seq[String]) =
    element_at(array(xs.map(lit): _*), (pmod(h(seed, tag, c), lit(xs.size.toLong)) + 1).cast("int"))
  private def u(seed: Long, tag: String, c: Column) =
    pmod(h(seed, tag, c), lit(1000000L)).cast("double") / 1e6

  def tables(s: SparkSession, size: Size, seed: Long): Map[String, DataFrame] = {
    val id = col("id")
    val customer = s.range(1, size.customers + 1).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      pmod(h(seed, "nat", id), lit(25L)).cast("int").as("c_nationkey"),
      round(u(seed, "bal", id) * 10999.0 - 999.0, 2).as("c_acctbal"),
      pick(seed, "seg", id, segments).as("c_mktsegment"))
    val orders = s.range(1, size.orders + 1).select(
      id.as("o_orderkey"),
      (pmod(h(seed, "cust", id), lit(size.customers)) + 1).as("o_custkey"),
      pick(seed, "st", id, statuses).as("o_orderstatus"),
      round(u(seed, "tp", id) * 500000.0 + 900.0, 2).as("o_totalprice"),
      timestamp_seconds(lit(694224000L) + pmod(h(seed, "od", id), lit(2400L)) * 86400L)
        .cast("timestamp_ntz").as("o_orderdate"),
      pick(seed, "pr", id, priorities).as("o_orderpriority"))
    val events = s.range(0, size.events).select(
      id.as("event_id"),
      timestamp_seconds(lit(1704067200L) + pmod(h(seed, "ts", id), lit(90L * 86400L)))
        .cast("timestamp_ntz").as("ts"),
      pmod(h(seed, "user", id), lit(size.users)).as("user_id"),
      pick(seed, "et", id, eventTypes).as("event_type"),
      round(u(seed, "val", id) * 1000.0, 2).as("value"),
      to_json(struct(pick(seed, "dev", id, Seq("ios", "android", "web")).as("device"))).as("props"))
    Map("customer" -> customer, "orders" -> orders, "events" -> events)
  }
}

/** A `documents` table for the corpus pipelines: word-salad texts over a
  * small vocabulary, with exact and near duplicates (texts that share a
  * family, one of them with a word appended), several languages and sources.
  */
object Documents {
  private val vocab = Seq("batch", "part", "spark", "line", "column", "order", "small",
    "sort", "fast", "value", "scan", "hash", "slow", "group", "agg", "filter", "query",
    "big", "key", "window", "row", "table", "stream", "merge", "data", "join", "vector",
    "customer", "the", "a", "index", "shuffle", "plan", "cache", "node", "task", "stage",
    "file", "page", "token")

  def table(s: SparkSession, n: Long, seed: Long): DataFrame = {
    val id = col("id")
    // one doc in four joins the family of an earlier doc: exact or near duplicate
    val family = when(pmod(xxhash64(lit(seed), lit("dup"), id), lit(4L)) === 0, id / 3 * 3)
      .otherwise(id)
    val len = pmod(xxhash64(lit(seed), lit("len"), family), lit(120L)) + 40
    val words = transform(sequence(lit(0L), len - 1), j =>
      element_at(array(vocab.map(lit): _*),
        (pmod(xxhash64(lit(seed), family, j), lit(vocab.size.toLong)) + 1).cast("int")))
    val text = when(family =!= id && pmod(id, lit(2L)) === 1,
      concat(array_join(words, " "), lit(" extra"))).otherwise(array_join(words, " "))
    s.range(0, n).select(
      id.as("doc_id"),
      text.as("text"),
      element_at(array(Seq("en", "de", "fr", "zh").map(lit): _*),
        (pmod(xxhash64(lit(seed), lit("lang"), family), lit(4L)) + 1).cast("int")).as("lang"),
      concat(lit("src"), pmod(id, lit(5L)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }
}
