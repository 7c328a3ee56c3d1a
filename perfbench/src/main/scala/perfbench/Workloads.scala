package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.quality.{Checks, ReferenceTests}
import graft.queries.{CorpusQueries, QueryService}
import graft.sources.KafkaJson
import graft.streaming.{IncrementalIngest, Pointer, Refresh}
import graft.vault.Models

/** What one run shares with its workload. */
final case class Ctx(spark: SparkSession, tracer: Tracer, heap: HeapWatch, seed: Long,
    smoke: Boolean) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
  /** Samples the heap at an operation's widest point, before it releases its
    * caches; returns the seconds the sample took, which the operation's
    * timing leaves out.
    */
  def widest(): Double = heap.sample()
}

/** One operation's outcome. `latencyS` is the user-facing time (a DAG run, a
  * tick's freshness, a request, a curation pass); `wallS` is the wall of the
  * timed part; `attempted`/`failed` count DAG runs, ticks, requests, pipelines.
  */
final case class Op(latencyS: Double, wallS: Double, attempted: Int, failed: Int)

trait Workload {
  /** Generates this workload's inputs under `dir`, a fresh directory. */
  def generate(dir: String): Unit
  /** One untimed operation over the last generated inputs. */
  def warmUp(): Unit = { op(0); () }
  /** One timed operation, with its output check run after the timing. */
  def op(i: Int): Op
  /** Checks run once after the timed loop; returns operations found failed. */
  def finalCheck(): Int = 0
  /** Workload-level figures (bytes, rows, files) read after the loop. */
  def figures(): Map[String, Double] = Map.empty
  /** Corrupt one output before its check (the self-test's wrong output). */
  var corrupt = false
}

object Workload {
  def apply(name: String, c: Ctx): Workload = name match {
    case "daily_dag"         => new DailyDag(c)
    case "incremental_ticks" => new IncrementalTicks(c)
    case "adhoc_queries"     => new AdhocQueries(c)
    case "corpus_curation"   => new CorpusCuration(c)
    case other               => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs independent steps on `threads` threads at once and waits
    * for all of them. Warm-ups use it: the same code gets loaded and compiled
    * as in a sequential operation, in less wall time.
    */
  def concurrently(threads: Int)(steps: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try steps.map(st => pool.submit(new Runnable { def run(): Unit = st() })).foreach(_.get())
    finally pool.shutdown()
  }

  /** Order-insensitive content hash: row count and the exact sum of per-row
    * xxhash64 over every column (by name) rendered as a string.
    */
  def contentHash(df: DataFrame): (Long, java.math.BigDecimal) = {
    val cols = df.columns.sorted.map(c => coalesce(col(c).cast("string"), lit("\u0000")))
    val r = df.agg(count(lit(1)), sum(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** Bytes and files under a directory tree. */
  def du(path: String): (Long, Long) = {
    val files = Option(new java.io.File(path)).filter(_.exists).toSeq.flatMap(walk)
    (files.map(_.length).sum, files.count(_.getName.endsWith(".parquet")).toLong)
  }
  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
}

object DailyDag {
  val marts: Seq[(String, Models => DataFrame)] = Seq(
    "dim_company" -> (_.dimCompany),
    "dim_customer_history" -> (_.dimCustomerHistory),
    "dim_customer" -> (_.dimCustomer),
    "dim_asset" -> (_.dimAsset),
    "fct_transactions" -> (_.fctTransactions),
    "fct_asset_prices" -> (_.fctAssetPrices),
    "fct_news_events" -> (_.fctNewsEvents),
    "fct_asset_price_comparison" -> (_.fctAssetPriceComparison),
    "fct_asset_news_impact" -> (_.fctAssetNewsImpact))
  val semantic: Seq[(String, Models => DataFrame)] = Seq(
    "semantic_customer_overview" -> (_.semanticCustomerOverview),
    "semantic_transactions" -> (_.semanticTransactions),
    "semantic_asset_performance" -> (_.semanticAssetPerformance))
}

/** The reference's daily flow: raw read, vault fill, 9 marts, 3 semantic
  * views, every ReferenceTests check and a pointer publish of the outputs.
  */
final class DailyDag(c: Ctx) extends Workload {
  import DailyDag._
  private val s = c.spark
  private val size =
    if (c.smoke) Lake.Size(500, 50, 5, 21, 5) else Lake.Size(50000, 5000, 50, 21, 5)
  private var dir = ""
  private var runs = 0
  private var rawTotal: java.math.BigDecimal = _
  private val rawNames = Lake.tables(s, size, c.seed).keys.toSeq.sorted

  def generate(d: String): Unit = {
    dir = d
    Lake.write(Lake.tables(s, size, c.seed), s"$dir/raw")
    val raw = Lake.raw(Lake.read(s, s"$dir/raw", rawNames))
    rawTotal = raw.transactionPersonal.unionByName(raw.transactionCorporate)
      .agg(sum(col("transaction_amount").cast("decimal(20,2)"))).head().getDecimal(0)
  }

  /** One DAG with its outputs and checks run side by side, and one publish. */
  override def warmUp(): Unit = {
    val m = Models(Lake.raw(Lake.read(s, s"$dir/raw", rawNames)))
    m.persistShared().materializeShared()
    val out = s"$dir/publish/warm"
    Workload.concurrently(s.sparkContext.defaultParallelism)(
      (marts ++ semantic).map { case (n, f) => () => f(m).write.parquet(s"$out/$n") } :+
        (() => { Checks.summary(ReferenceTests.all(m)).collect(); () }))
    (marts ++ semantic).foreach { case (n, _) =>
      Pointer.write(s, s"$dir/publish/$n/_current", s"$out/$n")
    }
    m.unpersistShared()
  }

  def op(i: Int): Op = {
    runs += 1
    val out = s"$dir/publish/v$runs"
    val t0 = System.nanoTime()
    val raw = c.span("sources.read")(Lake.raw(Lake.read(s, s"$dir/raw", rawNames)))
    val m = Models(raw)
    c.span("vault.fill")(m.persistShared().materializeShared())
    if (c.tracer.active) Observed.cachedBytes = s.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum
    marts.foreach { case (n, f) => c.span(s"marts.$n")(f(m).write.parquet(s"$out/$n")) }
    semantic.foreach { case (n, f) => c.span(s"semantic.$n")(f(m).write.parquet(s"$out/$n")) }
    val dq = c.span("quality.dq")(Checks.summary(ReferenceTests.all(m)).collect())
    c.span("marts.publish")((marts ++ semantic).foreach { case (n, _) =>
      Pointer.write(s, s"$dir/publish/$n/_current", s"$out/$n")
    })
    val paused = c.widest()
    c.span("vault.release")(m.unpersistShared())
    val wall = Workload.seconds(t0) - paused
    // output checks, outside the timing
    val violations = dq.map(_.getLong(1)).sum
    Observed.violations += violations
    val overview = Pointer.currentTable(s, s"$dir/publish/semantic_customer_overview/_current").get
    val total = (if (corrupt) overview.limit(1) else overview)
      .agg(sum(col("total_amount"))).head().getDecimal(0)
    val ok = violations == 0 && dq.length == ReferenceTests.all(m).size &&
      total != null && total.compareTo(rawTotal) == 0
    corrupt = false
    Op(wall, wall, 1, if (ok) 0 else 1)
  }
}

/** The 5-minute path: each tick drops new and redelivered transactions on the
  * file-backed Kafka wire, ingests them idempotently with an AvailableNow
  * trigger and refreshes the two affected marts through `Refresh.tick`.
  */
final class IncrementalTicks(c: Ctx) extends Workload {
  private val s = c.spark
  private val size =
    if (c.smoke) Lake.Size(1000, 100, 10, 21, 5) else Lake.Size(4000, 400, 40, 21, 10)
  private val perTick = if (c.smoke) 200L else 500L
  private val redeliver = if (c.smoke) 50L else 125L
  private val key = Seq("transaction_id")
  private val tsCol = "transaction_timestamp"
  private val schema = Lake.transactions(s, size, c.seed, 0, 1).schema
  private val refNames = Lake.reference(s, size, c.seed).keys.toSeq

  private var dir = ""
  private var delivered = 0L
  private var redelivered = 0L
  private var refresh: Refresh = _

  private def target = s"$dir/target"
  private def reference = Lake.read(s, s"$dir/raw", refNames)
  private def models(tx: DataFrame) = Models(Lake.raw(reference ++ Lake.splitTransactions(tx)))
  private val marts: Map[String, Models => DataFrame] = Map(
    "fct_transactions" -> (_.fctTransactions),
    "semantic_customer_overview" -> (_.semanticCustomerOverview))

  private def wire(df: DataFrame) = KafkaJson.encodeWire(df, "transaction_id", col("load_timestamp"))

  // the chatbot reads the freshly published marts after every tick
  private val chatMix = ChatTools.all.filterNot(_._1 == "recent_prices")
  private val chat = new ChatTools(c, chatMix, size.customers, u => f"CUST-$u%08d", "2024-01-21")
  private def chatTables(): Map[String, DataFrame] = {
    val fct = refresh.current("fct_transactions")
    val overview = refresh.current("semantic_customer_overview")
    Map(
      "events" -> fct.select(col("transaction_id").as("event_id"),
        col("transaction_timestamp").as("ts"), col("customer_id").as("user_id"),
        col("transaction_type").as("event_type"), col("transaction_amount").as("value")),
      "orders" -> fct.select(col("transaction_id").as("o_orderkey"),
        col("customer_id").as("o_custkey"), col("transaction_type").as("o_orderstatus"),
        col("transaction_amount").as("o_totalprice"), col("transaction_timestamp").as("o_orderdate"),
        col("record_source").as("o_orderpriority")),
      "customer" -> overview.select(col("customer_id").as("c_custkey"),
        col("customer_id").as("c_name"), col("customer_tier").as("c_mktsegment"),
        col("total_amount").as("c_acctbal")))
  }
  /** One request per tool over the published marts; returns the requests and answers. */
  private def chatRound(i: Int): (Map[String, DataFrame], Seq[(chat.Request, Array[Row])]) = {
    val t = c.span("streaming.read_published")(chatTables())
    (t, chatMix.indices.map { k =>
      val q = chat.request(chatMix(k)._1, i * chatMix.size + k)
      q -> chat.ask(t, q)
    })
  }

  private def drop(df: DataFrame): Unit =
    KafkaJson.writeFileDrop(df.coalesce(1), s"$dir/topic", "transaction_id", col("load_timestamp"))

  /** The lake's other tables, and the base transactions as the first drop. */
  def generate(d: String): Unit = {
    dir = d
    Workload.concurrently(2)(Seq(
      () => Lake.write(Lake.reference(s, size, c.seed), s"$dir/raw"),
      () => drop(Lake.transactions(s, size, c.seed, 0, size.transactions))))
    delivered = size.transactions
    redelivered = 0
    refresh = new Refresh(s, marts.map { case (n, f) =>
      n -> ((sp: SparkSession) => f(models(sp.read.parquet(target)
        .drop("message_key", "kafka_timestamp", "load_date"))))
    }, s"$dir/publish")
  }

  /** The first tick: ingest the base drop, publish the marts, ask the chatbot. */
  override def warmUp(): Unit = { ingestAndRefresh(); chatRound(0); () }

  private def ingestAndRefresh(): Map[String, String] = {
    c.span("streaming.ingest") {
      IncrementalIngest.startIngest(KafkaJson.fileStream(s, s"$dir/topic", schema), target,
        s"$dir/checkpoint", key, Trigger.AvailableNow(), Some(tsCol)).awaitTermination()
    }
    c.span("streaming.refresh")(refresh.tick())
  }

  def op(i: Int): Op = {
    val from = delivered
    val delta = Lake.transactions(s, size, c.seed, from - redeliver, from + perTick)
    val t0 = System.nanoTime()
    c.span("sources.drop")(drop(delta))
    val landed = System.nanoTime()
    ingestAndRefresh()
    val freshness = Workload.seconds(landed)
    val (tables, answers) = chatRound(i)
    val wall = Workload.seconds(t0)
    c.widest()
    delivered += perTick
    redelivered += redeliver
    // check one chatbot answer per tick against its SQL text
    tables.foreach { case (n, df) => df.createOrReplaceTempView(n) }
    val (q, rows) = answers(i % answers.size)
    Op(freshness, wall, 1, if (chat.matches(q, rows)) 0 else 1)
  }

  /** After the last tick: every published mart equals a from-scratch rebuild,
    * target keys are unique and the target holds each delivered record once.
    */
  override def finalCheck(): Int = {
    val stored = s.read.parquet(target)
    val rows = stored.count()
    val distinctKeys = stored.select(key.map(col): _*).distinct().count()
    val rebuilt = models(Lake.transactions(s, size, c.seed, 0, delivered))
    val martsOk = marts.forall { case (n, f) =>
      val published = refresh.current(n)
      Workload.contentHash(if (corrupt) published.limit(1) else published) ==
        Workload.contentHash(f(rebuilt))
    }
    Observed.rowsAppended = rows - size.transactions
    Observed.rowsSuppressed = (delivered - size.transactions) + redelivered - Observed.rowsAppended
    if (martsOk && rows == distinctKeys && rows == delivered) 0 else Int.MaxValue
  }

  override def figures(): Map[String, Double] = {
    val wireBytes = wire(Lake.transactions(s, size, c.seed, 0, delivered))
      .agg(sum(length(col("value")))).head().getLong(0)
    val (targetBytes, targetFiles) = Workload.du(target)
    val (publishBytes, _) = Workload.du(s"$dir/publish")
    val versions = marts.keys.toSeq.map { n =>
      Option(new java.io.File(s"$dir/publish/$n").listFiles).toSeq.flatten
        .count(f => f.isDirectory && f.getName.startsWith("v"))
    }.sum
    Map(
      "stored_bytes_per_input_byte" -> (targetBytes + publishBytes).toDouble / wireBytes,
      "streaming.rows_appended" -> Observed.rowsAppended.toDouble,
      "streaming.rows_suppressed" -> Observed.rowsSuppressed.toDouble,
      "streaming.dup_suppress_ratio" -> Observed.rowsSuppressed.toDouble / math.max(1L, redelivered),
      "streaming.target_files" -> targetFiles.toDouble,
      "streaming.published_versions" -> versions.toDouble)
  }
}

/** One closed-loop client sending seeded requests across the six chatbot
  * tools of `QueryService`; a seeded sample of responses is compared with an
  * independently written SQL text after the loop.
  */
final class AdhocQueries(c: Ctx) extends Workload {
  private val s = c.spark
  private val size =
    if (c.smoke) ServiceTables.Size(500, 5000, 5000, 50)
    else ServiceTables.Size(5000, 20000, 20000, 500)
  private val lake =
    if (c.smoke) Lake.Size(500, 50, 10, 60, 5) else Lake.Size(1000, 100, 10, 180, 5)
  private val chat = new ChatTools(c, ChatTools.all, size.users, _.toString, "2024-03-31")
  private var t: Map[String, DataFrame] = Map.empty
  private val sampled = ArrayBuffer.empty[(chat.Request, Array[Row])]

  private def isSampled(i: Long) =
    i == 1 || scala.util.hashing.MurmurHash3.productHash((c.seed, i, "check")) % 16 == 0

  def generate(dir: String): Unit = {
    ServiceTables.tables(s, size, c.seed).foreach { case (n, df) =>
      df.write.parquet(s"$dir/$n")
    }
    val prices = Models(Lake.raw(Lake.tables(s, lake, c.seed))).fctAssetPrices
    prices.write.parquet(s"$dir/prices/v1")
    Pointer.write(s, s"$dir/prices/_current", s"$dir/prices/v1")
    t = Seq("customer", "orders", "events").map(n => n -> s.read.parquet(s"$dir/$n")).toMap +
      ("prices" -> Pointer.currentTable(s, s"$dir/prices/_current").get)
    t.foreach { case (n, df) => df.createOrReplaceTempView(n) }
  }

  /** One request per tool. */
  override def warmUp(): Unit =
    ChatTools.all.indices.foreach(k => chat.ask(t, chat.request(ChatTools.all(k)._1, k)))

  def op(i: Int): Op = {
    val q = chat.draw(i.toLong)
    val t0 = System.nanoTime()
    val rows = chat.ask(t, q)
    val lat = Workload.seconds(t0)
    if (isSampled(i.toLong)) sampled += (q -> rows)
    Op(lat, lat, 1, 0)
  }

  override def finalCheck(): Int = sampled.zipWithIndex.count { case ((q, rows), k) =>
    !chat.matches(q, if (corrupt && k == 0) rows.drop(1) :+ Row("wrong") else rows)
  }
}

/** The chatbot tools of `QueryService` as seeded requests over the tables
  * `customer`, `orders`, `events` and `prices`, and each request again as SQL
  * text written apart from QueryService, over temp views of the same names.
  * `userId` renders a user number as the `user_id` value of `events`.
  */
final class ChatTools(c: Ctx, mix: Seq[(String, Int)], users: Long, userId: Long => String,
    asOfEvents: String) {
  private val asOfPrices = "2024-06-30"

  final class Request(val tool: String, val r: Long) {
    def pattern(n: Int): String = String.format(s"%0${n}d", Long.box(r % math.pow(10, n).toLong))
    def status: Option[String] = if (r % 4 == 3) None else Some(ServiceTables.statuses((r % 3).toInt))
    def user: String = userId(r % users)
    def days: Int = 7 + (r % 60).toInt
    def groupCol: String = if (r % 2 == 0) "o_orderstatus" else "o_orderpriority"
    def symbol: String = (Lake.cryptoSyms ++ Lake.stockSyms)((r % 5).toInt)
    def assetType: Option[String] =
      if (r % 3 == 0) None else Some(if (Lake.cryptoSyms.contains(symbol)) "CRYPTO" else "STOCK")
  }

  /** The request of `tool` with the parameters seeded by `i`. */
  def request(tool: String, i: Long): Request =
    new Request(tool, math.abs(scala.util.hashing.MurmurHash3.productHash((i, c.seed, "p")).toLong))

  /** A request drawn from the weighted mix. */
  def draw(i: Long): Request = {
    var k = math.abs(scala.util.hashing.MurmurHash3.productHash((c.seed, i)).toLong) % mix.map(_._2).sum
    request(mix.find { case (_, w) => k -= w; k < 0 }.get._1, i)
  }

  /** Answers the request through QueryService, in a `queries.<tool>` span. */
  def ask(t: Map[String, DataFrame], q: Request): Array[Row] = {
    val t0 = System.nanoTime()
    val rows = c.span(s"queries.${q.tool}")(answer(t, q).collect())
    Observed.requests += Workload.seconds(t0)
    if (c.tracer.active) Observed.rowsReturned += rows.length
    rows
  }

  private def answer(t: Map[String, DataFrame], q: Request): DataFrame = q.tool match {
    case "search_orders" =>
      QueryService.searchOrders(t("orders"), t("customer"), q.pattern(3), q.status, 20)
    case "recent_events" =>
      QueryService.recentEvents(t("events"), q.user, q.days, lit(asOfEvents).cast("date"), 20)
    case "kpi_summary" => QueryService.kpiSummary(t("orders"), q.groupCol, 10)
    case "value_trend" => QueryService.valueTrend(t("events"), q.user)
    case "search_customers" => QueryService.searchCustomers(t("customer"), q.pattern(4), 25)
    case "recent_prices" =>
      QueryService.recentPrices(t("prices"), Some(q.symbol), q.assetType, q.days,
        lit(asOfPrices).cast("date"), 15, Seq(col("price_source"), col("asset_hk")))
  }

  private def sqlText(q: Request): String = q.tool match {
    case "search_orders" =>
      s"""SELECT o_orderkey, c_name, o_orderstatus, o_totalprice, o_orderdate
          FROM orders JOIN customer ON o_custkey = c_custkey
          WHERE lower(c_name) LIKE '%${q.pattern(3)}%'
          ${q.status.fold("")(st => s"AND o_orderstatus = '$st'")}
          ORDER BY o_orderdate DESC, o_orderkey LIMIT 20"""
    case "recent_events" =>
      s"""SELECT * FROM events WHERE user_id = '${q.user}'
          AND to_date(ts) >= date_sub(DATE '$asOfEvents', ${q.days})
          ORDER BY ts DESC, event_id LIMIT 20"""
    case "kpi_summary" =>
      s"""SELECT ${q.groupCol}, count(*) AS n_orders, count(DISTINCT o_custkey) AS n_customers,
          CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_amount
          FROM orders GROUP BY ${q.groupCol}
          ORDER BY total_amount DESC, ${q.groupCol} LIMIT 10"""
    case "value_trend" =>
      s"""SELECT user_id, event_id, ts, value, prev_value,
          (value - prev_value) / nullif(prev_value, 0.0) * 100.0 AS pct_change
          FROM (SELECT *, lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
                FROM events WHERE user_id = '${q.user}')"""
    case "search_customers" =>
      s"""SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer
          WHERE lower(c_name) LIKE '%${q.pattern(4)}%' ORDER BY c_custkey LIMIT 25"""
    case "recent_prices" =>
      s"""SELECT asset_symbol, asset_type, observed_at, price, volume FROM prices
          WHERE asset_symbol = '${q.symbol}' ${q.assetType.fold("")(ty => s"AND asset_type = '$ty'")}
          AND to_date(observed_at) >= date_sub(DATE '$asOfPrices', ${q.days})
          ORDER BY observed_at DESC, price_source, asset_hk LIMIT 15"""
  }

  /** Whether `rows` equal the SQL-text answer (as a set for the unordered
    * `value_trend`, as a list otherwise).
    */
  def matches(q: Request, rows: Array[Row]): Boolean = {
    val expected = c.spark.sql(sqlText(q)).collect().toSeq
    if (q.tool == "value_trend") expected.sortBy(_.toString) == rows.toSeq.sortBy(_.toString)
    else expected == rows.toSeq
  }
}

object ChatTools {
  val all = Seq("search_orders" -> 20, "recent_events" -> 20, "kpi_summary" -> 10,
    "value_trend" -> 20, "search_customers" -> 15, "recent_prices" -> 15)
}

/** The three corpus pipelines (`q_training_pipeline`, `q_web_pipeline`,
  * `q_dedup_groups`) over a seeded documents table, each published as
  * parquet. The last pass's outputs are compared with the registered DuckDB
  * oracle SQL (by run.py, after the run).
  */
final class CorpusCuration(c: Ctx) extends Workload {
  import CorpusCuration.pipelines
  private val s = c.spark
  private val nDocs = if (c.smoke) 60L else 100L
  private var dir = ""
  private var passes = 0

  def generate(d: String): Unit = {
    dir = d
    Documents.table(s, nDocs, c.seed).coalesce(1).write.parquet(s"$dir/documents.parquet")
  }

  def output(p: String, pass: Int = passes): String = s"$dir/out/v$pass/q_$p"

  /** One pass with the three pipelines run side by side. */
  override def warmUp(): Unit = {
    Workload.concurrently(pipelines.size)(pipelines.map { p => () =>
      SparkEntry.queries(s"q_$p")(s, dir).write.parquet(s"$dir/out/warm/q_$p")
    })
    CorpusQueries.releaseMemos(s, dir)
  }

  def op(i: Int): Op = {
    passes += 1
    val t0 = System.nanoTime()
    pipelines.foreach { p =>
      c.span(s"operators.$p")(SparkEntry.queries(s"q_$p")(s, dir).write.parquet(output(p)))
    }
    val paused = c.widest()
    c.span("operators.release")(CorpusQueries.releaseMemos(s, dir))
    val wall = Workload.seconds(t0) - paused
    Op(wall, wall, pipelines.size, 0)
  }

  /** Where run.py finds the documents, every pass's outputs and their oracle SQL. */
  def oracleRequest(): Map[String, Any] = {
    if (corrupt) s.read.parquet(output(pipelines.head)).limit(1)
      .write.mode("overwrite").parquet(s"$dir/out/corrupt")
    Map("documents" -> s"$dir/documents.parquet",
      "outputs" -> pipelines.map { p =>
        p -> (1 to passes).map { k =>
          if (corrupt && p == pipelines.head && k == passes) s"$dir/out/corrupt" else output(p, k)
        }
      }.toMap,
      "sql" -> pipelines.map(p => p -> SparkEntry.oracleSql(s"q_$p")).toMap)
  }
}

object CorpusCuration {
  val pipelines = Seq("training_pipeline", "web_pipeline", "dedup_groups")
}

/** Figures a workload sets while it runs and the report reads. */
object Observed {
  var cachedBytes = 0L
  var violations = 0L
  var rowsAppended = 0L
  var rowsSuppressed = 0L
  var rowsReturned = 0L
  /** Latency of every chatbot request, in seconds. */
  val requests = ArrayBuffer.empty[Double]
}
