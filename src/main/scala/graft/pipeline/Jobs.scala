package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.{Catalog, ParquetIO}
import graft.ops._

/** The four reference jobs as composable `SparkSession => Unit` stages
  * (SURVEY.md §3). Orchestration (the Step Functions sequencing) is just
  * sequential calls in [[Pipeline.runAll]]; any failure propagates
  * (reference: Catch States.ALL → FailState).
  *
  * Differences from the reference, on purpose (SURVEY.md §4 "write
  * amplification"): no repeated count()/show() actions recomputing the plan,
  * no double catalog+path write, agg-join-back realized as one-shuffle
  * window aggregates.
  *
  * Right-sizing: each job derives one partition count `n` from its input
  * with [[ParquetIO.sizedPartitions]] — input bytes over
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes`, clamped to
  * [1, `spark.sql.shuffle.partitions`]. The bytes come from what the driver
  * already knows: file-system metadata for file inputs, plan statistics
  * for driver-built relations. A source without statistics (the
  * RDD-backed HTTP sources) gets the session's full partition count. The
  * extract writes coalesce to `n`, and each transform shuffles exactly
  * once, with `repartition(n, key)` on a key that satisfies every later
  * operator: `setor` for stocks (per-sector aggregates, then the lag over
  * `(setor, codigoAcao)`, which is the per-ticker lag because each ticker
  * has one sector, see [[Model.requireUniqueTickers]]), `link` for news
  * (full-row distinct, then the keyed dedup). Hash-partitioning on the
  * sector also makes the writer emit one file per `(dataproc, setor)`.
  * The extract guard is `isEmpty`, which a driver-local source answers
  * without a job, and the raw stocks read passes the files' known schema
  * instead of inferring it from the footers.
  */
object Jobs {

  /** The extract guard (`extract_stocks_job.py:363-365`). */
  private[pipeline] def requireRows(raw: DataFrame): Unit =
    require(!raw.isEmpty, "extraction yielded 0 rows")

  /** The planner's size estimate for `df`: exact for a driver-local
    * relation, `spark.sql.defaultSizeInBytes` when it has no statistics.
    */
  private def planBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  final case class Config(rawStocks: String, rawNews: String,
                          refinedStocks: String, refinedNews: String,
                          stockDb: String = "stock_db", newsDb: String = "news_db",
                          processDate: String)

  /** ExtractStocksJob (`extract_stocks_job.py`): fetch quotes → NaN-safe
    * cast (P1) → lowercase rename (P2) → broadcast dim join (J1) → dataproc
    * tag (P3) → partitioned raw write (K1, dictionary/bloom off) → catalog.
    */
  def extractStocks(spark: SparkSession, source: QuoteSource, cfg: Config): Unit = {
    import spark.implicits._
    val dim = Model.stockDim.toDF("Sector", "Ticker", "Company")
    val raw = source.fetchQuotes(spark, Model.stockDim.map(_._2))
    requireRows(raw)
    val n = ParquetIO.sizedPartitions(spark, planBytes(raw))

    val typed = CleanOps.nanSafeCast(raw.select(
        "Date", "Ticker", "Close", "High", "Low", "Open", "Volume"),
      Seq("Date" -> StringType, "Ticker" -> StringType, "Close" -> DoubleType,
        "High" -> DoubleType, "Low" -> DoubleType, "Open" -> DoubleType,
        "Volume" -> LongType))
    val joined = JoinOps.enrichWithDim(typed, dim, Seq("Ticker"))
    val renamed = CleanOps.renameAll(joined,
      joined.columns.map(c => c -> c.toLowerCase).toMap)
    val tagged = CleanOps.withProcessDate(renamed, cfg.processDate)

    ParquetIO.writePartitioned(tagged.coalesce(n), cfg.rawStocks, Seq("dataproc"),
      disableDictionary = true)
    Catalog.ensureDatabase(spark, cfg.stockDb)
    Catalog.createExternalTable(spark, cfg.stockDb, "stock_prices_best_row",
      Model.stockRawSchema, Seq("dataproc" -> "STRING"), cfg.rawStocks)
    Catalog.repairTable(spark, cfg.stockDb, "stock_prices_best_row")
  }

  /** ExtractNewsJob (`extract_news_job.py`): fetch (sanitized at ingest,
    * P13) → dataproc tag → partitioned raw write → fresh catalog table.
    */
  def extractNews(spark: SparkSession, source: NewsSource, cfg: Config): Unit = {
    val raw = source.fetchNews(spark, Model.stockDim.map(d => d._2 -> d._3))
    val n = ParquetIO.sizedPartitions(spark, planBytes(raw))
    val tagged = CleanOps.withProcessDate(raw, cfg.processDate)
    ParquetIO.writePartitioned(tagged.coalesce(n), cfg.rawNews, Seq("dataproc"))
    Catalog.ensureDatabase(spark, cfg.newsDb)
    Catalog.dropTable(spark, cfg.newsDb, "news_raw") // recreate-fresh (:326)
    Catalog.createExternalTable(spark, cfg.newsDb, "news_raw",
      Model.newsRawSchema, Seq("dataproc" -> "STRING"), cfg.rawNews)
    Catalog.repairTable(spark, cfg.newsDb, "news_raw")
  }

  /** TransformStocksJob (`transform_stocks_job.py`): read one raw partition
    * (S4, pruned, known schema) → date cast + validity filters (P4/P5) →
    * Portuguese rename (P2) → the one shuffle, on `setor` → per-sector
    * aggregates attached (A1+J2) → lag-window variation (W1, P12, P7) →
    * two-level partitioned refined write (K2).
    */
  def transformStocks(spark: SparkSession, cfg: Config): Unit = {
    import spark.implicits._
    val n = ParquetIO.sizedPartitions(spark,
      ParquetIO.onDiskBytes(spark, s"${cfg.rawStocks}/dataproc=${cfg.processDate}"))
    val raw = ParquetIO.readPartitioned(spark, cfg.rawStocks,
      Map("dataproc" -> cfg.processDate), Some(Model.stockRawFileSchema))

    val cleaned = CleanOps.filterValid(
      CleanOps.castColumns(raw, Map("date" -> DateType, "close" -> DoubleType,
        "high" -> DoubleType, "low" -> DoubleType, "open" -> DoubleType,
        "volume" -> LongType)),
      Seq($"sector".isNotNull, $"close" > 0, $"volume" > 0))

    val renamed = CleanOps.renameAll(cleaned, Map(
      "ticker" -> "codigoAcao", "company" -> "nomeEmpresa", "date" -> "data",
      "close" -> "precoFechamento", "high" -> "precoMaximo",
      "low" -> "precoMinimo", "open" -> "precoAbertura",
      "volume" -> "volumeNegociacao", "sector" -> "setor"))

    val bySector = renamed.repartition(n, $"setor")
    val withAggs = JoinOps.withGroupAggregates(bySector, Seq("setor"), Seq(
      "mediaFechamento" -> avg($"precoFechamento"),
      "totalVolume" -> sum($"volumeNegociacao")))

    // lagDelta computes-and-drops the reference's fechamentoAnterior helper
    // column internally (the P7 drop at transform_stocks_job.py:198). The
    // reference partitions by ticker alone; adding its one sector keeps
    // the rows already clustered by the shuffle above
    val withVar = WindowOps.lagDelta(withAggs, Seq("setor", "codigoAcao"),
      Seq($"data".asc), "precoFechamento", "variacaoFechamento")

    ParquetIO.writePartitioned(
      CleanOps.withProcessDate(withVar, cfg.processDate),
      cfg.refinedStocks, Seq("dataproc", "setor"))
    Catalog.ensureDatabase(spark, cfg.stockDb)
    Catalog.createExternalTable(spark, cfg.stockDb, "stocks_clean",
      Model.stocksCleanSchema,
      Seq("dataproc" -> "STRING", "setor" -> "STRING"), cfg.refinedStocks)
    Catalog.repairTable(spark, cfg.stockDb, "stocks_clean")
  }

  /** TransformNewsJob (`transform_news_job.py`): catalog scan (S5) → dynamic
    * schema normalization (P11) → ISO truncate + parse (P8/P9) → same-day
    * filter (P6) → drop helpers (P7) → the one shuffle, on `link` →
    * full-row + keyed dedup (A4/A5) → na.drop (P10) → partitioned refined
    * write + catalog (K1/K3-equivalent).
    */
  def transformNews(spark: SparkSession, cfg: Config): Unit = {
    import spark.implicits._
    // news_raw is the table extractNews registers over cfg.rawNews
    val n = ParquetIO.sizedPartitions(spark, ParquetIO.onDiskBytes(spark, cfg.rawNews))
    val raw = Catalog.readTable(spark, cfg.newsDb, "news_raw")

    val normalized = SchemaOps.normalizeToStringSchema(
      raw, Model.newsColumns :+ "dataproc")
    val required = Seq("title", "link", "published_time", "extracted_at")
    require(required.forall(normalized.columns.contains),
      s"missing required columns") // :100-102 guard

    val dated = CleanOps.parseDate(
      CleanOps.parseDate(
        CleanOps.truncateIsoToDate(
          CleanOps.truncateIsoToDate(normalized, "published_time", "published_date_str"),
          "extracted_at", "extracted_date_str"),
        "published_date_str", "published_date"),
      "extracted_date_str", "extracted_date")

    val sameDay = CleanOps.sameDayFilter(dated, $"published_date", $"extracted_date")
    val dropped = CleanOps.dropColumns(sameDay,
      "published_date_str", "extracted_date_str", "published_date", "extracted_date")

    val deduped = AggOps.dedupByKeyOrdered(
      AggOps.distinctRows(dropped.repartition(n, $"link")),
      Seq("link"), Seq($"extracted_at".asc, $"title".asc))
    val complete = CleanOps.dropNullsIn(deduped, Seq("title", "link", "source"))

    ParquetIO.writePartitioned(complete.drop("dataproc")
        .transform(CleanOps.withProcessDate(_, cfg.processDate)),
      cfg.refinedNews, Seq("dataproc"))
    Catalog.ensureDatabase(spark, cfg.newsDb)
    Catalog.createExternalTable(spark, cfg.newsDb, "news_clean",
      Model.newsRawSchema, Seq("dataproc" -> "STRING"), cfg.refinedNews)
    Catalog.repairTable(spark, cfg.newsDb, "news_clean")
  }
}

object Pipeline {
  /** The Step Functions sequence (`state_machine_definition.json:3-68`):
    * strictly ordered, fail-fast.
    */
  def runAll(spark: SparkSession, quotes: QuoteSource, news: NewsSource,
             cfg: Jobs.Config): Unit = {
    Jobs.extractStocks(spark, quotes, cfg)
    Jobs.extractNews(spark, news, cfg)
    Jobs.transformStocks(spark, cfg)
    Jobs.transformNews(spark, cfg)
  }
}
