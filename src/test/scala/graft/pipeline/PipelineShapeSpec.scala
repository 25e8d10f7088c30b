package graft.pipeline

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DoubleType, LongType, StructType}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.SparkSpec
import graft.io.{Catalog, ParquetIO}
import graft.ops._
import graft.pipeline.Model.RawQuote

/** The shape of the four-job DAG: each transform plans exactly one shuffle
  * exchange, the writes emit one file per output partition at fixture
  * size, and the refined output equals the two-exchange form built from
  * the same operators.
  */
class PipelineShapeSpec extends AnyFunSuite with SparkSpec
    with AdaptiveSparkPlanHelper with Eventually {
  import spark.implicits._

  implicit override val patienceConfig: PatienceConfig =
    PatienceConfig(timeout = 30.seconds, interval = 50.millis)

  private val days = Seq("2024-03-01", "2024-03-02")

  /** One fixture day: 10 tickers × 40 trailing days of quotes (NaN and
    * negative closes, zero volumes) and ~60 articles (exact duplicates,
    * re-crawled links with later titles, day-before and unparseable dates,
    * null titles and sources).
    */
  private def fixtureDay(iso: String, seed: Long): (Seq[RawQuote], Seq[Seq[String]]) = {
    val rng = new Random(seed)
    val date = java.time.LocalDate.parse(iso)
    def r2(x: Double) = math.round(x * 100) / 100.0
    val quotes = Model.stockDim.flatMap { case (_, ticker, _) =>
      (0 until 40).map { k =>
        val u = rng.nextDouble()
        val close = if (u < 0.05) Double.NaN else if (u < 0.08) -1.5 else r2(5 + rng.nextDouble() * 55)
        val volume = if (rng.nextDouble() < 0.03) 0L else 1000L + rng.nextInt(100000)
        RawQuote(date.minusDays(39L - k).toString, ticker, close, r2(close + 1), r2(close - 1),
          r2(5 + rng.nextDouble() * 55), volume)
      }
    }
    val base = (0 until 50).map { j =>
      val (sector, ticker, company) = Model.stockDim(j % Model.stockDim.size)
      val published =
        if (j % 9 == 0) s"${date.minusDays(1)}T09:00:00Z"
        else if (j % 13 == 0) "unknown"
        else f"${iso}T${8 + j % 10}%02d:15:00Z"
      Seq(ticker, company, sector, s"$company headline $iso-$j", s"Source ${j % 4}",
        s"https://news.example.com/$iso/$j", published, company, f"${iso}T21:${j % 60}%02d:00")
    }
    val updated = (0 until 6).map(i => base(i * 7 + 1)).map { r =>
      r.updated(3, r(3) + " (updated)").updated(8, s"${iso}T23:00:00")
    }
    val incomplete = (0 until 4).map { j =>
      val (sector, ticker, company) = Model.stockDim(j)
      Seq(ticker, company, sector, if (j < 2) null else s"$company brief", if (j < 2) "S" else null,
        s"https://news.example.com/$iso/x$j", s"${iso}T10:00:00Z", company, s"${iso}T21:59:00")
    }
    (quotes, rng.shuffle(base ++ base.take(5) ++ updated ++ incomplete))
  }

  /** Plans of the parquet writes committed while `body` runs, by output path. */
  private def writePlans(body: => Unit): Map[String, SparkPlan] = {
    val seen = new ConcurrentLinkedQueue[(String, SparkPlan)]
    @volatile var markerSeen = false
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        // under AQE the write command sits inside the adaptive plan
        collectFirst(qe.executedPlan) {
          case DataWritingCommandExec(cmd: InsertIntoHadoopFsRelationCommand, _) => cmd
        } match {
          case Some(cmd) => seen.add(new File(cmd.outputPath.toUri.getPath).getPath -> qe.executedPlan)
          case None => if (qe.analyzed.output.exists(_.name == "shape_marker")) markerSeen = true
        }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // events arrive in order: once the marker's is in, every write's is
      spark.range(1).toDF("shape_marker").collect()
      eventually { assert(markerSeen) }
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toMap
  }

  private def exchanges(plan: SparkPlan): Seq[ShuffleExchangeExec] =
    collect(plan) { case e: ShuffleExchangeExec => e }

  /** Data files in `dir` (markers and checksums excluded). */
  private def dataFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))

  private def subdirs(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.filter(_.isDirectory)

  private val tmpRoot = Files.createTempDirectory("graft-shape").toString

  private def config(tag: String, processDate: String): Jobs.Config = {
    val zones = s"$tmpRoot/$tag"
    Jobs.Config(rawStocks = s"$zones/raw/stocks", rawNews = s"$zones/raw/news",
      refinedStocks = s"$zones/refined/stocks", refinedNews = s"$zones/refined/news",
      stockDb = s"${tag}_stock_db", newsDb = s"${tag}_news_db", processDate = processDate)
  }

  /** `Jobs.transformStocks` as composed before the single-exchange form:
    * footer-inferred read, aggregates over `setor` and lag over
    * `codigoAcao`, each placing its own exchange.
    */
  private def twoExchangeStocks(cfg: Jobs.Config): DataFrame = {
    val raw = ParquetIO.readPartitioned(spark, cfg.rawStocks, Map("dataproc" -> cfg.processDate))
    val cleaned = CleanOps.filterValid(
      CleanOps.castColumns(raw, Map("date" -> DateType,
        "close" -> DoubleType, "high" -> DoubleType, "low" -> DoubleType,
        "open" -> DoubleType, "volume" -> LongType)),
      Seq($"sector".isNotNull, $"close" > 0, $"volume" > 0))
    val renamed = CleanOps.renameAll(cleaned, Map(
      "ticker" -> "codigoAcao", "company" -> "nomeEmpresa", "date" -> "data",
      "close" -> "precoFechamento", "high" -> "precoMaximo",
      "low" -> "precoMinimo", "open" -> "precoAbertura",
      "volume" -> "volumeNegociacao", "sector" -> "setor"))
    val withAggs = JoinOps.withGroupAggregates(renamed, Seq("setor"), Seq(
      "mediaFechamento" -> avg($"precoFechamento"),
      "totalVolume" -> sum($"volumeNegociacao")))
    CleanOps.withProcessDate(WindowOps.lagDelta(withAggs, Seq("codigoAcao"),
      Seq($"data".asc), "precoFechamento", "variacaoFechamento"), cfg.processDate)
  }

  /** `Jobs.transformNews` as composed before: distinct and keyed dedup
    * each placing their own exchange.
    */
  private def twoExchangeNews(cfg: Jobs.Config): DataFrame = {
    val normalized = SchemaOps.normalizeToStringSchema(
      Catalog.readTable(spark, cfg.newsDb, "news_raw"), Model.newsColumns :+ "dataproc")
    val dated = CleanOps.parseDate(CleanOps.parseDate(
      CleanOps.truncateIsoToDate(CleanOps.truncateIsoToDate(
        normalized, "published_time", "published_date_str"), "extracted_at", "extracted_date_str"),
      "published_date_str", "published_date"), "extracted_date_str", "extracted_date")
    val dropped = CleanOps.dropColumns(
      CleanOps.sameDayFilter(dated, $"published_date", $"extracted_date"),
      "published_date_str", "extracted_date_str", "published_date", "extracted_date")
    val deduped = AggOps.dedupByKeyOrdered(AggOps.distinctRows(dropped),
      Seq("link"), Seq($"extracted_at".asc, $"title".asc))
    CleanOps.withProcessDate(
      CleanOps.dropNullsIn(deduped, Seq("title", "link", "source")).drop("dataproc"),
      cfg.processDate)
  }

  /** Writes `df` like the job does and returns (rows, schema of one file). */
  private def written(df: DataFrame, partitions: Seq[String], name: String,
                      processDate: String): (DataFrame, StructType) = {
    val out = s"$tmpRoot/expected/$name"
    ParquetIO.writePartitioned(df, out, partitions, overwrite = true)
    readBack(out, processDate)
  }

  private def readBack(root: String, processDate: String): (DataFrame, StructType) = {
    val file = new File(s"$root/dataproc=$processDate")
    val one = Files.walk(file.toPath).iterator().asScala.map(_.toFile)
      .find(f => f.isFile && f.getName.endsWith(".parquet")).get
    (ParquetIO.readPartitioned(spark, root, Map("dataproc" -> processDate)),
      spark.read.parquet(one.getPath).schema)
  }

  private def sortedRows(df: DataFrame, cols: Seq[String]): Array[Row] =
    df.select(cols.map(col): _*).collect().sortBy(_.mkString("\u0001"))

  test("two fixture days: one exchange per transform, one file per partition, " +
    "output equal to the two-exchange form") {
    days.zipWithIndex.foreach { case (iso, i) =>
      val cfg = config("shape", iso.replace("-", ""))
      val (quotes, news) = fixtureDay(iso, 7L + i)
      val plans = writePlans(Pipeline.runAll(spark, new FixtureQuoteSource(quotes),
        new FixtureNewsSource(news), cfg))
      Seq(cfg.refinedStocks, cfg.refinedNews).foreach { out =>
        val plan = plans.getOrElse(out, fail(s"no write plan for $out: ${plans.keys}"))
        assert(exchanges(plan).size === 1, s"$out plans one shuffle:\n$plan")
      }

      // one file per (dataproc, setor) and per dataproc
      val refinedDay = new File(s"${cfg.refinedStocks}/dataproc=${cfg.processDate}")
      assert(subdirs(refinedDay).map(_.getName).toSet ===
        Model.stockDim.map(d => s"setor=${d._1}").toSet)
      subdirs(refinedDay).foreach(d => assert(dataFiles(d).size === 1, s"files in $d"))
      Seq(cfg.rawStocks, cfg.rawNews, cfg.refinedNews).foreach { zone =>
        val day = new File(s"$zone/dataproc=${cfg.processDate}")
        assert(dataFiles(day).size === 1, s"files in $day")
      }

      // refined stocks: same rows, same file columns as the two-exchange form
      val (gotStocks, gotStocksSchema) = readBack(cfg.refinedStocks, cfg.processDate)
      val (wantStocks, wantStocksSchema) =
        written(twoExchangeStocks(cfg), Seq("dataproc", "setor"), s"stocks-$iso", cfg.processDate)
      assert(gotStocksSchema === wantStocksSchema)
      val exact = gotStocksSchema.fieldNames.filter(_ != "mediaFechamento").toSeq :+ "setor"
      assert(sortedRows(gotStocks, exact).toSeq === sortedRows(wantStocks, exact).toSeq)
      val key = Seq("codigoAcao", "data", "mediaFechamento")
      sortedRows(gotStocks, key).zip(sortedRows(wantStocks, key)).foreach { case (g, w) =>
        assert(g.get(0) === w.get(0) && g.get(1) === w.get(1))
        assert(math.abs(g.getDouble(2) - w.getDouble(2)) <= 1e-9, s"mediaFechamento $g vs $w")
      }
      assert(gotStocks.count() === quotes.count(q =>
        !q.Close.isNaN && q.Close > 0 && q.Volume > 0))

      // refined news: same surviving rows, every column
      val (gotNews, gotNewsSchema) = readBack(cfg.refinedNews, cfg.processDate)
      val (wantNews, wantNewsSchema) =
        written(twoExchangeNews(cfg), Seq("dataproc"), s"news-$iso", cfg.processDate)
      assert(gotNewsSchema === wantNewsSchema)
      assert(sortedRows(gotNews, gotNewsSchema.fieldNames.toSeq).toSeq ===
        sortedRows(wantNews, gotNewsSchema.fieldNames.toSeq).toSeq)
      assert(gotNews.count() > 0)
    }
  }

  test("inputs too large for one partition: still one exchange, hash-placed by key") {
    val cfg = config("wide", "20240301")
    val (quotes, news) = fixtureDay("2024-03-01", 11L)
    Jobs.extractStocks(spark, new FixtureQuoteSource(quotes), cfg)
    Jobs.extractNews(spark, new FixtureNewsSource(news), cfg)
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    val plans = try writePlans {
      Jobs.transformStocks(spark, cfg)
      Jobs.transformNews(spark, cfg)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val parts = spark.sessionState.conf.numShufflePartitions
    Seq(cfg.refinedStocks, cfg.refinedNews).foreach { out =>
      val ex = exchanges(plans(out))
      assert(ex.size === 1 && ex.head.outputPartitioning.numPartitions === parts,
        s"$out:\n${plans(out)}")
      assert(collect(plans(out)) { case r: AQEShuffleReadExec => r }.isEmpty,
        "an explicit repartition(n) is not coalesced")
    }
    // each sector's rows sit in one task, so the writer still emits one file each
    subdirs(new File(s"${cfg.refinedStocks}/dataproc=20240301"))
      .foreach(d => assert(dataFiles(d).size === 1, s"files in $d"))
  }

  test("the extract guard: no job on a driver-local source, fails on an empty one") {
    val groups = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties.getProperty("spark.jobGroup.id")).getOrElse(""))
    }
    val sc = spark.sparkContext
    def inGroup(g: String)(body: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    }
    val quotes = fixtureDay("2024-03-01", 3L)._1
    sc.addSparkListener(listener)
    try {
      inGroup("local-check") {
        Jobs.requireRows(new FixtureQuoteSource(quotes).fetchQuotes(spark, Seq("ITUB4.SA")))
      }
      // control: the same check on an RDD-backed relation does run a job
      inGroup("rdd-check") {
        Jobs.requireRows(spark.createDataFrame(
          sc.parallelize(Seq(Row("x"))), new StructType().add("v", "string")))
      }
      inGroup("marker")(spark.range(1).count(): Unit)
      // listener events arrive in order: once the marker's is in, all are
      eventually { assert(groups.contains("marker")) }
    } finally sc.removeSparkListener(listener)
    assert(groups.contains("rdd-check"))
    assert(!groups.contains("local-check"), s"jobs by group: $groups")

    val e = intercept[IllegalArgumentException] {
      Jobs.extractStocks(spark, new FixtureQuoteSource(Nil), config("empty", "20240301"))
    }
    assert(e.getMessage.contains("extraction yielded 0 rows"))
  }

  test("a ticker listed twice in the stock dimension fails by name") {
    assert(Model.requireUniqueTickers(Model.stockDim) === Model.stockDim)
    val e = intercept[Model.DuplicateTickerException] {
      Model.requireUniqueTickers(Model.stockDim :+ (("Energy", "ITUB4.SA", "Itau Unibanco")))
    }
    assert(e.tickers === Seq("ITUB4.SA"))
    assert(e.getMessage.contains("ITUB4.SA"))
  }
}
