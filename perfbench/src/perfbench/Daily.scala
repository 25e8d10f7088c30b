package perfbench

import java.io.File
import java.time.LocalDate
import java.time.format.DateTimeFormatter

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.io.{Catalog, ParquetIO}
import graft.pipeline.{FixtureNewsSource, FixtureQuoteSource, Jobs, Model}

/** stockpy_daily: the reference's nightly DAG (extractStocks → extractNews →
  * transformStocks → transformNews) over consecutive generated days, each
  * followed by the analyst previews of `queries.sql` against the catalog.
  * The generator computes every checked outcome itself. */
object Daily {
  val quotesPerTicker = 700
  val firstDay: LocalDate = LocalDate.of(2024, 3, 1)
  /** Warm-day seconds on a 4-core host; sizes the day count to --seconds. */
  val nominalDayS = 7.0
  val jobs = Seq("extract_stocks", "extract_news", "transform_stocks", "transform_news")

  /** One generated day: the raw rows the fixture sources deliver, the lag
    * delta of every surviving quote keyed by (ticker, date), the links of
    * this day's articles that survive transformNews, and the input size. */
  final case class Day(date: LocalDate, quotes: Seq[Model.RawQuote], news: Seq[Seq[String]],
                       lag: Map[(String, String), Option[Double]], links: Set[String],
                       inputBytes: Long) {
    val processDate: String = date.format(DateTimeFormatter.BASIC_ISO_DATE)
  }

  private def round2(x: Double): Double = math.round(x * 100) / 100.0

  def generate(seed: Long, days: Int): Seq[Day] = (0 until days).map { d =>
    val rng = new Random(seed * 1000003L + d)
    val date = firstDay.plusDays(d.toLong)
    val iso = date.toString
    val quotes = mutable.ArrayBuffer.empty[Model.RawQuote]
    val lag = mutable.Map.empty[(String, String), Option[Double]]
    Model.stockDim.foreach { case (_, ticker, _) =>
      var prev: Option[Double] = None
      (0 until quotesPerTicker).foreach { r =>
        // a trailing daily history, oldest first, so the lag order is total
        val day = date.minusDays((quotesPerTicker - 1 - r).toLong).toString
        val u = rng.nextDouble()
        val close =
          if (u < 0.02) Double.NaN
          else if (u < 0.03) -round2(0.01 + rng.nextDouble() * 5)
          else round2(5 + rng.nextDouble() * 55)
        val volume = if (rng.nextDouble() < 0.01) 0L else 1000L + rng.nextInt(1000000)
        val open = if (rng.nextDouble() < 0.01) Double.NaN else round2(5 + rng.nextDouble() * 55)
        val base = if (close.isNaN) 30.0 else math.abs(close)
        quotes += Model.RawQuote(day, ticker, close, round2(base + rng.nextDouble()),
          round2(base - rng.nextDouble()), open, volume)
        if (!close.isNaN && close > 0 && volume > 0) {
          lag((ticker, day)) = prev.map(close - _)
          prev = Some(close)
        }
      }
    }
    // base articles: unique links; ~10% published the day before and ~3%
    // unparseable (both dropped by the same-day filter)
    val base = (0 until 340).map { j =>
      val (_, ticker, company) = Model.stockDim(j % Model.stockDim.size)
      val sector = Model.stockDim(j % Model.stockDim.size)._1
      val u = rng.nextDouble()
      val published =
        if (u < 0.10) s"${date.minusDays(1)}T09:30:00Z"
        else if (u < 0.13) "unknown"
        else if (u < 0.18) iso
        else f"${iso}T${8 + j % 10}%02d:15:00Z"
      Seq(ticker, company, sector, s"$company headline ${d + 1}-$j", s"Source ${j % 7}",
        s"https://news.example.com/${date}/$j", published, company,
        f"${iso}T21:${j / 60}%02d:${j % 60}%02d")
    }
    val dups = Seq.fill(30)(base(rng.nextInt(base.size)))
    // same link re-crawled later with a new title: the earlier row survives
    val updated = Seq.fill(20)(base(rng.nextInt(base.size))).map { r =>
      r.updated(3, r(3) + " (updated)").updated(8, s"${iso}T23:00:00")
    }
    val incomplete = (0 until 10).map { j =>
      val (sector, ticker, company) = Model.stockDim(j)
      Seq(ticker, company, sector, if (j < 5) null else s"$company brief $j",
        if (j < 5) s"Source $j" else null, s"https://news.example.com/${date}/x$j",
        s"${iso}T10:00:00Z", company, s"${iso}T21:59:00")
    }
    val news = rng.shuffle(base ++ dups ++ updated ++ incomplete)
    val links = base.filter { r =>
      r(6) != "unknown" && r(6).take(10) == iso
    }.map(_(5)).toSet
    def bytes(r: Seq[Any]): Long = r.map(v => String.valueOf(v)).mkString(",").length + 1L
    val inputBytes = quotes.map(q => bytes(q.productIterator.toSeq)).sum + news.map(bytes).sum
    Day(date, quotes.toSeq, news, lag.toMap, links, inputBytes)
  }

  /** Data files (not `_`/`.` markers) under `root`: (count, bytes). */
  def listFiles(root: String): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
      else Seq(f)
    val files = walk(new File(root))
    (files.size.toLong, files.map(_.length).sum)
  }

  /** A preview statement of queries.sql and the table it reads. */
  final case class Preview(sql: String, table: String) {
    val kind: String =
      if (sql.toUpperCase.startsWith("SHOW PARTITIONS")) "partitions"
      else if (sql.toLowerCase.contains("count(*)")) "count"
      else "limit"
    val limit: Int = "(?i)LIMIT\\s+(\\d+)".r.findFirstMatchIn(sql).map(_.group(1).toInt).getOrElse(0)
  }

  def readPreviews(path: String): Seq[Preview] = {
    val text = scala.io.Source.fromFile(path).getLines().filterNot(_.trim.startsWith("--")).mkString("\n")
    text.split(";").map(_.trim).filter(_.nonEmpty).map { s =>
      val table = "(?i)(?:FROM|PARTITIONS)\\s+([\\w.]+)".r.findFirstMatchIn(s).get.group(1)
      Preview(s.replaceAll("\\s+", " "), table)
    }.toSeq
  }


  def run(spark: SparkSession, work: String, days: Seq[Day], previews: Seq[Preview],
          tracer: Tracer, traced: Boolean, cores: Int): Outcome = {
    val zones = Map("extract_stocks" -> s"$work/raw/stocks", "extract_news" -> s"$work/raw/news",
      "transform_stocks" -> s"$work/refined/stocks", "transform_news" -> s"$work/refined/news")
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    // running expectations over the history written so far
    var stockRows, refinedStockRows, newsRows, refinedNewsRows = 0L
    var links = Set.empty[String]
    var partitions = Set.empty[String]

    // file counts and bytes each job wrote, per traced day
    val written = mutable.Map.empty[Int, Map[String, (Long, Long)]]

    def runDay(pass: Int, trace: Boolean): Seq[OpSample] = {
      val day = days(pass)
      val cfg = Jobs.Config(zones("extract_stocks"), zones("extract_news"),
        zones("transform_stocks"), zones("transform_news"), processDate = day.processDate)
      stockRows += day.quotes.size
      refinedStockRows += day.lag.size
      newsRows += day.news.size
      links ++= day.links
      refinedNewsRows += links.size
      partitions ++= Model.stockDim.map(_._1).distinct
        .map(s => s"dataproc=${day.processDate}/setor=$s")
      val io = mutable.Map.empty[String, (Long, Long)]
      val previewOut = mutable.Map.empty[Int, Seq[String]]
      val jobOps: Seq[(String, () => Unit)] = Seq(
        "extract_stocks" -> (() => Jobs.extractStocks(spark, new FixtureQuoteSource(day.quotes), cfg)),
        "extract_news" -> (() => Jobs.extractNews(spark, new FixtureNewsSource(day.news), cfg)),
        "transform_stocks" -> (() => Jobs.transformStocks(spark, cfg)),
        "transform_news" -> (() => Jobs.transformNews(spark, cfg)))
      val previewOps: Seq[(String, () => Unit)] = previews.zipWithIndex.map { case (p, i) =>
        val span = if (p.kind == "partitions") "show_partitions" else "preview"
        s"$span.$i" -> (() => previewOut(i) =
          if (p.kind == "partitions") {
            val Array(db, t) = p.table.split("\\.")
            Catalog.showPartitions(spark, db, t)
          } else spark.sql(p.sql).collect().map(_.toString).toSeq)
      }
      val before: Map[String, (Long, Long)] =
        if (trace) zones.map { case (j, z) => j -> listFiles(z) } else Map.empty
      val samples = (jobOps ++ previewOps).map { case (name, f) =>
        attempted += 1
        val key = s"$pass/$name"
        val t0 = System.nanoTime()
        val err = try { tracer.span(name.takeWhile(_ != '.'), key, s"day:${pass + 1}")(f()); None }
        catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        val wall = (System.nanoTime() - t0) / 1e9
        if (trace) zones.get(name).foreach { z =>
          val (n, b) = listFiles(z)
          io(name) = (n - before(name)._1, b - before(name)._2)
        }
        OpSample(name, wall, err)
      }
      tracer.settle()
      // output checks, outside the timed operations
      val checks = mutable.Map.empty[String, String]
      def check(op: String, ok: => Boolean, what: => String): Unit =
        try { if (!ok) checks(op) = what }
        catch { case e: Throwable => checks(op) = s"$what: ${e.getMessage}" }
      val dayFilter = Map("dataproc" -> day.processDate)
      check("extract_stocks",
        ParquetIO.readPartitioned(spark, zones("extract_stocks"), dayFilter).count() == day.quotes.size,
        "raw stock rows")
      check("transform_stocks", {
        val got = ParquetIO.readPartitioned(spark, zones("transform_stocks"), dayFilter)
          .select("codigoAcao", "data", "variacaoFechamento").collect()
          .map(r => (r.getString(0), r.get(1).toString) -> Option(r.get(2)).map(_.asInstanceOf[Double]))
        got.length == day.lag.size && got.toMap == day.lag
      }, "refined stock rows / lag deltas")
      check("transform_stocks",
        Catalog.showPartitions(spark, "stock_db", "stocks_clean").toSet == partitions,
        "dataproc=/setor= partitions")
      check("transform_news",
        ParquetIO.readPartitioned(spark, zones("transform_news"), dayFilter)
          .select("link").collect().map(_.getString(0)).toSet == links,
        "dedup survivors")
      previews.zipWithIndex.foreach { case (p, i) =>
        val total = p.table match {
          case "stock_db.stock_prices_best_row" => stockRows
          case "stock_db.stocks_clean" => refinedStockRows
          case "news_db.news_raw" => newsRows
          case "news_db.news_clean" => refinedNewsRows
          case _ => -1L
        }
        val expected = p.kind match {
          case "partitions" if p.table == "stock_db.stocks_clean" => partitions.size.toLong
          case "partitions" => (pass + 1).toLong
          case "count" => total
          case _ => math.min(p.limit.toLong, total)
        }
        check(s"${if (p.kind == "partitions") "show_partitions" else "preview"}.$i",
          previewOut.get(i).exists { out =>
            if (p.kind == "count") out == Seq(s"[$expected]") else out.size == expected
          }, s"preview '${p.sql}'")
      }
      val checked = samples.map { s =>
        val e = s.error.orElse(checks.get(s.name))
        e.foreach(m => failures += s"${s.name} (day ${pass + 1}): $m")
        s.copy(error = e)
      }
      if (trace) written(pass) = io.toMap
      checked
    }

    def dayLayers(pass: Int, samples: Seq[OpSample], gc: (Long, Long)): Map[String, Double] = {
      val io = written(pass)
      val byName = samples.map(s => s.name -> s.wallS).toMap
      val (pipe, pc) = jobs.map(j => Layers.spanTotal(tracer, pass, j))
        .foldLeft((0.0, 0.0)) { case ((a, b), (c, d)) => (a + c, b + d) }
      val (prev, vc) = Layers.spanTotal(tracer, pass, "preview")
      val (show, sc) = Layers.spanTotal(tracer, pass, "show_partitions")
      val files = io.values.map(_._1).sum
      val bytes = io.values.map(_._2).sum
      Layers.pass(tracer, pass, samples, gc, cores) ++
        jobs.map(j => s"pipeline.${j}_s" -> byName(j)) ++ Map(
        "pipeline.self_s" -> (pipe - pc),
        "io.files_written" -> files.toDouble,
        "io.bytes_written_mb" -> bytes / (1024.0 * 1024.0),
        "io.mean_file_kb" -> (if (files > 0) bytes / 1024.0 / files else 0.0),
        "catalog.preview_s" -> prev,
        "catalog.show_partitions_s" -> show,
        "catalog.self_s" -> (prev + show - vc - sc))
    }

    val (cold, warm, figures) = Layers.drive(tracer, traced, days.size - 1)(runDay)(dayLayers)
    val stored = zones.values.map(z => listFiles(z)._2).sum.toDouble
    val layers = if (figures.isEmpty) figures else figures ++ Map(
      "catalog.partitions" -> (partitions.size + days.size).toDouble,
      "io.stored_bytes_per_input_byte" -> stored / days.map(_.inputBytes).sum)
    Outcome(cold, warm, layers, attempted, failures.toSeq)
  }
}
