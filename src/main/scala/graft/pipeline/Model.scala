package graft.pipeline

import org.apache.spark.sql.types._

/** Schemas and static dimension data mirroring the reference's data model
  * (SURVEY.md §1, FIXTURES.md §A).
  */
object Model {

  /** Thrown when a (sector, ticker, company) dimension lists a ticker more
    * than once. The transforms rely on each ticker having exactly one
    * sector: rows hash-partitioned on the sector already hold every row of
    * each of its tickers, so the per-ticker lag needs no exchange of its own.
    */
  final class DuplicateTickerException(val tickers: Seq[String])
    extends IllegalArgumentException(
      s"stock dimension lists ticker(s) more than once: ${tickers.mkString(", ")}")

  /** `dim` itself, or [[DuplicateTickerException]] naming the tickers that
    * appear in more than one row. Driver-side, no job.
    */
  def requireUniqueTickers(
      dim: Seq[(String, String, String)]): Seq[(String, String, String)] = {
    val dups = dim.groupBy(_._2).collect { case (t, rows) if rows.size > 1 => t }
    if (dups.nonEmpty) throw new DuplicateTickerException(dups.toSeq.sorted)
    dim
  }

  /** The 10-row (sector, ticker, company) dimension
    * (`extract_stocks_job.py:40-74`), checked at initialisation.
    */
  val stockDim: Seq[(String, String, String)] = requireUniqueTickers(Seq(
    ("Banks", "ITUB4.SA", "Itau Unibanco"),
    ("Banks", "BBDC4.SA", "Bradesco"),
    ("Banks", "BBAS3.SA", "Banco do Brasil"),
    ("Banks", "SANB11.SA", "Santander Brasil"),
    ("Energy", "PETR4.SA", "Petrobras"),
    ("Energy", "ELET3.SA", "Eletrobras"),
    ("Sanitation", "SBSP3.SA", "Sabesp"),
    ("Insurance", "BBSE3.SA", "BB Seguridade"),
    ("Telecommunications", "VIVT3.SA", "Vivo"),
    ("Telecommunications", "TIMS3.SA", "TIM Brasil"),
  ))

  /** Raw OHLCV long-form row as produced by ingestion (post-unpivot):
    * date is a `yyyy-MM-dd` STRING in the raw zone by design (§1.2).
    */
  case class RawQuote(Date: String, Ticker: String, Close: Double, High: Double,
                      Low: Double, Open: Double, Volume: Long)

  /** Raw-zone stocks schema after clean/join (data columns, pre-partition). */
  val stockRawSchema: StructType = StructType(Seq(
    StructField("date", StringType), StructField("ticker", StringType),
    StructField("close", DoubleType), StructField("high", DoubleType),
    StructField("low", DoubleType), StructField("open", DoubleType),
    StructField("volume", LongType), StructField("sector", StringType),
    StructField("company", StringType)))

  /** The raw stocks files as `extractStocks` writes them, partition column
    * included: the dim join puts its key `ticker` first, so the file order
    * differs from [[stockRawSchema]]'s.
    */
  val stockRawFileSchema: StructType = StructType(
    ("ticker" +: stockRawSchema.fieldNames.filter(_ != "ticker").toSeq)
      .map(stockRawSchema(_)) :+ StructField("dataproc", StringType))

  /** Refined-zone Portuguese schema (`transform_stocks_job.py:66-84`),
    * data columns only (partitions: dataproc, setor).
    */
  val stocksCleanSchema: StructType = StructType(Seq(
    StructField("codigoAcao", StringType), StructField("nomeEmpresa", StringType),
    StructField("data", DateType), StructField("precoFechamento", DoubleType),
    StructField("precoMaximo", DoubleType), StructField("precoMinimo", DoubleType),
    StructField("precoAbertura", DoubleType), StructField("volumeNegociacao", LongType),
    StructField("mediaFechamento", DoubleType), StructField("totalVolume", LongType),
    StructField("variacaoFechamento", DoubleType)))

  /** The 9-column all-string news schema (`extract_news_job.py:275-290`). */
  val newsColumns: Seq[String] = Seq("ticker", "company", "sector", "title",
    "source", "link", "published_time", "search_term", "extracted_at")

  val newsRawSchema: StructType =
    StructType(newsColumns.map(StructField(_, StringType)))
}
