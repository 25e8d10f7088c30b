package perfbench

import org.apache.spark.sql.SparkSession

/** Writes the expected table of the registry workloads (expected.tsv) from
  * a `graft.Verify` dump whose outputs `tools/selfcheck.py` passed against
  * the DuckDB oracle, so the benchmark checks against oracle-agreed values.
  *
  * usage: perfbench.Record <verify_out_dir> <expected.tsv> */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(dump, out) = args
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val lines = Registry.gates.sorted.map { g =>
      val df = spark.read.parquet(s"$dump/$g")
      f"$g\t${df.count()}\t${Registry.contentHash(df)}%016x"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      "# gate\trows\torder-insensitive content hash (Registry.contentHash)\n" +
        lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}
