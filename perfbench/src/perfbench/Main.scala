package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in this JVM; see perfbench/README.md.
  *
  * usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --cores C --data DIR --work DIR --expected FILE --queries FILE
  *          --trace-out FILE
  *
  * Prints `perfbench <key> <value>` info lines and, last, one line
  * `RESULT {json}` with the outcome counts and every figure measured. */
object Main {

  /** graft.Bench's resolved session defaults, pinned: no environment
    * lookups, so a stray SPARK_GRAFT_* variable cannot change a figure. */
  val sessionConf: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.shuffle.partitions" -> "16",
    "spark.sql.streaming.stateStore.maintenanceInterval" -> "3600s",
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
    "spark.sql.streaming.minBatchesToRetain" -> "1",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "false",
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      graft.streaming.LocalCheckpointFileManager.confValue,
    "spark.sql.codegen.cache.maxEntries" -> "4000",
    "spark.sql.codegen.useIdInClassName" -> "false",
    "spark.sql.constraintPropagation.enabled" -> "false",
    "spark.shuffle.compress" -> "true",
    "spark.shuffle.spill.compress" -> "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1m",
    "spark.ui.enabled" -> "false",
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "2",
    "spark.hadoop.fs.file.impl" -> "graft.io.NioLocalFileSystem",
    "spark.sql.session.timeZone" -> "UTC")

  private def json(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"" + k + "\":" + (if (v.isNaN || v.isInfinite) "null" else v.toString)
    }.mkString("{", ",", "}")

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(x => x(0).stripPrefix("--") -> x(1)).toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val work = a("work")
    require(Set("registry", "stockpy_daily").contains(workload), s"unknown workload $workload")
    Memory.start()

    val builder = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
    val spark = sessionConf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionUpMs = System.currentTimeMillis()
    println(s"perfbench conf local[$cores] " +
      sessionConf.map { case (k, v) => s"$k=${spark.conf.get(k)}" }.mkString(" "))
    val tracer = new Tracer(spark)
    // warm passes (registry) or warm days (stockpy_daily): a fixed count per
    // --seconds, not a deadline, so the work measured does not depend on
    // speed; a traced run needs an odd count of at least three
    def warmCount(nominalS: Double): Int = {
      val n = math.max(2, math.ceil(seconds / nominalS).toInt)
      if (traced) math.max(3, n | 1) else n
    }

    // stockpy_daily generates its days three times and counts the median
    // toward set-up time; the registry prepares its inputs once, since the
    // library caches landing zones per JVM and a repeat would be a cache hit
    val (prepS, outcome) = if (workload == "stockpy_daily") {
      val days = 1 + warmCount(Daily.nominalDayS)
      val gens = (1 to 3).map(_ => timed(Daily.generate(seed, days)))
      println(s"perfbench prep_s ${gens.map(_._2).mkString(" ")} days $days " +
        s"input_bytes ${gens.head._1.map(_.inputBytes).sum}")
      (Layers.median(gens.map(_._2)),
        Daily.run(spark, work, gens.head._1, Daily.readPreviews(a("queries")), tracer, traced, cores))
    } else {
      val prep = timed(Registry.prepare(spark, a("data")))._2
      val passes = warmCount(Registry.nominalPassS)
      println(s"perfbench prep_s $prep gates ${Registry.gates.size} warm_passes $passes")
      (prep, Registry.run(spark, a("data"), seed, passes, tracer, traced,
        Registry.readExpected(a("expected")), cores))
    }
    val Outcome(cold, warm, layers, attempted, failures) = outcome
    if (traced) tracer.dump(a("trace-out"))

    val opWalls = warm.flatten.map(_.wallS)
    val failed = failures.size
    failures.foreach(f => println(s"perfbench FAILED $f"))
    println(s"perfbench op_samples ${opWalls.size} ops_failed_frac ${failed.toDouble / attempted}")
    println(s"perfbench warm_passes_s " + warm.map(_.map(_.wallS).sum).mkString(" "))
    val metrics = Map(
      "cold_pass_s" -> cold.map(_.wallS).sum,
      "warm_pass_s" -> Layers.median(warm.map(_.map(_.wallS).sum)),
      "op_p50_s" -> Layers.quantile(opWalls, 0.5),
      "op_p60_s" -> Layers.quantile(opWalls, 0.6),
      "peak_retained_mb" -> Memory.peakMb(),
      "prep_s" -> prepS,
      "session_up_epoch_s" -> sessionUpMs / 1000.0) ++ layers
    spark.stop()
    println(s"""RESULT {"correct":${failures.isEmpty},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":${json(metrics)}}""")
  }
}
