package perfbench

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The registry workload: a fixed gate set from `graft.SparkEntry` in three
  * families, run in a seed-permuted order (order decides which gate pays
  * first-use cost), one cold pass and then warm passes. */
object Registry {

  /** Gates ROADMAP targets; each reports gate.<name>.* in traced runs. */
  val targets: Seq[String] = Seq("graph_pagerank", "corpus_clean", "dedup_minhash_lsh",
    "dedup_embedding_cosine", "stream_stream_join")

  /** reference_etl is the reference's own operator families (P/A/J/W/S/K and
    * a TPC-H-ish join) and should stay flat under extension-operator work;
    * llm_corpus is extension operators whose construction launches eager
    * jobs; stream_replay is AvailableNow replays, the only graft.streaming
    * users. Each family reports family.<name>.* in traced runs. */
  val families: Seq[(String, Seq[String])] = Seq(
    "reference_etl" -> Seq("tpch_q3ish", "j2_agg_join_back", "a1_groupby_agg",
      "w1_lag_delta", "p4_p5_cast_filter", "o1_topk", "s4_pruned_scan", "a2_count_star"),
    "llm_corpus" -> Seq("graph_pagerank", "corpus_clean", "dedup_minhash_lsh",
      "dedup_embedding_cosine", "txt_token_count"),
    "stream_replay" -> Seq("stream_stream_join"))

  val gates: Seq[String] = families.flatMap(_._2)

  /** Warm-pass seconds on a 4-core host; sizes the number of warm passes
    * to a run's --seconds while keeping the work independent of speed. */
  val nominalPassS = 7.0

  /** The input the stream replay reads that the library builds once per
    * JVM and directory: the events landing zone. */
  def prepare(spark: SparkSession, dir: String): Unit =
    graft.streaming.StreamOps.eventsLanding(spark, dir)

  final case class Expected(rows: Long, hash: Long)

  def readExpected(path: String): Map[String, Expected] =
    scala.io.Source.fromFile(path).getLines()
      .filterNot(l => l.startsWith("#") || l.isBlank)
      .map(_.split("\t")).map(a => a(0) -> Expected(a(1).toLong, java.lang.Long.parseUnsignedLong(a(2), 16)))
      .toMap

  /** Order-insensitive 64-bit content hash: the wrapping sum of each row's
    * hash, computed on the executors. */
  def contentHash(df: DataFrame): Long =
    df.rdd.map { r =>
      val s = r.toString
      (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) | (MurmurHash3.stringHash(s, 0x7ab1e) & 0xffffffffL)
    }.fold(0L)(_ + _)


  def run(spark: SparkSession, dir: String, seed: Long, warmPasses: Int,
          tracer: Tracer, traced: Boolean, expected: Map[String, Expected],
          cores: Int): Outcome = {
    val order = new scala.util.Random(seed).shuffle(gates)
    val registry = graft.SparkEntry.queries
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    val phases = mutable.Map.empty[String, Map[String, Long]] // op key -> tracker phase ms

    def runPass(pass: Int, trace: Boolean, hash: Boolean): Seq[OpSample] = {
      val out = order.map { name =>
        val key = s"$pass/$name"
        attempted += 1
        val t0 = System.nanoTime()
        var df: DataFrame = null
        val err = try {
          df = tracer.span("construct", key, s"pass:$pass")(registry(name)(spark, dir))
          val qe = df.queryExecution
          tracer.span("plan", key, s"pass:$pass")(qe.executedPlan)
          val rows = tracer.span("execute", key, s"pass:$pass")(qe.toRdd.count())
          if (trace) phases(key) = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
          expected.get(name) match {
            case Some(e) if e.rows == rows => None
            case Some(e) => Some(s"rows $rows, expected ${e.rows}")
            case None => Some("no expected value")
          }
        } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        val wall = (System.nanoTime() - t0) / 1e9
        // checked outside the timed region, before the frozen inputs are released
        val hashErr = if (!hash || err.nonEmpty) None else expected.get(name).flatMap { e =>
          val h = try contentHash(df) catch { case _: Throwable => ~e.hash }
          if (h == e.hash) None else Some(f"hash $h%016x, expected ${e.hash}%016x")
        }
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        (err ++ hashErr).foreach(m => failures += s"$name (pass $pass): $m")
        OpSample(name, wall, err.orElse(hashErr))
      }
      tracer.settle()
      out
    }

    def layerPass(pass: Int, samples: Seq[OpSample], gc: (Long, Long)): Map[String, Double] = {
      val base = Layers.pass(tracer, pass, samples, gc, cores)
      val (construct, cc) = Layers.spanTotal(tracer, pass, "construct")
      val (plan, pc) = Layers.spanTotal(tracer, pass, "plan")
      val (execute, ec) = Layers.spanTotal(tracer, pass, "execute")
      val keys = samples.map(s => s"$pass/${s.name}")
      def phase(p: String) = keys.flatMap(k => phases.get(k).flatMap(_.get(p))).sum / 1000.0
      val gateFigures = samples.filter(s => targets.contains(s.name)).flatMap { s =>
        val key = s"$pass/${s.name}"
        val c = tracer.spans.filter(x => x.op == key && x.name == "construct").map(_.seconds).sum
        Seq(s"gate.${s.name}.wall_s" -> s.wallS,
          s"gate.${s.name}.jobs" -> tracer.stats(key).jobs.toDouble,
          s"gate.${s.name}.construct_s" -> c)
      }
      val familyFigures = families.flatMap { case (f, members) =>
        val mine = samples.filter(s => members.contains(s.name))
        val keys = mine.map(s => s"$pass/${s.name}")
        Seq(s"family.$f.warm_s" -> mine.map(_.wallS).sum,
          s"family.$f.jobs" -> keys.map(k => tracer.stats(k).jobs).sum.toDouble,
          s"family.$f.construct_s" -> tracer.spans
            .filter(x => x.name == "construct" && keys.contains(x.op)).map(_.seconds).sum)
      }
      base ++ gateFigures ++ familyFigures ++ Map(
        "queries.construct_s" -> construct,
        "queries.construct_jobs" -> keys.map(k => tracer.stats(k).constructJobs).sum.toDouble,
        "queries.construct_share" -> construct / base("trace.pass_s"),
        "queries.self_s" -> (construct - cc),
        "catalyst.plan_s" -> plan,
        "catalyst.self_s" -> (plan - pc),
        "catalyst.analysis_s" -> phase("analysis"),
        "catalyst.optimizer_s" -> phase("optimization"),
        "catalyst.planning_s" -> phase("planning"),
        "exec.run_s" -> execute,
        "exec.self_s" -> (execute - ec))
    }

    val (cold, warm, figures) = Layers.drive(tracer, traced, warmPasses)(
      (p, trace) => runPass(p, trace, hash = p == warmPasses))(layerPass)
    val coldFamilies = families.map { case (f, members) =>
      s"family.$f.cold_s" -> cold.filter(s => members.contains(s.name)).map(_.wallS).sum
    }
    val layers = if (figures.isEmpty) figures else figures ++ coldFamilies
    Outcome(cold, warm, layers, attempted, failures.toSeq)
  }
}
