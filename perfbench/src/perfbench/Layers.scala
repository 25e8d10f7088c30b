package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Wall time and outcome of one operation in one pass. */
final case class OpSample(name: String, wallS: Double, error: Option[String])

/** A workload's cold and warm passes, its traced per-layer figures (empty
  * when untraced), the operations attempted and the failures. */
final case class Outcome(cold: Seq[OpSample], warm: Seq[Seq[OpSample]],
                         layers: Map[String, Double], attempted: Int, failures: Seq[String])

/** Per-layer figures shared by every workload, computed for one traced pass
  * from the spans and counters of its operations. */
object Layers {
  def gc(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
  }

  /** Total length of the union of [start, end) intervals. */
  def unionMs(spans: Seq[(Long, Long)]): Long = {
    var total, reach = 0L
    spans.sortBy(_._1).foreach { case (s, e) =>
      val from = math.max(s, reach)
      if (e > from) { total += e - from; reach = e }
    }
    total
  }

  /** exec.*, streaming.*, codegen and span totals of pass `pass`.
    * `samples` are the pass's operations, `gcDelta` its (ms, count) of
    * collector activity, `cores` the local[N] width. */
  def pass(t: Tracer, pass: Int, samples: Seq[OpSample], gcDelta: (Long, Long),
           cores: Int): Map[String, Double] = {
    val keys = samples.map(s => s"$pass/${s.name}")
    val stats = keys.map(t.stats)
    val wall = samples.map(_.wallS).sum
    val top = t.spans.filter(_.op.startsWith(s"$pass/"))
    def sum(f: OpStats => Long): Double = stats.map(f).sum.toDouble
    val gapS = samples.zip(stats).map { case (s, st) =>
      math.max(0.0, s.wallS - unionMs(st.jobSpans.toSeq) / 1000.0)
    }.sum
    val taskRun = sum(_.taskRunMs) / 1000.0
    val (stateRows, stateBytes) = keys.map(t.streamState).foldLeft((0L, 0L)) {
      case ((a, b), (c, d)) => (a + c, b + d)
    }
    val mb = 1024.0 * 1024.0
    Map(
      "trace.pass_s" -> wall,
      "codegen.compiles" -> top.map(_.compiles).sum.toDouble,
      "codegen.compile_s" -> top.map(_.compileNs).sum / 1e9,
      "exec.jobs" -> sum(_.jobs),
      "exec.stages" -> sum(_.stages),
      "exec.tasks" -> sum(_.tasks),
      "exec.task_cpu_s" -> sum(_.taskCpuNs) / 1e9,
      "exec.task_run_s" -> taskRun,
      "exec.task_gc_s" -> sum(_.taskGcMs) / 1000.0,
      "exec.core_busy_frac" -> (if (wall > 0) taskRun / (wall * cores) else 0.0),
      "exec.driver_gap_s" -> gapS,
      "exec.input_mb" -> sum(_.inputBytes) / mb,
      "exec.shuffle_write_mb" -> sum(_.shuffleWrite) / mb,
      "exec.shuffle_read_mb" -> sum(_.shuffleRead) / mb,
      "exec.shuffle_fetch_wait_s" -> sum(_.fetchWaitMs) / 1000.0,
      "exec.spill_mb" -> sum(_.spillBytes) / mb,
      "streaming.batches" -> sum(_.batches),
      "streaming.input_rows" -> sum(_.inputRows),
      "streaming.add_batch_s" -> sum(_.addBatchMs) / 1000.0,
      "streaming.query_planning_s" -> sum(_.planningMs) / 1000.0,
      "streaming.wal_commit_s" -> sum(_.walMs) / 1000.0,
      "streaming.commit_offsets_s" -> sum(_.commitMs) / 1000.0,
      "streaming.latest_offset_s" -> sum(_.latestOffsetMs) / 1000.0,
      "streaming.orchestration_s" -> sum(s => s.triggerMs - s.addBatchMs) / 1000.0,
      "streaming.state_rows" -> stateRows.toDouble,
      "streaming.state_mem_mb" -> stateBytes / mb,
      "jvm.gc_s" -> gcDelta._1 / 1000.0,
      "jvm.gc_count" -> gcDelta._2.toDouble,
      "trace.unattributed_s" -> math.max(0.0, wall - top.map(_.seconds).sum)
    )
  }

  /** Runs a workload's cold pass 0 and warm passes 1..`warmPasses`.
    * `runPass(pass, trace)` runs one pass; `layers(pass, samples, gcDelta)`
    * gives a traced pass's figures. A traced run traces the cold pass and the
    * even warm passes only, so each traced warm pass sits between two
    * untraced ones and trace.overhead_frac compares them. Returns the cold
    * pass, the warm passes and the per-layer figures (empty when untraced):
    * the median over the traced warm passes, with the cold pass's compiles. */
  def drive(tracer: Tracer, traced: Boolean, warmPasses: Int)(
      runPass: (Int, Boolean) => Seq[OpSample])(
      layers: (Int, Seq[OpSample], (Long, Long)) => Map[String, Double])
      : (Seq[OpSample], Seq[Seq[OpSample]], Map[String, Double]) = {
    def timed(pass: Int, trace: Boolean): (Seq[OpSample], Option[Map[String, Double]]) = {
      if (trace) tracer.enable() else tracer.disable()
      val gc0 = gc()
      val samples = runPass(pass, trace)
      val gc1 = gc()
      (samples, if (trace) Some(layers(pass, samples, (gc1._1 - gc0._1, gc1._2 - gc0._2))) else None)
    }
    val (cold, coldLayers) = timed(0, traced)
    val warm = (1 to warmPasses).map(p => timed(p, traced && p % 2 == 0))
    tracer.disable()
    val figures = coldLayers.fold(Map.empty[String, Double]) { c =>
      val w = medians(warm.flatMap(_._2))
      val untraced = warm.collect { case (s, None) => s.map(_.wallS).sum }
      w ++ Map(
        "codegen.compiles" -> c("codegen.compiles"),
        "codegen.compile_s" -> c("codegen.compile_s"),
        "codegen.warm_compiles" -> w("codegen.compiles"),
        "trace.overhead_frac" -> (w("trace.pass_s") / median(untraced) - 1.0))
    }
    (cold, warm.map(_._1), figures)
  }

  /** Sum of the spans called `name` in pass `pass`, and their compile seconds. */
  def spanTotal(t: Tracer, pass: Int, name: String): (Double, Double) = {
    val s = t.spans.filter(x => x.name == name && x.op.startsWith(s"$pass/"))
    (s.map(_.seconds).sum, s.map(_.compileNs).sum / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Harrell-Davis estimate of quantile `p`: a Beta-weighted average of all
    * order statistics. At a few dozen samples drawn from a mix of cheap and
    * heavy operations it moves far less between runs than any single order
    * statistic, which jumps when two neighbours swap across a gap. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else {
      val w = new org.apache.commons.math3.distribution.BetaDistribution(p * (n + 1), (1 - p) * (n + 1))
      s.indices.map { i =>
        (w.cumulativeProbability((i + 1.0) / n) - w.cumulativeProbability(i.toDouble / n)) * s(i)
      }.sum
    }
  }

  /** Per-metric median over several traced passes. */
  def medians(passes: Seq[Map[String, Double]]): Map[String, Double] =
    passes.flatMap(_.keys).distinct.map(k => k -> median(passes.flatMap(_.get(k)))).toMap
}
