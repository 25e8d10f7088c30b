package perfbench

import java.util.UUID

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Scheduler, task and micro-batch counters of one operation. */
final class OpStats {
  var jobs, constructJobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, taskGcMs, inputBytes, shuffleWrite, shuffleRead = 0L
  var fetchWaitMs, spillBytes = 0L
  val jobSpans = ArrayBuffer.empty[(Long, Long)]
  var batches, inputRows, addBatchMs, planningMs, walMs, commitMs = 0L
  var latestOffsetMs, triggerMs = 0L
}

/** A timed region: `name` is the phase or job, `op` the operation key
  * (`<pass>/<operation>`), `parent` the pass or day it ran in. Compile
  * counters are the codegen deltas inside the region. */
final case class Span(name: String, op: String, parent: String,
                      startNs: Long, endNs: Long, compiles: Long, compileNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Codegen {
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileNs: Long = CodeGenerator.compileTime
}

/** Times the phases of each operation and, while enabled, attributes the
  * listener events of the jobs and streaming queries they launch.
  *
  * Attribution rides Spark local properties: every phase sets the
  * operation key and phase name on the calling thread, jobs carry them in
  * their properties, and streaming threads inherit them from the thread
  * that started the query. Everything stays in memory until [[dump]]. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = ArrayBuffer.empty[Span]
  private val ops = TrieMap.empty[String, OpStats]
  private val jobOp = TrieMap.empty[Int, (String, Long)]
  private val stageOp = TrieMap.empty[Int, String]
  private val queryOp = TrieMap.empty[UUID, String]
  /** state rows and bytes of each streaming query's latest progress */
  private val queryState = TrieMap.empty[UUID, (Long, Long)]
  @volatile private var currentOp = ""

  def stats(op: String): OpStats = ops.getOrElseUpdate(op, new OpStats)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      p.flatMap(x => Option(x.getProperty("perfbench.op"))).foreach { op =>
        val s = stats(op)
        s.synchronized {
          s.jobs += 1
          if (p.exists(_.getProperty("perfbench.phase") == "construct")) s.constructJobs += 1
        }
        jobOp(e.jobId) = (op, e.time)
        e.stageIds.foreach(stageOp.putIfAbsent(_, op))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobOp.remove(e.jobId).foreach { case (op, t0) =>
        val s = stats(op)
        s.synchronized(s.jobSpans += ((t0, e.time)))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageOp.get(e.stageInfo.stageId).foreach { op =>
        val s = stats(op)
        s.synchronized(s.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageOp.get(e.stageId).foreach { op =>
        val s = stats(op)
        val m = e.taskMetrics
        s.synchronized {
          s.tasks += 1
          if (m != null) {
            s.taskRunMs += m.executorRunTime
            s.taskCpuNs += m.executorCpuTime
            s.taskGcMs += m.jvmGCTime
            s.inputBytes += m.inputMetrics.bytesRead
            s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            s.spillBytes += m.diskBytesSpilled
          }
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    // called synchronously from start(), on the thread running the operation
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      queryOp(e.id) = currentOp
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      queryOp.get(p.id).foreach { op =>
        val s = stats(op)
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        s.synchronized {
          s.batches += 1
          s.inputRows += p.numInputRows
          s.addBatchMs += d("addBatch")
          s.planningMs += d("queryPlanning")
          s.walMs += d("walCommit")
          s.commitMs += d("commitOffsets")
          s.latestOffsetMs += d("latestOffset")
          s.triggerMs += d("triggerExecution")
        }
        queryState(p.id) = (p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private var on = false
  def enable(): Unit = if (!on) {
    sc.addSparkListener(jobListener); spark.streams.addListener(streamListener); on = true
  }
  def disable(): Unit = if (on) {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(jobListener); spark.streams.removeListener(streamListener); on = false
  }
  /** Waits until every event posted so far reached the listeners. */
  def settle(): Unit = if (on) org.apache.spark.perfbench.Bus.drain(sc)

  /** State rows and bytes held by the streaming queries `op` started. */
  def streamState(op: String): (Long, Long) = {
    val mine = queryOp.collect { case (id, o) if o == op => queryState.getOrElse(id, (0L, 0L)) }
    (mine.map(_._1).sum, mine.map(_._2).sum)
  }

  /** Runs `f` as region `name` of operation `op`; a plain call unless enabled. */
  def span[T](name: String, op: String, parent: String)(f: => T): T =
    if (!on) f
    else {
      sc.setLocalProperty("perfbench.op", op)
      sc.setLocalProperty("perfbench.phase", name)
      currentOp = op
      val (c0, n0, t0) = (Codegen.compiles, Codegen.compileNs, System.nanoTime())
      try f
      finally {
        spans += Span(name, op, parent, t0, System.nanoTime(),
          Codegen.compiles - c0, Codegen.compileNs - n0)
        sc.setLocalProperty("perfbench.op", null)
        sc.setLocalProperty("perfbench.phase", null)
      }
    }

  /** Writes every span and per-operation counter as JSON lines. */
  def dump(path: String): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"span":"${s.name}","op":"${s.op}","parent":"${s.parent}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"compiles":${s.compiles},"compile_ns":${s.compileNs}}""" + "\n"
    }
    ops.toSeq.sortBy(_._1).foreach { case (op, s) =>
      sb ++= s"""{"op":"$op","jobs":${s.jobs},"construct_jobs":${s.constructJobs},""" +
        s""""stages":${s.stages},"tasks":${s.tasks},"task_run_ms":${s.taskRunMs},""" +
        s""""task_cpu_ns":${s.taskCpuNs},"task_gc_ms":${s.taskGcMs},"input_bytes":${s.inputBytes},""" +
        s""""shuffle_write":${s.shuffleWrite},"shuffle_read":${s.shuffleRead},""" +
        s""""fetch_wait_ms":${s.fetchWaitMs},"spill_bytes":${s.spillBytes},"batches":${s.batches}}""" + "\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}
