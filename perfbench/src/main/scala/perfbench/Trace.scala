package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One wall clock for every span: epoch microseconds. Spark stamps its
  * listener events with `System.currentTimeMillis`, so benchmark-side
  * spans are anchored to the same epoch and advanced by `nanoTime`. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000.0
  def nowUs: Double = baseUs + (System.nanoTime() - baseNano) / 1000.0
}

/** A benchmark-side span: one request or micro-batch; `layer` names its
  * class (a request class, or `batch`). */
final case class Span(name: String, layer: String, startUs: Double,
    endUs: Double) {
  def durUs: Double = endUs - startUs
}

/** Half-open interval arithmetic over (start, end) pairs in µs. */
object Iv {
  type I = (Double, Double)

  def union(xs: Seq[I]): List[I] =
    xs.filter(i => i._2 > i._1).sortBy(_._1).foldLeft(List.empty[I]) {
      case ((a, b) :: rest, (c, d)) if c <= b => (a, math.max(b, d)) :: rest
      case (acc, i) => i :: acc
    }.reverse

  def measure(xs: Seq[I]): Double = union(xs).map(i => i._2 - i._1).sum

  def clip(xs: Seq[I], s: Double, e: Double): Seq[I] =
    xs.map(i => (math.max(i._1, s), math.min(i._2, e))).filter(i => i._2 > i._1)

  /** Measure of `xs` not covered by `ys`. */
  def minusMeasure(xs: Seq[I], ys: Seq[I]): Double = {
    val u = union(xs)
    u.map(i => i._2 - i._1).sum - measure(u.flatMap(i => clip(ys, i._1, i._2)))
  }
}

/** The traced run's listeners: a `SparkListener` for jobs, stages, task
  * failures and unpersists, and a `QueryExecutionListener` for each
  * action's Catalyst phases. Events are kept in memory and attributed to
  * the benchmark's op spans by interval after the run: ops never
  * overlap (one closed-loop client against a single-flight server, one
  * micro-batch at a time), so the op whose interval
  * holds an event's start is the op that caused it. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val jobStarts = new ConcurrentLinkedQueue[Job]
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  private val stages = new ConcurrentLinkedQueue[Stage]
  private val phases = new ConcurrentLinkedQueue[Phase]
  private val actionsMs = new ConcurrentLinkedQueue[Long]
  private val taskFailuresN = new AtomicLong
  private val unpersistsN = new AtomicLong

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.add(Job(e.jobId, e.time, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.put(e.jobId, e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      for (a <- s.submissionTime; b <- s.completionTime)
        stages.add(Stage(s.stageId, a, b, s.numTasks,
          m.executorCpuTime, m.executorRunTime,
          m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten,
          m.diskBytesSpilled, s.name.takeWhile(_ != '\n').take(80)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.reason != Success) taskFailuresN.incrementAndGet()
    override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
      unpersistsN.incrementAndGet()
  }

  private val qeListener = new QueryExecutionListener {
    private def record(funcName: String, qe: QueryExecution): Unit = {
      actionsMs.add(System.currentTimeMillis())
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add(Phase(funcName, name, p.startTimeMs, p.endTimeMs))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(funcName, qe)
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)

  /** Deliver every event already posted, then return the counters that
    * carry no timestamp: (task failures, unpersists) so far. */
  def mark(): (Long, Long) = {
    PerfbenchBus.drain(spark.sparkContext)
    (taskFailuresN.get, unpersistsN.get)
  }

  /** Attribute every recorded event to the op whose interval holds its
    * start, and write the span tree (op → job → stage, and op → Catalyst
    * phase) as JSON lines. */
  def attribute(ops: Seq[Span], runId: String,
      spanOut: Option[java.io.File]): Seq[OpTrace] = {
    mark()
    val js = jobStarts.asScala.toSeq.map { j =>
      (j, j.startMs * 1000.0,
        Option(jobEnds.get(j.id)).map(_ * 1000.0).getOrElse(j.startMs * 1000.0))
    }
    val stageToJob = js.flatMap { case (j, _, _) => j.stageIds.map(_ -> j.id) }
      .toMap
    val allStages = stages.asScala.toSeq
    val allPhases = phases.asScala.toSeq
    val allActions = actionsMs.asScala.toSeq
    def in(op: Span, us: Double) = us >= op.startUs && us <= op.endUs
    val traces = ops.map { op =>
      val oj = js.filter(j => in(op, j._2))
      val ids = oj.map(_._1.id).toSet
      OpTrace(op, oj,
        allStages.filter(s => stageToJob.get(s.id).exists(ids)),
        allPhases.filter(p => in(op, p.startMs * 1000.0)),
        allActions.count(ms => in(op, ms * 1000.0)))
    }
    spanOut.foreach(f => writeSpans(traces, runId, f))
    traces
  }

  private def writeSpans(traces: Seq[OpTrace], runId: String,
      f: java.io.File): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    var next = 0L
    def emit(parent: Long, name: String, layer: String, s: Double,
        e: Double, extra: Map[String, Any] = Map.empty): Long = {
      next += 1
      w.println(Json(Map("run" -> runId, "id" -> next, "parent" -> parent,
        "name" -> name, "layer" -> layer, "start_us" -> s.toLong,
        "end_us" -> e.toLong) ++ extra))
      next
    }
    try traces.foreach { t =>
      val opId = emit(0L, t.op.name, t.op.layer, t.op.startUs, t.op.endUs)
      val jobIds = t.jobs.map { case (j, s, e) =>
        j.id -> emit(opId, s"job ${j.id}", "execution", s, e)
      }.toMap
      val stageJob = t.jobs.flatMap(j => j._1.stageIds.map(_ -> j._1.id)).toMap
      t.stages.foreach { s =>
        emit(stageJob.get(s.id).flatMap(jobIds.get).getOrElse(opId),
          s"stage ${s.id}: ${s.name}", "execution", s.startMs * 1000.0,
          s.endMs * 1000.0, Map("tasks" -> s.tasks,
            "cpu_ms" -> s.cpuNs / 1e6, "shuffle_bytes" -> s.shuffleBytes))
      }
      t.phases.foreach { p =>
        emit(opId, s"${p.action}.${p.phase}",
          "catalyst", p.startMs * 1000.0, p.endMs * 1000.0)
      }
    } finally w.close()
  }
}

object Tracer {
  final case class Job(id: Int, startMs: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, startMs: Long, endMs: Long, tasks: Int,
      cpuNs: Long, runMs: Long, shuffleBytes: Long, spillBytes: Long,
      name: String)
  final case class Phase(action: String, phase: String, startMs: Long,
      endMs: Long)


  /** What the listeners saw inside one op span. */
  final case class OpTrace(op: Span, jobs: Seq[(Job, Double, Double)],
      stages: Seq[Stage], phases: Seq[Phase], actions: Int) {
    private def clipped(xs: Seq[Iv.I]) = Iv.clip(xs, op.startUs, op.endUs)
    val jobIv: Seq[Iv.I] = clipped(jobs.map(j => (j._2, j._3)))
    val phaseIv: Seq[Iv.I] =
      clipped(phases.map(p => (p.startMs * 1000.0, p.endMs * 1000.0)))
    /** Self times (µs): execution = the union of job intervals; Catalyst
      * = phase time outside jobs; the op keeps the rest, which is code
      * outside both (HTTP and JSON mapping, DataFrame construction,
      * the streaming engine). The three sum to the op's span. */
    val execUs: Double = Iv.measure(jobIv)
    val planUs: Double = Iv.minusMeasure(phaseIv, jobIv)
    val otherUs: Double = op.durUs - Iv.measure(jobIv ++ phaseIv)
  }
}

/** Per-layer totals over a run's op traces. */
object Layers {
  def totals(ts: Seq[Tracer.OpTrace]): Map[String, Double] = {
    val stages = ts.flatMap(_.stages)
    Map(
      "plan_s" -> ts.map(_.planUs).sum / 1e6,
      "exec_s" -> ts.map(_.execUs).sum / 1e6,
      "jobs" -> ts.map(_.jobs.size).sum.toDouble,
      "stages" -> stages.size.toDouble,
      "tasks" -> stages.map(_.tasks).sum.toDouble,
      "actions" -> ts.map(_.actions).sum.toDouble,
      "task_cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
      "task_run_s" -> stages.map(_.runMs).sum / 1e3,
      "shuffle_mb" -> stages.map(_.shuffleBytes).sum / 1e6,
      "spill_mb" -> stages.map(_.spillBytes).sum / 1e6)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
