package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.{GraftSession, SparkEntry}
import graft.model.BuilderCache

/** The one profiler for declared queries. Usage:
  *   runMain graft.tools.Profile <sfDir> <mode> [action] [warmRuns] [query...]
  * With no query named, every declared query is profiled. Modes:
  *  - `time`: one cold run (builder first-touch), then `warmRuns` warm
  *    runs (default 2), each timed through its terminal action;
  *  - `stages`: the same runs, with a SparkListener on the last one
  *    reporting each completed stage (wall, task time, shuffle, input,
  *    spill), sorted by wall;
  *  - `explain` / `explain-uncached`: formatted physical plans; the
  *    latter builds under [[BuilderCache.uncached]], bypassing memoized
  *    builders and eager checkpoints to show the FULL plan (PlanSpec's
  *    detector-sweep visibility mode);
  *  - `executed`: runs each query so AQE's final join elections are
  *    visible, then prints a join-strategy census and the adaptive plan.
  *
  * `action` is `collect` (default; includes result serialization),
  * `noop` (writes to the noop sink: every row of the full projection is
  * computed but nothing reaches the driver — use it for scan-throughput
  * exponents and for outputs that scale with sf) or `count` (row-count
  * sanity only: Catalyst prunes a projection to its filter columns, so
  * count timed scan_project flat from sf10 to sf100). Never mix actions
  * within one exponent series.
  *
  * The JVM heap comes from build.sbt's scale coupling, which reads
  * SPARK_GRAFT_SF_DIR (not argv); [[checkHeap]] refuses a heap too
  * small for the sf dir before it wastes a run. */
object Profile {
  final case class Run(query: String, run: Int, seconds: Double, rows: Long)
  final case class Stage(query: String, id: Int, wallS: Double,
      taskS: Double, tasks: Int, shuffleReadB: Long, shuffleWriteB: Long,
      inputB: Long, spillB: Long, name: String)
  final case class Plan(query: String, census: String, plan: String)
  final case class Report(runs: Seq[Run], stages: Seq[Stage], plans: Seq[Plan])

  private val Modes = Set("time", "stages", "explain", "explain-uncached", "executed")
  private val Actions = Set("collect", "count", "noop")
  private val CensusOps = Seq("broadcastHash" -> "BroadcastHashJoin",
    "sortMerge" -> "SortMergeJoin", "shuffledHash" -> "ShuffledHashJoin",
    "nestedLoop" -> "BroadcastNestedLoopJoin",
    "cartesian" -> "CartesianProduct", "exchanges" -> "Exchange ")

  /** Run `action` on `df`; rows is -1 for the noop sink. */
  private def act(df: DataFrame, action: String): Long = action match {
    case "noop" => df.write.mode("overwrite").format("noop").save(); -1L
    case "count" => df.count()
    case _ => df.collect().length.toLong
  }

  def run(spark: SparkSession, dir: String, mode: String,
      queries: Seq[String], action: String = "collect",
      warmRuns: Int = 2): Report = {
    require(Modes(mode), s"unknown mode $mode; use ${Modes.mkString("|")}")
    require(Actions(action), s"unknown action $action")
    val names = if (queries.nonEmpty) queries else SparkEntry.queries.keys.toSeq.sorted
    val fns = names.map(n => n -> SparkEntry.queries(n))
    mode match {
      case "time" | "stages" =>
        val runs = Seq.newBuilder[Run]
        val stages = Seq.newBuilder[Stage]
        fns.foreach { case (name, fn) =>
          (0 to warmRuns).foreach { i =>
            val collector = Option.when(mode == "stages" && i == warmRuns)(
              new StageCollector(name))
            collector.foreach(spark.sparkContext.addSparkListener)
            val t0 = System.nanoTime()
            val rows = act(fn(spark, dir), action)
            runs += Run(name, i, (System.nanoTime() - t0) / 1e9, rows)
            collector.foreach { c => stages ++= c.detach(spark) }
          }
        }
        Report(runs.result(), stages.result(), Nil)
      case "executed" =>
        Report(Nil, Nil, fns.map { case (name, fn) =>
          val df = fn(spark, dir)
          df.collect() // materialize so AQE finalizes every stage
          val p = df.queryExecution.executedPlan.toString
          Plan(name, CensusOps.map { case (k, op) =>
            s"$k=${op.r.findAllIn(p).size}" }.mkString(" "), p)
        })
      case _ =>
        def explain() = fns.map { case (name, fn) =>
          Plan(name, "", fn(spark, dir).queryExecution.explainString(FormattedMode))
        }
        Report(Nil, Nil,
          if (mode == "explain-uncached") BuilderCache.uncached(explain()) else explain())
    }
  }

  /** Collects completed stages into a ConcurrentLinkedQueue: the
    * listener appends from the listener-bus thread while the caller
    * reads after the run, so an unsynchronized buffer could be torn. */
  private final class StageCollector(query: String) extends SparkListener {
    private val rows = new ConcurrentLinkedQueue[Stage]
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      // cancelled/failed stage attempts can complete without metrics
      Option(s.taskMetrics).foreach { m =>
        val wall = (for (a <- s.completionTime; b <- s.submissionTime)
          yield (a - b) / 1e3).getOrElse(-1.0)
        rows.add(Stage(query, s.stageId, wall, m.executorRunTime / 1e3,
          s.numTasks, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          s.name.takeWhile(_ != '\n').take(60)))
      }
    }

    /** Drain the bus BEFORE detaching so every completed stage's event
      * has been delivered — no timing guess. listenerBus is
      * private[spark] at the Scala level but public in bytecode;
      * reflection reaches it, with a bounded sleep as fallback. */
    def detach(spark: SparkSession): Seq[Stage] = {
      val sc = spark.sparkContext
      try {
        val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
        bus.getClass.getMethods
          .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
          .get.invoke(bus)
      } catch { case NonFatal(_) => Thread.sleep(500) }
      sc.removeSparkListener(this)
      rows.asScala.toSeq.sortBy(-_.wallS)
    }
  }

  /** Refuse an sf1+/sf10 dir under a heap too small for it (the
    * documented OOM pairings). Mirrors build.sbt's heapForScale. */
  private def checkHeap(dir: String): Unit = {
    val heapGb = Runtime.getRuntime.maxMemory / 1073741824.0
    println(f"heap_gb $heapGb%.1f sf $dir")
    val sf = dir.split('/').filter(_.nonEmpty).lastOption
      .flatMap("sf([0-9.]+)".r.findFirstMatchIn(_))
      .flatMap(m => m.group(1).toDoubleOption)
    sf.foreach { f =>
      val needGb = if (f >= 10) 40.0 else if (f >= 1) 12.0 else 0.0
      if (heapGb + 0.5 < needGb)
        sys.error(f"Profile: sf dir '$dir' needs a ~$needGb%.0f g heap but" +
          f" this JVM got $heapGb%.1f g — export SPARK_GRAFT_SF_DIR=$dir" +
          " (build.sbt heapForScale) or SPARK_DRIVER_MEM before running.")
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <mode> " +
      "[collect|count|noop] [warmRuns] [query...]")
    val (dir, mode) = (args(0), args(1))
    val (action, afterAction) = args.drop(2).toSeq match {
      case a +: t if Actions(a) => (a, t)
      case t => ("collect", t)
    }
    val (warmRuns, queries) = afterAction match {
      case n +: t if n.toIntOption.nonEmpty => (n.toInt, t)
      case t => (2, t)
    }
    checkHeap(dir)
    val spark = GraftSession.create("ERROR")
    spark.range(1000000L).selectExpr("sum(id)").collect() // warm the JVM
    val r = run(spark, dir, mode, queries, action, warmRuns)
    r.runs.foreach { x =>
      println(f"PROFILE ${x.query} run${x.run} ${x.seconds}%.2f s rows=${x.rows} ($action)")
    }
    r.stages.groupBy(_.query).toSeq.sortBy(_._1).foreach { case (q, ss) =>
      println(s"\n===== $q: ${ss.size} stages of the last run =====")
      println("stage   wall_s  task_s  tasks  shuf_read  shuf_write  input   spill  name")
      ss.foreach { s =>
        def mb(b: Long) = b / 1048576.0
        println(f"${s.id}%5d  ${s.wallS}%6.2f  ${s.taskS}%6.2f  ${s.tasks}%5d  " +
          f"${mb(s.shuffleReadB)}%8.2fM  ${mb(s.shuffleWriteB)}%9.2fM  " +
          f"${mb(s.inputB)}%6.1fM  ${mb(s.spillB)}%6.1fM  ${s.name}")
      }
      println(f"sum_stage_wall ${ss.map(_.wallS).sum}%.2f s (the gap to the " +
        "run's time is driver/planning/scheduling between stages)")
    }
    r.plans.foreach { p =>
      println(s"\n===== ${p.query} ($mode, $dir) =====")
      if (p.census.nonEmpty) println(s"joins: ${p.census}")
      println(p.plan)
    }
    spark.stop()
  }
}
