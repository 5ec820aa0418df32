package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark execution counters, summed over the jobs that carry one
  * `graftbench.op` key (jobs with none count under ""). */
final class Counters {
  val jobs, stages, tasks, shuffleWriteBytes, spillBytes, runMs, cpuNs, gcMs, schedulerDelayMs =
    new LongAdder

  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.sum.toDouble, "stages" -> stages.sum.toDouble, "tasks" -> tasks.sum.toDouble,
    "shuffle_write_bytes" -> shuffleWriteBytes.sum.toDouble,
    "spill_bytes" -> spillBytes.sum.toDouble, "executor_run_ms" -> runMs.sum.toDouble,
    "executor_cpu_ms" -> cpuNs.sum / 1e6, "gc_ms" -> gcMs.sum.toDouble,
    "scheduler_delay_ms" -> schedulerDelayMs.sum.toDouble)
}

/** Everything the benchmark learns from Spark's public listener APIs:
  * a [[SparkListener]] for jobs, stages and task metrics (plus job and
  * stage spans), and a [[QueryExecutionListener]] for the Catalyst
  * phases of each `QueryPlanningTracker` and the rows that DSv2 scans
  * return. Registered only for the traced phase of a run. */
final class Probes(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val byOp = new ConcurrentHashMap[String, Counters]
  private val jobOp = new ConcurrentHashMap[Int, String]
  private val jobSpan = new ConcurrentHashMap[Int, (String, Long)]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  val planMs = new LongAdder
  /** numOutputRows of every BatchScanExec, per executed query, in order. */
  val scanRows = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]

  def counters(op: String): Counters = byOp.computeIfAbsent(op, _ => new Counters)
  def total: Map[String, Double] =
    byOp.values().asScala.map(_.toMap).foldLeft(Map.empty[String, Double]) { (acc, m) =>
      m.map { case (k, v) => k -> (acc.getOrElse(k, 0.0) + v) }
    }

  def install(): Unit = { sc.addSparkListener(this); spark.listenerManager.register(this) }
  def uninstall(): Unit = {
    drain()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
  def drain(): Unit = org.apache.spark.BenchAccess.drainListeners(sc)

  private def opOfStage(stageId: Int): String =
    Option(stageJob.get(stageId)).flatMap(j => Option(jobOp.get(j))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(Trace.OpProperty))).getOrElse("")
    val parent = props.flatMap(p => Option(p.getProperty(Trace.SpanProperty))).getOrElse("")
    jobOp.put(e.jobId, op)
    jobSpan.put(e.jobId, (parent, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    counters(op).jobs.increment()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.get(e.jobId)).foreach { case (parent, start) =>
      Trace.record(Span(s"j${e.jobId}", parent, "spark.job", s"job ${e.jobId}",
        Trace.wallMsToUs(start), Trace.wallMsToUs(e.time)))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    counters(opOfStage(info.stageId)).stages.increment()
    for (start <- info.submissionTime; end <- info.completionTime) {
      val parent = Option(stageJob.get(info.stageId)).map(j => s"j$j").getOrElse("")
      Trace.record(Span(s"s${info.stageId}", parent, "spark.stage", info.name,
        Trace.wallMsToUs(start), Trace.wallMsToUs(end)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(opOfStage(e.stageId))
    c.tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      c.shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.runMs.add(m.executorRunTime)
      c.cpuNs.add(m.executorCpuTime)
      c.gcMs.add(m.jvmGCTime)
      val info = e.taskInfo
      // the scheduler-delay definition of Spark's own UI
      val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
      c.schedulerDelayMs.add(math.max(0L, delay))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    planMs.add(Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum)
    val rows = scans(qe.executedPlan).map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
    if (rows.nonEmpty) scanRows.add(rows.sum)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case b: BatchScanExec => Seq(b)
    case other => other.children.flatMap(scans)
  }
}
