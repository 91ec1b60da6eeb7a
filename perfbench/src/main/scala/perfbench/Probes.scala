package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Shuffles and reused exchanges of a plan as it ran: adaptive plans are
  * read through their current (after execution: final) physical plan and
  * query stages through the stage's own plan, subqueries included. */
object PlanCensus {
  final case class Count(shuffles: Int, reused: Int)

  def of(plan: SparkPlan): Count = {
    var shuffles = 0
    var reused = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case r: ReusedExchangeExec => reused += 1
      case e: ShuffleExchangeLike =>
        shuffles += 1; e.children.foreach(walk)
      case other =>
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    Count(shuffles, reused)
  }
}

/** Catalyst counters from every successful query execution: planning
  * phase times from the query's tracker, execution time, and the census
  * of the plan that ran (`qe.executedPlan` of the QueryExecution the
  * listener receives, i.e. the one the action executed). */
final class CatalystProbe(tracer: Tracer) extends QueryExecutionListener {
  val executions = new AtomicLong
  val analysisNs = new AtomicLong
  val optimizationNs = new AtomicLong
  val planningNs = new AtomicLong
  val execNs = new AtomicLong
  val shuffles = new AtomicLong
  val reused = new AtomicLong

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    executions.incrementAndGet()
    execNs.addAndGet(durationNs)
    val phases = qe.tracker.phases
    def ms(phase: String) = phases.get(phase).map(p => p.durationMs).getOrElse(0L)
    phases.foreach { case (name, p) =>
      tracer.record(s"catalyst.$name", p.startTimeMs * 1000000L, p.endTimeMs * 1000000L) }
    phases.get("planning").foreach { p =>
      tracer.record("catalyst.execution", p.endTimeMs * 1000000L,
        p.endTimeMs * 1000000L + durationNs) }
    analysisNs.addAndGet(ms("analysis") * 1000000L)
    optimizationNs.addAndGet(ms("optimization") * 1000000L)
    planningNs.addAndGet(ms("planning") * 1000000L)
    val c = PlanCensus.of(qe.executedPlan)
    shuffles.addAndGet(c.shuffles)
    reused.addAndGet(c.reused)
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def snapshot: Map[String, Double] = Map(
    "catalyst.executions" -> executions.get.toDouble,
    "catalyst.analysis_ms" -> analysisNs.get / 1e6,
    "catalyst.optimization_ms" -> optimizationNs.get / 1e6,
    "catalyst.planning_ms" -> planningNs.get / 1e6,
    "catalyst.exec_ms" -> execNs.get / 1e6,
    "catalyst.shuffles" -> shuffles.get.toDouble,
    "catalyst.reused_exchanges" -> reused.get.toDouble)
}

/** Scheduler counters: jobs, stages, tasks, task run time and the bytes
  * tasks read, wrote, shuffled and spilled. */
final class SparkProbe(tracer: Tracer) extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val spill = new AtomicLong
  val input = new AtomicLong
  val output = new AtomicLong

  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    jobStart.put(e.jobId, e.time); ()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(t0 =>
      tracer.record("spark.job", t0 * 1000000L, e.time * 1000000L))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      tracer.record("spark.stage", s * 1000000L, c * 1000000L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      taskMs.addAndGet(m.executorRunTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      input.addAndGet(m.inputMetrics.bytesRead)
      output.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  def snapshot: Map[String, Double] = Map(
    "spark.jobs" -> jobs.get.toDouble,
    "spark.stages" -> stages.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble,
    "spark.task_ms" -> taskMs.get.toDouble,
    "spark.shuffle_write_bytes" -> shuffleWrite.get.toDouble,
    "spark.shuffle_read_bytes" -> shuffleRead.get.toDouble,
    "spark.spill_bytes" -> spill.get.toDouble,
    "spark.input_bytes" -> input.get.toDouble,
    "spark.output_bytes" -> output.get.toDouble)
}

/** Both probes on one session; their spans go to `tracer`. */
final class Probes(spark: SparkSession, tracer: Tracer) {
  val catalyst = new CatalystProbe(tracer)
  val sched = new SparkProbe(tracer)
  spark.listenerManager.register(catalyst)
  spark.sparkContext.addSparkListener(sched)

  /** Wait for queued listener events, then read every counter. */
  def snapshot(): Map[String, Double] = {
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    catalyst.snapshot ++ sched.snapshot
  }

  def jobsNow(): Long = {
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    sched.jobs.get
  }

  def detach(): Unit = {
    spark.listenerManager.unregister(catalyst)
    spark.sparkContext.removeSparkListener(sched)
  }
}
