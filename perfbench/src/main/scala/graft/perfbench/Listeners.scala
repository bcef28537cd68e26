package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler and executor work, read from Spark listener events. */
final class SparkWork extends SparkListener {
  val jobs, stages, tasks, runMs, cpuNs, gcMs, schedMs = new AtomicLong
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  /** (start ms, end ms) of finished jobs, for the trace. */
  val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); jobStart.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(s => jobIntervals.add((s, e.time)))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      val i = e.taskInfo
      if (i != null && i.finishTime > 0) {
        val delay = i.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L)
        schedMs.addAndGet(math.max(0L, delay))
      }
    }
  }

  def snapshot: SparkWork.Counts = SparkWork.Counts(jobs.get, stages.get, tasks.get,
    runMs.get, cpuNs.get / 1000000L, gcMs.get, schedMs.get)
}

object SparkWork {
  final case class Counts(jobs: Long, stages: Long, tasks: Long, runMs: Long,
      cpuMs: Long, gcMs: Long, schedMs: Long) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
      runMs - o.runMs, cpuMs - o.cpuMs, gcMs - o.gcMs, schedMs - o.schedMs)
    def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
      runMs + o.runMs, cpuMs + o.cpuMs, gcMs + o.gcMs, schedMs + o.schedMs)
  }
}

/** Analysis, optimization and planning time of every executed query, from
  * its `QueryPlanningTracker`. */
final class PlanningPhases extends QueryExecutionListener {
  val executions, analysisMs, optimizationMs, planningMs = new AtomicLong
  /** (phase, start ms, end ms), for the trace. */
  val intervals = new ConcurrentLinkedQueue[(String, Long, Long)]

  private def record(qe: QueryExecution): Unit = {
    executions.incrementAndGet()
    qe.tracker.phases.foreach { case (phase, s) =>
      val ms = s.endTimeMs - s.startTimeMs
      phase match {
        case "analysis" => analysisMs.addAndGet(ms)
        case "optimization" => optimizationMs.addAndGet(ms)
        case "planning" => planningMs.addAndGet(ms)
        case _ => ()
      }
      intervals.add((phase, s.startTimeMs, s.endTimeMs))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
}

/** Both listeners on one session, read after draining the event bus. */
final class Listeners(spark: SparkSession) {
  val work = new SparkWork
  val phases = new PlanningPhases
  spark.sparkContext.addSparkListener(work)
  spark.listenerManager.register(phases)

  def drain(): Unit = Bridge.drainListenerBus(spark, 30000L)

  /** Epoch milliseconds → the `System.nanoTime` base spans use. */
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def toNanos(epochMs: Long): Long = epochMs * 1000000L + nanoOffset

  /** Hand the recorded job and planning-phase intervals to the tracer. */
  def attachTo(tracer: Tracer): Unit = {
    drain()
    var j = work.jobIntervals.poll()
    while (j != null) { tracer.attach("spark.job", toNanos(j._1), toNanos(j._2)); j = work.jobIntervals.poll() }
    var p = phases.intervals.poll()
    while (p != null) { tracer.attach(s"sql.${p._1}", toNanos(p._2), toNanos(p._3)); p = phases.intervals.poll() }
  }
}
