package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload runs with: the session, its listeners, the tracer and
  * the seeded generator. The measured phase is bracketed by
  * [[startMeasured]] / [[endMeasured]], which snapshot the Spark, planning
  * and GraphCache counters the per-layer metrics are deltas of. Output
  * checks run through [[check]], which keeps their wall time, CPU time,
  * Spark work and planning out of the measured figures. */
final class Context(val spark: SparkSession, val cores: Int,
    val seconds: Int, val tracer: Tracer, val listeners: Listeners,
    val gen: Generator, val recallFloor: Double, val workDir: java.io.File,
    val sessionS: Double) {
  import Context.Snapshot

  private def processCpuNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Drains the listener bus first, so the counters are complete. */
  private def snapshot(): Snapshot = {
    listeners.drain()
    val p = listeners.phases
    Snapshot(System.nanoTime(), processCpuNs, listeners.work.snapshot,
      Seq(p.executions.get, p.analysisMs.get, p.optimizationMs.get, p.planningMs.get))
  }

  private var start: Snapshot = _
  private var excluded = Snapshot.zero
  /** What the measured phase did, checks excluded. */
  var measured: Snapshot = _
  /** GraphCache (hits, misses, load ms) over the measured phase. */
  var measuredCache: (Long, Long, Long) = _
  private var cache0: (Long, Long, Long) = _

  /** Run an output check inside the measured phase without charging it to
    * the workload. */
  def check[T](body: => T): T = {
    val s = snapshot()
    try body finally excluded = excluded + (snapshot() - s)
  }

  def startMeasured(): Unit = {
    start = snapshot()
    excluded = Snapshot.zero
    cache0 = graft.index.GraphCache.stats
  }

  def endMeasured(): Unit = {
    measured = snapshot() - start - excluded
    val c = graft.index.GraphCache.stats
    measuredCache = (c._1 - cache0._1, c._2 - cache0._2, c._3 - cache0._3)
  }
}

object Context {
  /** Wall and process CPU nanoseconds, Spark work, and the planning
    * counters (executions, analysis, optimization, planning ms). Process
    * CPU time, unlike wall time, does not count time the machine's
    * scheduler took the CPUs away (steal). */
  final case class Snapshot(wallNs: Long, cpuNs: Long, work: SparkWork.Counts, planning: Seq[Long]) {
    def -(o: Snapshot): Snapshot = Snapshot(wallNs - o.wallNs, cpuNs - o.cpuNs, work - o.work,
      planning.zip(o.planning).map { case (a, b) => a - b })
    def +(o: Snapshot): Snapshot = Snapshot(wallNs + o.wallNs, cpuNs + o.cpuNs, work + o.work,
      planning.zip(o.planning).map { case (a, b) => a + b })
  }
  object Snapshot {
    val zero: Snapshot = Snapshot(0L, 0L, SparkWork.Counts(0, 0, 0, 0, 0, 0, 0), Seq(0L, 0L, 0L, 0L))
  }
}

/** A workload's results, gathered as it runs. */
final class OutcomeBuilder {
  val opMs = mutable.ArrayBuffer.empty[Double]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private var failedOps = 0
  private val setups = mutable.ArrayBuffer.empty[Double]
  private val extras = mutable.LinkedHashMap.empty[String, Double]
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  private val details = mutable.LinkedHashMap.empty[String, String]

  /** One operation attempted; `failure` non-empty marks it failed. */
  def attempt(failure: Seq[String] = Nil): Unit = {
    attempted += 1
    if (failure.nonEmpty) { failedOps += 1; failures ++= failure }
  }
  /** A timed client operation (the sample behind op_p50_ms / op_tail_ms). */
  def op(ms: Double): Unit = opMs += ms
  def setup(s: Double): Unit = setups += s
  def extra(name: String, v: Double): Unit = extras(name) = v
  def layer(name: String, v: Double): Unit = layers(name) = v
  /** A JSON value kept in the result file only. */
  def detail(name: String, json: String): Unit = details(name) = json

  def build: Outcome = Outcome(opMs.toSeq, attempted, failedOps, failures.toSeq,
    setups.toSeq, extras.toSeq, layers.toSeq, details.toSeq)
}

final case class Outcome(opMs: Seq[Double], attempted: Int, failed: Int,
    failures: Seq[String], setupS: Seq[Double],
    extras: Seq[(String, Double)], layers: Seq[(String, Double)],
    details: Seq[(String, String)])
