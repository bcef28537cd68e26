package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Entry point of one benchmark run (see perfbench/README.md).
  *
  * {{{
  * Main --workload <gates_sf01|ann_serve|ann_maintain> --seed <n> --seconds <s>
  *      --trace <0|1> --workdir <dir> --result <file> [--spans <file>]
  *      --recall-floor <x> [--reference <file>]
  * }}}
  *
  * Writes the run's result (the metrics, the failures, every conf set and
  * the environment) to `--result`, and with tracing the spans to `--spans`.
  * The launcher turns the result into the one-line JSON the benchmark
  * prints. */
object Main {

  val Workloads: Seq[String] = Seq("gates_sf01", "ann_serve", "ann_maintain")

  /** The sf0.1 test tables, relative to the checkout root. */
  val SfDir = "perfbench/data/sf0.1"

  /** The end-to-end metrics every untraced run reports, with units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ok_frac" -> "fraction", "op_p50_ms" -> "ms",
    "op_tail_ms" -> "ms", "work_s" -> "s", "work_cpu_s" -> "s", "heap_after_gc_mb" -> "MB")

  /** The per-layer metrics every traced run reports, with units. A layer
    * a workload does not exercise reports 0. */
  val PerLayer: Seq[(String, String)] =
    Seq("sql.analyze_ms" -> "ms", "sql.optimize_ms" -> "ms", "sql.plan_ms" -> "ms") ++
      Gates.Families.map(f => s"gates.construct_ms.$f" -> "ms") ++
      Gates.Families.map(f => s"gates.exec_ms.$f" -> "ms") ++
      Seq("gates.construct_jobs" -> "count", "gates.exec_jobs" -> "count",
        "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
        "spark.task_run_ms" -> "ms", "spark.task_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
        "spark.sched_delay_ms" -> "ms",
        "hnsw.search_raw_us" -> "us", "hnsw.create_index_s" -> "s",
        "hnsw.insert_ms" -> "ms", "hnsw.delete_ms" -> "ms", "hnsw.compact_ms" -> "ms",
        "vss.lateral_topk_ms" -> "ms",
        "graph.add_us" -> "us", "graph.search_us" -> "us",
        "catalog.load_ms" -> "ms", "catalog.read_graph_ms" -> "ms",
        "graphcache.hit_ratio" -> "fraction", "graphcache.load_ms" -> "ms",
        "index.bytes" -> "bytes", "index.segments" -> "count", "index.tombstones" -> "count") ++
      TracedSpans.map(s => s"self_ms.$s" -> "ms") ++
      WorkloadFigures

  /** Span names whose self time the traced run reports. */
  lazy val TracedSpans: Seq[String] = Seq("gates.setup", "gate", "gates.construct",
    "gates.exec", "query", "sql.query", "hnsw.search_raw", "batch", "vss.lateral_topk",
    "round", "hnsw.create_index", "hnsw.insert", "hnsw.delete", "hnsw.compact",
    "sql.analysis", "sql.optimization", "sql.planning", "spark.job")

  /** The workload-specific end-to-end figures, reported alongside the
    * per-layer metrics. A workload they do not apply to reports 0. */
  lazy val WorkloadFigures: Seq[(String, String)] = Seq(
    "failed_frac" -> "fraction", "gates_total_s" -> "s", "gate_p50_ms" -> "ms",
    "query_p50_ms" -> "ms", "query_tail_ms" -> "ms", "batch_qps" -> "1/s",
    "recall_at_10" -> "fraction", "build_vectors_per_s" -> "1/s",
    "insert_vectors_per_s" -> "1/s", "compact_s" -> "s",
    "index_bytes_per_vector_byte" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      workDir: File, result: File, spans: Option[File],
      reference: Option[File], recallFloor: Double)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("workdir")), new File(need("result")),
      m.get("spans").map(new File(_)),
      m.get("reference").map(new File(_)), need("recall-floor").toDouble)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  /** Used heap after full collections. Spark frees broadcast and shuffle
    * blocks from its ContextCleaner thread once a collection has found them
    * unreachable, so collect a few times with a pause between. */
  def heapAfterGcMb(spark: org.apache.spark.sql.SparkSession): Double = {
    spark.catalog.clearCache()
    val mx = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    System.gc()
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val sessionStart = System.nanoTime()
    val built = Session.build(cores, a.workDir)
    val spark = built.spark
    val sessionS = (System.nanoTime() - sessionStart) / 1e9
    val tracer = new Tracer(a.trace)
    val listeners = new Listeners(spark)
    val ctx = new Context(spark, cores, a.seconds, tracer, listeners,
      new Generator(a.seed ^ a.workload.hashCode.toLong), a.recallFloor, a.workDir, sessionS)
    val outcome = a.workload match {
      case "gates_sf01" =>
        Gates.run(ctx, new File(SfDir).getAbsolutePath,
          a.reference.map(Gates.readReference).getOrElse(Map.empty))
      case "ann_serve" => AnnServe.run(ctx)
      case "ann_maintain" => AnnMaintain.run(ctx)
    }
    val heapMb = heapAfterGcMb(spark)
    listeners.drain()
    val ops = math.max(1, outcome.attempted).toDouble
    val m = ctx.measured
    val w = m.work
    val Seq(executions, analysisMs, optimizationMs, planningMs) = m.planning
    val execs = math.max(1L, executions).toDouble
    val (hits, misses, loadMs) = ctx.measuredCache
    val summary = Stats.summarize(if (outcome.opMs.nonEmpty) outcome.opMs else Seq(0.0))

    val endToEnd = Seq(
      "setup_s" -> Stats.median(outcome.setupS),
      "ok_frac" -> (1.0 - outcome.failed / ops),
      "op_p50_ms" -> summary.median,
      "op_tail_ms" -> summary.tail,
      "work_s" -> m.wallNs / 1e9,
      "work_cpu_s" -> m.cpuNs / 1e9,
      "heap_after_gc_mb" -> heapMb)

    val common = Seq(
      "sql.analyze_ms" -> analysisMs / execs,
      "sql.optimize_ms" -> optimizationMs / execs,
      "sql.plan_ms" -> planningMs / execs,
      "spark.jobs" -> w.jobs / ops, "spark.stages" -> w.stages / ops,
      "spark.tasks" -> w.tasks / ops, "spark.task_run_ms" -> w.runMs / ops,
      "spark.task_cpu_ms" -> w.cpuMs / ops, "spark.gc_ms" -> w.gcMs / ops,
      "spark.sched_delay_ms" -> w.schedMs / ops,
      "graphcache.hit_ratio" -> (if (hits + misses == 0) 0.0 else hits.toDouble / (hits + misses)),
      "graphcache.load_ms" -> loadMs.toDouble,
      "catalog.read_graph_ms" -> (if (misses == 0) 0.0 else loadMs.toDouble / misses),
      "failed_frac" -> outcome.failed / ops)
    listeners.attachTo(tracer)
    val spans = tracer.spans
    val byName = Tracer.byName(spans)
    val selfMs = TracedSpans.map(s => s"self_ms.$s" -> byName.get(s).map(_._3).getOrElse(0.0))
    val layerValues = (common ++ outcome.layers ++ outcome.extras ++ selfMs).toMap
    val perLayer = PerLayer.map { case (n, _) => n -> layerValues.getOrElse(n, 0.0) }

    val (metrics, units) =
      if (a.trace) (perLayer, PerLayer.toMap) else (endToEnd, EndToEnd.toMap)
    def metricJson(xs: Seq[(String, Double)], unit: String => String): String =
      Json.obj(xs.map { case (n, v) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit(n))))
      })
    val result = Json.obj(Seq(
      "correct" -> (outcome.failed == 0).toString,
      "attempted" -> Json.num(outcome.attempted),
      "failed" -> Json.num(outcome.failed),
      "metrics" -> metricJson(metrics, units),
      "workload" -> Json.str(a.workload),
      "seed" -> Json.num(a.seed),
      "seconds" -> Json.num(a.seconds),
      "trace" -> a.trace.toString,
      "failures" -> outcome.failures.take(50).map(Json.str).mkString("[", ",", "]"),
      "workload_figures" -> Json.obj(outcome.extras.map { case (n, v) => n -> Json.num(v) }),
      "layers" -> Json.obj((common ++ outcome.layers).map { case (n, v) => n -> Json.num(v) }),
      "span_ms" -> Json.obj(byName.toSeq.sortBy(_._1).map { case (n, (c, tot, self)) =>
        n -> Json.obj(Seq("count" -> Json.num(c), "total" -> Json.num(tot), "self" -> Json.num(self)))
      }),
      "setup_s_samples" -> outcome.setupS.map(Json.num).mkString("[", ",", "]"),
      "op_samples" -> Json.num(summary.n),
      "op_ms" -> outcome.opMs.map(Json.num).mkString("[", ",", "]"),
      "op_tail_percentile" -> Json.num(summary.tailPct),
      "session_start_s" -> Json.num(sessionS),
      "master" -> Json.str(built.master),
      "confs" -> Json.obj(built.confs.map { case (k, v) => k -> Json.str(v) }),
      "environment" -> Json.obj(Session.environment(spark, cores))) ++ outcome.details)
    Files.write(a.result.toPath, (result + "\n").getBytes(StandardCharsets.UTF_8))
    a.spans.foreach(f => Files.write(f.toPath, Tracer.toJson(spans).getBytes(StandardCharsets.UTF_8)))
    spark.stop()
  }
}
