package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.spark.ExecTuning

/** `gates_sf01`: a fixed list of `SparkEntry.queries` gates over the sf0.1
  * tables ([[Measured]]), each built and then executed the way
  * `graft.Bench` runs it (a noop write under `ExecTuning.withSizedAqe`).
  * Set-up runs every gate once, digesting its result and comparing it with
  * the reference recorded from an oracle-passing dump. Then [[TimedRounds]]
  * rounds time every gate once, each round in an order the seed sets, and,
  * as in `graft.Bench` (which keeps the faster of two), a gate's fastest
  * run counts. */
object Gates {

  /** Gate family: the name's prefix, with `q1`..`q20` folded into `q`. */
  def family(gate: String): String = {
    val p = gate.takeWhile(_ != '_')
    if (p.matches("q\\d+")) "q" else p
  }

  val Families: Seq[String] = Seq("doc", "emb", "hnsw", "hybrid", "ivf", "mm", "q", "vss")

  /** The gates a run executes. All 105 gates with their apparatus take
    * about 136 s a run on 4 cores, more than the benchmark's time budget
    * allows, so the run keeps 13: gates of every module no other workload
    * reaches (graft.text, graft.embedding, graft.ops, graft.multimodal,
    * graft.aggregates, graft.expressions, the SQL macros), the gates that
    * run many Spark jobs while their DataFrame is built and need no index
    * apparatus, and the relational kernels. Index-backed gates are left to
    * the ANN workloads; `graft.Bench` and `graft.Verify` run every gate. */
  val Measured: Seq[String] = Seq(
    "doc_bpe_encode_ids", "doc_dedup_kept", "doc_dsir_select", "doc_lm_perplexity",
    "doc_pii_redact", "emb_semdedup", "mm_decode_features", "q12_multi_distinct",
    "q15_sessionize", "q1_agg", "q2_join_agg", "vss_join_macro", "vss_topn_scan")

  /** Set-up: every gate is built and run once, in a fixed order, and its
    * row count and digest compared with the reference; this also finds the
    * session, the parquet footers and the JIT warm for the timed rounds.
    * None of the measured gates needs an index or layout built first.
    * Returns each gate's check failures. */
  def setup(spark: SparkSession, sfDir: String,
      reference: Map[String, (Long, String)]): Seq[(String, Seq[String])] =
    Measured.map { name =>
      spark.catalog.clearCache()
      name -> (try Checks.gate(name, Digest.of(SparkEntry.queries(name)(spark, sfDir)),
        reference.get(name)).toSeq
      catch { case e: Exception => Seq(s"$name digest: ${e.getMessage}") })
    }

  def readReference(file: File): Map[String, (Long, String)] = {
    val txt = new String(java.nio.file.Files.readAllBytes(file.toPath), "UTF-8")
    val Entry = """"([A-Za-z0-9_]+)":\s*\{"rows":\s*(\d+),\s*"digest":\s*"(-?\d+)"\}""".r
    Entry.findAllMatchIn(txt).map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
  }

  /** A gate's timings still fall over its first few runs (the JIT keeps
    * compiling), so its fastest of five counts. */
  val TimedRounds = 5

  /** One timed run of a gate: construction, then the noop write. */
  final case class Run(constructMs: Double, execMs: Double, constructJobs: Long, execJobs: Long) {
    def ms: Double = constructMs + execMs
  }

  def once(ctx: Context, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      sfDir: String): Run = {
    val spark = ctx.spark
    spark.catalog.clearCache()
    ctx.listeners.drain()
    val j0 = ctx.listeners.work.jobs.get
    val a = System.nanoTime()
    val df = ctx.tracer.span("gates.construct")(fn(spark, sfDir))
    val b = System.nanoTime()
    ctx.listeners.drain()
    val j1 = ctx.listeners.work.jobs.get
    val c = System.nanoTime()
    ctx.tracer.span("gates.exec") {
      ExecTuning.withSizedAqe(df)(df.write.format("noop").mode("overwrite").save())
    }
    val d = System.nanoTime()
    ctx.listeners.drain()
    Run((b - a) / 1e6, (d - c) / 1e6, j1 - j0, ctx.listeners.work.jobs.get - j1)
  }

  def run(ctx: Context, sfDir: String, reference: Map[String, (Long, String)]): Outcome = {
    val spark = ctx.spark
    val t0 = System.nanoTime()
    val checked = ctx.tracer.span("gates.setup")(setup(spark, sfDir, reference))
    val setupS = (System.nanoTime() - t0) / 1e9
    val out = new OutcomeBuilder
    val constructMs, execMs = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var constructJobs, execJobs = 0L
    ctx.startMeasured()
    val rounds = (1 to TimedRounds).map { r =>
      ctx.gen.shuffle(Measured.sorted, s"gate-order-$r").map { name =>
        ctx.tracer.newRequest()
        name -> scala.util.Try(ctx.tracer.span("gate")(once(ctx, SparkEntry.queries(name), sfDir)))
      }.toMap
    }
    val perGate = checked.map { case (name, checkFailures) =>
      val runs = rounds.map(_(name))
      val failures = runs.collect { case scala.util.Failure(e) =>
        s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      out.attempt(checkFailures ++ failures.take(1))
      if (failures.nonEmpty) name -> Json.obj(Nil)
      else {
        val best = runs.map(_.get).minBy(_.ms)
        val fam = family(name)
        constructMs(fam) += best.constructMs
        execMs(fam) += best.execMs
        constructJobs += best.constructJobs
        execJobs += best.execJobs
        out.op(best.ms)
        name -> Json.obj(Seq("construct_ms" -> Json.num(best.constructMs),
          "exec_ms" -> Json.num(best.execMs), "construct_jobs" -> Json.num(best.constructJobs),
          "exec_jobs" -> Json.num(best.execJobs),
          "runs_ms" -> runs.map(r => Json.num(r.get.ms)).mkString("[", ",", "]")))
      }
    }
    ctx.endMeasured()
    out.setup(ctx.sessionS + setupS)
    out.detail("gates", Json.obj(perGate.sortBy(_._1)))
    out.extra("gates_total_s", out.opMs.sum / 1000)
    out.extra("gate_p50_ms", Stats.median(out.opMs.toSeq))
    Families.foreach { f =>
      out.layer(s"gates.construct_ms.$f", constructMs(f))
      out.layer(s"gates.exec_ms.$f", execMs(f))
    }
    out.layer("gates.construct_jobs", constructJobs.toDouble)
    out.layer("gates.exec_jobs", execJobs.toDouble)
    out.build
  }
}
