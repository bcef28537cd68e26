package graft.perfbench

import java.io.File

/** `ann_serve`: read-only serving over an HNSW index built in set-up.
  *
  * Set-up writes a seeded corpus to parquet, indexes it with
  * `CREATE INDEX … USING HNSW`, one segment per core, and warms the
  * serving path with [[WarmSteps]] steps of other queries. The measured
  * phase is a closed loop with one client running a fixed script of
  * [[StepsPerSecond]] steps per second of `--seconds`. A step is
  * [[QueriesPerStep]] SQL top-10 queries, the last of which filters on
  * `label` (about 10% selectivity, the filtered-scan escalation path),
  * followed by one batch of [[BatchSize]] query vectors through
  * `Vss.lateralTopK` (the LATERAL → index-join rewrite). */
object AnnServe {
  val CorpusSize = 12000
  val QueryPool = 200
  val QueriesPerStep = 5
  val BatchSize = 32
  val StepsPerSecond = 2
  val WarmSteps = 16

  def run(ctx: Context): Outcome = {
    val spark = ctx.spark
    val out = new OutcomeBuilder
    val gen = ctx.gen
    val corpus = gen.corpus(CorpusSize, 0L, "corpus")
    val queries = gen.vectors(QueryPool, "queries")
    val qRnd = gen.random("script")
    val script = Seq.fill(StepsPerSecond * ctx.seconds)(
      (Seq.fill(QueriesPerStep)(qRnd.nextInt(QueryPool)), qRnd.nextInt(gen.labels),
        Seq.fill(BatchSize)(qRnd.nextInt(QueryPool))))
    // Exact truth, by brute force over the corpus (benchmark apparatus,
    // outside set-up time): unfiltered per pool query, and filtered for
    // each (query, label) the script uses.
    val truth = Exact.topK(corpus, _ => true, queries, Ann.K, ctx.cores)
    val byLabel = script.map(s => (s._1.last, s._2)).distinct.groupBy(_._2).flatMap {
      case (l, keys) =>
        keys.zip(Exact.topK(corpus, i => corpus.labels(i) == l,
          keys.map(k => queries(k._1)).toArray, Ann.K, ctx.cores))
    }

    val table = new File(ctx.workDir, "serve_corpus")
    val t0 = System.nanoTime()
    ctx.tracer.span("setup") {
      Ann.writeTable(spark, corpus, table, ctx.cores)
      Ann.register(spark, table, "serve_corpus")
      spark.conf.set(graft.Hnsw.MaxVectorsPerPartitionKey, Ann.perCore(CorpusSize, ctx.cores))
      val c0 = System.nanoTime()
      ctx.tracer.span("hnsw.create_index")(spark.sql(
        "CREATE INDEX serve_idx ON serve_corpus USING HNSW (vec) WITH (id_column = 'id')"))
      out.layer("hnsw.create_index_s", (System.nanoTime() - c0) / 1e9)
      // Warm the serving path (codegen, the rewrites, the JIT) with
      // [[WarmSteps]] steps of query vectors the measured script does not use.
      ctx.tracer.span("warm") {
        val warm = gen.vectors(QueriesPerStep * WarmSteps, "warm")
        warm.grouped(QueriesPerStep).zipWithIndex.foreach { case (qs, i) =>
          qs.init.foreach(q => Ann.sqlTopK(spark, Ann.topKSql("serve_corpus", q, None)))
          Ann.sqlTopK(spark, Ann.topKSql("serve_corpus", qs.last, Some(i % gen.labels)))
          qs.init.foreach(q => Ann.rawIds(spark, "serve_idx", q))
          val batch = Seq.tabulate(BatchSize)(j => warm((i + j) % warm.length))
          Ann.lateralTopK(spark, Ann.queryFrame(spark, batch), "serve_corpus")
        }
      }
    }
    out.setup(ctx.sessionS + (System.nanoTime() - t0) / 1e9)

    val recalls = scala.collection.mutable.ArrayBuffer.empty[(Seq[Long], Seq[Long])]
    val filteredRecalls = scala.collection.mutable.ArrayBuffer.empty[(Seq[Long], Seq[Long])]
    val batchRecalls = scala.collection.mutable.ArrayBuffer.empty[(Seq[Long], Seq[Long])]
    var rawNs, rawCount = 0L
    var batchNs, batchVectors = 0L
    ctx.startMeasured()
    script.foreach { case (qis, label, batch) =>
      qis.zipWithIndex.foreach { case (qi, j) =>
        val filter = if (j == qis.size - 1) Some(label) else None
        ctx.tracer.newRequest()
        val failures = ctx.tracer.span("query") {
          val sql = Ann.topKSql("serve_corpus", queries(qi), filter)
          val a = System.nanoTime()
          val got = scala.util.Try(ctx.tracer.span("sql.query")(Ann.sqlTopK(spark, sql)))
          val ms = (System.nanoTime() - a) / 1e6
          got match {
            case scala.util.Failure(e) => Seq(s"query: ${e.getMessage}")
            case scala.util.Success((ids, labels)) =>
              out.op(ms)
              filter match {
                case Some(l) =>
                  filteredRecalls += ((ids, byLabel((qi, l)).toSeq))
                  (Checks.exactCount("filtered query", ids.size, Ann.K) ++
                    Checks.allMatch("filtered query", labels.forall(_ == l),
                      s"labels ${labels.mkString(",")} != $l")).toSeq
                case None =>
                  recalls += ((ids, truth(qi).toSeq))
                  val r0 = System.nanoTime()
                  val raw = ctx.check(ctx.tracer.span("hnsw.search_raw")(
                    Ann.rawIds(spark, "serve_idx", queries(qi))))
                  rawNs += System.nanoTime() - r0; rawCount += 1
                  Checks.sameIds("query", ids, raw).toSeq
              }
          }
        }
        out.attempt(failures)
      }
      ctx.tracer.newRequest()
      val failures = ctx.tracer.span("batch") {
        val qdf = Ann.queryFrame(spark, batch.map(queries(_)))
        val a = System.nanoTime()
        val got = scala.util.Try(ctx.tracer.span("vss.lateral_topk")(
          Ann.lateralTopK(spark, qdf, "serve_corpus")))
        batchNs += System.nanoTime() - a
        batchVectors += batch.size
        got match {
          case scala.util.Failure(e) => Seq(s"batch: ${e.getMessage}")
          case scala.util.Success(rows) =>
            val byQ = rows.groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSeq }
            batch.zipWithIndex.foreach { case (qi, j) =>
              batchRecalls += ((byQ.getOrElse(j.toLong, Nil), truth(qi).toSeq))
            }
            Checks.allMatch("batch", batch.indices.forall(j => byQ.get(j.toLong).exists(_.size == Ann.K)),
              "a query vector did not get 10 neighbours").toSeq
        }
      }
      out.attempt(failures)
    }
    ctx.endMeasured()

    val recall = Exact.recall(recalls.map(_._1).toSeq, recalls.map(_._2).toSeq)
    val fRecall = Exact.recall(filteredRecalls.map(_._1).toSeq, filteredRecalls.map(_._2).toSeq)
    val bRecall = Exact.recall(batchRecalls.map(_._1).toSeq, batchRecalls.map(_._2).toSeq)
    out.attempt(Checks.recallFloor("SQL top-10", recall, ctx.recallFloor).toSeq ++
      Checks.recallFloor("filtered SQL top-10", fRecall, ctx.recallFloor) ++
      Checks.recallFloor("lateralTopK batches", bRecall, ctx.recallFloor))
    val qs = Stats.summarize(out.opMs.toSeq)
    val (bytes, segs, tombs, count) = Ann.indexFigures(spark, "serve_idx")
    out.extra("recall_at_10", recall)
    out.extra("filtered_recall_at_10", fRecall)
    out.extra("batch_recall_at_10", bRecall)
    out.extra("query_p50_ms", qs.median)
    out.extra("query_tail_ms", qs.tail)
    out.extra("batch_qps", batchVectors / (batchNs / 1e9))
    out.extra("index_bytes_per_vector_byte", bytes.toDouble / (count * 64L * 4L))
    out.extra("graphcache.bytes", graft.index.GraphCache.currentBytes.toDouble)
    out.extra("graphcache.budget_bytes", graft.index.GraphCache.MaxBytes.toDouble)
    out.layer("index.bytes", bytes.toDouble)
    out.layer("index.segments", segs.toDouble)
    out.layer("index.tombstones", tombs.toDouble)
    out.layer("hnsw.search_raw_us", rawNs / 1e3 / math.max(1L, rawCount))
    out.layer("vss.lateral_topk_ms", batchNs / 1e6 / math.max(1, script.size))
    if (ctx.tracer.enabled) Ann.indexLayer(ctx, "serve_idx", corpus, queries, out)
    out.build
  }
}
