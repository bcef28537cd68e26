package graft.perfbench

import java.io.File

import scala.collection.mutable

import graft.Hnsw

/** `ann_maintain`: index maintenance beside reads on one index.
  *
  * Set-up writes the initial rows to parquet and runs [[warm]]. The
  * measured phase builds the index with `Hnsw.createIndex`, then runs
  * [[rounds]] rounds of: `Hnsw.insert` of a new batch (appended to the
  * table too), `Hnsw.delete` of a sample of live keys, and a burst of SQL
  * top-10 queries. `PRAGMA hnsw_compact_index` runs every
  * [[CompactEvery]] rounds. The whole schedule, and the exact truth for
  * every query of every burst, is fixed from the seed in set-up. */
object AnnMaintain {
  val CorpusSize = 6000
  val InsertBatch = 1000
  val DeletesPerRound = 250
  val QueriesPerBurst = 20
  val CompactEvery = 2

  /** Vectors in the warm-up index, and queries run on it. */
  val WarmSize = 1200
  val WarmQueries = 60

  /** Runs the whole maintenance cycle once on a small index of its own
    * (build, insert, delete, queries, compaction, drop), so the measured
    * phase does not pay for the JIT and codegen of its first calls. */
  def warm(ctx: Context): Unit = {
    val spark = ctx.spark
    val c = ctx.gen.corpus(WarmSize, 0L, "warm")
    val split = WarmSize * 3 / 4
    val table = new File(ctx.workDir, "warm_corpus")
    Ann.writeTable(spark, c, table, ctx.cores, 0, split)
    Ann.register(spark, table, "warm_corpus")
    spark.conf.set(Hnsw.MaxVectorsPerPartitionKey, Ann.perCore(split, ctx.cores))
    Hnsw.createIndex(spark, "warm_idx", spark.table("warm_corpus"), "vec", "id")
    Ann.writeTable(spark, c, table, ctx.cores, split, WarmSize)
    Ann.register(spark, table, "warm_corpus")
    Hnsw.insert(spark, "warm_idx", Ann.frame(spark, c, split, WarmSize))
    Hnsw.delete(spark, "warm_idx", c.ids.take(DeletesPerRound / 5).toSeq)
    ctx.gen.vectors(WarmQueries, "warm-queries").foreach { q =>
      Ann.sqlTopK(spark, Ann.topKSql("warm_corpus", q, None))
      Ann.rawIds(spark, "warm_idx", q)
    }
    spark.sql("PRAGMA hnsw_compact_index('warm_idx')")
    Hnsw.dropIndex(spark, "warm_idx")
    spark.catalog.dropTempView("warm_corpus")
  }

  def rounds(seconds: Int): Int = math.max(2, 2 * seconds / 5)

  def run(ctx: Context): Outcome = {
    val spark = ctx.spark
    val out = new OutcomeBuilder
    val gen = ctx.gen
    val r = rounds(ctx.seconds)
    // The initial rows, then each round's insert batch, as one id space.
    val all = gen.corpus(CorpusSize + r * InsertBatch, 0L, "corpus")
    val queries = gen.vectors(r * QueriesPerBurst, "queries")
    val pick = gen.random("deletes")
    val alive = mutable.BitSet((0 until CorpusSize): _*)
    val schedule = (0 until r).map { round =>
      val from = CorpusSize + round * InsertBatch
      (from until from + InsertBatch).foreach(alive += _)
      val live = alive.toArray
      val dels = mutable.LinkedHashSet.empty[Int]
      while (dels.size < DeletesPerRound) dels += live(pick.nextInt(live.length))
      alive --= dels
      val snapshot = alive.clone()
      val qs = queries.slice(round * QueriesPerBurst, (round + 1) * QueriesPerBurst)
      val truth = Exact.topK(all, snapshot.contains, qs, Ann.K, ctx.cores)
      (from, dels.toSeq.map(all.ids(_)), qs, truth)
    }
    val deleted = mutable.Set.empty[Long]

    val table = new File(ctx.workDir, "maintain_corpus")
    val t0 = System.nanoTime()
    ctx.tracer.span("setup") {
      Ann.writeTable(spark, all, table, ctx.cores, 0, CorpusSize)
      Ann.register(spark, table, "maintain_corpus")
      ctx.tracer.span("warm")(warm(ctx))
    }
    out.setup(ctx.sessionS + (System.nanoTime() - t0) / 1e9)

    val insertNs, deleteNs = mutable.ArrayBuffer.empty[Long]
    val compactS = mutable.ArrayBuffer.empty[Double]
    val recalls = mutable.ArrayBuffer.empty[(Seq[Long], Seq[Long])]
    var rawNs, rawCount = 0L
    ctx.startMeasured()
    spark.conf.set(Hnsw.MaxVectorsPerPartitionKey, Ann.perCore(CorpusSize, ctx.cores))
    val c0 = System.nanoTime()
    val built = scala.util.Try(ctx.tracer.span("hnsw.create_index")(
      Hnsw.createIndex(spark, "maintain_idx", spark.table("maintain_corpus"), "vec", "id")))
    val buildS = (System.nanoTime() - c0) / 1e9
    out.attempt(built.failed.toOption.map(e => s"createIndex: ${e.getMessage}").toSeq)
    // Delta segments of one batch: a segment per core as well.
    spark.conf.set(Hnsw.MaxVectorsPerPartitionKey, Ann.perCore(InsertBatch, ctx.cores))
    schedule.zipWithIndex.foreach { case ((from, dels, qs, truth), round) =>
      ctx.tracer.newRequest()
      ctx.tracer.span("round") {
        val batch = Ann.frame(spark, all, from, from + InsertBatch)
        Ann.writeTable(spark, all, table, ctx.cores, from, from + InsertBatch)
        Ann.register(spark, table, "maintain_corpus")
        val i0 = System.nanoTime()
        val ins = scala.util.Try(ctx.tracer.span("hnsw.insert")(Hnsw.insert(spark, "maintain_idx", batch)))
        insertNs += System.nanoTime() - i0
        out.attempt(ins.failed.toOption.map(e => s"insert: ${e.getMessage}").toSeq)
        val d0 = System.nanoTime()
        val del = scala.util.Try(ctx.tracer.span("hnsw.delete")(Hnsw.delete(spark, "maintain_idx", dels)))
        deleteNs += System.nanoTime() - d0
        deleted ++= dels
        out.attempt(del.failed.toOption.map(e => s"delete: ${e.getMessage}").toSeq)
        qs.zip(truth).foreach { case (q, t) =>
          val sql = Ann.topKSql("maintain_corpus", q, None)
          val a = System.nanoTime()
          val got = scala.util.Try(ctx.tracer.span("sql.query")(Ann.sqlTopK(spark, sql)))
          val ms = (System.nanoTime() - a) / 1e6
          out.attempt(got match {
            case scala.util.Failure(e) => Seq(s"query: ${e.getMessage}")
            case scala.util.Success((ids, _)) =>
              out.op(ms)
              recalls += ((ids, t.toSeq))
              val r0 = System.nanoTime()
              val raw = ctx.check(ctx.tracer.span("hnsw.search_raw")(Ann.rawIds(spark, "maintain_idx", q)))
              rawNs += System.nanoTime() - r0; rawCount += 1
              (Checks.sameIds(s"round $round query", ids, raw) ++
                Checks.noneDeleted(s"round $round query", ids, deleted.contains)).toSeq
          })
        }
        if ((round + 1) % CompactEvery == 0) {
          // Compaction rebuilds the live rows, again one segment per core.
          spark.conf.set(Hnsw.MaxVectorsPerPartitionKey,
            Ann.perCore(CorpusSize + (round + 1) * (InsertBatch - DeletesPerRound), ctx.cores))
          val k0 = System.nanoTime()
          val cmp = scala.util.Try(ctx.tracer.span("hnsw.compact")(
            spark.sql("PRAGMA hnsw_compact_index('maintain_idx')")))
          compactS += (System.nanoTime() - k0) / 1e9
          out.attempt(cmp.failed.toOption.map(e => s"compact: ${e.getMessage}").toSeq)
          spark.conf.set(Hnsw.MaxVectorsPerPartitionKey, Ann.perCore(InsertBatch, ctx.cores))
        }
      }
    }
    ctx.endMeasured()

    val recall = Exact.recall(recalls.map(_._1).toSeq, recalls.map(_._2).toSeq)
    out.attempt(Checks.recallFloor("SQL top-10 under churn", recall, ctx.recallFloor).toSeq)
    val qs = Stats.summarize(out.opMs.toSeq)
    val (bytes, segs, tombs, count) = Ann.indexFigures(spark, "maintain_idx")
    out.extra("recall_at_10", recall)
    out.extra("query_p50_ms", qs.median)
    out.extra("query_tail_ms", qs.tail)
    out.extra("build_vectors_per_s", CorpusSize / buildS)
    out.extra("insert_vectors_per_s", InsertBatch * insertNs.size / (insertNs.sum / 1e9))
    out.extra("compact_s", if (compactS.isEmpty) 0.0 else Stats.median(compactS.toSeq))
    out.extra("index_bytes_per_vector_byte", bytes.toDouble / (count * 64L * 4L))
    out.extra("graphcache.bytes", graft.index.GraphCache.currentBytes.toDouble)
    out.extra("graphcache.budget_bytes", graft.index.GraphCache.MaxBytes.toDouble)
    out.layer("hnsw.create_index_s", buildS)
    out.layer("hnsw.insert_ms", insertNs.sum / 1e6 / insertNs.size)
    out.layer("hnsw.delete_ms", deleteNs.sum / 1e6 / deleteNs.size)
    out.layer("hnsw.compact_ms", if (compactS.isEmpty) 0.0 else compactS.sum * 1000 / compactS.size)
    out.layer("hnsw.search_raw_us", rawNs / 1e3 / math.max(1L, rawCount))
    out.layer("index.bytes", bytes.toDouble)
    out.layer("index.segments", segs.toDouble)
    out.layer("index.tombstones", tombs.toDouble)
    if (ctx.tracer.enabled)
      Ann.indexLayer(ctx, "maintain_idx", all, queries.take(QueriesPerBurst), out)
    out.build
  }
}
