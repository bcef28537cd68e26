package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.Hnsw
import graft.api.Vss
import graft.index.IndexCatalog

/** Pieces the two ANN workloads share: the table, the SQL top-10 query and
  * its checks, and the index figures. */
object Ann {
  val K = 10
  val Schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("label", IntegerType, nullable = false)))

  def frame(spark: SparkSession, c: Corpus, from: Int = 0, until: Int = -1): DataFrame = {
    val end = if (until < 0) c.size else until
    val rows = new java.util.ArrayList[Row](end - from)
    var i = from
    while (i < end) { rows.add(Row(c.ids(i), c.vecs(i).toSeq, c.labels(i))); i += 1 }
    spark.createDataFrame(rows, Schema)
  }

  /** Write rows `[from, until)` as parquet under `dir` (one file per core),
    * appending to what is there. */
  def writeTable(spark: SparkSession, c: Corpus, dir: File, cores: Int,
      from: Int = 0, until: Int = -1): Unit =
    frame(spark, c, from, until).repartition(cores).write.mode("append").parquet(dir.getAbsolutePath)

  /** (Re)register `view` over the table's files — again after an append,
    * so the file listing includes the new files. */
  def register(spark: SparkSession, dir: File, view: String): Unit =
    spark.read.parquet(dir.getAbsolutePath).createOrReplaceTempView(view)

  /** Segment cap that gives one segment per core. */
  def perCore(n: Int, cores: Int): String = ((n + cores - 1) / cores).toString

  def vectorSql(q: Array[Float]): String =
    q.map(x => java.math.BigDecimal.valueOf(x.toDouble).toPlainString)
      .mkString("CAST(array(", ", ", ") AS ARRAY<FLOAT>)")

  /** The SQL top-10 a user writes; with a label the filtered form. */
  def topKSql(view: String, q: Array[Float], label: Option[Int]): String =
    s"SELECT id, label FROM $view" + label.fold("")(l => s" WHERE label = $l") +
      s" ORDER BY array_distance(vec, ${vectorSql(q)}) LIMIT $K"

  /** Runs the query, returning (ids, labels) in result order. */
  def sqlTopK(spark: SparkSession, sql: String): (Seq[Long], Seq[Int]) = {
    val rows = spark.sql(sql).collect()
    (rows.map(_.getLong(0)).toSeq, rows.map(_.getInt(1)).toSeq)
  }

  /** A frame of query vectors (`q_id`, `q_vec`) for `Vss.lateralTopK`. */
  def queryFrame(spark: SparkSession, vecs: Seq[Array[Float]]): DataFrame =
    spark.createDataFrame(vecs.zipWithIndex.map { case (v, j) => (j.toLong, v.toSeq) })
      .toDF("q_id", "q_vec")

  /** The top-10 of every query vector through `Vss.lateralTopK`, as
    * (`q_id`, `id`) rows. */
  def lateralTopK(spark: SparkSession, queries: DataFrame, view: String): Array[Row] =
    Vss.lateralTopK(queries, spark.table(view), "q_vec", "vec", "q_id", K)
      .select(col("q_id"), col("id")).collect()

  def rawIds(spark: SparkSession, index: String, q: Array[Float]): Seq[Long] =
    Hnsw.searchRaw(spark, index, q, K).map(_._1).toSeq

  /** (bytes of the index files, segments, tombstones, live vectors). */
  def indexFigures(spark: SparkSession, index: String): (Long, Int, Int, Long) = {
    val base = Hnsw.baseDir(spark)
    val meta = IndexCatalog.load(base, index)
    val files = Option(IndexCatalog.indexDir(base, index).listFiles()).getOrElse(Array.empty[File])
    (files.map(_.length).sum, meta.segments.size,
      IndexCatalog.tombstones(base, index).size, meta.count)
  }

  /** Per-layer figures of the index layer, measured directly after the
    * measured phase (traced runs only): a single-threaded `HnswGraph.add`
    * over one seeded segment, `HnswGraph.search` on a segment read from
    * disk, and catalog loads. */
  def indexLayer(ctx: Context, index: String, c: Corpus, queries: Array[Array[Float]],
      out: OutcomeBuilder): Unit = {
    val spark = ctx.spark
    val base = Hnsw.baseDir(spark)
    val meta = IndexCatalog.load(base, index)
    val loads = 20
    val l0 = System.nanoTime()
    (1 to loads).foreach(_ => IndexCatalog.load(base, index))
    out.layer("catalog.load_ms", (System.nanoTime() - l0) / 1e6 / loads)
    val seg = new File(IndexCatalog.indexDir(base, index), meta.segments.head)
    val r0 = System.nanoTime()
    val g = IndexCatalog.readGraph(seg)
    out.extra("catalog.read_graph_direct_ms", (System.nanoTime() - r0) / 1e6)
    val ef = Hnsw.efSearch(spark, meta)
    queries.foreach(q => g.search(q, K, ef)) // warm the JIT
    val s0 = System.nanoTime()
    queries.foreach(q => g.search(q, K, ef))
    out.layer("graph.search_us", (System.nanoTime() - s0) / 1e3 / queries.length)
    val adds = math.min(AddSample, c.size)
    val fresh = new graft.index.HnswGraph(meta.dim, meta.metric, meta.m, meta.m0,
      meta.efConstruction, seed = 42L)
    val a0 = System.nanoTime()
    var i = 0
    while (i < adds) { fresh.add(c.ids(i), c.vecs(i)); i += 1 }
    out.layer("graph.add_us", (System.nanoTime() - a0) / 1e3 / adds)
  }

  /** Vectors in the single-threaded `HnswGraph.add` sample. */
  val AddSample = 3000
}
