package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.spark.ExecTuning

/** The one session builder for every workload.
  *
  * The confs are `graft.Bench`'s, copied verbatim at their default values
  * (no environment overrides), so `gates_sf01` stays comparable with the
  * `BENCH_r*` records. One conf steadies the timings ([[steadyConfs]]).
  * The rest isolates one run: the index location, the warehouse and
  * Spark's local dirs all live under the run's own work directory, which
  * the launcher deletes when the run ends. */
object Session {

  def benchConfs(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    ExecTuning.SmallQueryShufflePartitionsKey ->
      ExecTuning.DefaultSmallQueryShufflePartitions.toString,
    ExecTuning.SmallQueryCodegenKey -> "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (4L << 20).toString,
    "spark.sql.autoBroadcastJoinThreshold" -> (64L << 20).toString,
    "spark.sql.files.maxPartitionBytes" -> (4L << 20).toString,
    "spark.sql.files.openCostInBytes" -> (256L << 10).toString,
    "spark.graft.q2.bucketJoin" -> "kernel")

  /** Spark keeps at most 100 compiled classes by default, fewer than the
    * 13 gates generate, so every round of gates_sf01 evicted them, compiled
    * them again with Janino, and the JIT compiled the new classes again: its
    * gate timings spread 0.28 between runs of one commit, against 0.10
    * with a cache that holds them all. No engine knob is involved. */
  val steadyConfs: Seq[(String, String)] = Seq("spark.sql.codegen.cache.maxEntries" -> "4000")

  def isolationConfs(workDir: File): Seq[(String, String)] = Seq(
    graft.Hnsw.LocationKey -> new File(workDir, "indexes").getAbsolutePath,
    "spark.sql.warehouse.dir" -> new File(workDir, "warehouse").getAbsolutePath,
    "spark.local.dir" -> new File(workDir, "spark-local").getAbsolutePath,
    "spark.hadoop.hadoop.tmp.dir" -> new File(workDir, "hadoop").getAbsolutePath)

  final case class Built(spark: SparkSession, master: String, confs: Seq[(String, String)])

  def build(cores: Int, workDir: File): Built = {
    val master = s"local[$cores]"
    val confs = benchConfs(cores) ++ steadyConfs ++ isolationConfs(workDir)
    val b = SparkSession.builder().master(master).appName("perfbench")
    confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Built(spark, master, confs)
  }

  /** What the result file records about the environment. */
  def environment(spark: SparkSession, cores: Int): Seq[(String, String)] = {
    val rt = Runtime.getRuntime
    Seq(
      "cores" -> Json.num(cores),
      "heap_max_mb" -> Json.num(rt.maxMemory / (1 << 20)),
      "jdk" -> Json.str(s"${sys.props("java.vendor")} ${sys.props("java.version")}"),
      "spark" -> Json.str(spark.version),
      "scala" -> Json.str(scala.util.Properties.versionNumberString))
  }
}
