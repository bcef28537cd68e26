package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Output checks. Each returns `Some(reason)` when the output is wrong;
  * the workload counts that operation as failed. */
object Checks {

  def recallFloor(what: String, recall: Double, floor: Double): Option[String] =
    if (recall >= floor) None
    else Some(f"$what: recall@10 $recall%.4f below the floor $floor%.4f")

  /** The SQL path and `Hnsw.searchRaw` must return the same id set. */
  def sameIds(what: String, sql: Seq[Long], raw: Seq[Long]): Option[String] =
    if (sql.toSet == raw.toSet && sql.size == raw.size) None
    else Some(s"$what: SQL ids ${sql.sorted.mkString(",")} != searchRaw ids ${raw.sorted.mkString(",")}")

  def noneDeleted(what: String, got: Seq[Long], deleted: Long => Boolean): Option[String] =
    got.filter(deleted) match {
      case Seq() => None
      case hits => Some(s"$what: deleted keys returned: ${hits.mkString(",")}")
    }

  def exactCount(what: String, got: Int, want: Int): Option[String] =
    if (got == want) None else Some(s"$what: $got rows, expected $want")

  def allMatch(what: String, ok: Boolean, detail: => String): Option[String] =
    if (ok) None else Some(s"$what: $detail")

  /** A gate's (row count, digest) against its reference. */
  def gate(name: String, got: (Long, String), ref: Option[(Long, String)]): Option[String] =
    ref match {
      case None => Some(s"$name: no reference recorded")
      case Some(r) if r == got => None
      case Some(r) => Some(s"$name: rows/digest ${got._1}/${got._2} != reference ${r._1}/${r._2}")
    }
}

/** Row count plus an order-insensitive digest of a result: the exact sum of
  * every row's xxhash64 over all its columns. Columns are renamed by
  * position first, so duplicate or dotted names hash the same way, and a
  * map column is hashed as its entries sorted by key. */
object Digest {
  def of(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }
    val hashed =
      if (cols.isEmpty) named.select(lit(0L).as("h"))
      else named.select(xxhash64(cols: _*).as("h"))
    val r = hashed.agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}
