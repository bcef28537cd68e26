package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Every output check passes a right result and fails a wrong one. */
class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  test("recall below the floor fails") {
    assert(Checks.recallFloor("q", 0.95, 0.9).isEmpty)
    assert(Checks.recallFloor("q", 0.85, 0.9).nonEmpty)
  }

  test("SQL ids that differ from searchRaw ids fail") {
    assert(Checks.sameIds("q", Seq(1L, 2L, 3L), Seq(3L, 1L, 2L)).isEmpty)
    assert(Checks.sameIds("q", Seq(1L, 2L, 4L), Seq(1L, 2L, 3L)).nonEmpty)
    assert(Checks.sameIds("q", Seq(1L, 2L), Seq(1L, 2L, 3L)).nonEmpty)
  }

  test("a deleted key in a result fails") {
    val deleted = Set(7L)
    assert(Checks.noneDeleted("q", Seq(1L, 2L), deleted).isEmpty)
    assert(Checks.noneDeleted("q", Seq(1L, 7L), deleted).nonEmpty)
  }

  test("short or mislabelled filtered results fail") {
    assert(Checks.exactCount("q", 10, 10).isEmpty)
    assert(Checks.exactCount("q", 9, 10).nonEmpty)
    assert(Checks.allMatch("q", ok = false, "wrong label").nonEmpty)
  }

  test("a gate whose rows or digest differ from the reference fails") {
    import spark.implicits._
    val df = Seq((1L, "a", 0.5), (2L, "b", 1.5), (3L, null, -0.0)).toDF("k", "s", "d")
    val ref = Digest.of(df)
    assert(Checks.gate("g", Digest.of(df.orderBy($"k".desc).repartition(3)), Some(ref)).isEmpty)
    assert(Checks.gate("g", Digest.of(df.where($"k" < 3)), Some(ref)).nonEmpty)
    val changed = Seq((1L, "a", 0.5), (2L, "b", 1.5000001), (3L, null, -0.0)).toDF("k", "s", "d")
    assert(Checks.gate("g", Digest.of(changed), Some(ref)).nonEmpty)
    assert(Checks.gate("g", ref, None).nonEmpty)
  }

  test("digests hash duplicate column names and maps") {
    import spark.implicits._
    val a = Seq((1, Map("x" -> 1, "y" -> 2))).toDF("k", "m")
    val b = Seq((1, Map("y" -> 2, "x" -> 1))).toDF("k", "m")
    assert(Digest.of(a) == Digest.of(b))
    val dup = a.select($"k", $"k", $"m")
    assert(Digest.of(dup)._1 == 1L)
  }
}
