package graft.perfbench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json, the gate reference and the code agree. */
class ContractSpec extends AnyFunSuite {
  private def read(p: String): String =
    new String(Files.readAllBytes(Paths.get(p)), "UTF-8")

  private def names(json: String, section: String): Seq[String] = {
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    (org.json4s.jackson.JsonMethods.parse(json) \ section).extract[List[Map[String, Any]]]
      .map(_("name").toString)
  }

  test("BENCHMARK.json names exactly the metrics and workloads the code reports") {
    val json = read("../BENCHMARK.json")
    assert(names(json, "end_to_end") == Main.EndToEnd.map(_._1))
    assert(names(json, "per_layer") == Main.PerLayer.map(_._1))
    assert(names(json, "workloads") == Main.Workloads)
  }

  test("every measured gate exists and has a reference, and nothing else does") {
    val ref = Gates.readReference(new java.io.File("gate_reference.json"))
    assert(Gates.Measured.forall(graft.SparkEntry.queries.contains))
    assert(ref.keySet == Gates.Measured.toSet)
    assert(Gates.Measured.map(Gates.family).toSet.subsetOf(Gates.Families.toSet))
  }

  test("the recall floor comes only from BENCHMARK.json's command") {
    val cmd = read("../BENCHMARK.json")
    assert(cmd.matches("(?s).*\"--recall-floor\",\\s*\"0\\.\\d+\".*"))
    val args = Array("--workload", "ann_serve", "--seed", "1", "--seconds", "1", "--trace", "0",
      "--workdir", "w", "--result", "r")
    intercept[IllegalArgumentException](Main.parse(args))
    assert(Main.parse(args ++ Array("--recall-floor", "0.95")).recallFloor == 0.95)
  }
}
