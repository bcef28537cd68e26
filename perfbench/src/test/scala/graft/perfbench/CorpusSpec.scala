package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class CorpusSpec extends AnyFunSuite {
  test("the same seed gives identical corpus bytes") {
    val a = new Generator(11L).corpus(500, 0L, "corpus").bytes
    val b = new Generator(11L).corpus(500, 0L, "corpus").bytes
    assert(java.util.Arrays.equals(a, b))
  }

  test("a different seed or stream gives different bytes") {
    val a = new Generator(11L).corpus(500, 0L, "corpus").bytes
    assert(!java.util.Arrays.equals(a, new Generator(12L).corpus(500, 0L, "corpus").bytes))
    assert(!java.util.Arrays.equals(a, new Generator(11L).corpus(500, 0L, "queries").bytes))
  }

  test("vectors sit on a 1/1024 grid, so their SQL text is exact") {
    val v = new Generator(3L).vectors(50, "q")
    assert(v.forall(_.forall(x => x * 1024 == math.rint(x * 1024))))
    val sql = Ann.vectorSql(v.head)
    val parsed = sql.stripPrefix("CAST(array(").stripSuffix(") AS ARRAY<FLOAT>)")
      .split(", ").map(s => new java.math.BigDecimal(s).floatValue())
    assert(parsed.sameElements(v.head))
  }

  test("labels are spread over every value") {
    val c = new Generator(5L).corpus(5000, 0L, "corpus")
    val counts = c.labels.groupBy(identity).view.mapValues(_.length).toMap
    assert(counts.size == 10 && counts.values.forall(n => n > 350 && n < 650))
  }

  test("exact top-k and recall") {
    val c = Corpus(Array(1L, 2L, 3L, 4L),
      Array(Array(0f, 0f), Array(1f, 0f), Array(3f, 0f), Array(6f, 0f)), Array(0, 0, 0, 0))
    val t = Exact.topK(c, _ => true, Array(Array(2.9f, 0f)), 2, 2)
    assert(t.head.toSeq == Seq(3L, 2L))
    assert(Exact.topK(c, _ != 2, Array(Array(2.9f, 0f)), 2, 1).head.toSeq == Seq(2L, 1L))
    assert(Exact.recall(Seq(Seq(3L, 9L)), Seq(Seq(3L, 2L))) == 0.5)
  }
}
