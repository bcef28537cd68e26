package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def samples(n: Int): Seq[Double] = (1 to n).map(_.toDouble).reverse

  test("the tail is the highest percentile with at least 10 samples beyond it") {
    assert(Stats.summarize(samples(1000)).tailPct == 99.0) // 10 beyond p99
    assert(Stats.summarize(samples(999)).tailPct == 95.0)  // only 9 beyond p99
    assert(Stats.summarize(samples(10000)).tailPct == 99.9)
    assert(Stats.summarize(samples(250)).tailPct == 95.0)
    assert(Stats.summarize(samples(100)).tailPct == 90.0)
    assert(Stats.summarize(samples(40)).tailPct == 75.0)
    assert(Stats.summarize(samples(20)).tailPct == 50.0)
  }

  test("with too few samples for any percentile the tail is the median") {
    val s = Stats.summarize(samples(19))
    assert(s.tailPct == 50.0 && s.tail == 10.0 && s.tail == s.median)
  }

  test("every chosen percentile really has 10 samples beyond it") {
    (20 to 3000 by 7).foreach { n =>
      val s = Stats.summarize(samples(n))
      assert(samples(n).count(_ > s.tail) >= Stats.MinBeyond, s"n=$n p=${s.tailPct}")
      val higher = Stats.TailLadder.filter(_ > s.tailPct)
      assert(higher.forall(p => Stats.beyond(n, p) < Stats.MinBeyond), s"n=$n")
    }
  }

  test("median and nearest rank") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    val s = samples(100).sorted.toArray
    assert(Stats.nearestRank(s, 90.0) == 90.0)
    assert(Stats.summarize(samples(100)).tail == 90.0)
  }
}
