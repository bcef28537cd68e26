package graft.perfbench

/** Summary statistics for the benchmark's timings. */
object Stats {

  /** Percentiles the tail is chosen from, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Samples that must lie beyond a percentile before it is reported. */
  val MinBeyond = 10

  /** Nearest-rank percentile of an ascending array (p in (0, 100]). */
  def nearestRank(sorted: Array[Double], p: Double): Double = {
    require(sorted.nonEmpty, "no samples")
    val rank = math.ceil(p * sorted.length / 100.0).toInt
    sorted(math.min(math.max(rank, 1), sorted.length) - 1)
  }

  /** Samples strictly beyond the nearest-rank position of `p`. */
  def beyond(n: Int, p: Double): Int = n - math.max(math.ceil(p * n / 100.0).toInt, 1)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted.toArray
    require(s.nonEmpty, "no samples")
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Median and tail of a set of timings. The tail is the highest
    * percentile of [[TailLadder]] with at least [[MinBeyond]] samples
    * beyond it. With fewer than 2 × [[MinBeyond]] samples no percentile
    * qualifies and the tail falls back to the median: a maximum over a
    * handful of samples is one sample, and moves with every hiccup of the
    * machine. */
  final case class Summary(n: Int, median: Double, tail: Double, tailPct: Double)

  def summarize(xs: Seq[Double]): Summary = {
    val s = xs.sorted.toArray
    require(s.nonEmpty, "no samples")
    TailLadder.find(p => beyond(s.length, p) >= MinBeyond) match {
      case Some(p) => Summary(s.length, median(xs), nearestRank(s, p), p)
      case None => Summary(s.length, median(xs), median(xs), 50.0)
    }
  }
}
