package graft.perfbench

import java.nio.ByteBuffer

/** Vectors with ids and labels, held on the driver. */
final case class Corpus(ids: Array[Long], vecs: Array[Array[Float]], labels: Array[Int]) {
  def size: Int = ids.length

  /** Every id, component and label in order — the bytes the determinism
    * test compares. */
  def bytes: Array[Byte] = {
    val dim = if (vecs.isEmpty) 0 else vecs(0).length
    val buf = ByteBuffer.allocate(size * (8 + 4 * dim + 4))
    var i = 0
    while (i < size) {
      buf.putLong(ids(i)); vecs(i).foreach(buf.putFloat); buf.putInt(labels(i))
      i += 1
    }
    buf.array()
  }
}

/** Seeded generator of `FLOAT[dim]` vectors from a low-intrinsic-dimension
  * latent mixture: a point is a cluster centre in a `latentDim` space plus
  * unit Gaussian jitter, mapped to `dim` coordinates by one fixed random
  * linear map, plus small isotropic noise. The latent dimension sets how
  * hard nearest-neighbour search is, and so where recall at a given beam
  * width lands. Labels are uniform over `labels` values, independent of
  * the vector, so `label = x` keeps about 1/labels of the rows wherever the
  * query lies.
  *
  * Every draw comes from a `java.util.Random` seeded by (seed, stream), so
  * one seed always yields the same bytes. */
final class Generator(seed: Long) {
  val dim = 64
  val labels = 10
  private val latentDim = 16
  private val clusters = 32
  private val noise = 0.05

  private def rng(stream: String): java.util.Random =
    new java.util.Random(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong)

  private val (proj, centres) = {
    val r = rng("model")
    val p = Array.fill(latentDim, dim)(r.nextGaussian() / math.sqrt(latentDim))
    val c = Array.fill(clusters, latentDim)(r.nextGaussian() * 3.0)
    (p, c)
  }

  /** `n` vectors drawn on `stream`, quantized to a 1/1024 grid so their
    * decimal text is exact (SQL literals parse back to the same floats). */
  def vectors(n: Int, stream: String): Array[Array[Float]] = {
    val r = rng(stream)
    val z = new Array[Double](latentDim)
    Array.fill(n) {
      val c = centres(r.nextInt(clusters))
      var j = 0
      while (j < latentDim) { z(j) = c(j) + r.nextGaussian(); j += 1 }
      Array.tabulate(dim) { d =>
        var x = noise * r.nextGaussian()
        var l = 0
        while (l < latentDim) { x += z(l) * proj(l)(d); l += 1 }
        (math.rint(x * 1024) / 1024).toFloat
      }
    }
  }

  /** `n` rows with ids `firstId until firstId + n`, drawn on `stream`. */
  def corpus(n: Int, firstId: Long, stream: String): Corpus = {
    val vs = vectors(n, stream)
    val r = rng(stream + "/labels")
    Corpus(Array.tabulate(n)(i => firstId + i), vs, Array.fill(n)(r.nextInt(labels)))
  }

  /** A seeded permutation (Fisher-Yates) on its own stream. */
  def shuffle[T](xs: Seq[T], stream: String): Seq[T] = {
    val a = xs.toArray[Any]
    val r = rng(stream)
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1
    }
    a.toSeq.map(_.asInstanceOf[T])
  }

  def random(stream: String): java.util.Random = rng(stream)
}

/** Exact nearest neighbours by brute force — the truth recall is graded
  * against. Squared L2 in double over the float components, the same
  * ordering as `array_distance` and an `l2sq` index. */
object Exact {
  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    s
  }

  /** Ids of the `k` nearest live rows per query (ties by smaller id). */
  def topK(corpus: Corpus, live: Int => Boolean, queries: Array[Array[Float]],
      k: Int, threads: Int): Array[Array[Long]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, threads))
    try {
      val futures = queries.map { q =>
        pool.submit(new java.util.concurrent.Callable[Array[Long]] {
          def call(): Array[Long] = {
            val heap = new java.util.PriorityQueue[(Double, Long)](k + 1,
              (a: (Double, Long), b: (Double, Long)) => {
                val c = java.lang.Double.compare(b._1, a._1)
                if (c != 0) c else java.lang.Long.compare(b._2, a._2)
              })
            var i = 0
            while (i < corpus.size) {
              if (live(i)) {
                val d = l2sq(corpus.vecs(i), q)
                if (heap.size < k || d <= heap.peek()._1) {
                  heap.add((d, corpus.ids(i)))
                  if (heap.size > k) heap.poll()
                }
              }
              i += 1
            }
            val out = new Array[(Double, Long)](heap.size)
            var j = out.length - 1
            while (!heap.isEmpty) { out(j) = heap.poll(); j -= 1 }
            out.map(_._2)
          }
        })
      }
      futures.map(_.get())
    } finally pool.shutdown()
  }

  /** Fraction of `truth` ids present in `got`, per query then averaged. */
  def recall(got: Seq[Seq[Long]], truth: Seq[Seq[Long]]): Double = {
    require(got.size == truth.size && truth.nonEmpty, "recall needs one result per query")
    got.zip(truth).map { case (g, t) =>
      val gs = g.toSet
      t.count(gs.contains).toDouble / t.size
    }.sum / truth.size
  }
}
