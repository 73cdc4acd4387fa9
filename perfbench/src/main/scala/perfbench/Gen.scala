package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every workload derives its inputs from these and
  * the run's seed alone; graft only ever sees the generated values.
  */
object Gen {

  /** Clustered vectors on a low-dimensional manifold, the geometry of
    * `graft.BenchHnsw`'s synthetic-clustered corpus: `clusters` centres in a
    * `latent`-dimensional cube, points jittered by ±0.1 around them, then
    * embedded linearly into `dim` ambient dimensions. The embedding and the
    * centres depend on `seed` only, so base vectors, later upserts and
    * queries drawn with different `stream` values share one geometry.
    */
  final class Clustered(seed: Long, val dim: Int = 64, clusters: Int = 100, latent: Int = 16) {
    private val root = new SplittableRandom(seed)
    private val embed: Array[Array[Double]] = Array.fill(dim, latent)(
      (root.nextDouble() * 2 - 1) / math.sqrt(latent))
    private val centres: Array[Array[Double]] = Array.fill(clusters, latent)(root.nextDouble())

    /** `n` points from an independent stream; the same (seed, stream) gives the same points. */
    def points(n: Int, stream: Long): Array[Array[Float]] = {
      val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)
      Array.fill(n)(point(rnd))
    }

    def point(rnd: SplittableRandom): Array[Float] = {
      val c = centres(rnd.nextInt(clusters))
      val z = Array.tabulate(latent)(l => c(l) + (rnd.nextDouble() - 0.5) * 0.2)
      Array.tabulate(dim) { d =>
        val row = embed(d)
        var acc = 0.0
        var l = 0
        while (l < latent) { acc += row(l) * z(l); l += 1 }
        acc.toFloat
      }
    }
  }

  /** Zipf(s) sampler over ranks 0 until n by inverse-CDF binary search. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(rnd: SplittableRandom): Int = {
      val u = rnd.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  /** Pseudo-words: distinct lowercase strings, one per vocabulary rank. */
  def vocabulary(n: Int, rnd: SplittableRandom): Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val len = 3 + rnd.nextInt(6)
      seen += Array.fill(len)(('a' + rnd.nextInt(26)).toChar).mkString
    }
    seen.toArray
  }

  /** Seeded in-place Fisher-Yates shuffle. */
  def shuffle[T](xs: Array[T], rnd: SplittableRandom): Unit =
    for (i <- xs.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = xs(i); xs(i) = xs(j); xs(j) = t
    }

  /** Maps on all cores of the driver; ground truth is CPU-bound brute force. */
  def parallelMap[A, B: scala.reflect.ClassTag](xs: IndexedSeq[A])(f: A => B): Array[B] = {
    val out = new Array[B](xs.size)
    java.util.stream.IntStream.range(0, xs.size).parallel().forEach(i => out(i) = f(xs(i)))
    out
  }

  /** Brute-force euclidean distance, kept apart from graft's kernels so
    * ground truth never depends on the code under test.
    */
  def dist(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); acc += d * d; i += 1 }
    math.sqrt(acc)
  }

  /** Ids of the `k` nearest of `ids`/`vecs` to `q`, by (distance, id). */
  def exactTopK(q: Array[Float], ids: Array[Long], vecs: Array[Array[Float]], k: Int): Array[Long] = {
    val heap = new java.util.PriorityQueue[(Double, Long)](k + 1,
      (x: (Double, Long), y: (Double, Long)) => {
        val c = java.lang.Double.compare(y._1, x._1)
        if (c != 0) c else java.lang.Long.compare(y._2, x._2)
      })
    var i = 0
    while (i < ids.length) {
      val d = dist(q, vecs(i))
      if (heap.size < k) heap.add((d, ids(i)))
      else {
        val top = heap.peek()
        if (d < top._1 || (d == top._1 && ids(i) < top._2)) { heap.poll(); heap.add((d, ids(i))) }
      }
      i += 1
    }
    heap.toArray(new Array[(Double, Long)](0)).sortBy(x => (x._1, x._2)).map(_._2)
  }
}
