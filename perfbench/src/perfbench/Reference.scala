package perfbench

import graft.operators.{Centroid2D, CentroidND}

/** Seeded inputs and the plain sequential Lloyd that checks the Spark fits.
  *
  * Every point is a pure function of (seed, index): the Spark side builds
  * its relation from the same functions the sequential reference loops
  * over, so both see bit-identical doubles without shipping data between
  * them.
  */
object Reference {

  /** splitmix64 finalizer: a counter-based generator, so point i never
    * depends on how many points were drawn before it.
    */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform in (0, 1] for stream `s`, counter `i`. */
  def uniform(s: Long, i: Long): Double =
    ((mix(s ^ mix(i)) >>> 11) + 1L) * (1.0 / (1L << 53))

  /** Standard normal by Box–Muller over two counters of stream `s`. */
  def gaussian(s: Long, i: Long): Double = {
    val u1 = uniform(s, 2 * i)
    val u2 = uniform(s, 2 * i + 1)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  /** A Gaussian mixture in `dim` dimensions: `k` centres uniform in
    * [0, span]^dim, spread `sigma`, members drawn uniformly. The spread is
    * wide enough that the components overlap, so Lloyd keeps moving
    * boundary points for many iterations.
    */
  final case class Mixture(seed: Long, dim: Int, k: Int, span: Double, sigma: Double) {
    private val centres: Array[Array[Double]] = Array.tabulate(k, dim) { (c, d) =>
      span * uniform(mix(seed + 1), c.toLong * dim + d)
    }
    def component(i: Long): Int = java.lang.Math.floorMod(mix(mix(seed + 2) ^ i), k.toLong).toInt
    def coord(i: Long, d: Int): Double =
      centres(component(i))(d) + sigma * gaussian(mix(seed + 3 + d), i)
    def point(i: Long): Array[Double] = Array.tabulate(dim)(d => coord(i, d))
  }

  final case class Fit2D(centroids: Seq[Centroid2D],
      sseHistory: Seq[Double], iterations: Int, converged: Boolean)

  final case class FitND(centroids: Seq[CentroidND], sse: Double, iterations: Int,
      converged: Boolean)

  /** Assignment exactly as graft.operators.Assign.withNearest computes
    * it: d_k = (x−cx)(x−cx) + (y−cy)(y−cy), nearest = lowest cid whose
    * distance equals the minimum.
    */
  def nearest2(x: Double, y: Double, cx: Array[Double], cy: Array[Double]): Int = {
    var best = 0
    var bestD = Double.PositiveInfinity
    var k = 0
    while (k < cx.length) {
      val d = (x - cx(k)) * (x - cx(k)) + (y - cy(k)) * (y - cy(k))
      if (d < bestD) { bestD = d; best = k }
      k += 1
    }
    best
  }

  /** One sequential assign + recenter pass over the points (xs, ys):
    * per-cluster (count, Σx, Σy) and the SSE.
    */
  def pass2(xs: Array[Double], ys: Array[Double], cs: Seq[Centroid2D])
      : (Array[Long], Array[Double], Array[Double], Double) = {
    val sorted = cs.sortBy(_.cid)
    val cx = sorted.map(_.cx).toArray
    val cy = sorted.map(_.cy).toArray
    val cnt = new Array[Long](cx.length)
    val sx = new Array[Double](cx.length)
    val sy = new Array[Double](cx.length)
    var sse = 0.0
    var i = 0
    while (i < xs.length) {
      val x = xs(i); val y = ys(i)
      val k = nearest2(x, y, cx, cy)
      cnt(k) += 1; sx(k) += x; sy(k) += y
      sse += (x - cx(k)) * (x - cx(k)) + (y - cy(k)) * (y - cy(k))
      i += 1
    }
    (cnt, sx, sy, sse)
  }

  /** The sequential Lloyd the paper checks against (its
    * sequential-kmeans.py), with KMeansLoop.fit's rules: keep-old repair
    * for empty clusters and stop when |ΔSSE| < delta after the first
    * iteration, or at maxIter.
    */
  def lloyd2(xs: Array[Double], ys: Array[Double], init: Seq[Centroid2D], maxIter: Int,
      delta: Double): Fit2D = {
    var cs = init.sortBy(_.cid)
    var prev = Double.NaN
    var history = Vector.empty[Double]
    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      val (cnt, sx, sy, sse) = pass2(xs, ys, cs)
      cs = cs.zipWithIndex.map { case (c, k) =>
        if (cnt(k) == 0) c else Centroid2D(c.cid, sx(k) / cnt(k), sy(k) / cnt(k))
      }
      history :+= sse
      if (!prev.isNaN && math.abs(prev - sse) < delta) converged = true
      prev = sse
      it += 1
    }
    Fit2D(cs, history, it, converged)
  }

  /** n-dim sequential Lloyd with KMeansND.fit's rules (keep-old repair,
    * |ΔSSE| < delta, ascending-index distance accumulation).
    */
  def lloydND(pts: Array[Array[Double]], init: Seq[CentroidND], maxIter: Int,
      delta: Double): FitND = {
    var cs = init.sortBy(_.cid)
    val dim = cs.head.vec.length
    var prev = Double.NaN
    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      val k = cs.length
      val sums = Array.ofDim[Double](k, dim)
      val cnt = new Array[Long](k)
      var sse = 0.0
      val cv = cs.map(_.vec).toArray
      var i = 0
      while (i < pts.length) {
        val p = pts(i)
        var best = 0
        var bestD = Double.PositiveInfinity
        var c = 0
        while (c < k) {
          var s = 0.0
          var d = 0
          while (d < dim) { val t = p(d) - cv(c)(d); s += t * t; d += 1 }
          if (s < bestD) { bestD = s; best = c }
          c += 1
        }
        cnt(best) += 1
        var d = 0
        while (d < dim) { sums(best)(d) += p(d); d += 1 }
        sse += bestD
        i += 1
      }
      cs = cs.zipWithIndex.map { case (c, j) =>
        if (cnt(j) == 0) c else CentroidND(c.cid, sums(j).map(_ / cnt(j)))
      }
      if (!prev.isNaN && math.abs(prev - sse) < delta) converged = true
      prev = sse
      it += 1
    }
    FitND(cs, prev, it, converged)
  }

  /** |a − b| within `rel` of the larger magnitude (plus a tiny absolute
    * floor for values at zero).
    */
  def close(a: Double, b: Double, rel: Double): Boolean =
    math.abs(a - b) <= rel * math.max(math.max(math.abs(a), math.abs(b)), 1e-9)
}
