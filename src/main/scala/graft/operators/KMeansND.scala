package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** n-dimensional k-means over `ArrayType(Double)` points (the flagship
  * embeddings table is 64-dim; the sequential oracle is 1-D — the kernel
  * is dimension-generic per SURVEY §1.1).
  *
  * Same shape as [[KMeansLoop]]: one single-stage Spark job per
  * iteration and no per-iteration plan. [[LloydFold]] plans the cached
  * points' `vec` once per fit; each iteration folds every partition into
  * a per-cluster vector sum, count and SSE (K×dim primitive doubles —
  * A1, reducer.py:30-44, combined map-side, the shape MLlib uses
  * internally), and the driver merges the P partials in partition order
  * and divides. Where the reference ships every raw point across its
  * shuffle (mapper.py:67-68), this ships K×P partial sums and no shuffle.
  */
object KMeansND {
  import graft.functions.CentroidTable

  final case class FitResult(
      centroids: Seq[CentroidND],
      sse: Double,
      iterations: Int,
      converged: Boolean)

  /** Lloyd's loop on n-dim points, one fold job per iteration. Empty
    * clusters keep their old centroid (KeepOld policy).
    */
  def fit(
      spark: SparkSession,
      points: DataFrame, // column `vec: array<double>`
      init: Seq[CentroidND],
      maxIter: Int,
      delta: Double = 0.5): FitResult = {
    val owned = points.storageLevel == StorageLevel.NONE
    if (owned) points.cache()
    try {
      val fold = LloydFold.vectors(points, "vec")
      var cs = init
      var prevSse = Double.NaN
      var it = 0
      var converged = false
      while (it < maxIter && !converged) {
        val t = CentroidTable(cs.map(c => c.cid -> c.vec))
        val s = fold.pass(t)
        val sse = s.sse.sum
        cs = cs.map { c =>
          val i = t.indexOf(c.cid)
          if (s.count(i) == 0) c else CentroidND(c.cid, s.mean(i))
        }
        if (!prevSse.isNaN && math.abs(prevSse - sse) < delta) converged = true
        prevSse = sse
        it += 1
      }
      FitResult(cs, prevSse, it, converged)
    } finally if (owned) points.unpersist()
  }
}
