package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The iterative Lloyd's k-means driver loop (SURVEY §3.1 entry point 1).
  *
  * Reference lifecycle (master.py:336-372): split input → bbox → random
  * init → iterate { map (assign) → shuffle → reduce (means) → repair →
  * convergence `|SSE(old) − SSE(new)| < 0.5` (master.py:365, delta at
  * master.py:22) } up to an iteration cap.
  *
  * Spark realization: one Spark job per iteration, one stage, no
  * shuffle. [[LloydFold]] plans the cached points' `x`, `y` once per fit;
  * each iteration then folds every partition into per-centroid count,
  * coordinate sums and SSE (K-sized primitive arrays — the map with its
  * combine), collects the P partials and merges them on the driver in
  * partition order (the reduce and the master's merge), then divides
  * the sums and applies [[Recenter.repair]]. No iteration analyzes,
  * optimizes, plans or compiles anything. The SSE comes from the SAME
  * pass, where the reference re-scans the full input TWICE per
  * iteration for the objective (master.py:315-332, 365) — at 100 TB
  * that is 200 TB/iteration of avoided IO.
  *
  * Scale notes: per iteration the executors ship back K×P partial sums
  * (no shuffle), and the model is only K centroids; they reach the
  * executors inside the task closure, as the
  * [[graft.functions.CentroidTable]] the assignment expression uses.
  */
object KMeansLoop {
  import graft.functions.CentroidTable

  final case class FitResult(
      centroids: Seq[Centroid2D],
      sse: Double,
      iterations: Int,
      converged: Boolean,
      sseHistory: Seq[Double])

  /** One assign+recenter+SSE pass: one fold job over `points`' `x`, `y`.
    * Returns (per-cid (count, mean x, mean y) of each non-empty cluster,
    * SSE).
    */
  def step(points: DataFrame, cs: Seq[Centroid2D]): (Map[Int, (Long, Double, Double)], Double) =
    stepOn(LloydFold.xy(points), cs)

  private def stepOn(fold: LloydFold, cs: Seq[Centroid2D])
      : (Map[Int, (Long, Double, Double)], Double) = {
    val t = CentroidTable(cs.map(c => c.cid -> Array(c.cx, c.cy)))
    val s = fold.pass(t)
    val byCid = (0 until t.k).filter(s.count(_) > 0)
      .map(i => t.cid(i) -> (s.count(i), s.mean(i, 0), s.mean(i, 1))).toMap
    (byCid, s.sse.sum)
  }

  /** Full fit. `delta` mirrors master.py:22 (0.5); `maxIter` is the
    * user-supplied cap (master.py:340).
    */
  def fit(
      spark: SparkSession,
      points: DataFrame,
      init: Seq[Centroid2D],
      maxIter: Int,
      delta: Double = 0.5,
      policy: Recenter.RepairPolicy = Recenter.RepairPolicy.KeepOld): FitResult = {
    // cache: the SAME point table is scanned every iteration; a caller's
    // own cache is left as it was
    val owned = points.storageLevel == StorageLevel.NONE
    if (owned) points.cache()
    try {
      val fold = LloydFold.xy(points)
      // empty-cluster redraws sample the bbox of the (unchanging) points
      lazy val box = Recenter.bbox(points)
      var cs = init
      var prevSse = Double.NaN
      var history = Vector.empty[Double]
      var it = 0
      var converged = false
      while (it < maxIter && !converged) {
        val (byCid, sse) = stepOn(fold, cs)
        cs = Recenter.repair(cs, byCid, policy, seedOffset = it)(box)
        history :+= sse
        // convergence on |ΔSSE| < delta (master.py:365); the first
        // iteration has no previous SSE
        if (!prevSse.isNaN && math.abs(prevSse - sse) < delta) converged = true
        prevSse = sse
        it += 1
      }
      FitResult(cs, prevSse, it, converged, history)
    } finally if (owned) points.unpersist()
  }
}
