package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The iterative Lloyd's k-means driver loop (SURVEY §3.1 entry point 1).
  *
  * Reference lifecycle (master.py:336-372): split input → bbox → random
  * init → iterate { map (assign) → shuffle → reduce (means) → repair →
  * convergence `|SSE(old) − SSE(new)| < 0.5` (master.py:365, delta at
  * master.py:22) } up to an iteration cap.
  *
  * Spark realization: per iteration, scan + assignment expression +
  * partial agg → exchange(K rows/partition) → final agg → collect K rows
  * → next centroids. Under AQE that is two jobs per iteration (the map
  * stage, then the result stage), plus one job at the start of the fit
  * on the first use of the cached points: 21 jobs for 10 iterations.
  * The SSE piggybacks on the SAME aggregation pass (`sum(d2)`
  * alongside the means), where the reference re-scans the full input
  * TWICE per iteration for the objective (master.py:315-332, 365) — at
  * 100 TB that is 200 TB/iteration of avoided IO.
  *
  * Scale notes: per-iteration shuffle traffic is K×partitions rows
  * (map-side combine), and the model is only K centroids. They reach
  * the executors inside the plan's [[graft.functions.NearestCentroid]]
  * (no broadcast exchange), as a reference object of the generated
  * code, so iterations after the first reuse the compiled class.
  */
object KMeansLoop {

  final case class FitResult(
      centroids: Seq[Centroid2D],
      sse: Double,
      iterations: Int,
      converged: Boolean,
      sseHistory: Seq[Double])

  /** One assign+recenter+SSE pass. Returns (per-cid (cnt, mean), SSE). */
  def step(points: DataFrame, cs: Seq[Centroid2D]): (Map[Int, (Long, Double, Double)], Double) = {
    val assigned = Assign.withNearest(points, cs)
    // means + SSE in ONE aggregation pass: sum(d2) is distributive, so it
    // rides the same partial/final hash-agg as the means.
    val rows = assigned.groupBy(col("cluster_id")).agg(
      count(lit(1)).as("cnt"),
      avg(col("x")).as("mx"),
      avg(col("y")).as("my"),
      sum(col("d2")).as("sse")).collect()
    val byCid = rows.map(r =>
      r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val sse = rows.map(_.getDouble(4)).sum
    (byCid, sse)
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
      // empty-cluster redraws sample the bbox of the (unchanging) points
      lazy val (xlo, xhi, ylo, yhi) = Recenter.bbox(points)
      var cs = init
      var prevSse = Double.NaN
      var history = Vector.empty[Double]
      var it = 0
      var converged = false
      while (it < maxIter && !converged) {
        val (byCid, sse) = step(points, cs)
        cs = policy match {
          case Recenter.RepairPolicy.KeepOld =>
            cs.map(c => byCid.get(c.cid)
              .map { case (_, x, y) => Centroid2D(c.cid, x, y) }.getOrElse(c))
          case Recenter.RepairPolicy.Rerandomize(seed) =>
            val rnd = new java.util.Random(seed + it)
            cs.map(c => byCid.get(c.cid)
              .map { case (_, x, y) => Centroid2D(c.cid, x, y) }
              .getOrElse(Centroid2D(c.cid,
                xlo + rnd.nextDouble() * (xhi - xlo),
                ylo + rnd.nextDouble() * (yhi - ylo))))
        }
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
