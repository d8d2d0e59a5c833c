package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** n-dimensional k-means over `ArrayType(Double)` points (the flagship
  * embeddings table is 64-dim; the sequential oracle is 1-D — the kernel
  * is dimension-generic per SURVEY §1.1).
  *
  * Ships the one custom aggregation surface promised in SURVEY §2.9:
  * [[CentroidAggregator]], a typed `Aggregator[IN, BUF, OUT]` computing a
  * per-cluster vector sum + count → mean — the idiomatic typed-Dataset
  * form of A1 (reducer.py:30-44) for n-dim vectors, and the same shape
  * MLlib uses internally. It gets Spark's map-side partial aggregation
  * (reduce/merge) for free, unlike the reference which ships every raw
  * point across its shuffle (mapper.py:67-68).
  */
object KMeansND {

  /** (cluster_id, vector) → (sum vector, count) → mean vector. */
  class CentroidAggregator(dim: Int)
      extends Aggregator[(Int, Array[Double]), (Array[Double], Long), Array[Double]] {
    override def zero: (Array[Double], Long) = (new Array[Double](dim), 0L)
    override def reduce(b: (Array[Double], Long), a: (Int, Array[Double])): (Array[Double], Long) = {
      val (s, n) = b
      var i = 0
      while (i < dim) { s(i) += a._2(i); i += 1 }
      (s, n + 1)
    }
    override def merge(b1: (Array[Double], Long), b2: (Array[Double], Long)): (Array[Double], Long) = {
      val (s1, n1) = b1; val (s2, n2) = b2
      var i = 0
      while (i < dim) { s1(i) += s2(i); i += 1 }
      (s1, n1 + n2)
    }
    override def finish(r: (Array[Double], Long)): Array[Double] = {
      val (s, n) = r
      if (n == 0L) s else s.map(_ / n)
    }
    override def bufferEncoder: Encoder[(Array[Double], Long)] =
      Encoders.tuple(ExprEnc.doubleArray, Encoders.scalaLong)
    override def outputEncoder: Encoder[Array[Double]] = ExprEnc.doubleArray
  }

  private object ExprEnc {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val doubleArray: Encoder[Array[Double]] = ExpressionEncoder[Array[Double]]()
  }

  /** Mean + count + SSE in ONE aggregation pass — the loop's per-cluster
    * state. (The reference pays two extra full scans per iteration for
    * the objective, master.py:365; the 2-D loop piggybacks SSE on its
    * hash-agg; this is the typed-path equivalent.)
    * IN = (cluster_id, vec, d2); OUT = (mean, n, sse).
    */
  class CentroidSseAggregator(dim: Int)
      extends Aggregator[(Int, Array[Double], Double), (Array[Double], Long, Double), (Array[Double], Long, Double)] {
    override def zero: (Array[Double], Long, Double) = (new Array[Double](dim), 0L, 0.0)
    override def reduce(b: (Array[Double], Long, Double), a: (Int, Array[Double], Double)): (Array[Double], Long, Double) = {
      val (s, n, e) = b
      var i = 0
      while (i < dim) { s(i) += a._2(i); i += 1 }
      (s, n + 1, e + a._3)
    }
    override def merge(b1: (Array[Double], Long, Double), b2: (Array[Double], Long, Double)): (Array[Double], Long, Double) = {
      val (s1, n1, e1) = b1; val (s2, n2, e2) = b2
      var i = 0
      while (i < dim) { s1(i) += s2(i); i += 1 }
      (s1, n1 + n2, e1 + e2)
    }
    override def finish(r: (Array[Double], Long, Double)): (Array[Double], Long, Double) = {
      val (s, n, e) = r
      (if (n == 0L) s else s.map(_ / n), n, e)
    }
    override def bufferEncoder: Encoder[(Array[Double], Long, Double)] =
      Encoders.tuple(ExprEnc.doubleArray, Encoders.scalaLong, Encoders.scalaDouble)
    override def outputEncoder: Encoder[(Array[Double], Long, Double)] =
      Encoders.tuple(ExprEnc.doubleArray, Encoders.scalaLong, Encoders.scalaDouble)
  }

  final case class FitResult(
      centroids: Seq[CentroidND],
      sse: Double,
      iterations: Int,
      converged: Boolean)

  /** Lloyd's loop on n-dim points via the typed CentroidAggregator.
    * Empty clusters keep their old centroid (KeepOld policy).
    */
  def fit(
      spark: SparkSession,
      points: DataFrame, // column `vec: array<double>`
      init: Seq[CentroidND],
      maxIter: Int,
      delta: Double = 0.5): FitResult = {
    import spark.implicits._
    val dim = init.head.vec.length
    val owned = points.storageLevel == StorageLevel.NONE
    if (owned) points.cache()
    try {
      var cs = init
      var prevSse = Double.NaN
      var it = 0
      var converged = false
      while (it < maxIter && !converged) {
        val assigned = Assign.withNearestNDFull(points, col("vec"), cs, "cluster_id", Some("d2"))
        // ONE aggregation pass per iteration: means + counts + SSE in the
        // same typed aggregation (partial agg -> K rows per partition shuffle)
        val ds: Dataset[(Int, Array[Double], Double)] =
          assigned.select(col("cluster_id"), col("vec"), col("d2"))
            .as[(Int, Array[Double], Double)]
        val stats = ds.groupByKey(_._1)
          .agg(new CentroidSseAggregator(dim).toColumn.name("stats"))
          .collect().toMap
        val sse = stats.valuesIterator.map(_._3).sum
        cs = cs.map(c => stats.get(c.cid).map(s => CentroidND(c.cid, s._1)).getOrElse(c))
        if (!prevSse.isNaN && math.abs(prevSse - sse) < delta) converged = true
        prevSse = sse
        it += 1
      }
      FitResult(cs, prevSse, it, converged)
    } finally if (owned) points.unpersist()
  }
}
