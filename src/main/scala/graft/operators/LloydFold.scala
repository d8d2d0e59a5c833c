package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import graft.functions.CentroidTable

/** One Lloyd pass — assign, combine and SSE — as one single-stage Spark
  * job, the shape of MLlib's `KMeans`: each partition folds its points
  * into K-sized primitive arrays (count, coordinate sums, squared
  * distances), and the driver merges the P partials in partition order.
  * That is the reference's map (`getCluster`, mapper.py:35-51) with the
  * map-side combine its shuffle lacks, its reduce (reducer.py:30-44) and
  * its master's merge of the K means (master.py:242-244), with no
  * shuffle at all.
  *
  * The point columns are planned once, when the fold is built; every
  * pass reruns the same physical RDD (`queryExecution.toRdd`), so a pass
  * runs no analysis, optimization, planning or code generation. Build it
  * after caching the points, so passes read the cache. Assignment and
  * distance are [[CentroidTable]]'s, the kernel of
  * [[graft.functions.NearestCentroid]], so a pass agrees bit for bit with
  * the `cluster_id` and `d2` columns [[Assign]] adds.
  *
  * Points are checked as they are read: a null coordinate, a null
  * vector, a null vector element, or a vector whose length is not the
  * centroids' dimension fails the job with a message naming the column.
  */
private[graft] final class LloydFold private (
    rows: RDD[InternalRow], fold: (Iterator[InternalRow], CentroidTable) => LloydFold.Sums) {

  /** Per-centroid sums of one pass over every point, indexed like `table`. */
  def pass(table: CentroidTable): LloydFold.Sums = {
    val f = fold
    rows.mapPartitions(it => Iterator.single(f(it, table))).collect()
      .reduceOption(_ += _)
      .getOrElse(new LloydFold.Sums(table.k, table.dim))
  }
}

private[graft] object LloydFold {

  /** Sums over the points nearest to each centroid, indexed like the
    * centroid table (ascending id): the point count, coordinate `j`'s sum
    * at `sum(i * dim + j)`, and the squared distances' sum.
    */
  final class Sums(k: Int, val dim: Int) extends Serializable {
    val count = new Array[Long](k)
    val sum = new Array[Double](k * dim)
    val sse = new Array[Double](k)

    def mean(i: Int, j: Int): Double = sum(i * dim + j) / count(i)
    def mean(i: Int): Array[Double] = Array.tabulate(dim)(mean(i, _))

    /** Adds `o`'s sums into these. */
    def +=(o: Sums): Sums = {
      var i = 0
      while (i < count.length) { count(i) += o.count(i); sse(i) += o.sse(i); i += 1 }
      i = 0
      while (i < sum.length) { sum(i) += o.sum(i); i += 1 }
      this
    }
  }

  /** A fold over the double columns `x` and `y` of `points`. */
  def xy(points: DataFrame): LloydFold = {
    val rows = points.select(col("x").cast(DoubleType), col("y").cast(DoubleType))
    new LloydFold(rows.queryExecution.toRdd, foldXY)
  }

  /** A fold over the `array<double>` column `name` of `points`. */
  def vectors(points: DataFrame, name: String): LloydFold = {
    val rows = points.select(col(name).cast(ArrayType(DoubleType)))
    val nulls = rows.schema.head.dataType.asInstanceOf[ArrayType].containsNull
    new LloydFold(rows.queryExecution.toRdd, foldVectors(_, _, name, nulls))
  }

  private def malformed(column: String, what: String): IllegalArgumentException =
    new IllegalArgumentException(s"k-means point column '$column' $what")

  private def foldXY(it: Iterator[InternalRow], t: CentroidTable): Sums = {
    require(t.dim == 2, s"2-D points need 2-D centroids, got dimension ${t.dim}")
    val s = new Sums(t.k, 2)
    while (it.hasNext) {
      val r = it.next()
      if (r.isNullAt(0)) throw malformed("x", "holds a null coordinate")
      if (r.isNullAt(1)) throw malformed("y", "holds a null coordinate")
      val x = r.getDouble(0); val y = r.getDouble(1)
      val i = t.nearestIndex(x, y)
      s.count(i) += 1
      s.sum(2 * i) += x
      s.sum(2 * i + 1) += y
      s.sse(i) += t.distance(i, x, y)
    }
    s
  }

  private def foldVectors(it: Iterator[InternalRow], t: CentroidTable, name: String,
      nullElements: Boolean): Sums = {
    val dim = t.dim
    val s = new Sums(t.k, dim)
    while (it.hasNext) {
      val r = it.next()
      if (r.isNullAt(0)) throw malformed(name, "holds a null vector")
      val v = r.getArray(0)
      // UnsafeArrayData.getDouble does not check bounds
      if (v.numElements() != dim)
        throw malformed(name, s"holds a vector of length ${v.numElements()}; the centroids have $dim")
      var j = 0
      if (nullElements) while (j < dim) {
        if (v.isNullAt(j)) throw malformed(name, s"holds a vector with a null element at $j")
        j += 1
      }
      val i = t.nearestIndex(v)
      s.count(i) += 1
      val o = i * dim
      j = 0
      while (j < dim) { s.sum(o + j) += v.getDouble(j); j += 1 }
      s.sse(i) += t.distance(i, v)
    }
    s
  }
}
