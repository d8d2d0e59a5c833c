package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VecFunctions._

/** J1 — nearest-centroid assignment (SURVEY §2.3).
  *
  * Reference: broadcast nested-loop `getCluster` (mapper.py:35-51) — each
  * point scans all K centroids keeping the argmin of squared distance;
  * ties keep the FIRST (lowest-id) centroid because the comparison is
  * strict `<` (mapper.py:43).
  *
  * Two implementations, cross-checked in tests:
  *
  *  1. *Expression form* ([[withNearest]], [[nearestCid1]],
  *     [[withNearestNDFull]]): one native
  *     [[graft.functions.NearestCentroid]] per row scans the K centroids,
  *     and [[graft.functions.CentroidDistance]] evaluates the same
  *     distance once more on the winner for `d2`. One narrow map stage,
  *     zero shuffle, inside whole-stage codegen. The centroids are a
  *     reference object of the generated class, not literals in its
  *     source, so a Lloyd loop compiles its assignment once and every
  *     later iteration hits Spark's codegen cache; the plan size does
  *     not grow with K or the dimension.
  *
  *  2. [[nearestRelational]] — *relational form*: crossJoin(broadcast(c))
  *     + per-point min + tie-break, the shape a SQL engine (and our DuckDB
  *     oracle) expresses directly.
  *
  * Both break ties toward the lowest cid, matching mapper.py:43, and
  * compute the distances with the oracle twins' IEEE arithmetic.
  */
object Assign {
  import graft.functions.{CentroidTable, NearestCentroid}

  /** Nearest 1-D centroid id (sequential-kmeans.py:14-29, with the argmin
    * CORRECT — the reference's line 25 stores an unsquared signed diff,
    * documented divergence per SURVEY §3.2); -1 for a null point.
    */
  def nearestCid1(x: Column, cs: Seq[Centroid1D]): Column =
    NearestCentroid.cid(Seq(x), CentroidTable(cs.map(c => c.cid -> Array(c.c))))

  /** Adds `outCol` (the nearest cid) to `df` for an n-dim point column. */
  def withNearestND(df: DataFrame, vecCol: Column, cs: Seq[CentroidND],
      outCol: String): DataFrame =
    withNearestNDFull(df, vecCol, cs, outCol, d2Col = None)

  /** Like [[withNearestND]] but optionally also keeps the winning squared
    * distance as `d2Col` (the SSE input for fit-style queries).
    */
  def withNearestNDFull(df: DataFrame, vecCol: Column, cs: Seq[CentroidND],
      outCol: String, d2Col: Option[String]): DataFrame =
    withNearestAt(df, Seq(vecCol), CentroidTable(cs.map(c => c.cid -> c.vec)), outCol, d2Col)

  /** Adds `cluster_id` and `d2` to a 2-D point DataFrame with columns
    * (x, y). No shuffle.
    */
  def withNearest(points: DataFrame, cs: Seq[Centroid2D]): DataFrame =
    withNearestAt(points, Seq(col("x"), col("y")),
      CentroidTable(cs.map(c => c.cid -> Array(c.cx, c.cy))), "cluster_id", Some("d2"))

  /** `d2Col` reads the cid column, so the two stay separate projections
    * (CollapseProject does not inline a non-trivial expression referenced
    * twice) and each row runs the K-way argmin once.
    */
  private def withNearestAt(df: DataFrame, point: Seq[Column], table: CentroidTable,
      outCol: String, d2Col: Option[String]): DataFrame = {
    val withCid = df.withColumn(outCol, NearestCentroid.cid(point, table))
    d2Col.fold(withCid)(d =>
      withCid.withColumn(d, NearestCentroid.distance(point, col(outCol), table)))
  }

  /** Relational-form assignment: broadcast crossJoin + window-min +
    * tie-break on lowest cid. Used for cross-checking and as the
    * oracle-shaped plan; keyCols must uniquely identify a point.
    */
  def nearestRelational(points: DataFrame, centroids: DataFrame, keyCols: Seq[String]): DataFrame = {
    val joined = points.crossJoin(broadcast(centroids))
      .withColumn("d2", distSq2(col("x"), col("y"), col("cx"), col("cy")))
    val w = Window.partitionBy(keyCols.map(col): _*)
    joined
      .withColumn("mind", min(col("d2")).over(w))
      .where(col("d2") === col("mind"))
      .groupBy(keyCols.map(col) :+ col("x") :+ col("y"): _*)
      .agg(min(col("cid")).as("cluster_id"), min(col("mind")).as("d2"))
  }
}
