package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** The centroid set a Lloyd assignment scans: ids ascending,
  * centroid `i`'s coordinates at `coords(i * dim until (i + 1) * dim)`.
  *
  * The distance arithmetic is the one the oracle SQL twins evaluate:
  * `(x-c)*(x-c)` in 1-D, `(x-cx)*(x-cx) + (y-cy)*(y-cy)` in 2-D, and
  * the ascending-index accumulation of [[SquaredDistance]] over
  * `min(point length, dim)` elements for an array point. The argmin
  * scans ids in ascending order and keeps the first minimum under
  * `least()`'s ordering (NaN largest), so the lowest id wins ties
  * (mapper.py:43's strict `<`).
  */
final class CentroidTable private (cids: Array[Int], coords: Array[Double], val dim: Int)
    extends Serializable {

  def k: Int = cids.length

  /** Id of the centroid at index `i`. */
  def cid(i: Int): Int = cids(i)

  /** Index of centroid id `cid`, or -1 when the set has no such id. Ids
    * 0..K-1, the usual model, are their own index: no binary search,
    * whose data-dependent branches mispredict on clustered points.
    */
  def indexOf(cid: Int): Int =
    if (cid >= 0 && cid < k && cids(cid) == cid) cid
    else math.max(java.util.Arrays.binarySearch(cids, cid), -1)

  def distance(i: Int, x: Double): Double = {
    val d = x - coords(i)
    d * d
  }

  def distance(i: Int, x: Double, y: Double): Double = {
    val dx = x - coords(2 * i); val dy = y - coords(2 * i + 1)
    dx * dx + dy * dy
  }

  def distance(i: Int, v: ArrayData): Double = {
    val n = math.min(v.numElements(), dim)
    val o = i * dim
    var s = 0.0
    var j = 0
    while (j < n) {
      val d = v.getDouble(j) - coords(o + j)
      s += d * d
      j += 1
    }
    s
  }

  /** `d` orders strictly before `best` under `least()`'s ordering
    * (`SQLOrderingUtil.compareDoubles`: NaN above every number).
    */
  private def before(d: Double, best: Double): Boolean =
    d < best || (best != best && d == d)

  def nearest(x: Double): Int = cids(nearestIndex(x))
  def nearest(x: Double, y: Double): Int = cids(nearestIndex(x, y))
  def nearest(v: ArrayData): Int = cids(nearestIndex(v))

  /** Index (not id) of the nearest centroid; see [[cid]]. */
  def nearestIndex(x: Double): Int = {
    var best = 0; var bd = distance(0, x)
    var i = 1
    while (i < k) {
      val d = distance(i, x)
      if (before(d, bd)) { best = i; bd = d }
      i += 1
    }
    best
  }

  def nearestIndex(x: Double, y: Double): Int = {
    var best = 0; var bd = distance(0, x, y)
    var i = 1
    while (i < k) {
      val d = distance(i, x, y)
      if (before(d, bd)) { best = i; bd = d }
      i += 1
    }
    best
  }

  def nearestIndex(v: ArrayData): Int = {
    var best = 0; var bd = distance(0, v)
    var i = 1
    while (i < k) {
      val d = distance(i, v)
      if (before(d, bd)) { best = i; bd = d }
      i += 1
    }
    best
  }

  private[functions] def nearestTo(point: Seq[Any]): Int = point match {
    case Seq(v: ArrayData) => nearest(v)
    case Seq(x: Double) => nearest(x)
    case Seq(x: Double, y: Double) => nearest(x, y)
  }

  private[functions] def distanceTo(i: Int, point: Seq[Any]): Double = point match {
    case Seq(v: ArrayData) => distance(i, v)
    case Seq(x: Double) => distance(i, x)
    case Seq(x: Double, y: Double) => distance(i, x, y)
  }

  override def toString: String = s"centroids(k=$k, dim=$dim)"
}

object CentroidTable {

  /** From (cid, coordinates) rows in any order; ids must be distinct and
    * every centroid must have the same number of coordinates.
    */
  def apply(rows: Seq[(Int, Array[Double])]): CentroidTable = {
    require(rows.nonEmpty, "a centroid set needs at least one centroid")
    val sorted = rows.sortBy(_._1)
    val dim = sorted.head._2.length
    require(sorted.map(_._1).distinct.length == sorted.length, "centroid ids must be distinct")
    require(sorted.forall(_._2.length == dim), "every centroid needs the same dimension")
    new CentroidTable(sorted.map(_._1).toArray, sorted.flatMap(_._2).toArray, dim)
  }
}

/** Inputs shared by the two centroid-set expressions: the point is one or
  * two double columns (matching the set's dimension) or one
  * `array<double>` column, and the set is a constructor field rather
  * than a child. Code generation binds it with `addReferenceObj`, so the
  * generated source does not depend on the centroid values and Spark's
  * codegen cache serves every Lloyd iteration after the first.
  */
sealed trait CentroidSetExpression extends Expression with ImplicitCastInputTypes {
  def point: Seq[Expression]
  def table: CentroidTable

  /** Coordinates are cast to double the way `x - 1.0` coerces them. */
  protected def pointTypes: Seq[DataType] = point.map(_.dataType match {
    case _: ArrayType => ArrayType(DoubleType)
    case _ => DoubleType
  })

  override def checkInputDataTypes(): TypeCheckResult =
    if (point.length == 1 && point.head.dataType.isInstanceOf[ArrayType] ||
        point.length == table.dim && point.length <= 2) super.checkInputDataTypes()
    else TypeCheckResult.TypeCheckFailure(s"$prettyName takes one array<double> point " +
      s"or ${table.dim} double coordinates (2 at most), got ${point.length} columns")

  /** Evaluated point values, or None when any coordinate is null. */
  protected def evalPoint(input: InternalRow): Option[Seq[Any]] = {
    val p = point.map(_.eval(input))
    if (p.contains(null)) None else Some(p)
  }

  /** The point's generated code, its not-null condition and its argument list. */
  protected def genPoint(ctx: CodegenContext): (String, String, String) = {
    val in = point.map(_.genCode(ctx))
    (in.map(_.code.toString).mkString("\n"),
      in.map(e => s"!${e.isNull}").mkString(" && "),
      in.map(_.value.toString).mkString(", "))
  }
}

/** Id of the nearest centroid of `table` to the point; -1 for a null
  * point (the first-match CASE chain this replaced fell through to -1).
  */
case class NearestCentroid(point: Seq[Expression], table: CentroidTable)
    extends CentroidSetExpression {
  override def children: Seq[Expression] = point
  override def inputTypes: Seq[DataType] = pointTypes
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "nearest_centroid"

  override def eval(input: InternalRow): Any = evalPoint(input).fold(-1)(table.nearestTo)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("centroids", table)
    val (code, notNull, args) = genPoint(ctx)
    ev.copy(code = code"""
      |$code
      |int ${ev.value} = -1;
      |if ($notNull) {
      |  ${ev.value} = $t.nearest($args);
      |}""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(point = newChildren)
}

/** Squared distance from the point to the centroid of `table` whose id is
  * `cid`: the same arithmetic [[NearestCentroid]] compares, so on the
  * winning id it equals the minimum bit for bit. Null for a null point
  * or an id the set does not hold.
  */
case class CentroidDistance(point: Seq[Expression], cid: Expression, table: CentroidTable)
    extends CentroidSetExpression {
  override def children: Seq[Expression] = point :+ cid
  override def inputTypes: Seq[DataType] = pointTypes :+ IntegerType
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "centroid_distance"

  override def eval(input: InternalRow): Any = (evalPoint(input), cid.eval(input)) match {
    case (Some(p), c: Int) =>
      val i = table.indexOf(c)
      if (i < 0) null else table.distanceTo(i, p)
    case _ => null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("centroids", table)
    val (code, notNull, args) = genPoint(ctx)
    val c = cid.genCode(ctx)
    val i = ctx.freshName("i")
    ev.copy(code = code"""
      |$code
      |${c.code}
      |boolean ${ev.isNull} = true;
      |double ${ev.value} = -1.0;
      |if ($notNull && !${c.isNull}) {
      |  int $i = $t.indexOf(${c.value});
      |  if ($i >= 0) {
      |    ${ev.isNull} = false;
      |    ${ev.value} = $t.distance($i, $args);
      |  }
      |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(point = newChildren.init, cid = newChildren.last)
}

object NearestCentroid {
  import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}

  /** Column of the nearest centroid id (see [[NearestCentroid]]). */
  def cid(point: Seq[Column], table: CentroidTable): Column =
    toCol(NearestCentroid(point.map(toExpr), table))

  /** Column of the squared distance to centroid `cid` (see [[CentroidDistance]]). */
  def distance(point: Seq[Column], cid: Column, table: CentroidTable): Column =
    toCol(CentroidDistance(point.map(toExpr), toExpr(cid), table))
}
