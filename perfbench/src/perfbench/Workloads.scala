package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Assign, Centroid2D, CentroidND, Centroids, KMeansLoop, KMeansND}

/** The result of one timed op: how many point assignments it did (Lloyd
  * ops only) and the output check, which runs after the clock stops and
  * returns an error message on a mismatch.
  */
final case class Outcome(assignments: Long, iterations: Int, check: () => Option[String])

/** One operation of a pass. `run` is the timed part. */
final case class Op(name: String, run: Tracer => Outcome)

/** Settings shared by the workloads of one run. */
final case class Ctx(spark: SparkSession, seed: Long, tiny: Boolean, corrupt: Boolean,
    dataDir: Path, workDir: Path, expected: Map[String, Map[String, (Long, String)]])

/** A workload: `prepare` makes and stages its inputs (repeatable; the last
  * call's inputs are used), `ops(pass)` lists one pass, warm-up is pass −1.
  */
trait Workload {
  def prepare(rep: Int): Unit
  /** Reference results the checks compare against; computed once,
    * outside both set-up and the measured passes.
    */
  def reference(): Unit = ()
  def ops(pass: Int): Seq[Op]
}

object Workloads {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "lloyd_iter" => new LloydIter(ctx)
    case "lloyd_scan" => new LloydScan(ctx)
    case "sql_mix" => new QueryMix(ctx, SqlMix)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Registry queries of the sql_mix workload: relational, window, text
    * and graph-replay reads, a store rewrite and a streaming sink.
    */
  val SqlMix: Seq[String] = Seq(
    "q_tpch_q1", "q_window_suite", "text_gopher_rules", "graph_kcore", "q_merge_upsert",
    "stream_upsert_sink")

  /** Relative tolerance of means and SSE against the sequential reference
    * (summation order differs; counts and iterations must match exactly).
    */
  val Tol = 1e-9

  /** Points as a relation built on the executors from the same pure
    * function the reference uses.
    */
  def pointRelation(spark: SparkSession, n: Long, dim: Int, parts: Int,
      point: Long => Array[Double]): DataFrame = {
    val rows = spark.sparkContext.range(0L, n, 1L, parts).map { i =>
      val p = point(i)
      if (dim == 2) Row(p(0), p(1)) else Row(p.toSeq)
    }
    val schema =
      if (dim == 2) StructType(Seq(StructField("x", DoubleType, false), StructField("y", DoubleType, false)))
      else StructType(Seq(StructField("vec", ArrayType(DoubleType, false), false)))
    spark.createDataFrame(rows, schema)
  }
}

/** Lloyd fits to the iteration cap or convergence, a fresh seeded
  * initialization per fit: KMeansLoop.fit in 2-D and KMeansND.fit in 64-d
  * over parquet staged in the work directory.
  */
final class LloydIter(ctx: Ctx) extends Workload {
  import Workloads._
  private val spark = ctx.spark
  private val n2 = if (ctx.tiny) 6000L else 60000L
  private val nN = if (ctx.tiny) 2000L else 20000L
  private val dimN = 64
  private val k2 = 8
  private val kN = 10
  private val maxIter2 = 10
  private val maxIterN = 5
  private val delta = 0.5
  private val mix2 = Reference.Mixture(ctx.seed, 2, k2, 1000.0, 150.0)
  private val mixN = Reference.Mixture(ctx.seed + 7919, dimN, kN, 10.0, 3.0)
  private val parts = spark.sparkContext.defaultParallelism
  private var pts2: DataFrame = _
  private var ptsN: DataFrame = _
  private lazy val xs = Array.tabulate(n2.toInt)(i => mix2.coord(i, 0))
  private lazy val ys = Array.tabulate(n2.toInt)(i => mix2.coord(i, 1))
  private lazy val vecs = Array.tabulate(nN.toInt)(i => mixN.point(i))
  private lazy val box = (xs.min, xs.max, ys.min, ys.max)

  def prepare(rep: Int): Unit = {
    val dir = ctx.workDir.resolve(s"lloyd_iter-$rep")
    val (m2, mN) = (mix2, mixN)
    pointRelation(spark, n2, 2, parts, i => Array(m2.coord(i, 0), m2.coord(i, 1)))
      .write.mode("overwrite").parquet(dir.resolve("points2d").toString)
    pointRelation(spark, nN, dimN, parts, i => mN.point(i))
      .write.mode("overwrite").parquet(dir.resolve("pointsNd").toString)
    pts2 = spark.read.parquet(dir.resolve("points2d").toString)
    ptsN = spark.read.parquet(dir.resolve("pointsNd").toString)
  }

  override def reference(): Unit = { xs; ys; vecs; box }

  private def initSeed(pass: Int, fit: Int): Long =
    Reference.mix(ctx.seed * 1000003L + pass * 2L + fit)

  def ops(pass: Int): Seq[Op] = Seq(fit2d(pass), fitND(pass))

  private def fit2d(pass: Int): Op =
    Op("lloyd.fit2d", tr => {
      val (xlo, xhi, ylo, yhi) = box
      val init = Centroids.randomInit(k2, initSeed(pass, 0), xlo, xhi, ylo, yhi)
      val fit = tr.span("lloyd", "KMeansLoop.fit") {
        KMeansLoop.fit(spark, pts2, init, maxIter2, delta)
      }
      Outcome(n2 * fit.iterations, fit.iterations, () => {
        val ref = Reference.lloyd2(xs, ys, init, maxIter2, delta)
        val refCs = if (ctx.corrupt) ref.centroids.map(c => c.copy(cx = c.cx + 1.0)) else ref.centroids
        val got = fit.centroids.sortBy(_.cid)
        if (fit.iterations != ref.iterations || fit.converged != ref.converged)
          Some(s"iterations ${fit.iterations}/${fit.converged} != reference ${ref.iterations}/${ref.converged}")
        else if (got.map(_.cid) != refCs.map(_.cid))
          Some(s"cluster ids ${got.map(_.cid)} != reference ${refCs.map(_.cid)}")
        else if (!got.zip(refCs).forall { case (a, b) =>
            Reference.close(a.cx, b.cx, Tol) && Reference.close(a.cy, b.cy, Tol) })
          Some("centroids differ from the sequential reference")
        else if (!fit.sseHistory.zip(ref.sseHistory).forall { case (a, b) => Reference.close(a, b, Tol) })
          Some("SSE history differs from the sequential reference")
        else None
      })
    })

  private def fitND(pass: Int): Op =
    Op("lloyd.fitnd", tr => {
      val init = Centroids.randomInitND(kN, dimN, initSeed(pass, 1), 0.0, 10.0)
      val fit = tr.span("lloyd", "KMeansND.fit") {
        KMeansND.fit(spark, ptsN, init, maxIterN, delta)
      }
      Outcome(nN * fit.iterations, fit.iterations, () => {
        val ref = Reference.lloydND(vecs, init, maxIterN, delta)
        val got = fit.centroids.sortBy(_.cid)
        if (fit.iterations != ref.iterations || fit.converged != ref.converged)
          Some(s"iterations ${fit.iterations} != reference ${ref.iterations}")
        else if (got.map(_.cid) != ref.centroids.map(_.cid))
          Some("cluster ids differ from the sequential reference")
        else if (!got.zip(ref.centroids).forall { case (a, b) =>
            a.vec.zip(b.vec).forall { case (u, v) => Reference.close(u, v, Tol) } })
          Some("centroids differ from the sequential reference")
        else if (!Reference.close(fit.sse, ref.sse, Tol))
          Some(s"SSE ${fit.sse} != reference ${ref.sse}")
        else None
      })
    })
}

/** Scoring against one fixed model: Assign.withNearest materialized over
  * a cached relation of generated points, then one KMeansLoop.step.
  */
final class LloydScan(ctx: Ctx) extends Workload {
  import Workloads._
  private val spark = ctx.spark
  private val n = if (ctx.tiny) 100000L else 3000000L
  private val k = 8
  private val mix = Reference.Mixture(ctx.seed, 2, k, 1000.0, 150.0)
  private val parts = spark.sparkContext.defaultParallelism
  private var points: DataFrame = _
  /** The model: a sequential Lloyd over the first points, 10 iterations. */
  private lazy val model: Seq[Centroid2D] = {
    val m = math.min(n, 100000L).toInt
    val xs = Array.tabulate(m)(i => mix.coord(i, 0))
    val ys = Array.tabulate(m)(i => mix.coord(i, 1))
    val init = Centroids.randomInit(k, Reference.mix(ctx.seed), xs.min, xs.max, ys.min, ys.max)
    Reference.lloyd2(xs, ys, init, 10, 0.0).centroids
  }
  /** Per-cluster (count, Σx, Σy) and SSE of the model over all n points. */
  private lazy val expected: (Array[Long], Array[Double], Array[Double], Double) =
    Reference.pass2(Array.tabulate(n.toInt)(i => mix.coord(i, 0)),
      Array.tabulate(n.toInt)(i => mix.coord(i, 1)), model)

  def prepare(rep: Int): Unit = {
    if (points != null) points.unpersist(blocking = true)
    val m = mix
    points = pointRelation(spark, n, 2, parts, i => Array(m.coord(i, 0), m.coord(i, 1))).cache()
    points.foreach((_: Row) => ())
  }

  override def reference(): Unit = { model; expected }

  def ops(pass: Int): Seq[Op] = Seq(
    Op("lloyd.assign", tr => {
      val obs = Observation(s"assign-$pass")
      tr.span("lloyd", "Assign.withNearest") {
        Assign.withNearest(points, model)
          .observe(obs, count(lit(1)).as("n"), sum(col("cluster_id").cast("long")).as("cids"),
            sum(col("d2")).as("sse"))
          .write.format("noop").mode("overwrite").save()
      }
      Outcome(n, 1, () => {
        val (cnt, _, _, sse) = expected
        val cids = cnt.zipWithIndex.map { case (c, i) => c * i }.sum + (if (ctx.corrupt) 1 else 0)
        val got = obs.get
        if (got("n") != n) Some(s"rows ${got("n")} != $n")
        else if (got("cids") != cids) Some(s"Σ cluster_id ${got("cids")} != reference $cids")
        else if (!Reference.close(got("sse").asInstanceOf[Double], sse, Tol))
          Some(s"Σ d2 ${got("sse")} != reference $sse")
        else None
      })
    }),
    Op("lloyd.step", tr => {
      val (byCid, sse) = tr.span("lloyd", "KMeansLoop.step") { KMeansLoop.step(points, model) }
      Outcome(n, 1, () => {
        val (cnt, sx, sy, refSse) = expected
        val bad = (0 until k).filter { c =>
          byCid.get(c) match {
            case None => cnt(c) != 0
            case Some((m, x, y)) =>
              m != cnt(c) || !Reference.close(x, sx(c) / cnt(c), Tol) ||
                !Reference.close(y, sy(c) / cnt(c), Tol)
          }
        }
        if (bad.nonEmpty) Some(s"clusters ${bad.mkString(",")} differ from the reference")
        else if (!Reference.close(sse, refSse, Tol)) Some(s"SSE $sse != reference $refSse")
        else None
      })
    }))
}

/** Registry queries over the fixture tables, each materialized in full by
  * collecting its rows; the canonical row hash is compared with the one
  * derived from the DuckDB oracle. The pass order is permuted by the seed.
  */
final class QueryMix(ctx: Ctx, names: Seq[String]) extends Workload {
  private val scale = if (ctx.tiny) "sf0.001" else "sf0.01"
  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
  private var dir: String = _
  private val queries = graft.SparkEntry.queries

  /** Copies the fixture tables into a fresh directory of the work dir,
    * so staged artifacts are built from it anew, and opens each table.
    */
  def prepare(rep: Int): Unit = {
    val d = ctx.workDir.resolve(s"$scale-$rep")
    Files.createDirectories(d)
    tables.foreach { t =>
      Files.copy(ctx.dataDir.resolve(scale).resolve(s"$t.parquet"), d.resolve(s"$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      graft.Tables.table(ctx.spark, d.toString, t).schema
    }
    dir = d.toString
  }

  def ops(pass: Int): Seq[Op] = {
    val order = new scala.util.Random(Reference.mix(ctx.seed * 7919L + pass)).shuffle(names)
    order.map { name =>
      Op(name, tr => {
        val df = tr.span("queries", "build") { queries(name)(ctx.spark, dir) }
        val rows = tr.span("queries", "collect") { df.collect() }
        Outcome(0L, 0, () => {
          val (n, h) = Canon.hash(df.columns.toSeq, rows)
          ctx.expected.get(scale).flatMap(_.get(name)) match {
            case None => Some(s"no expected hash for $name at $scale")
            case Some((en, eh)) =>
              val want = if (ctx.corrupt) eh.reverse else eh
              if (n != en) Some(s"rows $n != expected $en")
              else if (h != want) Some(s"row hash $h != expected $want")
              else None
          }
        })
      })
    }
  }
}
