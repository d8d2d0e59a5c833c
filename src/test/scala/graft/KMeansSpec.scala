package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** Unit + property coverage for the k-means operator family
  * (SURVEY §5.2-5.4).
  */
class KMeansSpec extends SparkSpec {
  import Recenter.RepairPolicy

  test("distance kernels: 1-D, 2-D, n-dim agree with plain Scala") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(50)((rnd.nextDouble() * 100, rnd.nextDouble() * 100,
      Array.fill(16)(rnd.nextDouble())))
    val df = rows.toDF("x", "y", "v")
    val c = Array.fill(16)(0.25)
    val got = df.select(
      graft.functions.VecFunctions.distSq2(col("x"), col("y"), lit(3.0), lit(4.0)),
      graft.functions.VecFunctions.distSq1(col("x"), lit(5.0)),
      graft.functions.VecFunctions.distSqN(col("v"), array(c.map(lit(_)): _*)))
      .collect()
    rows.zip(got).foreach { case ((x, y, v), r) =>
      val d2 = (x - 3.0) * (x - 3.0) + (y - 4.0) * (y - 4.0)
      val d1 = (x - 5.0) * (x - 5.0)
      val dn = v.zip(c).map { case (a, b) => (a - b) * (a - b) }.foldLeft(0.0)(_ + _)
      assert(math.abs(r.getDouble(0) - d2) < 1e-12)
      assert(math.abs(r.getDouble(1) - d1) < 1e-12)
      assert(math.abs(r.getDouble(2) - dn) < 1e-12)
    }
  }

  test("argmin ties break toward the lowest cid (mapper.py:43 strict <)") {
    import spark.implicits._
    // point exactly equidistant to centroids 1 and 2 (FIXTURES.md
    // points_tie case)
    val cs = Seq(Centroid2D(0, 0.0, 0.0), Centroid2D(1, 10.0, 0.0), Centroid2D(2, 20.0, 0.0))
    val df = Seq((15.0, 0.0)).toDF("x", "y")
    val cid = Assign.withNearest(df, cs).select("cluster_id").head().getInt(0)
    assert(cid == 1)
    // 1-D tie
    val cs1 = Seq(Centroid1D(0, 5.0), Centroid1D(1, 15.0))
    val df1 = Seq(10.0).toDF("x")
    val cid1 = df1.select(Assign.nearestCid1(col("x"), cs1)).head().getInt(0)
    assert(cid1 == 0)
  }

  // ---- NearestCentroid: the one assignment kernel ----

  /** Runs `body` with whole-stage codegen (a compile error fails rather
    * than falling back to interpreted), then fully interpreted.
    */
  private def codegenAndInterpreted(body: String => Unit): Unit = {
    def withConf(kvs: (String, String)*)(run: => Unit): Unit = {
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try run finally kvs.foreach { case (k, _) => spark.conf.unset(k) }
    }
    withConf("spark.sql.codegen.fallback" -> "false")(body("codegen"))
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(body("interpreted"))
  }

  /** `least()` + first-match CASE semantics in plain Scala: ascending cid,
    * the first distance no other orders before (NaN largest).
    */
  private def argmin(ds: Seq[(Int, Double)]): (Int, Double) = {
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
    ds.sortBy(_._1).reduceLeft((best, d) => if (compareDoubles(d._2, best._2) < 0) d else best)
  }

  private def sameBits(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)

  /** Rows through an RDD, not a LocalRelation the optimizer would evaluate
    * itself, so the codegen run really runs the generated projection.
    */
  private def pointsDf(rows: Seq[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private val big = 1e200 // its square overflows to +Inf

  test("NearestCentroid 2-D: cid and d2 bit-equal the least() argmin and nearestRelational") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val sets = Seq(
      Seq(Centroid2D(0, Double.NaN, 5.0), // NaN distance first: any number beats it
        Centroid2D(1, 0.0, 0.0), Centroid2D(2, 10.0, 0.0), Centroid2D(3, 20.0, 0.0),
        Centroid2D(4, 10.0, 0.0), // duplicate of cid 2
        Centroid2D(5, -big, big)),
      Seq(Centroid2D(7, 3.0, -4.0))) // K = 1
    val xy = Seq((15.0, 0.0), (5.0, 0.0), (10.0, 0.0), (-3.5, 2.25), (Double.NaN, 1.0),
      (1.0, Double.NaN), (big, 0.0), (-big, big), (Double.PositiveInfinity, 0.0),
      (-0.0, 0.0), (1e-300, -1e-300))
    val rows = xy.zipWithIndex.map { case ((x, y), i) => Row(i.toLong, x, y) } :+
      Row(xy.length.toLong, null, 1.0)
    val schema = StructType(Seq(StructField("id", LongType), StructField("x", DoubleType),
      StructField("y", DoubleType)))
    codegenAndInterpreted { mode =>
      sets.foreach { cs =>
        val got = Assign.withNearest(pointsDf(rows, schema), cs).collect()
          .map(r => r.getLong(0) -> r).toMap
        xy.zipWithIndex.foreach { case ((x, y), i) =>
          val (cid, d2) = argmin(cs.map(c =>
            c.cid -> ((x - c.cx) * (x - c.cx) + (y - c.cy) * (y - c.cy))))
          val r = got(i.toLong)
          assert(r.getInt(3) == cid && sameBits(r.getDouble(4), d2),
            s"$mode K=${cs.size} point ($x, $y): got (${r.get(3)}, ${r.get(4)}), want ($cid, $d2)")
        }
        val nullRow = got(xy.length.toLong)
        assert(nullRow.getInt(3) == -1 && nullRow.isNullAt(4), s"$mode null point: $nullRow")
        val rel = Assign.nearestRelational(pointsDf(rows, schema).where(col("x").isNotNull),
            Centroids.toDF(spark, cs), Seq("id")).collect()
          .map(r => r.getLong(0) -> (r.getInt(3), r.getDouble(4))).toMap
        assert(rel.keySet == xy.indices.map(_.toLong).toSet)
        rel.foreach { case (id, (cid, d2)) =>
          assert(got(id).getInt(3) == cid && sameBits(got(id).getDouble(4), d2),
            s"$mode K=${cs.size} id $id: relational ($cid, $d2) vs ${got(id)}")
        }
      }
    }
  }

  test("NearestCentroid 1-D: cid and d2 bit-equal the least() argmin") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.functions.{CentroidTable, NearestCentroid}
    val sets = Seq(
      Seq(Centroid1D(0, Double.NaN), Centroid1D(1, 5.0), Centroid1D(2, 15.0), Centroid1D(3, 5.0),
        Centroid1D(4, -big)),
      Seq(Centroid1D(2, 1.0)))
    val xs = Seq(10.0, 5.0, 0.0, 100.0, Double.NaN, big, -big, Double.NegativeInfinity, -0.0)
    val rows = xs.map(Row(_)) :+ Row(null)
    val schema = StructType(Seq(StructField("x", DoubleType)))
    codegenAndInterpreted { mode =>
      sets.foreach { cs =>
        val table = CentroidTable(cs.map(c => c.cid -> Array(c.c)))
        val got = pointsDf(rows, schema)
          .withColumn("cid", Assign.nearestCid1(col("x"), cs))
          .withColumn("d2", NearestCentroid.distance(Seq(col("x")), col("cid"), table))
          .collect()
        assert(got.length == rows.length)
        got.foreach { r =>
          if (r.isNullAt(0)) assert(r.getInt(1) == -1 && r.isNullAt(2), s"$mode null point: $r")
          else {
            val x = r.getDouble(0)
            val (cid, d2) = argmin(cs.map(c => c.cid -> (x - c.c) * (x - c.c)))
            assert(r.getInt(1) == cid && sameBits(r.getDouble(2), d2),
              s"$mode K=${cs.size} point $x: got $r, want ($cid, $d2)")
          }
        }
      }
    }
  }

  test("NearestCentroid 64-d: cid and d2 bit-equal the least() argmin") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dim = 64
    val rnd = new scala.util.Random(11)
    def vec() = Array.fill(dim)(rnd.nextGaussian())
    val c0 = vec()
    val sets = Seq(
      Seq(CentroidND(0, vec().updated(5, Double.NaN)),
        CentroidND(1, c0), CentroidND(2, c0.map(-_)), // mirror images: ties at 0
        CentroidND(3, vec()), CentroidND(4, c0.clone()), // duplicate of cid 1
        CentroidND(5, Array.fill(dim)(big))),
      Seq(CentroidND(9, vec()))) // K = 1
    val points = Seq(Array.fill(dim)(0.0), c0.clone(), vec(), vec(),
      vec().updated(17, Double.NaN), Array.fill(dim)(-big), vec().updated(0, big),
      Array.fill(dim)(Double.PositiveInfinity))
    val rows = points.map(p => Row(p.toSeq)) :+ Row(null)
    val schema = StructType(Seq(StructField("vec", ArrayType(DoubleType, containsNull = false))))
    codegenAndInterpreted { mode =>
      sets.foreach { cs =>
        val got = Assign.withNearestNDFull(pointsDf(rows, schema), col("vec"), cs,
          "cluster_id", Some("d2")).collect()
        assert(got.length == rows.length)
        got.foreach { r =>
          if (r.isNullAt(0)) assert(r.getInt(1) == -1 && r.isNullAt(2), s"$mode null point: $r")
          else {
            val v = r.getSeq[Double](0)
            val (cid, d2) = argmin(cs.map(c => c.cid ->
              v.zip(c.vec).foldLeft(0.0) { case (s, (a, b)) => s + (a - b) * (a - b) }))
            assert(r.getInt(1) == cid && sameBits(r.getDouble(2), d2),
              s"$mode K=${cs.size} point ${v.take(3)}…: got (${r.get(1)}, ${r.get(2)}), want ($cid, $d2)")
          }
        }
      }
    }
  }

  test("Lloyd iterations after the first compile no code (CodegenMetrics)") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import graft.functions.VecFunctions.toDoubleArray
    /** Compiles during a `maxIter = 5` fit that follows a `maxIter = 1`
      * fit from the same init: iteration 1 repeats the warm-up's plan, so
      * any compile comes from iterations 2..5 and their new centroids.
      */
    def compilesAfterIteration1(fit: Int => Unit): Long = {
      fit(1)
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      fit(5)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val pts2 = Tables.points2d(spark, sf)
    assert(compilesAfterIteration1(n =>
      KMeansLoop.fit(spark, pts2, Centroids.k2d, maxIter = n, delta = 0.0)) == 0)
    val ptsN = Tables.embeddings(spark, sf).select(toDoubleArray(col("embedding")).as("vec"))
    val initN = Centroids.randomInitND(4, 64, seed = 42L, -0.5, 0.5)
    assert(compilesAfterIteration1(n =>
      KMeansND.fit(spark, ptsN, initN, maxIter = n, delta = 0.0)) == 0)
  }

  test("fit leaves a caller-cached DataFrame cached") {
    import org.apache.spark.storage.StorageLevel
    val pts2 = Tables.points2d(spark, sf).cache()
    val ptsN = pts2.select(array(col("x"), col("y")).as("vec")).cache()
    try {
      KMeansLoop.fit(spark, pts2, Centroids.k2d, maxIter = 2)
      KMeansND.fit(spark, ptsN, Centroids.k2d.map(c => CentroidND(c.cid, Array(c.cx, c.cy))),
        maxIter = 2)
      assert(pts2.storageLevel != StorageLevel.NONE, "KMeansLoop.fit dropped the caller's cache")
      assert(ptsN.storageLevel != StorageLevel.NONE, "KMeansND.fit dropped the caller's cache")
    } finally {
      ptsN.unpersist()
      pts2.unpersist()
    }
  }

  // ---- LloydFold: one job per Lloyd iteration ----

  private def relClose(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  /** `df`'s rows in 7 partitions; partitions 2 and 5 are empty. */
  private def sevenPartitions(df: org.apache.spark.sql.DataFrame) = {
    val rows = spark.sparkContext.parallelize(df.collect().toSeq, 7)
      .mapPartitionsWithIndex((i, it) => if (i == 2 || i == 5) Iterator.empty else it)
    val out = spark.createDataFrame(rows, df.schema)
    assert(out.rdd.glom().collect().map(_.length).count(_ == 0) == 2)
    out
  }

  test("Lloyd fold == relational form in 2-D: 7 partitions, empty ones, sparse cids, empty cluster") {
    import graft.functions.CentroidTable
    val pts = sevenPartitions(Tables.points2d(spark, sf).select("x", "y"))
    val sparse = Seq(Centroid2D(7, 60000.0, 30.0), Centroid2D(3, 20000.0, 10.0),
      Centroid2D(11, 1.0e9, 1.0e9), // no point is nearest: an empty cluster
      Centroid2D(5, 90000.0, 45.0))
    Seq(Centroids.k2d, sparse, Centroids.k2dWithEmpty).foreach { cs =>
      val assigned = Assign.withNearest(pts, cs)
      val means = Recenter.means(assigned).collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
      val sse = assigned.groupBy("cluster_id").agg(sum("d2")).collect()
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val table = CentroidTable(cs.map(c => c.cid -> Array(c.cx, c.cy)))
      val sums = LloydFold.xy(pts).pass(table)
      (0 until table.k).foreach { i =>
        val cid = table.cid(i)
        val (n, mx, my) = means.getOrElse(cid, (0L, Double.NaN, Double.NaN))
        assert(sums.count(i) == n, s"cid $cid count")
        if (n > 0) assert(relClose(sums.mean(i, 0), mx) && relClose(sums.mean(i, 1), my) &&
          relClose(sums.sse(i), sse(cid)), s"cid $cid: fold vs relational")
        else assert(sums.sse(i) == 0.0)
      }
      val (byCid, total) = KMeansLoop.step(pts, cs)
      assert(byCid.keySet == means.keySet)
      byCid.foreach { case (cid, (n, x, y)) =>
        assert(n == means(cid)._1 && relClose(x, means(cid)._2) && relClose(y, means(cid)._3))
      }
      assert(relClose(total, sse.values.sum))
      // one iteration of the fit == the relational recenter, under both policies
      Seq(RepairPolicy.KeepOld, RepairPolicy.Rerandomize(5L)).foreach { policy =>
        val fit = KMeansLoop.fit(spark, pts, cs, maxIter = 1, delta = 0.0, policy = policy)
        val rel = Recenter.recenter(spark, assigned, cs, policy)
        assert(fit.centroids.map(_.cid) == cs.map(_.cid))
        fit.centroids.zip(rel).foreach { case (a, b) =>
          if (means.contains(a.cid)) assert(relClose(a.cx, b.cx) && relClose(a.cy, b.cy), s"$policy $a $b")
          else assert(a == b, s"$policy repaired cid ${a.cid}: fit $a, recenter $b")
        }
      }
    }
  }

  test("Lloyd fold == relational form in 64-d: 7 partitions, empty ones, sparse cids, empty cluster") {
    import graft.functions.CentroidTable
    import graft.functions.VecFunctions.toDoubleArray
    val dim = 64
    val pts = sevenPartitions(
      Tables.embeddings(spark, sf).select(toDoubleArray(col("embedding")).as("vec")))
    val init = Centroids.randomInitND(3, dim, seed = 42L, -0.5, 0.5)
    val sparse = Seq(CentroidND(11, init(0).vec), CentroidND(3, init(1).vec),
      CentroidND(15, Array.fill(dim)(1.0e6)), // an empty cluster
      CentroidND(7, init(2).vec))
    Seq(Centroids.randomInitND(4, dim, seed = 42L, -0.5, 0.5), sparse).foreach { cs =>
      val stats = Assign.withNearestNDFull(pts, col("vec"), cs, "cluster_id", Some("d2"))
        .groupBy("cluster_id")
        .agg(count(lit(1)), sum("d2") +: (0 until dim).map(j => avg(col("vec")(j))): _*)
        .collect().map(r => r.getInt(0) -> r).toMap
      val table = CentroidTable(cs.map(c => c.cid -> c.vec))
      val sums = LloydFold.vectors(pts, "vec").pass(table)
      (0 until table.k).foreach { i =>
        val cid = table.cid(i)
        stats.get(cid) match {
          case None => assert(sums.count(i) == 0, s"cid $cid count")
          case Some(r) =>
            assert(sums.count(i) == r.getLong(1), s"cid $cid count")
            assert(relClose(sums.sse(i), r.getDouble(2)), s"cid $cid SSE")
            (0 until dim).foreach(j =>
              assert(relClose(sums.mean(i, j), r.getDouble(3 + j)), s"cid $cid mean($j)"))
        }
      }
      val fit = KMeansND.fit(spark, pts, cs, maxIter = 1, delta = 0.0)
      assert(relClose(fit.sse, stats.values.map(_.getDouble(2)).sum))
      fit.centroids.zip(cs).foreach { case (a, b) =>
        assert(a.cid == b.cid)
        stats.get(a.cid) match {
          case None => assert(a.vec sameElements b.vec, s"empty cid ${a.cid} keeps its centroid")
          case Some(r) => (0 until dim).foreach(j => assert(relClose(a.vec(j), r.getDouble(3 + j))))
        }
      }
    }
  }

  test("a Lloyd fit runs one single-stage job per iteration and shuffles nothing") {
    import org.apache.spark.ListenerBusBridge
    import org.apache.spark.scheduler._
    import org.apache.spark.storage.StorageLevel
    import graft.functions.VecFunctions.toDoubleArray
    /** (jobs, stages per job, shuffle bytes written) while `run` runs. */
    def shape(run: => Int): (Int, Int, Seq[Int], Long) = {
      val stages = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val written = new java.util.concurrent.atomic.AtomicLong()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = stages.add(e.stageInfos.size)
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
          written.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      ListenerBusBridge.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      val iterations =
        try run
        finally {
          ListenerBusBridge.drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(listener)
        }
      import scala.jdk.CollectionConverters._
      (iterations, stages.size, stages.asScala.toSeq, written.get)
    }
    val pts2 = Tables.points2d(spark, sf)
    val ptsN = Tables.embeddings(spark, sf).select(toDoubleArray(col("embedding")).as("vec"))
    assert(pts2.storageLevel == StorageLevel.NONE && ptsN.storageLevel == StorageLevel.NONE)
    val fits = Seq(
      "KMeansLoop" -> (() =>
        KMeansLoop.fit(spark, pts2, Centroids.k2d, maxIter = 4, delta = 0.0).iterations),
      "KMeansND" -> (() => KMeansND.fit(spark, ptsN,
        Centroids.randomInitND(4, 64, seed = 42L, -0.5, 0.5), maxIter = 3, delta = 0.0).iterations))
    fits.foreach { case (name, fit) =>
      val (iterations, jobs, stagesPerJob, shuffled) = shape(fit())
      assert(iterations > 1 && jobs == iterations, s"$name: $jobs jobs for $iterations iterations")
      assert(stagesPerJob.forall(_ == 1), s"$name: stages per job $stagesPerJob")
      assert(shuffled == 0L, s"$name wrote $shuffled shuffle bytes")
    }
  }

  test("null and malformed points fail the fit with the column's name") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def failure(fit: => Any): String = {
      val e = intercept[Exception](fit)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")
    }
    val xy = StructType(Seq(StructField("x", DoubleType), StructField("y", DoubleType)))
    val nullY = pointsDf(Seq(Row(1.0, 2.0), Row(3.0, 4.0), Row(5.0, null)), xy)
    val m2 = failure(KMeansLoop.fit(spark, nullY, Centroids.k2d, maxIter = 2))
    assert(m2.contains("k-means point column 'y' holds a null coordinate"), m2)

    val vec = StructType(Seq(StructField("vec", ArrayType(DoubleType))))
    val init = Seq(CentroidND(0, Array(0.0, 0.0)), CentroidND(1, Array(5.0, 5.0)))
    val nullVec = pointsDf(Seq(Row(Seq(1.0, 2.0)), Row(Seq(3.0, 4.0)), Row(null)), vec)
    val mn = failure(KMeansND.fit(spark, nullVec, init, maxIter = 2))
    assert(mn.contains("k-means point column 'vec' holds a null vector"), mn)
    val shortVec = pointsDf(Seq(Row(Seq(1.0, 2.0)), Row(Seq(3.0, 4.0)), Row(Seq(5.0))), vec)
    val ms = failure(KMeansND.fit(spark, shortVec, init, maxIter = 2))
    assert(ms.contains("k-means point column 'vec' holds a vector of length 1; the centroids have 2"),
      ms)
    val nullElement = pointsDf(Seq(Row(Seq(1.0, 2.0)), Row(Seq(3.0, null))), vec)
    val me = failure(KMeansND.fit(spark, nullElement, init, maxIter = 2))
    assert(me.contains("k-means point column 'vec' holds a vector with a null element at 1"), me)
  }

  test("expression form == relational form on fixture data (J1 cross-check)") {
    val pts = Tables.points2d(spark, sf)
    val exprForm = Assign.withNearest(pts, Centroids.k2d)
      .groupBy("cluster_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val relForm = Assign.nearestRelational(
      pts, Centroids.toDF(spark, Centroids.k2d),
      Seq("l_orderkey", "l_linenumber", "x", "y"))
      .groupBy("cluster_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(exprForm == relForm)
  }

  test("every point is assigned to its true nearest centroid (property)") {
    val sample = Assign.withNearest(Tables.points2d(spark, sf), Centroids.k2d)
      .limit(500).collect()
    sample.foreach { r =>
      val x = r.getDouble(r.fieldIndex("x")); val y = r.getDouble(r.fieldIndex("y"))
      val best = Centroids.k2d.minBy(c => (x - c.cx) * (x - c.cx) + (y - c.cy) * (y - c.cy))
      assert(r.getInt(r.fieldIndex("cluster_id")) == best.cid)
    }
  }

  test("recenter means are the arithmetic mean of members (property)") {
    val assigned = Assign.withNearest(Tables.points2d(spark, sf), Centroids.k2d)
    val means = Recenter.means(assigned).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val manual = assigned.collect().groupBy(_.getInt(4)) // cluster_id idx 4
    manual.foreach { case (cid, rows) =>
      val (n, mx, my) = means(cid)
      assert(n == rows.length)
      val ex = rows.map(_.getDouble(2)).sum / rows.length
      val ey = rows.map(_.getDouble(3)).sum / rows.length
      assert(math.abs(mx - ex) < 1e-6 && math.abs(my - ey) < 1e-6)
    }
  }

  test("empty-cluster repair: KeepOld keeps, Rerandomize stays in bbox") {
    val cs = Centroids.k2dWithEmpty
    val assigned = Assign.withNearest(Tables.points2d(spark, sf), cs)
    val kept = Recenter.recenter(spark, assigned, cs, RepairPolicy.KeepOld)
    assert(kept.find(_.cid == 8).get == Centroid2D(8, 1.0e9, 1.0e9))
    val rer = Recenter.recenter(spark, assigned, cs, RepairPolicy.Rerandomize(1L))
    val c8 = rer.find(_.cid == 8).get
    assert(c8.cx >= 914.0 && c8.cx <= 105000.0 && c8.cy >= 1.0 && c8.cy <= 50.0)
    // non-empty clusters unaffected by policy choice
    assert(kept.filter(_.cid != 8) == rer.filter(_.cid != 8))
  }

  test("SSE is monotone non-increasing across Lloyd iterations (KeepOld)") {
    val res = KMeansLoop.fit(spark, Tables.points2d(spark, sf),
      Centroids.k2d, maxIter = 8, delta = 0.0) // delta 0: never early-stop
    res.sseHistory.sliding(2).foreach {
      case Seq(a, b) => assert(b <= a + 1e-6, s"SSE increased: $a -> $b")
      case _ =>
    }
  }

  test("fit converges with delta=0.5 like master.py:365") {
    val res = KMeansLoop.fit(spark, Tables.points2d(spark, sf),
      Centroids.k2d, maxIter = 50, delta = 0.5)
    assert(res.converged && res.iterations < 50)
  }

  test("result invariant under row order (property: repartition+shuffle)") {
    val pts = Tables.points2d(spark, sf)
    val shuffled = pts.repartition(7, col("y"))
    val a = Assign.withNearest(pts, Centroids.k2d)
      .groupBy("cluster_id").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq
    val b = Assign.withNearest(shuffled, Centroids.k2d)
      .groupBy("cluster_id").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(a == b)
  }

  test("n-dim fit matches 2-D loop on 2-dim data") {
    import spark.implicits._
    val pts2 = Tables.points2d(spark, sf)
    val ptsNd = pts2.select(array(col("x"), col("y")).as("vec"))
    val init2d = Centroids.k2d
    val initNd = init2d.map(c => CentroidND(c.cid, Array(c.cx, c.cy)))
    val r2 = KMeansLoop.fit(spark, pts2, init2d, maxIter = 3, delta = 0.0)
    val rn = KMeansND.fit(spark, ptsNd, initNd, maxIter = 3, delta = 0.0)
    r2.centroids.zip(rn.centroids).foreach { case (a, b) =>
      assert(math.abs(a.cx - b.vec(0)) < 1e-9 && math.abs(a.cy - b.vec(1)) < 1e-9)
    }
  }

  test("MLlib flagship runs and improves on random-init SSE (sanity)") {
    val df = operators.MLlibFlagship.run(spark, sf)
    assert(df.count() == 10)
  }

  test("SparkEntry.entry smoke: rows > 0 (the driver's exact check)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // ---- k-means‖ scalable seeding (KMeansParallel) ----

  /** Driver replay of the u20 sampling hash (QueryHelpers.hashBucket
    * widened to 20 bits) — keep in exact sync with KMeansParallel.u20.
    */
  private def u20(xi: Long, yi: Long, r: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$xi:$yi:$r".getBytes("UTF-8"))
    java.lang.Long.parseLong(md.take(4).map("%02x".format(_)).mkString, 16) %
      1048576L
  }

  test("k-means|| oversampling: exact driver replay of rounds, phi, weights, centers") {
    val raw = Tables.points2d(spark, sf).select("x", "y").collect()
      .map(r => (math.floor(r.getDouble(0) * 100 + 0.5).toLong,
        math.floor(r.getDouble(1) * 100 + 0.5).toLong))
    val pts = raw.groupBy(identity).map { case (p, os) => (p._1, p._2, os.length.toLong) }.toSeq
    def d2(p: (Long, Long), c: (Long, Long)): Long =
      (p._1 - c._1) * (p._1 - c._1) + (p._2 - c._2) * (p._2 - c._2)
    val c0 = pts.map(p => (p._1, p._2))
      .minBy(p => (u20(p._1, p._2, 0), p._1, p._2))
    var cands = Seq(c0)
    val phis = scala.collection.mutable.ArrayBuffer[BigInt]()
    (1 to 3).foreach { r =>
      val dm = pts.map(p => (p, cands.map(c => d2((p._1, p._2), c)).min)).toMap
      val phi = pts.map(p => BigInt(p._3) * dm(p)).sum
      phis += phi
      val sampled = pts.filter(p =>
        BigInt(u20(p._1, p._2, r)) * phi <
          BigInt(16L * p._3 * dm(p)) * 1048576L)
        .map(p => (p._1, p._2))
      cands = cands ++ sampled
    }
    val weighted = pts
      .groupBy(p => cands.minBy(c => (d2((p._1, p._2), c), c._1, c._2)))
      .map { case (c, ps) => KMeansParallel.CandW(c._1, c._2, ps.map(_._3).sum) }
      .toSet
    val got = KMeansParallel.initScalable(spark,
      Tables.points2d(spark, sf).select(col("x"), col("y")),
      k = 8, ell = 16, rounds = 3, lloydRounds = 2)
    assert(got.phiHistory.map(_.toBigInt) == phis.toSeq,
      s"phi ladder diverged: ${got.phiHistory} vs $phis")
    assert(got.candidates.toSet == weighted,
      "weighted candidate set diverged from the driver replay")
    assert(got.centers == KMeansParallel.recluster(weighted.toSeq, 8, 2))
    // genuinely an oversample: more candidates than k, all weights > 0
    assert(weighted.size > 8 && weighted.forall(_.w > 0))
  }

  test("k-means|| init beats the uniform bbox init on post-fit SSE; centers in bbox") {
    val ptsDf = Tables.points2d(spark, sf)
    val res = KMeansParallel.initScalable(spark,
      ptsDf.select(col("x"), col("y")),
      k = 8, ell = 16, rounds = 3, lloydRounds = 2)
    val scalable = res.centers.map { case (cid, cx, cy) =>
      Centroid2D(cid, cx / 100.0, cy / 100.0) }
    val bb = ptsDf.agg(min(col("x")), max(col("x")), min(col("y")),
      max(col("y"))).collect()(0)
    // every k-means|| center is a weighted mean of data points — inside
    // the bounding box by construction (the uniform init only samples it)
    scalable.foreach { c =>
      assert(c.cx >= bb.getDouble(0) && c.cx <= bb.getDouble(1) &&
        c.cy >= bb.getDouble(2) && c.cy <= bb.getDouble(3),
        s"center $c escapes the data bbox")
    }
    val uniform = Centroids.randomInit(8, seed = 42L, bb.getDouble(0),
      bb.getDouble(1), bb.getDouble(2), bb.getDouble(3))
    val fitS = KMeansLoop.fit(spark, ptsDf, scalable, maxIter = 10, delta = 0.0)
    val fitU = KMeansLoop.fit(spark, ptsDf, uniform, maxIter = 10, delta = 0.0)
    assert(fitS.sse <= fitU.sse,
      s"scalable-init SSE ${fitS.sse} worse than uniform-init ${fitU.sse}")
  }

  test("k-means|| init cross-checks MLlib initMode=k-means|| on fitted cost") {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val ptsDf = Tables.points2d(spark, sf)
    val res = KMeansParallel.initScalable(spark,
      ptsDf.select(col("x"), col("y")),
      k = 8, ell = 16, rounds = 3, lloydRounds = 2)
    val scalable = res.centers.map { case (cid, cx, cy) =>
      Centroid2D(cid, cx / 100.0, cy / 100.0) }
    val fitS = KMeansLoop.fit(spark, ptsDf, scalable, maxIter = 10, delta = 0.0)
    val feats = ptsDf
      .select(array_to_vector(array(col("x"), col("y"))).as("features"))
    val model = new KMeans().setK(8).setInitMode("k-means||")
      .setMaxIter(10).setSeed(42L).setTol(0.0).fit(feats)
    val mlCost = model.summary.trainingCost
    // same init family + same Lloyd refinement => same cost regime;
    // local-minimum spread on the fixture stays well inside 2x
    assert(fitS.sse <= 2.0 * mlCost && mlCost <= 2.0 * fitS.sse,
      s"cost regimes diverged: ours ${fitS.sse} vs MLlib $mlCost")
  }

  test("silhouette: aggregate-identity report equals the naive O(n²) replay") {
    val got = graft.queries.KMeansQueries.queries("kmeans_silhouette")(
      spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val pts = Silhouette.integerized(
      Assign.withNearest(Tables.points2d(spark, sf), Centroids.k2d))
      .select(col("cluster_id"), col("xi"), col("yi"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val byC = pts.groupBy(_._1)
    def d2(p: (Int, Long, Long), o: (Int, Long, Long)): Long = {
      val dx = p._2 - o._2; val dy = p._3 - o._3; dx * dx + dy * dy
    }
    val sus = pts.map { p =>
      val own = byC(p._1)
      val a = if (own.length <= 1) 0.0
      else own.map(d2(p, _)).sum.toDouble / (own.length - 1).toDouble
      val b = byC.view.filterKeys(_ != p._1).values
        .map(os => os.map(d2(p, _)).sum.toDouble / os.length.toDouble).min
      val s = if (own.length <= 1 || math.max(a, b) == 0.0) 0.0
      else (b - a) / math.max(a, b)
      p._1 -> math.floor(s * 1000000.0 + 0.5).toLong
    }
    sus.groupBy(_._1).foreach { case (c, g) =>
      val (n, smu) = got(c)
      assert(n == g.length.toLong, s"cluster $c count")
      assert(smu == g.map(_._2).sum / g.length, s"cluster $c mean micros")
    }
    assert(got.keySet == byC.keySet)
    // a silhouette is a silhouette: every mean in [-1e6, 1e6]
    got.values.foreach { case (_, smu) =>
      assert(smu >= -1000000L && smu <= 1000000L)
    }
  }

  test("bisecting k-means: distributed schedule equals a full driver replay") {
    import BisectingKMeans.{PackBase, Splits, LloydIters}
    val got = graft.queries.KMeansQueries.queries("kmeans_bisect")(
      spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val pts = BisectingKMeans.integerized(Tables.points2d(spark, sf))
      .select(col("xi"), col("yi")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // full driver replay of the pinned schedule
    var lab = pts.map(p => (p._1, p._2, 0))
    def stats(g: Array[(Long, Long, Int)]) = {
      val n = g.length.toLong
      val sx = g.map(_._1).sum; val sy = g.map(_._2).sum
      val mx = sx / n; val my = sy / n
      val sse = g.map(p => (p._1 - mx) * (p._1 - mx) +
        (p._2 - my) * (p._2 - my)).sum
      (n, mx, my, sse)
    }
    (1 to Splits).foreach { s =>
      val leaves = lab.groupBy(_._3)
      val splittable = leaves.filter(_._2.map(p => (p._1, p._2)).distinct.length > 1)
      assert(splittable.nonEmpty)
      val pick = splittable.map { case (id, g) => (id, stats(g)._4) }
        .toSeq.maxBy(l => (l._2, -l._1))._1
      val members = leaves(pick)
      val packs = members.map(p => p._1 * PackBase + p._2)
      var a = (packs.min / PackBase, packs.min % PackBase)
      var b = (packs.max / PackBase, packs.max % PackBase)
      def d2(p: (Long, Long, Int), c: (Long, Long)) =
        (p._1 - c._1) * (p._1 - c._1) + (p._2 - c._2) * (p._2 - c._2)
      (1 to LloydIters).foreach { _ =>
        val (as, bs) = members.partition(p => d2(p, a) <= d2(p, b))
        if (as.nonEmpty)
          a = (as.map(_._1).sum / as.length, as.map(_._2).sum / as.length)
        if (bs.nonEmpty)
          b = (bs.map(_._1).sum / bs.length, bs.map(_._2).sum / bs.length)
      }
      val nid = 2 * s - 1
      lab = lab.map { p =>
        if (p._3 == pick) (p._1, p._2, if (d2(p, a) <= d2(p, b)) nid else nid + 1)
        else p
      }
    }
    val want = lab.groupBy(_._3).map { case (id, g) =>
      val (n, mx, my, sse) = stats(g); (id, n, mx, my, sse)
    }.toSeq.sortBy(_._1)
    assert(got.toSeq == want, s"got ${got.toSeq}\nwant $want")
    assert(got.length == Splits + 1)
    assert(got.map(_._2).sum == pts.length.toLong)
    got.foreach { case (_, _, _, _, sse) => assert(sse >= 0L) }
  }

  test("davies-bouldin: report equals a naive driver replay; nonnegative") {
    val got = graft.queries.KMeansQueries.queries("kmeans_davies_bouldin")(
      spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val pts = Silhouette.integerized(
      Assign.withNearest(Tables.points2d(spark, sf), Centroids.k2d))
      .select(col("cluster_id"), col("xi"), col("yi"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val leaves = pts.groupBy(_._1).map { case (c, g) =>
      val n = g.length.toLong
      val mx = g.map(_._2).sum / n; val my = g.map(_._3).sum / n
      val sse = g.map(p => (p._2 - mx) * (p._2 - mx) +
        (p._3 - my) * (p._3 - my)).sum
      (c, n, mx, my, sse)
    }.toSeq
    leaves.foreach { case (c, n, mx, my, sse) =>
      val rs = leaves.filter(_._1 != c).flatMap { o =>
        val m2 = (mx - o._3) * (mx - o._3) + (my - o._4) * (my - o._4)
        if (m2 == 0L) None
        else Some((sse.toDouble / n.toDouble +
          o._5.toDouble / o._2.toDouble) / m2.toDouble)
      }
      val rm = if (rs.isEmpty) 0.0 else rs.max
      val (gn, gu) = got(c)
      assert(gn == n, s"cluster $c count")
      assert(gu == math.floor(rm * 1000000.0 + 0.5).toLong,
        s"cluster $c R_max micros")
      assert(gu >= 0L)
    }
    assert(got.keySet == leaves.map(_._1).toSet)
  }
}
