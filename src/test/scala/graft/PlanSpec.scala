package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** Physical-plan assertions — the 100-TB scale contract (SURVEY §4).
  * These pin the properties that make each operator survive a 1000×
  * scale-up: no shuffle where none is needed, pruned scans, broadcast
  * joins for small dims, partial aggregation before exchanges.
  */
class PlanSpec extends SparkSpec {

  test("expression-form assignment plans NO shuffle (one narrow stage)") {
    val p = plan(Assign.withNearest(Tables.points2d(spark, sf), Centroids.k2d))
    assert(!p.contains("Exchange"), s"unexpected shuffle in:\n$p")
  }

  test("point scan prunes to the 4 needed columns (column pruning)") {
    val df = Tables.points2d(spark, sf)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("l_orderkey") && scan.contains("l_extendedprice"))
    assert(!scan.contains("l_shipdate") && !scan.contains("l_returnflag"),
      s"scan reads pruned columns:\n$scan")
  }

  test("filter is pushed down to the parquet scan") {
    val df = Tables.lineitem(spark, sf).where(col("l_quantity") > 45.0)
      .select(col("l_orderkey"))
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]")
      || p.contains("GreaterThan(l_quantity"), s"no pushdown in:\n$p")
  }

  test("recenter aggregates partially before the exchange (map-side combine)") {
    val assigned = Assign.withNearest(Tables.points2d(spark, sf), Centroids.k2d)
    val p = plan(Recenter.means(assigned))
    // partial agg must appear below the exchange: the reference ships every
    // raw point across its shuffle instead (mapper.py:67-68)
    val iPartial = p.indexOf("HashAggregate")
    assert(iPartial >= 0 && p.contains("Exchange"), s"plan:\n$p")
    assert(p.indexOf("partial_", iPartial) >= 0 || p.contains("partial_count"),
      s"no partial aggregation in:\n$p")
  }

  test("dim joins broadcast (no shuffle join for small sides)") {
    val q = queries.RelationalQueries.queries("q_join_agg")(spark, sf)
    val p = plan(q)
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected sort-merge join:\n$p")
  }

  test("global sort+limit plans TakeOrderedAndProject (top-k, never a full sort)") {
    val p = plan(queries.RelationalQueries.queries("q_sort_limit")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"plan:\n$p")
  }

  test("whole-stage codegen covers the assignment expression") {
    // executedPlan.toString marks codegen'd operators with a `*(id)` prefix
    val p = plan(Assign.withNearest(Tables.points2d(spark, sf), Centroids.k2d))
    assert(p.contains("*(1) Project"), s"no codegen span:\n$p")
    // one native argmin; a literal least() + CASE chain must not come back
    assert("nearest_centroid\\(".r.findAllIn(p).length == 1, s"expected one nearest_centroid:\n$p")
    assert(!p.contains("least(") && !p.contains("CASE WHEN"), s"literal argmin chain in:\n$p")
  }

  test("q_tpch_q3: timestamp brackets reach the scans, dims broadcast") {
    val p = plan(queries.TpchQueries.queries("q_tpch_q3")(spark, sf))
    // both date predicates must be data filters on the parquet scans, not
    // post-join filters
    assert(p.contains("BroadcastHashJoin"), s"no broadcast in:\n$p")
    val scanSection = p.split("FileScan").drop(1)
    assert(scanSection.exists(_.contains("o_orderdate")), s"order-date filter not at scan:\n$p")
    assert(scanSection.exists(_.contains("l_shipdate")), s"ship-date filter not at scan:\n$p")
  }

  test("q_split plans no exchange (hash routing is narrow)") {
    val df = queries.PipelineQueries.queries("q_split")(spark, sf)
    // ignore the final presentation orderBy: check the split itself
    val core = Tables.documents(spark, sf).select(col("doc_id"),
      pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long"), lit(100L)).as("bucket"))
    val p = plan(core)
    assert(!p.contains("Exchange"), s"split should be narrow:\n$p")
    assert(df.columns.sameElements(Array("doc_id", "bucket", "split")))
  }

  test("q_pivot aggregates partially before its exchange") {
    val p = plan(queries.AnalyticQueries.queries("q_pivot")(spark, sf))
    assert(p.contains("partial_"), s"no map-side combine in pivot:\n$p")
  }
}
