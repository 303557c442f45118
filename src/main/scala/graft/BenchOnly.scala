package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Query, VectorOps}
import graft.sources.Tables

/** Bench-only sketch queries (NOT registered in SparkEntry — no oracle).
  *
  * The registered agg_approx_distinct / agg_approx_percentile compute exact
  * countDistinct / six exact percentiles ALONGSIDE the sketch so DuckDB can
  * hash-check them, which means their bench times measure the exact path,
  * not the sketch path. These variants run the sketch ALONE — single-pass
  * mergeable state, the actual 100 TB plan shape — so BENCH_r{N}.json
  * carries an honest sketch-path number. Correctness of the sketches is
  * covered by the registered within-band verdicts.
  */
object BenchOnly {

  /** HLL++ only: one pass, partial sketches merged at the exchange. */
  def approxDistinctSketch(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("n_users_approx"))
      .orderBy(col("event_type"))

  /** approx_percentile only: mergeable quantile-sketch state, no per-group
    * value sort. Customer join unhinted, as in the registered form. */
  def approxPercentileSketch(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .join(Tables.load(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        expr("approx_percentile(o_totalprice, 0.5, 1000)").as("a50"),
        expr("approx_percentile(o_totalprice, 0.9, 1000)").as("a90"))
      .orderBy(col("c_mktsegment"))

  /** No oracle: these values are never registered in SparkEntry, and
    * Bench reads only `prepare` and `run`. */
  val queries: Map[String, Query] = Map(
    "bench_approx_distinct_sketch" -> Query(approxDistinctSketch _, ""),
    "bench_approx_percentile_sketch" -> Query(approxPercentileSketch _, ""),
    // PQ search with pre-trained codebooks: emb_pq_topk's bench time
    // includes the two training scans; this is the steady-state search
    // cost alone (result-identical to emb_pq_topk — same codebooks),
    // with the training declared as the staging
    "bench_pq_search_only" -> Query(VectorOps.pqTopKSearchOnly _, "",
      VectorOps.pqCodebooks _))
}
