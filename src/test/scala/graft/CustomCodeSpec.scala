package graft

import org.apache.spark.sql.functions._
import graft.functions.{VectorFns, VwapAggregator}
import graft.operators.VectorOps

/** The custom-code surface: VwapAggregator (UD1) and the codegen'd
  * CosineSimilarity expression (graft.plans). */
class CustomCodeSpec extends SparkTestBase {
  import spark.implicits._

  test("VwapAggregator: exact on a hand-computed group") {
    // (price, qty): vwap = (10.50*2 + 20.00*3) / 5 = 81.0 / 5 = 16.2
    val df = Seq(("a", 10.50, 2.0), ("a", 20.00, 3.0), ("b", 5.00, 1.0))
      .toDF("g", "p", "q")
    val vwap = udaf(VwapAggregator)
    val out = df.groupBy("g").agg(vwap($"p", $"q").as("v"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("a") == 16.2)
    assert(out("b") == 5.0)
  }

  test("VwapAggregator: result is bit-identical regardless of partitioning/merge order") {
    val vwap = udaf(VwapAggregator)
    def run(parts: Int): Map[Long, Double] = {
      graft.sources.Tables.load(spark, sfDir, "lineitem")
        .repartition(parts)
        .groupBy((col("l_orderkey") % 7).as("g"))
        .agg(vwap(col("l_extendedprice"), col("l_quantity")).as("v"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    val single = run(1)
    val many = run(16)
    assert(single.keySet == many.keySet)
    // exact integer accumulation => merge order cannot change a single bit
    assert(single.forall { case (k, v) => many(k) == v })
  }

  test("cosine_fast expression matches the HOF composition bit-for-bit") {
    val mismatches = VectorOps.cosineTopKFast(spark, sfDir).as("f")
      .join(VectorOps.cosineTopK(spark, sfDir).as("h"),
        col("f.qid") === col("h.qid") && col("f.rank") === col("h.rank"))
      .filter(col("f.did") =!= col("h.did") || col("f.cos") =!= col("h.cos"))
      .count()
    assert(mismatches == 0)
  }

  test("l2sq_fast expression is bit-identical to the three-fold HOF identity") {
    def hof(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      VectorFns.dot(a, a) + VectorFns.dot(b, b) - lit(2.0) * VectorFns.dot(a, b)
    val e = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("de"))
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("de").as("qe"))
    val mismatches = e.crossJoin(broadcast(q))
      .select(call_function("l2sq_fast", col("de"), col("qe")).as("fast"),
        hof(col("de"), col("qe")).as("slow"))
      .filter(col("fast") =!= col("slow"))
      .count()
    assert(mismatches == 0, "fused loop must reproduce the fold arithmetic exactly")
    // hand-computed: |(1,2)-(3,1)|^2 = 4 + 1 = 5, via 5 + 10 - 2*5
    val v = Seq((Seq(1.0, 2.0), Seq(3.0, 1.0))).toDF("a", "b")
      .select(call_function("l2sq_fast", col("a"), col("b")))
      .head().getDouble(0)
    assert(v == 5.0)
  }

  test("hamming_dist: hand-computed values, null propagation, codegen") {
    val df = Seq[(java.lang.Long, java.lang.Long)](
      (0L, 0L), (0L, 15L), (0b1010L, 0b0101L), (Long.MaxValue, 0L), (null, 3L))
      .toDF("a", "b")
    val out = df.select(expr("hamming_dist(a, b)").as("h")).collect()
      .map(r => if (r.isNullAt(0)) null else r.getInt(0))
    assert(out.toSeq == Seq(0, 4, 4, 63, null))
    // interpreted eval (no codegen) must agree — covers nullSafeEval
    val interp = graft.plans.HammingDistance(
      org.apache.spark.sql.catalyst.expressions.Literal(0b1010L),
      org.apache.spark.sql.catalyst.expressions.Literal(0b0101L)).eval(null)
    assert(interp == 4)
    // codegen check needs a non-local input: a project over a local
    // relation is constant-folded by ConvertToLocalRelation and never
    // enters whole-stage codegen
    val scored = graft.sources.Tables.load(spark, sfDir, "events")
      .select(expr("hamming_dist(event_id, user_id)").as("h"))
    scored.collect()
    val plan = scored.queryExecution.executedPlan.toString
    assert(plan.split("\n").exists(l => l.contains("*(") && l.contains("hammingdistance")))
  }

  test("cosine_fast agrees with VectorFns.cosine on raw pairs and stays in codegen") {
    val e = graft.sources.Tables.load(spark, sfDir, "embeddings").limit(50)
    val pairs = e.select(col("vec_id").as("i"), col("embedding").as("a"))
      .crossJoin(e.select(col("vec_id").as("j"), col("embedding").as("b")))
      .filter(col("i") < col("j"))
    val diff = pairs
      .select(expr("cosine_fast(a, b)").as("fast"), VectorFns.cosine(col("a"), col("b")).as("hof"))
      .filter(col("fast") =!= col("hof"))
      .count()
    assert(diff == 0)
    // the expression must not fall out of whole-stage codegen (inspect the
    // AQE-final executed plan, i.e. after an action has run)
    val scored = pairs.select(expr("cosine_fast(a, b)").as("c"))
    scored.collect()
    // the `*(n)` prefix on Project marks a WholeStageCodegen stage
    val plan = scored.queryExecution.executedPlan.toString
    assert(plan.split("\n").exists(l => l.contains("*(") && l.contains("cosinesimilarity")))
  }
}
