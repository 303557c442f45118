package graft

import graft.operators.DedupOps

/** Connected-components convergence contract (round-9 verdict item 5):
  * the min-label propagation loop must PROVE its fixpoint — a component
  * whose diameter exceeds the iteration cap fails loudly instead of
  * returning silently-wrong labels. A path graph is the pathological
  * case: the minimum label travels exactly one hop per round, so a chain
  * of n vertices needs n-1 rounds. */
class CcConvergenceSpec extends SparkTestBase {

  import spark.implicits._

  /** Path graph 1-2-3-...-n as (d1, d2) pairs. */
  private def chain(n: Int) =
    (1L until n.toLong).map(i => (i, i + 1)).toDF("d1", "d2")

  test("chain longer than the round cap fails loudly, not silently wrong") {
    val ex = intercept[IllegalStateException] {
      DedupOps.propagateMinLabels(spark, chain(12), maxIter = 5)
    }
    assert(ex.getMessage.contains("did not reach fixpoint"))
  }

  test("chain within the cap converges to the component-minimum label") {
    val (labels, _) = DedupOps.propagateMinLabels(spark, chain(12), maxIter = 20)
    val out = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.size == 12)
    assert(out.values.forall(_ == 1L), s"every vertex must carry the component min, got $out")
  }

  test("two components each converge to their own minimum") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("d1", "d2")
    val (labels, _) = DedupOps.propagateMinLabels(spark, pairs, maxIter = 20)
    val out = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }
}
