package graft

import org.apache.spark.metrics.source.CodegenMetrics
import graft.operators.{Curation, TextOps, VectorOps}

/** A re-executed plan must find its compiled classes in Spark's codegen
  * cache. One pass of the LLM curation operators cycles through more
  * distinct generated classes than the default cache of 100 holds; a
  * least-recently-used cache that small evicts each class before the next
  * pass needs it, and every pass re-runs Janino on all of them. The cache
  * is sized once per JVM by the first session (SparkTestBase sets
  * [[Sessions.CodegenCacheEntries]]), so a JVM sized anywhere else fails
  * here. */
class CodegenCacheSpec extends SparkTestBase {

  /** Classes a second pass may compile: those of a plan variant it has not
    * met yet. AQE re-plans curate's joins from runtime statistics, and a
    * pass that lands on a new variant compiles that variant's classes once
    * (0, 4, 10 or 14 seen at sf0.001; none with AQE off). A pass at the
    * default cache size recompiles about 150. */
  val RecompileAllowance = 20

  private def compiles(body: => Unit): Long = {
    val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0
  }

  private def pass(): Unit =
    Seq(Curation.curate _, TextOps.rrfFusion _, VectorOps.embeddingNearDupBlocked _)
      .foreach(op => op(spark, sfDir).collect())

  /** Empty the JVM's compiled-class cache. Suites share it, so classes an
    * earlier suite compiled would otherwise hide the first pass's compiles.
    * The session is built first: touching `CodeGenerator` before any
    * session exists would size its cache from Spark's defaults. */
  private def emptyCodegenCache(): Unit = {
    spark
    val f = Class.forName("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
      .getDeclaredField("cache")
    f.setAccessible(true)
    val cache = f.get(null)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  test("a second pass of curate, rrfFusion and blocked near-dup reuses its compiled classes") {
    emptyCodegenCache()
    val first = compiles(pass())
    val second = compiles(pass())
    assert(first > 100,
      s"the first pass compiled $first classes, not more than the default cache of 100")
    assert(second <= RecompileAllowance,
      s"the second pass recompiled $second of the first pass's $first classes " +
        s"(allowance $RecompileAllowance): the codegen cache is smaller than the working set")
  }
}
