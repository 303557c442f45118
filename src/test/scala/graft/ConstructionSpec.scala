package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Curation, Flagship, TextOps, VectorOps}

/** Building an operator's DataFrame submits no Spark job: schema reads,
  * retriever pools and fusion all stay inside the lazy plan, so the only
  * jobs are the ones the final action plans. The listener lives here:
  * src/main registers none outside `Bench.measure`. */
class ConstructionSpec extends SparkTestBase {

  /** `body`'s value and the number of jobs it submitted. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    org.apache.spark.GraftBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val a = body
      org.apache.spark.GraftBus.drain(sc)
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private val built: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "Curation.curate" -> (Curation.curate _),
    "TextOps.rrfFusion" -> (TextOps.rrfFusion _),
    "TextOps.tfidfTopK" -> (TextOps.tfidfTopK _),
    "VectorOps.embeddingNearDupBlocked" -> (VectorOps.embeddingNearDupBlocked _),
    "Flagship.pipeline" -> ((s: SparkSession, d: String) => Flagship.pipeline(s, d)))

  test("constructing the curation, retrieval, near-dup and flagship operators submits no job") {
    val eager = built.flatMap { case (name, f) =>
      val (_, n) = jobsOf(f(spark, sfDir))
      if (n == 0) None else Some(s"$name: $n")
    }
    assert(eager.isEmpty, s"jobs submitted while building the DataFrame: ${eager.mkString(", ")}")
  }

  test("rrfFusion runs at most 5 jobs per call, construction and collect together") {
    val (rows, n) = jobsOf(TextOps.rrfFusion(spark, sfDir).collect())
    assert(rows.nonEmpty)
    assert(n <= 5, s"rrfFusion ran $n jobs")
  }
}
