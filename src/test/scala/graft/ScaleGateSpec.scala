package graft

/** Round-11 gate for SCALING.md's central claim: NO SERIAL FUNNEL — no
  * stage that moves real corpus data through one task. The 10x probes in
  * SCALING.md are rerun by hand (ScaleProbe); this spec wires a scaled-
  * down version into `sbt test` so a future funnel regression (a lost
  * repartition, a nullable join key splitting an exchange, a collect-and-
  * rebroadcast creeping into a hot path) fails the suite automatically.
  *
  * The sf0.001 spec fixture is far too small to distinguish a funnel
  * from a bounded-relation aggregate (codebooks, offsets — 1-task by
  * design), so the spec replicates sf0.01 FACTOR-fold with ScaleProbe's
  * character-preserving replica and asserts, over a 3-query sample with
  * distinct shuffle spines (shingle self-join / signature agg+band join /
  * sharded prefix-sum), each run one [[Bench.measure]] of the whole plan:
  *  - no 1-task stage moved more than HEAVY bytes (input + shuffle read);
  *  - at least one stage moved more than HEAVY bytes across MANY tasks —
  *    the non-vacuity guard: if the probe corpus ever shrinks below the
  *    threshold, the spec fails loudly instead of passing emptily.
  */
class ScaleGateSpec extends SparkTestBase {

  /** Spec-scale analog of ScaleProbe's 16 MB threshold, calibrated to the
    * x12 sf0.01 replica. r12 measured the widest multi-task stage at 9 MB
    * (32-char hex-string shingle keys); the round-13 int64-key redesign
    * shrank the same shuffle to 3.3 MB — a direct artifact of the 4x key
    * narrowing — so the threshold recalibrates to 1.5 MB. Bounded-relation
    * 1-task stages remain KB-scale here, so 1.5 MB still separates funnel
    * from machinery by ~3 orders of magnitude. */
  private val HEAVY = 1536L * 1024
  private val FACTOR = 12

  // ngram_jaccard carries the guaranteed-heavy md5-keyed shingle
  // self-join; minhash_pairs is the signature-exchange shape whose reuse
  // regressions round 5 chased; token_budget is the two-phase sharded
  // prefix sum that replaced the round-9 serial clamp.
  private val SAMPLE = Seq("dedup_ngram_jaccard", "dedup_minhash_pairs", "docs_token_budget")

  test("no serial funnel: 1-task stages move no real data on a replicated corpus") {
    // Round-12 advice hardening: the fixture root comes from the shared
    // test config, and an environment without the sf0.01 fixture cancels
    // LOUDLY (scalatest reports the cancellation + reason) instead of
    // failing the suite for a non-funnel reason.
    val base = s"$testDataRoot/sf0.01"
    assume(new java.io.File(base, "documents.parquet").exists(),
      s"sf0.01 fixture absent at $base — scale gate not runnable here")
    // Same path ScaleProbe would build for this (base, factor): one
    // replica serves both the manual probes and this gate (memoized by
    // the _DONE marker — deliberately NOT cleaned up, so repeated `sbt
    // test` runs and hand-run ScaleProbe share one build. Footprint is
    // bounded and small: the x12 sf0.01 replica measures ~5 MB of parquet
    // under /tmp/graft_scale, rebuilt only after a /tmp wipe).
    val out = s"/tmp/graft_scale/sf0.01_x$FACTOR"
    ScaleProbe.replicate(spark, base, out, FACTOR)
    var sawWideHeavy = false
    var widestWide = 0L
    SAMPLE.foreach { name =>
      val fn = SparkEntry.queries(name)
      Bench.measure(spark)(fn(spark, out)).orThrow // warm: codegen + file listing
      val st = Bench.measure(spark)(fn(spark, out)).orThrow.stages.map(g => (g.tasks, g.bytesIn))
      val funnels = st.filter { case (n, b) => n == 1 && b > HEAVY }
      assert(funnels.isEmpty,
        s"$name: serial funnel — 1-task stage(s) moved " +
          s"${funnels.map(_._2 / 1024 / 1024).mkString(", ")} MB")
      widestWide = math.max(widestWide,
        st.collect { case (n, b) if n > 1 => b }.foldLeft(0L)(math.max))
      if (st.exists { case (n, b) => n > 1 && b > HEAVY }) sawWideHeavy = true
    }
    assert(sawWideHeavy,
      s"probe corpus never crossed the ${HEAVY / 1024 / 1024} MB stage " +
        s"threshold (widest multi-task stage: $widestWide bytes) — raise " +
        "FACTOR or recalibrate HEAVY so the funnel assert stays non-vacuous")
  }
}
