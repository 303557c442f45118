package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

object Bench {

  /** Cumulative stop-the-world GC time of this JVM, ms. */
  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Cumulative CPU time consumed by this process, ns (-1 if unsupported). */
  private def cpuNanos: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  /** Cumulative JIT compilation time, ms. A ballooned run (same stages,
    * zero spill, flat GC, 5-10x CPU) with a large jit delta is a
    * recompilation/deopt storm — code-cache churn from the session's
    * thousands of generated classes forcing hot methods back through the
    * interpreter. */
  private def jitMillis: Long = {
    val c = java.lang.management.ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else -1L
  }

  /** Cumulative Janino compiles of this JVM: each is a miss in Spark's
    * compiled-class cache (sized in [[Sessions.CodegenCacheEntries]]). A
    * timed run that compiles more than a few classes is re-paying the
    * compile and the JIT's work on the fresh classes. */
  private def codegenCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Host-memory telemetry (round 12, verdict #3): the r11 driver session
    * carried a GC-heavy storm signature (flat jit, 9-20 s GC, 50-60x CPU,
    * identical stages) that matches neither fixed in-JVM mechanism and is
    * plausibly host memory pressure during that window. Sample the host's
    * view once per timed run so the artifact can adjudicate: a storm with
    * collapsing MemAvailable / rising memory-PSI is the host, not the
    * session. -1 where the proc file is absent (non-Linux / no PSI). */
  private def memAvailableMb: Long =
    try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().collectFirst {
        case l if l.startsWith("MemAvailable:") => l.trim.split("\\s+")(1).toLong / 1024
      }.getOrElse(-1L)
      finally src.close()
    } catch { case _: Throwable => -1L }

  private def memPsiSome10: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/pressure/memory")
      try src.getLines().collectFirst {
        case l if l.startsWith("some") =>
          l.split("\\s+").collectFirst {
            case kv if kv.startsWith("avg10=") => kv.drop(6).toDouble
          }.getOrElse(-1.0)
      }.getOrElse(-1.0)
      finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Every query Bench can time: the registry plus the bench-only sketch
    * variants, which measure the sketch-path plan shape that the
    * oracle-checkable registered forms no longer exercise. */
  val benchable: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries ++ BenchOnly.queries

  /** The positional basis of the q_cs tail line: benchable registry names
    * in ascending order. ContractSpec pins the artifact contract against
    * this (round-12 verdict #5) so a registry insertion cannot silently
    * shift the positional map. */
  def registryNamesSorted: Seq[String] = benchable.keys.toSeq.sorted

  /** One measured run: this JVM's deltas over it and the stages it
    * completed. `wallS` is the elapsed time even when the run threw;
    * `error` says whether it did. -1 where the JVM does not report CPU or
    * JIT time. */
  private[graft] final case class Run(wallS: Double, gcMs: Long, cpuS: Double,
      jitMs: Long, codegenN: Long, stages: Seq[StageLog.Stage], error: Option[Throwable]) {
    /** This run, or its error rethrown. */
    def orThrow: Run = { error.foreach(e => throw e); this }
  }

  /** Times `build` plus a noop write of the result: the whole optimized
    * plan, as Verify and perfbench run it, writing nothing. A `count()`
    * would let Catalyst prune the final sort, every unused column and the
    * joins that cannot change the row count. The run's [[StageLog]] is
    * read after the clock stops and the listener bus has drained, so no
    * stage of the run is missed. */
  private[graft] def measure(spark: SparkSession)(build: => DataFrame): Run = {
    val sc = spark.sparkContext
    val log = new StageLog
    sc.addSparkListener(log)
    try {
      val j0 = jitMillis; val g0 = gcMillis; val c0 = cpuNanos; val n0 = codegenCount
      val t0 = System.nanoTime()
      val error =
        try { build.write.format("noop").mode("overwrite").save(); None }
        catch { case e: Throwable => Some(e) }
      val run = Run((System.nanoTime() - t0) / 1e9, gcMillis - g0,
        if (c0 < 0) -1.0 else (cpuNanos - c0) / 1e9,
        if (j0 < 0) -1L else jitMillis - j0, codegenCount - n0, Nil, error)
      org.apache.spark.GraftBus.drain(sc)
      run.copy(stages = log.snapshot())
    } finally sc.removeSparkListener(log)
  }

  private def fmt(v: Double) =
    if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.4f", v)

  /** q_cs encoder, factored out so ContractSpec can round-trip it:
    * q_cs[i] = best wall of the i-th name-sorted query, centiseconds,
    * -1 = failed. */
  def qcsJson(best: Seq[(String, Double)]): String =
    best.map { case (_, v) =>
      if (v < 0) "-1" else math.round(v * 100).toString
    }.mkString("[", ",", "]")

  /** Storm-suspect predicate, factored out so ContractSpec can pin
    * the thresholds: a measurement is deferred when its best wall exceeds
    * STORM_RATIO x the clean reference AND sits more than STORM_ABS_S
    * above it (the absolute floor keeps sub-second queries, where 5x is
    * noise, out of the retry loop; r11's real storms were 20-60x over
    * band). No reference => detection disabled for that query. */
  private[graft] val STORM_RATIO = 5.0
  private[graft] val STORM_ABS_S = 2.0
  private[graft] def isStormSuspect(best: Double, ref: Option[Double]): Boolean =
    ref.exists(r => best >= 0 && best > STORM_RATIO * r && best - r > STORM_ABS_S)

  /** Session-drift factor (round-13, r12 verdict #3): the median
    * best/reference ratio across every query with a clean-band anchor and
    * a successful best. The host drifts uniformly (~1.45x in the r12
    * driver session vs local clean runs), so per-query ratios read raw
    * overstate regressions; dividing by this median lets the artifact's
    * reader see per-query ratios net of the session-wide slowdown. -1 when
    * no reference is loaded. Median (not mean) so a handful of genuine
    * storms cannot move the normalizer. */
  private[graft] def sessionDrift(
      best: Seq[(String, Double)], ref: Map[String, Double]): Double = {
    val ratios = best.collect {
      case (n, v) if v > 0 && ref.get(n).exists(_ > 0) => v / ref(n)
    }.sorted
    if (ratios.isEmpty) -1.0
    else if (ratios.size % 2 == 1) ratios(ratios.size / 2)
    else (ratios(ratios.size / 2 - 1) + ratios(ratios.size / 2)) / 2
  }

  /** Non-deferring drift outliers (round-13, closes r12 "What's wrong" #1):
    * queries whose best exceeds DRIFT_OUTLIER_RATIO x reference NET OF the
    * session drift factor, with NO absolute floor — the deferral loop's
    * 2 s floor deliberately ignores sub-second queries (5x there is noise
    * worth zero retry churn), but a genuine 5x regression on a 0.2 s query
    * should still be visible in the artifact. These are LISTED, never
    * deferred; adjudicate by running one `graft.Bench <query...>` subset
    * list on both trees and comparing the two (a subset run reads slower
    * than the same query inside a larger run, so never compare it with a
    * full session). */
  private[graft] val DRIFT_OUTLIER_RATIO = 5.0
  private[graft] def driftOutliers(
      best: Seq[(String, Double)], ref: Map[String, Double], drift: Double): Seq[String] =
    if (drift <= 0) Seq.empty
    else best.collect {
      case (n, v) if v > 0 && ref.get(n).exists(r => r > 0 && v > DRIFT_OUTLIER_RATIO * r * drift) => n
    }

  /** Stale-anchor detector (round-13, r12 verdict #5): a reference entry
    * more than STORM_RATIO x ABOVE the session best (same absolute floor
    * as the storm predicate, mirrored) means the committed clean band is
    * slower than reality — a legitimate >5x plan-cost improvement whose
    * author forgot to regenerate bench_reference.json in the same commit.
    * The symptom of a too-SLOW anchor elsewhere is wasted retry runs and a
    * spurious suspect flag, so the bench tail nags to regenerate. */
  private[graft] def staleRefs(
      best: Seq[(String, Double)], ref: Map[String, Double]): Seq[String] =
    best.collect {
      case (n, v) if v > 0 && ref.get(n).exists(r => r > STORM_RATIO * v && r - v > STORM_ABS_S) => n
    }

  /** Storm-detector anchor (round-12 verdict #1): per-query best seconds
    * from a committed clean full-registry local run (bench_reference.json,
    * regenerated from each round's cleanest BENCH_LOCAL). Parsed with a
    * regex so the bench stays dependency-free; the file is a flat
    * {"name":seconds} map. Missing file or entry => detection disabled for
    * that query (new queries simply aren't deferred until the reference is
    * regenerated). */
  private[graft] def loadReference(path: String): Map[String, Double] = {
    val m =
      try {
        val text = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8)
        """"([A-Za-z0-9_]+)"\s*:\s*([0-9]+(?:\.[0-9]+)?)""".r
          .findAllMatchIn(text).map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case _: Throwable => Map.empty[String, Double] }
    // r13 ADVICE fix: a typo'd GRAFT_BENCH_REF or malformed file used to
    // silently disable storm detection for the whole session. An empty
    // load now warns loudly, and the emitted JSON carries reference_n so
    // the artifact itself records whether detection was armed.
    if (m.isEmpty)
      System.err.println(s"[bench] WARNING: reference '$path' yielded 0 entries - " +
        "storm detection and drift normalization are DISABLED for this session")
    m
  }

  /** Mutable per-query record; retry runs at session end append to the
    * same arrays, so the artifact keeps every sample (a storm run stays
    * visible even after a clean retry replaces it as the best). */
  private final class Rec(val warm: Run) {
    val runs = scala.collection.mutable.ArrayBuffer.empty[Run]
    /** Wall per timed run, -1 for a run that threw. */
    def wall: Seq[Double] = runs.map(r => if (r.error.isEmpty) r.wallS else -1.0).toSeq
    val memMb = scala.collection.mutable.ArrayBuffer.empty[Long]
    val psi = scala.collection.mutable.ArrayBuffer.empty[Double]
    var retries = 0
    /** Count of runs BEFORE the first deferred retry (-1 = no retries yet,
      * all runs are primary). Set once when a retry pass first touches this
      * record, so the primary/retry split survives both passes. */
    var primaryRuns = -1
    private def primary = if (primaryRuns < 0) wall else wall.take(primaryRuns)
    private def retriesOnly =
      if (primaryRuns < 0) Seq.empty[Double] else wall.drop(primaryRuns).toSeq
    /** r13 ADVICE fix: ANY failed PRIMARY run -> -1 (an intermittently-
      * broken query must show up in nfailed, not contribute its fastest
      * lucky run) — but a failure during a DEFERRED RETRY pass must not
      * hide a query whose primary runs all succeeded: retries exist to
      * heal storm-window measurements and add failure exposure precisely
      * for queries already in a storm window. Retry failures are excluded
      * from the rule and surfaced separately via retryFailures. */
    def bestWall: Double = {
      if (primary.exists(_ < 0)) -1.0
      else {
        val ok = primary ++ retriesOnly.filter(_ >= 0)
        if (ok.isEmpty) -1.0 else ok.min
      }
    }
    def retryFailures: Int = retriesOnly.count(_ < 0)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    // Optional args = run only these queries (local iteration aid; the
    // driver passes none and benches everything).
    val selected: Seq[String] =
      if (args.isEmpty) benchable.keys.toSeq
      else benchable.keys.filter(args.toSet).toSeq
    // Steady-state measurement: each run is one `measure` of the query's
    // whole plan. Run each query once untimed (pays one-off
    // whole-stage-codegen compilation + file listing, both cached by Spark),
    // then time TIMED_RUNS further executions and report the MIN — the
    // figure that scales with data volume rather than with plan complexity
    // or host noise. JVM warmup is covered by the warm pass itself.
    // A throwing query records -1 (NOT its elapsed time) so broken queries
    // are visible in the bench JSON instead of polluting the total.
    //
    // Round-10 hardening (BENCH_r09's 9.8s->79.6s run2 outlier): the two
    // timed runs grow adaptively up to MAX_RUNS while the two FASTEST runs
    // disagree by >2x (and >0.2s absolute) — a transient host stall then
    // costs one extra cheap run instead of poisoning the reported best.
    //
    // Round-12 hardening (BENCH_r11's four sustained storms, 215.8 s of a
    // 391 s total for ~6 s of real work): the adaptive loop keys on
    // run-to-run VARIANCE, so a storm that spans BOTH timed runs looks
    // stable and is reported as the query's honest cost. The new deferral
    // layer compares the best against a committed clean local band
    // (bench_reference.json) and, when best > STORM_RATIO x reference
    // (+2 s absolute), RE-RUNS the query at session end — minutes later,
    // typically outside the storm window. All samples stay in the arrays;
    // a query still slow after two retry passes is reported at its slow
    // value AND listed in "storm_suspect", so a genuine regression is
    // never hidden (adjudicate those by running one `graft.Bench <query...>`
    // subset list on both trees and comparing the two; a subset reads
    // slower than the same query inside a larger run).
    val TIMED_RUNS = 2
    val MAX_RUNS = 4
    val reference = loadReference(
      sys.env.getOrElse("GRAFT_BENCH_REF", "bench_reference.json"))

    val recs = scala.collection.mutable.LinkedHashMap.empty[String, Rec]

    def timedRun(name: String, rec: Rec): Unit = {
      rec.memMb += memAvailableMb
      rec.psi += memPsiSome10
      rec.runs += measure(spark)(benchable(name)(spark, sfDir))
    }

    def stormSuspect(name: String, rec: Rec): Boolean =
      isStormSuspect(rec.bestWall, reference.get(name))

    val deferred = scala.collection.mutable.ArrayBuffer.empty[String]
    selected.foreach { name =>
      val rec = new Rec(measure(spark)(benchable(name)(spark, sfDir)))
      recs(name) = rec
      // JIT-drain barrier (round 11): the warm pass queues C2 compilation
      // of the plan's freshly generated classes, and a first timed run
      // that starts while the queue drains executes deoptimized code — the
      // measured first-timed-run balloon signature (2-5x wall, elevated
      // jit_ms, absorbed only by the adaptive extra runs). When the warm
      // pass compiled enough to matter (>300ms), wait until compilation
      // time stops advancing (<=20ms over 200ms) before timing, 3s cap.
      if (rec.warm.jitMs > 300) {
        val deadline = System.nanoTime() + 3L * 1000 * 1000 * 1000
        var last = jitMillis
        var stable = false
        while (!stable && System.nanoTime() < deadline) {
          Thread.sleep(200)
          val now = jitMillis
          stable = now - last <= 20
          last = now
        }
      }
      (1 to TIMED_RUNS).foreach(_ => timedRun(name, rec))
      def unstable: Boolean = {
        val ok = rec.wall.filter(_ >= 0).sorted
        ok.length >= 2 && ok(1) > 2 * ok(0) && ok(1) - ok(0) > 0.2
      }
      while (rec.wall.size < MAX_RUNS && rec.wall.forall(_ >= 0) && unstable)
        timedRun(name, rec)
      if (stormSuspect(name, rec)) {
        deferred += name
        System.err.println(s"[bench] $name best ${fmt(rec.bestWall)}s > " +
          s"${STORM_RATIO}x reference ${fmt(reference(name))}s - deferring re-run to session end")
      }
    }

    // Deferred retry passes: pass 1 gives each storm-suspect query two more
    // runs minutes after its contaminated window; anything STILL suspect
    // gets one further run in pass 2 (the storm may outlast pass 1). The
    // final best is min over ALL runs, so a retry can only heal, never
    // hide: a genuinely-regressed query stays slow and stays listed.
    var pending = deferred.toList
    var pass = 0
    while (pending.nonEmpty && pass < 2) {
      pass += 1
      val runsThisPass = if (pass == 1) 2 else 1
      pending = pending.filter { name =>
        val rec = recs(name)
        if (rec.primaryRuns < 0) rec.primaryRuns = rec.wall.size
        (1 to runsThisPass).foreach(_ => timedRun(name, rec))
        rec.retries += runsThisPass
        val still = stormSuspect(name, rec)
        System.err.println(s"[bench] retry pass $pass: $name best now " +
          s"${fmt(rec.bestWall)}s${if (still) " - STILL suspect" else " - healed"}")
        still
      }
    }
    val stillSuspect = pending

    // Emission is SORTED BY NAME (execution order above is registry order):
    // the compact final line below carries per-query seconds POSITIONALLY,
    // so the name order must be reconstructible from the registry alone —
    // "sorted ascending" is the one order that is.
    val ordered = recs.toSeq.sortBy(_._1)
    val best = ordered.map { case (k, r) =>
      // ANY failed run -> -1: an intermittently-broken query must show up
      // in nfailed, not contribute its fastest lucky run to the total
      k -> r.bestWall
    }
    // Artifact-contract guard (round-12 verdict #5): on a full-registry run
    // the emitted name order must BE the name-sorted registry, or every
    // positional consumer of q_cs silently misattributes.
    if (args.isEmpty)
      require(best.map(_._1) == registryNamesSorted,
        "emission order diverged from the name-sorted registry")
    def jmap(f: ((String, Rec)) => String) =
      ordered.map(kv => s"\"" + kv._1 + "\":" + f(kv)).mkString("{", ",", "}")
    val qs = best.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    def perRun(f: Run => Any) = jmap { case (_, r) => r.runs.map(f).mkString("[", ",", "]") }
    val rs = jmap { case (_, r) => r.wall.map(fmt).mkString("[", ",", "]") }
    val gs = perRun(_.gcMs)
    val cs = perRun(r => fmt(r.cpuS))
    val ss = perRun(_.stages.size)
    val ps = perRun(_.stages.map(_.spilledBytes).sum / (1024 * 1024))
    val js = perRun(_.jitMs)
    val ns = perRun(_.codegenN)
    val wn = jmap { case (_, r) => r.warm.codegenN.toString }
    val ws = jmap { case (_, r) => fmt(r.warm.wallS) }
    val wc = jmap { case (_, r) => fmt(r.warm.cpuS) }
    val hm = jmap { case (_, r) => r.memMb.mkString("[", ",", "]") }
    val hp = jmap { case (_, r) => r.psi.map(fmt).mkString("[", ",", "]") }
    val defJson = deferred.map(n => s"\"" + n + "\":" + recs(n).retries)
      .mkString("{", ",", "}")
    val suspectJson = stillSuspect.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = best.collect { case (_, v) if v >= 0 => v }.sum
    // Session-drift normalization + outliers (round 13): recorded in the
    // artifact so per-query ratios are readable net of uniform host drift.
    val drift = sessionDrift(best, reference)
    val outliers = driftOutliers(best, reference, drift)
    val stale = staleRefs(best, reference)
    // drift_n = ratios behind the median (round-13 review): on a small
    // subset run the drift SELF-normalizes — a lone 10x-regressed query
    // defines the median, reads as "host drift", and can never be its own
    // outlier — so the artifact must carry the sample size for the reader
    // to discount it (full-registry runs have ~190; treat n < ~20 drift
    // values as descriptive, not normalizing).
    val driftN = best.count { case (n, v) => v > 0 && reference.get(n).exists(_ > 0) }
    // Retry-pass failures (round-13 ADVICE): excluded from bestWall's
    // any-primary-failure->-1 rule, surfaced here instead so a flaky
    // retry is visible without hiding the query from the total.
    val retryFailJson = ordered.collect {
      case (k, r) if r.retryFailures > 0 => s"\"" + k + "\":" + r.retryFailures
    }.mkString("{", ",", "}")
    if (stale.nonEmpty)
      System.err.println(s"[bench] STALE REFERENCE for ${stale.mkString(", ")}: " +
        s"best is >${STORM_RATIO}x UNDER the committed band - regenerate bench_reference.json " +
        "from this round's cleanest full local run")
    if (stillSuspect.nonEmpty)
      System.err.println("[bench] storm_suspect nonempty at session end: adjudicate by " +
        "running one `graft.Bench <query...>` subset list on the parent tree and on this " +
        "one; if the two agree, the anchor is stale - regenerate bench_reference.json from " +
        "a full run. A subset reads slower than the same query inside a larger run, so " +
        "compare subset with subset only")
    val full =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"runs":$rs,"gc_ms":$gs,"cpu_s":$cs,"stages":$ss,"spill_mb":$ps,"jit_ms":$js,"codegen_n":$ns,"warm_s":$ws,"warm_cpu_s":$wc,"codegen_warm_n":$wn,"host_mem_mb":$hm,"psi_some10":$hp,"deferred":$defJson,"storm_suspect":$suspectJson,"retry_failed":$retryFailJson,"reference_n":${reference.size},"session_drift":${fmt(drift)},"drift_n":$driftN,"drift_outliers":${outliers.map("\"" + _ + "\"").mkString("[", ",", "]")},"ref_stale":${stale.map("\"" + _ + "\"").mkString("[", ",", "]")},"written_at_ms":${System.currentTimeMillis()},"sf":"$sfDir"}"""
    println(full)
    // Self-contained artifact: the full per-query JSON also lands in
    // bench_out.json next to the repo, so post-hoc analysis never depends
    // on how much of the stdout line a log capture kept.
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_out.json"), full + "\n")
    catch { case _: Throwable => () } // a read-only CWD must not fail the bench
    // Compact summary LAST — it must fit entirely inside a 2000-char
    // stdout TAIL capture (the driver's bench record), which rounds 9-10
    // proved truncates the big line above mid-telemetry. A NAMED per-query
    // map cannot fit (186 query names alone are ~2.8k chars), so the
    // seconds ride along POSITIONALLY: q_cs[i] = best wall of the i-th
    // registry query in ascending name order, in centiseconds (-1 =
    // failed). ~1.3k chars total for 186 queries, so the tail always
    // retains the full per-query record plus the parseable total.
    // Round-12 advice fix: on a SUBSET run (explicit args) the positions
    // would map to the selection, not the registry — a consumer decoding
    // against the full registry would silently misattribute. Subset runs
    // are small, so they emit a NAMED map instead.
    val tail =
      if (args.isEmpty)
        s""""q_cs":${qcsJson(best)},"q_cs_doc":"best wall per query, centiseconds, queries sorted by name asc (names: bench_out.json or Bench.benchable)""""
      else
        s""""subset":true,"q_named":$qs"""
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","nqueries":${best.size},"nfailed":${best.count(_._2 < 0)},"ndeferred":${deferred.size},"nsuspect":${stillSuspect.size},"session_drift":${fmt(drift)},"drift_n":$driftN,"ndrift_outliers":${outliers.size},"nref_stale":${stale.size},$tail,"sf":"$sfDir"}""")
    Scratch.purge(spark)
    spark.stop()
  }
}
