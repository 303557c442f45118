package graft

import org.apache.spark.sql.SparkSession

/** Session factory — the engine's operational knobs in one place.
  *
  * Sizing rationale (SURVEY.md §4 / the 100 TB mandate):
  *  - shuffle partitions = executor threads locally; on a real cluster this
  *    is total-cores x 2-3 as a floor and AQE coalesces upward sizes —
  *    coalescing only ever merges, so over-partitioning is the safe side.
  *  - AQE on everywhere: runtime re-planning (join strategy switch, skew
  *    split, partition coalescing) replaces hand-tuned per-query numbers.
  *  - skew-join handling on explicitly (belt) in addition to
  *    operators.Skew's salting utilities (braces).
  *  - files.maxPartitionBytes stays at the 128m default: with the target
  *    layout (many multi-row-group files) that yields scan tasks that fit
  *    comfortably in executor memory even with wide rows; the fixture
  *    caveat (single-row-group files) is handled by Tables.loadParallel,
  *    not by shrinking this global.
  *  - UTC session timezone is load-bearing for oracle parity.
  */
object Sessions {

  /** Entries in Spark's compiled-class cache (`spark.sql.codegen.cache.maxEntries`,
    * default 100). The cache is keyed by generated source and evicts the
    * least recently used class, so a re-executed plan reuses its classes
    * only if its whole working set fits. A loop over more distinct classes
    * than the cache holds evicts each one just before it is needed again
    * and gets no hits: every execution re-runs Janino on every class, and
    * the JIT compiles the fresh classes again. Working sets measured in
    * Janino compiles into an empty cache:
    *  - one perfbench `llm_curation` iteration (curate, rrfFusion, blocked
    *    near-dup search): 161, so at 100 every timed iteration recompiled
    *    153-154 classes; at 1000 it compiles 0-4 (AQE plan variants);
    *  - one perfbench `flagship_etl` iteration: 23; a `lake_upsert` run:
    *    24, plus 2 new classes per landed batch;
    *  - one `graft.Bench` query at sf0.1, warm run plus timed runs: at most
    *    132 (`emb_ann_recall`); a full pass compiles about 3,300 over 229
    *    queries.
    * The unit that must fit is one query or pipeline, since Bench re-runs
    * one query at a time and a resident driver re-runs one pipeline; 1000
    * holds the largest several times over. The whole Bench pass need not
    * fit. A static conf: `CodeGenerator` reads it once per JVM, from the
    * session active when it is first used (Spark's default if none is), so
    * it goes on the builder; `spark.conf.set` cannot change it. */
  val CodegenCacheEntries: Int = 1000

  /** Local session shaped like the driver harness runs it. */
  def local(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Long many-query sessions (Bench runs 180 queries x 3 executions;
      // a production driver is resident for days): the app-status stores
      // retain 1000 jobs/stages/SQL executions by default even with the UI
      // off, so tracking-store bookkeeping grows all session and every
      // listener-bus event pays for it — round 8's bench showed broad
      // run2 > run1 degradation from exactly this accumulation. Clamp
      // retention to what post-hoc debugging actually uses.
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      // ContextCleaner is GC-driven; a 128 GiB driver heap may not GC for
      // the whole bench, so shuffle files / broadcasts of finished queries
      // pile up. Force the periodic sweep down from the 30min default.
      // (ExplicitGCInvokesConcurrent in build.sbt keeps this sweep from
      // being a stop-the-world full GC.) The sweep itself is a measured
      // noise source: each forced cycle steals cores from whatever query
      // is running (round-10 forensics), so the bench wants it rare.
      // 300s bounds accumulation to ~5 min of finished-query debris — at
      // fixture scale a few MB of shuffle files.
      .config("spark.cleaner.periodicGC.interval", "300s")
      // SESSION CONTRACT: TIMESTAMP(NANOS) parquet (one of the fixture's
      // writer generations) is only readable under this legacy conf, and
      // it must be on BEFORE any such scan. It is session-wide and STICKY
      // by design — Tables.load/normalizeTs own turning the surfaced
      // nanos-long back into canonical timestamps; ad-hoc parquet reads
      // outside Tables.load will surface NANOS columns as raw longs.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    plans.GraftFunctions.ensureRegistered(spark)
    spark
  }

  /** Production builder: same knobs, cluster master/resources come from
    * spark-submit; custom expressions arrive via extensions so SQL-only
    * clients get them too. */
  def productionBuilder(): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new plans.GraftExtensions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // same sticky session contract as local() — see the note there
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
}
