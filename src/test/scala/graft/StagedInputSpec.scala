package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** The staged-input memo (Scratch.staged / Scratch.fresh): a staged input
  * is built once per (session, dir, tag) and is never changed by the
  * queries that read it; builds may nest; concurrent callers share one
  * build; purge forgets every staged input. */
class StagedInputSpec extends SparkTestBase {

  /** Every registered query that reads a staged input (directly, or via
    * a StreamShapes landing or Tables.eventsStream). A new query that
    * stages its input belongs on this list. */
  private val stagingQueries = Seq(
    // StorageOps
    "scan_partition_pruned", "join_bucketed", "scan_range_clustered", "scan_zorder",
    "storage_partition_prune", "scan_dsv2_pushdown", "scan_dsv2_or",
    "join_dsv2_partitioned", "scan_dsv2_since", "call_dsv2_compact", "call_dsv2_expire",
    "scan_dsv2_meta", "delete_dsv2_rewrite", "update_dsv2_rewrite", "merge_dsv2_upsert",
    "delete_dsv2_mor", "scan_dsv2_since_compact", "scan_dsv2_evolved", "update_dsv2_mor",
    "merge_dsv2_mor", "scan_dsv2_asof", "scan_dsv2_asof_retained", "scan_dsv2_chain",
    "scan_dsv2_stats_evolved", "call_dsv2_cluster_multi", "call_dsv2_snapshots",
    "scan_dsv2_stats_pruned", "agg_dsv2_stats", "call_dsv2_cluster", "scan_dsv2_offset",
    "scan_dsv2_topn", "scan_dsv2_agg", "join_dsv2_runtime", "stream_dsv2_sink",
    "stream_dsv2_complete", "stream_dsv2_source", "scan_dsv2_changes",
    "stream_dsv2_changes", "scan_dsv2_changes_u", "scan_dsv2_renamed", "scan_dsv2_branch",
    // StreamShapes
    "stream_dedup", "stream_paced", "stream_user_state", "stream_user_state_tws",
    "stream_incremental", "stream_join", "stream_join_full", "stream_join_outer",
    "stream_sessions", "stream_tumbling", "stream_tumbling_full", "stream_sliding",
    "stream_tumbling_append", "stream_session_append", "stream_merge_upsert",
    "stream_static_join",
    // DedupOps
    "dedup_minhash_clusters", "dedup_cluster_sizes", "dedup_triangles",
    "dedup_degree_hist", "dedup_pagerank", "dedup_kcore", "dedup_incremental_store")

  /** Directories a staged value points at (paths, or tuples of them). */
  private def dirsIn(v: Any): Seq[String] = v match {
    case p: String if new java.io.File(p).isDirectory => Seq(p)
    case t: Product => t.productIterator.flatMap(dirsIn).toSeq
    case _ => Nil
  }

  /** (relative path, size, mtime) of every file under `root`, sorted. */
  private def fingerprint(root: String): Seq[(String, Long, Long)] = {
    val r = Paths.get(root)
    val it = Files.walk(r)
    try it.iterator().asScala.filter(Files.isRegularFile(_)).map { (p: Path) =>
      (r.relativize(p).toString, Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }.toSeq.sorted
    finally it.close()
  }

  test("two executions of every staging query leave each staged directory unchanged") {
    val missing = stagingQueries.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"not registered: $missing")
    def runAll(): Unit = stagingQueries.foreach { q =>
      try SparkEntry.queries(q)(spark, sfDir).collect()
      catch { case e: Throwable => fail(s"$q failed", e) }
    }
    // A query that mutates its staged input during the execution that
    // built it leaves the same mutated state after every later execution,
    // so the pristine state is fingerprinted at build time.
    val atBuild = new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, Long, Long)]]()
    val builds = new AtomicInteger()
    Scratch.purge(spark) // every input below is built under the observer
    Scratch.onBuilt = { v =>
      builds.incrementAndGet()
      dirsIn(v).foreach(d => atBuild.put(d, fingerprint(d)))
    }
    try {
      runAll()
      val dirs = atBuild.keySet.asScala.toSeq.sorted
      assert(dirs.nonEmpty, "no staged directory after the first executions")
      val beforeSecond = dirs.map(d => d -> fingerprint(d)).toMap
      val firstBuilds = builds.get
      runAll()
      assert(builds.get == firstBuilds, "a staged input was rebuilt by a second execution")
      def report(base: String => Seq[(String, Long, Long)]): Seq[String] = dirs.flatMap { d =>
        val now = fingerprint(d)
        if (now == base(d)) None
        else Some(s"$d: ${base(d).diff(now).take(3)} -> ${now.diff(base(d)).take(3)}")
      }
      val sinceBuild = report(atBuild.get)
      assert(sinceBuild.isEmpty,
        s"staged directories changed since their build: ${sinceBuild.mkString("; ")}")
      val bySecond = report(beforeSecond)
      assert(bySecond.isEmpty,
        s"staged directories changed by a second execution: ${bySecond.mkString("; ")}")
    } finally Scratch.onBuilt = _ => ()
  }

  test("a staged build may stage another input") {
    val v = Scratch.staged(spark, "nested", "outer") {
      Scratch.staged(spark, "nested", "inner")("in") + "+out"
    }
    assert(v == "in+out")
    assert(Scratch.staged(spark, "nested", "inner")("rebuilt") == "in")
  }

  test("two threads asking for one key share a single build") {
    val builds = new AtomicInteger()
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val calls = (1 to 2).map { _ =>
        pool.submit(() => {
          go.await()
          Scratch.staged(spark, "concurrent", "once") {
            builds.incrementAndGet()
            Thread.sleep(300)
            new Object
          }
        })
      }
      go.countDown()
      val values = calls.map(_.get(30, TimeUnit.SECONDS))
      assert(builds.get == 1, s"${builds.get} builds for one key")
      assert(values(0) eq values(1))
    } finally pool.shutdownNow()
  }

  test("purge makes the next call rebuild") {
    val builds = new AtomicInteger()
    def get(): String = Scratch.staged(spark, "purged", "tag") {
      builds.incrementAndGet()
      "v"
    }
    get(); get()
    assert(builds.get == 1)
    Scratch.purge(spark)
    get()
    assert(builds.get == 2, "purge did not clear the staged input")
  }
}
