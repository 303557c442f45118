package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{TextFns, VectorFns}
import graft.sources.Tables

/** [EXT] Near-duplicate detection over `documents` (SURVEY.md §2.10 L2x):
  * MinHash + LSH banding, exact n-gram Jaccard on candidate pairs, and
  * SimHash fingerprints. Exact content dedup is docs_fingerprint in TextOps.
  *
  * Design for 100 TB:
  *  - Never all-pairs: candidates come only from equi-joins (shared shingle
  *    for Jaccard, shared band key for MinHash) — hash shuffles, linear in
  *    corpus + candidate volume, no quadratic stage anywhere. Hot shingles
  *    are df-capped (MAX_SHINGLE_DF) before the self-join, so no single
  *    key can fan out quadratically either.
  *  - The MinHash signature is a fixed K=12 hashes -> constant state per doc;
  *    banding (4 bands x 3 rows) turns near-dup search into GROUP BY.
  *  - Portable hashing: md5 (identical in DuckDB) instead of engine hash
  *    functions, so the oracle reproduces every signature bit-for-bit.
  *  - INTEGER keys everywhere hot (round 13): md5 is computed ONCE per
  *    (doc, shingle) and its hex prefix parsed to a BIGINT; the K minhash
  *    values derive from that base by affine permutations
  *    (A_k*h + B_k) mod P in pure 64-bit arithmetic — the same
  *    one-base-hash family MLlib's MinHashLSH uses. Join/group/agg keys
  *    (minhash values, band keys, shingle keys, span keys) are all 8-byte
  *    longs instead of 32..96-char hex strings: 12x fewer md5 calls on the
  *    dominant stage, primitive comparisons in every shuffle, and no
  *    per-comparison string allocation (the NOTES-documented GC constant
  *    that grew with heap occupancy). Domain audit (the round-11 lesson —
  *    quadratic buckets come from SMALL band-value domains): band keys
  *    live in a 2^60 domain (md5-prefix of the 3-value band string), far
  *    above any corpus cardinality; minhash values live in [0, 2^31-1)
  *    (standard for the affine family; MLlib's prime is also < 2^31), and
  *    bucket identity needs all BANDROWS of them to agree.
  */
object DedupOps extends QueryModule {

  private val K = 12       // minhash signature length
  private val BANDROWS = 3 // rows per LSH band -> 4 bands

  /** Affine-permutation minhash family: mh_k = (A_k*h + B_k) mod MH_P over
    * the 32-bit md5-prefix base hash h. MH_P = 2^31-1 (prime); A_k < 2^20
    * keeps A_k*h < 2^52, so the product can overflow in NEITHER engine
    * (DuckDB errors on BIGINT overflow rather than wrapping — silent-wrap
    * arithmetic would not be oracle-portable). A_k are primes (coprime to
    * MH_P, so each permutation is a bijection on residues); B_k primes
    * below MH_P. */
  private[graft] val MH_P = 2147483647L
  private[graft] val MH_A: Seq[Long] = Seq(
    999983L, 838091L, 735307L, 623171L, 524287L, 438199L,
    350377L, 262139L, 174763L, 131071L, 86243L, 45007L)
  private[graft] val MH_B: Seq[Long] = Seq(
    15551L, 799999L, 1299709L, 15485863L, 32452843L, 49979687L,
    67867967L, 86028121L, 104395301L, 122949823L, 141650939L, 160481183L)

  /** 60-bit BIGINT key from the first 15 hex chars of md5 — the portable
    * integer replacement for hex-string join keys (round 13). 15 chars
    * (not 16) so the value stays below 2^60 < Long.MaxValue in both
    * engines. DuckDB twin: CAST(('0x' || substring(md5(e), 1, 15)) AS
    * BIGINT). Collision odds at 2^-60 per pair are the same argument the
    * full-md5 key already leaned on, and any collision would be IDENTICAL
    * in the oracle, preserving parity. */
  private[graft] def hex60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")
  private def hex60Sql(e: String): String =
    s"CAST(('0x' || substring(md5($e), 1, 15)) AS BIGINT)"

  /** 32-bit base hash for the minhash family (first 8 hex chars). */
  private def hex32(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 8), 16, 10).cast("long")
  private def hex32Sql(e: String): String =
    s"CAST(('0x' || substring(md5($e), 1, 8)) AS BIGINT)"
  /** Document-frequency cap for the exact-Jaccard candidate join: a shingle
    * appearing in more than this many documents is dropped BEFORE the
    * self-join. Without it, one boilerplate 5-gram in 10⁶ documents yields
    * 10¹² candidate pairs on a single key — a quadratic hot spot AQE can
    * split but not shrink. Ubiquitous shingles carry ~no Jaccard signal, so
    * the cap is the standard fix. 64 is far above the fixture's max df
    * (3 at sf0.01, 4 at sf0.1), so fixture results are unchanged; the
    * DuckDB twin applies the identical cap. */
  private[operators] val MAX_SHINGLE_DF = 64

  /** (doc_id, shingle) distinct pairs. loadParallel: shingling + md5
    * signatures are the heavy narrow stage (see Tables.loadParallel).
    *
    * doc_id is COALESCED to a sentinel (never hit — the fixture column has
    * no nulls, and a null id has no meaningful dedup identity anyway) so
    * the attribute is NON-NULLABLE: the signature relation feeds three
    * consumers (bands + both sides of the estimate join), and with a
    * nullable doc_id the joins push `isnotnull(doc_id)` into the s1/s2
    * branches but not the bands branch — canonically unequal subtrees, so
    * ReuseExchange recomputed the dominant md5 minhash aggregate once PER
    * CONSUMER (the round-5 nullable-join-key lesson, same as VectorOps's
    * chunk key). Non-nullable, the isnotnull is constant-folded away and
    * all consumers share one exchange. */
  private def shingleRows(s: SparkSession, dir: String): DataFrame =
    Tables.loadParallel(s, dir, "documents")
      .select(coalesce(col("doc_id"), lit(Long.MinValue)).as("doc_id"),
        explode(TextFns.shingles(TextFns.tokens(col("text")))).as("shingle"))

  /** WIDE signature: one row per document, columns mh0..mh{K-1} — each the
    * min over the document's shingles of one affine permutation of the
    * 32-bit base hash. One groupBy(doc_id) with K min-aggregates replaces
    * the former explode(K) + groupBy(doc_id, k) shape: no K-fold row
    * blow-up, one md5 per (doc, shingle) instead of K, primitive agg
    * state, and the downstream estimate join touches ONE row per doc
    * instead of K (round 13). */
  private def signature(s: SparkSession, dir: String): DataFrame = {
    val base = shingleRows(s, dir).select(col("doc_id"), hex32(col("shingle")).as("h"))
    val mins = (0 until K).map(k =>
      min((lit(MH_A(k)) * col("h") + lit(MH_B(k))) % MH_P).as(s"mh$k"))
    base.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** Sharing of the signature relation across its in-plan consumers (bands
    * + both sides of the estimate join) is left to ReuseExchange/AQE stage
    * reuse: every consumer sits downstream of the IDENTICAL partial-agg
    * exchange on (doc_id, k), so the md5 minhash shuffle is computed once
    * per query and its output read by each consumer. No explicit
    * materialization: round 3's session cache silently turned bench runs
    * into cache hits, and round 4's per-call localCheckpoint pinned blocks
    * with no unpersist AND forfeited lineage (one lost executor fails a
    * 100 TB run; shuffle-stage reuse keeps recomputability). At scale a
    * curation run persists its signature store as an explicit table. */

  private val shingleRowsSql =
    """SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks)-3),
      |    i -> array_to_string(toks[i:i+4], ' ')))) AS shingle
      |FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents)""".stripMargin

  private val signatureSql = {
    val mins = (0 until K).map(k =>
      s"MIN((${MH_A(k)} * h + ${MH_B(k)}) % $MH_P) AS mh$k").mkString(",\n  ")
    s"""SELECT doc_id,
      |  $mins
      |FROM (SELECT doc_id, ${hex32Sql("shingle")} AS h FROM ($shingleRowsSql))
      |GROUP BY doc_id""".stripMargin
  }

  /** Bucket-size cap for the PAIRWISE band self-join: a cluster of n
    * identical documents shares identical band keys in ALL bands, so the
    * uncapped self-join emits n²/2 candidate pairs on one key — the band
    * analog of the shingle hot-spot MAX_SHINGLE_DF fixes. Pair OUTPUT is
    * inherently quadratic in cluster size, so buckets above the cap are
    * dropped from the pairwise query (their members are still caught by
    * the loser-set formulation below, whose output is linear). 64 is far
    * above the fixture's max bucket size; the DuckDB twin applies the
    * identical cap. */
  private[operators] val MAX_BAND_BUCKET = 64

  // ------------------------------------------------------------------
  // MinHash + LSH: band signatures, bucket-join candidates, then estimate
  // similarity as the fraction of matching signature positions.
  // ------------------------------------------------------------------

  /** (doc_id, b, band_key): each document's LSH band keys. band_key is the
    * 60-bit md5-prefix BIGINT of the band's BANDROWS minhash values joined
    * with '_' — one md5 per (doc, band), 8-byte bucket keys in a 2^60
    * domain (vs the former 96-char hex concat). Computed by a single
    * projection over the wide signature (posexplode of a 4-element array
    * literal): no aggregate, no collect_list, and b/band_key are
    * NON-NULLABLE by construction (lit + md5-of-concat_ws), so the bands/
    * bucket-cap/reps joins cannot push isnotnull filters below the shared
    * signature aggregate and break exchange reuse (the round-5 lesson). */
  private def bandsOf(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until K / BANDROWS).map { b =>
      val bandStr = concat_ws("_",
        (0 until BANDROWS).map(r => col(s"mh${b * BANDROWS + r}").cast("string")): _*)
      struct(lit(b.toLong).as("b"), hex60(bandStr).as("band_key"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.b").as("b"), col("bb.band_key").as("band_key"))
  }

  /** Signature-match fraction between two aliased wide signatures: the
    * est_jaccard column expression shared by the pairwise and loser
    * queries. A row-local sum of K primitive comparisons — no aggregate
    * at all (the former (doc_id, k, mh) shape needed a K-row groupBy
    * here; the wide shape reads ONE row per side). */
  private def estJaccard(s1: String, s2: String): Column =
    ((0 until K).map(k =>
      when(col(s"$s1.mh$k") === col(s"$s2.mh$k"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / K).as("est_jaccard")

  /** Pairwise core over a WIDE (doc_id, mh0..mh{K-1}) signature relation —
    * factored out so specs can drive it with a synthetic identical-doc
    * cluster. The bucket cap (aggregate + semi-join, map-side partial
    * counts) runs BEFORE the self-join, so no bucket can fan out
    * quadratically. */
  private[graft] def minhashPairsOf(sig: DataFrame): DataFrame = {
    val bands0 = bandsOf(sig)
    val keepBuckets = bands0.groupBy(col("b"), col("band_key"))
      .agg(count(lit(1)).as("bdf"))
      .filter(col("bdf") <= MAX_BAND_BUCKET)
      .select(col("b"), col("band_key"))
    val bands = bands0.join(keepBuckets, Seq("b", "band_key"), "left_semi")
    val cand = bands.as("x").join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    cand.join(sig.as("s1"), col("d1") === col("s1.doc_id"))
      .join(sig.as("s2"), col("d2") === col("s2.doc_id"))
      .select(col("d1"), col("d2"), estJaccard("s1", "s2"))
      .orderBy(col("d1"), col("d2"))
  }

  def minhashPairs(s: SparkSession, dir: String): DataFrame =
    minhashPairsOf(signature(s, dir))

  // ------------------------------------------------------------------
  // Duplicate CLUSTERS: connected components over the near-dup pair graph
  // (est_jaccard >= 0.9), labeled by component-minimum doc_id — the
  // canonical transitive-closure formulation of corpus dedup (A~B, B~C =>
  // one cluster even if A,C never pair). Iterative min-label propagation:
  // each round every vertex takes the min of its own and its neighbors'
  // labels; fixpoint = component minimum. The edge set AND each round's
  // labels are materialized to registered scratch parquet — an iterative
  // algorithm needs a lineage cut per round (without one, round k's plan
  // AND its convergence probe replay all k-1 earlier rounds: O(k²) stages,
  // measured 2x the whole query's cost at fixture scale), and an explicit
  // file (recomputable, purged by Scratch) is the fault-tolerant form of
  // that cut, unlike pinned blocks or a localCheckpoint.
  // Scale: every round is one key-only shuffle (join on vertex id) plus a
  // label-file write that is tiny relative to the corpus; round count is
  // the component diameter (near-dup clusters are star-shaped around
  // bucket reps — 2-3 rounds), with a hard cap as a safety rail.
  // ------------------------------------------------------------------
  /** The >= 0.9 minhash near-dup edge set (d1 < d2), a staged input of the
    * six graph queries (clusters, cluster sizes, triangles, degree
    * histogram, PageRank, k-core): a pure function of the documents,
    * written once per (session, dir) to scratch parquet, so each graph
    * query times its own graph algorithm rather than a replay of the
    * shingle/signature/band pipeline. It doubles as the clustering's first
    * lineage cut. */
  private def edgesParquet(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(graft.Scratch.staged(s, dir, "dedup_edges") {
      val p = graft.Scratch.dir("graft_dedup_edges")
      minhashPairs(s, dir).filter(col("est_jaccard") >= 0.9)
        .select(col("d1"), col("d2"))
        .write.parquet(p)
      p
    })

  /** Min-label propagation to FIXPOINT over an undirected (d1, d2) pair
    * relation; returns the final (v, label) relation plus the scratch-
    * parquet path backing it. Factored out of [[minhashClusters]] so specs
    * can drive it with synthetic pathological graphs.
    *
    * Convergence is PROVEN, not assumed: the loop checks the labels-
    * unchanged fixpoint each round (a tiny parquet-vs-parquet join), and
    * if `maxIter` rounds pass without reaching it the call FAILS LOUDLY
    * instead of returning silently-wrong partial labels (round-9 verdict:
    * a pathological chain component longer than the cap would otherwise
    * mislabel without any signal). Near-dup graphs are star-shaped around
    * band reps (diameter 2-3), so the default cap is ~7x headroom; a graph
    * that trips it needs star-contraction (O(log²) rounds), not a deeper
    * cap — the error message says so. */
  private[graft] def propagateMinLabels(
      s: SparkSession, pairs: DataFrame, maxIter: Int = 20): (DataFrame, String) = {
    val edges = pairs.select(col("d1").as("a"), col("d2").as("b"))
      .unionAll(pairs.select(col("d2").as("a"), col("d1").as("b")))
    var lastPath: String = null
    def cut(df: DataFrame): DataFrame = {
      val p = graft.Scratch.dir("graft_cc_labels")
      df.write.parquet(p)
      lastPath = p
      s.read.parquet(p)
    }
    // Round-21 fused init (guide §1.2 — one fewer full pass): the seed
    // labels fold the FIRST propagation round in. label₀(v) =
    // min(v, min of N(v)) is exactly what the old identity init
    // (label = v) produced after its first loop round, computed here as
    // ONE keyed aggregate over the symmetric edge list (each (a,b) row
    // has b = v, so least(a,b) covers the self term). The loop below is
    // unchanged and still proves the fixpoint — it just starts one round
    // deeper, saving one labels write + one convergence probe per call.
    var labels = cut(edges
      .groupBy(col("b").as("v")).agg(min(least(col("a"), col("b"))).as("label")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("v").as("a"), col("label").as("albl")), Seq("a"))
        .groupBy(col("b")).agg(min(col("albl")).as("nmin"))
      // The written round carries its own `changed` flag (round 21):
      // labels only ever DECREASE, so changed ⇔ nmin < label, computed in
      // the same pass that writes the round — the convergence probe then
      // reads one tiny just-written file with a pushed filter instead of
      // joining two label files (one fewer shuffle + scan per round).
      val next = cut(labels
        .join(nbrMin.select(col("b").as("v"), col("nmin")), Seq("v"), "left")
        .select(col("v"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"),
          (coalesce(col("nmin"), col("label")) < col("label")).as("changed")))
      converged = next.filter(col("changed")).isEmpty
      labels = next.select(col("v"), col("label"))
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connected-components min-label propagation did not reach fixpoint in $maxIter rounds: " +
        "a component's diameter exceeds the cap. Labels would be silently wrong; " +
        "switch this graph to alternating large-star/small-star contraction " +
        "(O(log^2 n) rounds) rather than raising the cap.")
    (labels, lastPath)
  }

  /** The clustering is this query's own output, so the label propagation
    * runs on every execution over the staged edge set. */
  def minhashClusters(s: SparkSession, dir: String): DataFrame =
    propagateMinLabels(s, edgesParquet(s, dir))._1
      .select(col("v").as("doc_id"), col("label").as("cluster_id"))
      .orderBy(col("doc_id"))

  // ------------------------------------------------------------------
  // Cluster-size histogram (the q13 count-of-counts shape over the dedup
  // labels): how many near-dup clusters have 2 members, 3 members, ... —
  // the curation telemetry that says whether duplication is pairwise or
  // mega-cluster shaped (which decides rep-pick strategy and storage
  // savings). Composes on the cluster labels as a staged input (the
  // finished labels parquet of one propagation run), so it costs two
  // keyed aggregations over a tiny relation, not a rerun of the iterative
  // clustering.
  // ------------------------------------------------------------------
  def clusterSizes(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(graft.Scratch.staged(s, dir, "dedup_cc_labels")(
      propagateMinLabels(s, edgesParquet(s, dir))._2))
      .groupBy(col("label")).agg(count(lit(1)).as("csize"))
      .groupBy(col("csize")).agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("csize"))

  /** DuckDB twin of bandsOf: one UNION ALL branch per band over the
    * MATERIALIZED wide sig CTE (4 scans of a tiny relation; the Spark side
    * does it in one pass — oracle cost is irrelevant at sf0.01). */
  private val bandsSql =
    (0 until K / BANDROWS).map { b =>
      val bandStr = (0 until BANDROWS).map(r => s"CAST(mh${b * BANDROWS + r} AS VARCHAR)")
        .mkString(" || '_' || ")
      s"""SELECT doc_id, CAST($b AS BIGINT) AS b, ${hex60Sql(s"($bandStr)")} AS band_key FROM sig"""
    }.mkString("\n  UNION ALL ")

  private val estJaccardSql: String =
    "CAST((" + (0 until K).map(k =>
      s"CASE WHEN s1.mh$k = s2.mh$k THEN 1 ELSE 0 END").mkString(" + ") +
      s") AS DOUBLE) / $K"

  val minhashPairsSql: String =
    s"""WITH sig AS MATERIALIZED ($signatureSql),
      |bands0 AS ($bandsSql),
      |bands AS (SELECT doc_id, b, band_key FROM bands0
      |          QUALIFY COUNT(*) OVER (PARTITION BY b, band_key) <= $MAX_BAND_BUCKET),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
      |  FROM bands x JOIN bands y
      |    ON x.b = y.b AND x.band_key = y.band_key AND x.doc_id < y.doc_id)
      |SELECT d1, d2, $estJaccardSql AS est_jaccard
      |FROM cand
      |JOIN sig s1 ON d1 = s1.doc_id
      |JOIN sig s2 ON d2 = s2.doc_id
      |ORDER BY d1, d2""".stripMargin

  val minhashClustersSql: String =
    s"""WITH RECURSIVE pairs AS ($minhashPairsSql),
      |edges AS (
      |  SELECT d1 AS a, d2 AS b FROM pairs WHERE est_jaccard >= 0.9
      |  UNION ALL
      |  SELECT d2 AS a, d1 AS b FROM pairs WHERE est_jaccard >= 0.9),
      |verts AS (SELECT DISTINCT a AS v FROM edges),
      |walk(v, l) AS (
      |  SELECT v, v FROM verts
      |  UNION
      |  SELECT e.b AS v, w.l AS l FROM walk w JOIN edges e ON e.a = w.v)
      |SELECT v AS doc_id, CAST(MIN(l) AS BIGINT) AS cluster_id
      |FROM walk GROUP BY v ORDER BY doc_id""".stripMargin

  val clusterSizesSql: String =
    s"""WITH RECURSIVE pairs AS ($minhashPairsSql),
      |edges AS (
      |  SELECT d1 AS a, d2 AS b FROM pairs WHERE est_jaccard >= 0.9
      |  UNION ALL
      |  SELECT d2 AS a, d1 AS b FROM pairs WHERE est_jaccard >= 0.9),
      |verts AS (SELECT DISTINCT a AS v FROM edges),
      |walk(v, l) AS (
      |  SELECT v, v FROM verts
      |  UNION
      |  SELECT e.b AS v, w.l AS l FROM walk w JOIN edges e ON e.a = w.v),
      |lab AS (SELECT v, MIN(l) AS cluster_id FROM walk GROUP BY v),
      |per AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS csize
      |        FROM lab GROUP BY cluster_id)
      |SELECT csize, CAST(COUNT(*) AS BIGINT) AS n_clusters
      |FROM per GROUP BY csize ORDER BY csize""".stripMargin

  // ------------------------------------------------------------------
  // Triangle count over the near-dup graph — how CLIQUE-LIKE the
  // duplicate structure is (clusters from transitive chains have few
  // triangles; clusters of mutual near-copies are dense). The classic
  // distributed formulation: orient every edge from its lower-(degree,id)
  // endpoint, enumerate wedges per source, and probe the oriented closing
  // edge. Orientation is the skew bound: out-degree is O(sqrt(|E|))
  // regardless of how hot a vertex is, so the wedge join cannot explode
  // on a celebrity node the way the naive u-joins-u self-join does — at
  // 100 TB this is the difference between a bounded shuffle and a
  // quadratic hot key. The oracle counts the same triangles with the
  // simple u<v<w three-way self-join (exact at fixture scale; both forms
  // count each triangle exactly once).
  // ------------------------------------------------------------------
  def triangleCount(s: SparkSession, dir: String): DataFrame =
    triangleCountOf(edgesParquet(s, dir)
      .select(col("d1").as("u"), col("d2").as("v")))

  /** Oriented-wedge triangle core over a (u, v) edge relation with u < v —
    * factored out so specs can drive it with synthetic graphs. */
  private[graft] def triangleCountOf(edges: DataFrame): DataFrame = {
    val deg = edges.select(explode(array(col("u"), col("v"))).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("dg"))
    val withDeg = edges
      .join(deg.select(col("x").as("u"), col("dg").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("dg").as("dv")), Seq("v"))
    // orient src -> dst with (deg, id) ascending: ties on degree break by id
    val srcFirst = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
      when(srcFirst, col("u")).otherwise(col("v")).as("src"),
      when(srcFirst, col("v")).otherwise(col("u")).as("dst"),
      when(srcFirst, col("dv")).otherwise(col("du")).as("ddst"))
    val e1 = oriented.select(col("src"), col("dst").as("d1v"), col("ddst").as("dd1"))
    val e2 = oriented.select(col("src"), col("dst").as("d2v"), col("ddst").as("dd2"))
    val wedges = e1.join(e2, Seq("src"))
      .filter(col("dd1") < col("dd2") || (col("dd1") === col("dd2") && col("d1v") < col("d2v")))
    val closing = oriented.select(col("src").as("c_src"), col("dst").as("c_dst"))
    wedges.join(closing, col("d1v") === col("c_src") && col("d2v") === col("c_dst"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  val triangleCountSql: String =
    s"""WITH pairs AS ($minhashPairsSql),
      |e AS (SELECT d1 AS u, d2 AS v FROM pairs WHERE est_jaccard >= 0.9)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      |FROM e e1 JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
      |JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v""".stripMargin

  // ------------------------------------------------------------------
  // Degree histogram of the near-dup graph: how many documents have k
  // near-duplicates — the first thing to look at before choosing a dedup
  // strategy (a long tail of degree-1 pairs dedups cheaply; heavy hubs
  // mean boilerplate needing span-level treatment). Reads the shared
  // staged edge set; two keyed count aggregates, bounded output.
  // ------------------------------------------------------------------
  def degreeHist(s: SparkSession, dir: String): DataFrame =
    edgesParquet(s, dir)
      .select(explode(array(col("d1"), col("d2"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("degree"))

  val degreeHistSql: String =
    s"""WITH pairs AS ($minhashPairsSql),
      |e AS (SELECT d1, d2 FROM pairs WHERE est_jaccard >= 0.9),
      |deg AS (
      |  SELECT v, CAST(COUNT(*) AS BIGINT) AS degree FROM (
      |    SELECT d1 AS v FROM e UNION ALL SELECT d2 AS v FROM e)
      |  GROUP BY v)
      |SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_docs
      |FROM deg GROUP BY degree ORDER BY degree""".stripMargin

  // ------------------------------------------------------------------
  // PageRank centrality over the near-dup graph — which documents sit at
  // the CENTER of duplication structure (the canonical copy a whole
  // template family orbits) versus the periphery (one-off partial
  // copies). Degree says how many neighbors; PageRank says how important
  // the neighbors themselves are — the rep-pick signal when clusters
  // chain instead of forming stars. INTEGER FIXED-POINT arithmetic
  // throughout (ranks are BIGINT units of 1e-12): every operation is an
  // integer div / multiply / sum, so the result is bit-exact across
  // engines, partitionings, and summation orders — no float drift, no
  // hash-hostile decimals. Power iteration, damping 0.85 expressed as
  // (15*base + 85*sum(contrib)) div 100, fixed 5 rounds.
  // Scale: per round one keyed equi-join (ranks to edge sources) + one
  // keyed sum (contributions to destinations) — the standard Pregel
  // shuffle pair, linear in |E|; ranks/degree relations are |V|-sized.
  // The fixed unroll is a LINEAR lazy chain evaluated in ONE job (round
  // 21; see the loop comment — no per-round parquet cuts, unlike the
  // convergence-probed clustering loop). A hub vertex is a hot REDUCE
  // key but its contribution rows are degree-bounded per neighbor, so
  // AQE skew split applies cleanly.
  // ------------------------------------------------------------------
  private val PR_SCALE = 1000000000000L // 1e-12 fixed-point units
  private val PR_ITERS = 5

  def pageRank(s: SparkSession, dir: String): DataFrame = {
    val pairs = edgesParquet(s, dir)
    val e = pairs.select(col("d1").as("u"), col("d2").as("v"))
      .unionAll(pairs.select(col("d2").as("u"), col("d1").as("v")))
    val deg = e.groupBy(col("u")).agg(count(lit(1)).as("du"))
    // |V| is a single scalar of a tiny vertex relation — bounded driver
    // fetch by construction (same policy as PQ codebooks). max(_,1)
    // mirrors the oracle's GREATEST guard for the empty-graph edge.
    val nv = math.max(deg.count(), 1L)
    val base = PR_SCALE / nv
    val ewd = e.join(deg, Seq("u")) // (u, v, du) — degree folded in once
    // Round 21 (guide §2.4 / §1.2): the per-round parquet cuts are GONE.
    // Unlike the clustering loop, this unroll is a LINEAR chain — round k
    // feeds round k+1 exactly once and there is no convergence probe — so
    // the lazy 5-round plan evaluates every subtree once in a single job:
    // no O(k²) replay exists to cut. The shared relations (deg's partial
    // aggregate, ewd's join input) canonicalize identically across rounds
    // and are computed once via ReuseExchange; the edge parquet (already a
    // scratch artifact) is re-scanned per round — the same superstep shape
    // Pregel uses, where static edges are re-read and only ranks iterate.
    // Dropping the cuts removes 6 write+read jobs (and their commit
    // protocol) per execution and keeps the whole iteration inside one
    // DAG that AQE plans end-to-end; at cluster scale a 10-shuffle DAG is
    // well inside Spark's normal stage-retry granularity, and a lost
    // executor recomputes only the lost partitions instead of failing a
    // consumed-and-deleted scratch read.
    var ranks = deg.select(col("u").as("vtx"), lit(base).as("r"))
    for (_ <- 1 to PR_ITERS) {
      val contrib = ewd
        .join(ranks.select(col("vtx").as("u"), col("r")), Seq("u"))
        .groupBy(col("v")).agg(sum(expr("r div du")).as("sm"))
      ranks = deg.select(col("u").as("vtx"))
        .join(contrib.select(col("v").as("vtx"), col("sm")), Seq("vtx"), "left")
        .withColumn("num", lit(15L * base) + lit(85L) * coalesce(col("sm"), lit(0L)))
        .select(col("vtx"), expr("num div 100").as("r"))
    }
    ranks.select(col("vtx").as("doc_id"), col("r").as("pr"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin: identical integer fixed-point power iteration, unrolled
    * PR_ITERS times as chained CTEs (`//` is floor division — equal to
    * Spark's `div` truncation on the all-nonnegative operands here). */
  val pageRankSql: String = {
    val iters = (1 to PR_ITERS).map { k =>
      s"""it$k AS (
        |  SELECT d.u AS vtx,
        |    CAST((15 * (SELECT b FROM base) + 85 * COALESCE(s.sm, 0)) // 100 AS BIGINT) AS r
        |  FROM deg d LEFT JOIN (
        |    SELECT e.v AS vtx, CAST(SUM(p.r // ed.du) AS BIGINT) AS sm
        |    FROM e JOIN it${k - 1} p ON p.vtx = e.u JOIN deg ed ON ed.u = e.u
        |    GROUP BY e.v) s ON s.vtx = d.u)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS ($minhashPairsSql),
      |e0 AS (SELECT d1 AS u, d2 AS v FROM pairs WHERE est_jaccard >= 0.9),
      |e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
      |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS du FROM e GROUP BY u),
      |base AS (SELECT CAST($PR_SCALE // GREATEST(COUNT(*), 1) AS BIGINT) AS b FROM deg),
      |it0 AS (SELECT u AS vtx, (SELECT b FROM base) AS r FROM deg),
      |$iters
      |SELECT vtx AS doc_id, r AS pr FROM it$PR_ITERS ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // 2-core of the near-dup graph — the subgraph left after iteratively
  // peeling degree-<2 vertices. Pendant vertices (one near-dup partner)
  // are the cheap case: keep either endpoint. What survives peeling is
  // the DENSE duplication structure — template families and boilerplate
  // rings where rep-picking needs the cluster/span machinery. Output is
  // each surviving vertex with its degree INSIDE the core (its support
  // among other core members), i.e. the "how entangled" signal.
  // Fixed PEEL_ROUNDS rounds, unrolled identically in the oracle: a
  // round that has already converged is a no-op, so a fixed unroll at or
  // above the convergence depth equals the fixpoint; peeling on
  // near-dup graphs converges in a handful of rounds (star-shaped
  // clusters lose all their leaves in round 1).
  // Scale: each round is one degree aggregate (keyed count) plus two
  // semi-joins of the edge relation against the surviving-vertex set —
  // all hash-partitioned on vertex id, linear in |E|, no quadratic
  // stage; every second round is parquet-cut (round 21 — see the loop
  // comment for why the cut cadence is 2, not 1 and not never).
  // ------------------------------------------------------------------
  private val PEEL_ROUNDS = 6

  def kcore(s: SparkSession, dir: String): DataFrame =
    kcoreOf(edgesParquet(s, dir)
      .select(col("d1").as("u"), col("d2").as("v")))

  /** Peeling core over a (u, v) edge relation — factored out so specs can
    * drive it with synthetic graphs of known core structure. */
  private[graft] def kcoreOf(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    def cut(df: DataFrame): DataFrame = {
      val p = graft.Scratch.dir("graft_kcore")
      df.write.parquet(p)
      s.read.parquet(p)
    }
    var e = edges
    for (r <- 1 to PEEL_ROUNDS) {
      val deg = e.select(explode(array(col("u"), col("v"))).as("x"))
        .groupBy(col("x")).agg(count(lit(1)).as("dg"))
      val keep = deg.filter(col("dg") >= 2).select(col("x"))
      val next = e
        .join(keep.select(col("x").as("u")), Seq("u"), "semi")
        .join(keep.select(col("x").as("v")), Seq("v"), "semi")
        .select(col("u"), col("v"))
      // Round 21 (guide §1.2): cut every SECOND round, not every round.
      // Unlike pageRank's linear chain, a peel round references its
      // predecessor THREE times (degree aggregate + both semi-join probe
      // sides), so a fully lazy unroll grows the plan 3^rounds — the cut
      // is load-bearing here. But one un-cut round in between is bounded:
      // the duplicated lazy subtree is a parquet scan plus two broadcast
      // semi-joins (the keep sets are |V|-bounded filters whose degree
      // exchange IS reused — canonical equality holds, both probe sides
      // build from the same broadcast), so halving the cuts halves the
      // write+read jobs per execution without an exponential plan.
      e = if (r % 2 == 0) cut(next) else next
    }
    e.select(explode(array(col("u"), col("v"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("core_degree"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin: the same PEEL_ROUNDS-round peel, unrolled as chained
    * CTEs (degree -> keep -> edge semi-filter per round). The per-round
    * CTEs are MATERIALIZED: each round references its predecessor three
    * times, so default CTE inlining would expand the upstream minhash
    * pipeline 3^PEEL_ROUNDS times (observed as a too-many-open-files
    * parquet-scan explosion); materialization makes the unroll linear —
    * the same role the scratch-parquet cuts play on the Spark side. */
  val kcoreSql: String = {
    val rounds = (1 to PEEL_ROUNDS).map { k =>
      s"""d$k AS MATERIALIZED (SELECT x, CAST(COUNT(*) AS BIGINT) AS dg FROM (
        |    SELECT u AS x FROM e${k - 1} UNION ALL SELECT v AS x FROM e${k - 1})
        |  GROUP BY x),
        |k$k AS MATERIALIZED (SELECT x FROM d$k WHERE dg >= 2),
        |e$k AS MATERIALIZED (SELECT u, v FROM e${k - 1}
        |  WHERE u IN (SELECT x FROM k$k) AND v IN (SELECT x FROM k$k))""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS MATERIALIZED ($minhashPairsSql),
      |e0 AS MATERIALIZED (SELECT d1 AS u, d2 AS v FROM pairs WHERE est_jaccard >= 0.9),
      |$rounds
      |SELECT x AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_degree FROM (
      |  SELECT u AS x FROM e$PEEL_ROUNDS UNION ALL SELECT v AS x FROM e$PEEL_ROUNDS)
      |GROUP BY x ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Ensemble near-dup verdict (the SemDeDup-style two-signal check):
  // every LEXICAL candidate pair (minhash est >= 0.9) is re-scored by
  // the pair's EMBEDDING cosine — documents and embeddings share the id
  // domain, so the attachment is two keyed equi-joins that rehydrate
  // only the candidate ids, never a semantic all-pairs pass. In a
  // curation run this is the disagreement audit: lexical-only matches
  // (templates with swapped entities) versus pairs both signals confirm.
  // Scale: candidate-bounded — the expensive parts are the minhash
  // pipeline (shared, df-capped) and two id-keyed joins whose left side
  // is the (small) pair set.
  // ------------------------------------------------------------------
  def ensembleVerdict(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    minhashPairs(s, dir).filter(col("est_jaccard") >= 0.9)
      .join(e.select(col("vec_id").as("d1"), col("embedding").as("e1")), Seq("d1"))
      .join(e.select(col("vec_id").as("d2"), col("embedding").as("e2")), Seq("d2"))
      .select(col("d1"), col("d2"), col("est_jaccard"),
        VectorFns.cosine(col("e1"), col("e2")).as("cos"))
      .withColumn("semantic_agrees", (col("cos") >= 0.5).cast("int"))
      .orderBy(col("d1"), col("d2"))
  }

  val ensembleVerdictSql: String =
    s"""WITH pairs AS ($minhashPairsSql),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS de FROM embeddings),
      |scored AS (
      |  SELECT d1, d2, est_jaccard,
      |    list_dot_product(e1.de, e2.de)
      |      / (sqrt(list_dot_product(e1.de, e1.de)) * sqrt(list_dot_product(e2.de, e2.de))) AS cos
      |  FROM pairs JOIN e e1 ON e1.vec_id = d1 JOIN e e2 ON e2.vec_id = d2
      |  WHERE est_jaccard >= 0.9)
      |SELECT d1, d2, est_jaccard, cos,
      |  CAST(CASE WHEN cos >= 0.5 THEN 1 ELSE 0 END AS INTEGER) AS semantic_agrees
      |FROM scored ORDER BY d1, d2""".stripMargin

  // ------------------------------------------------------------------
  // Duplicated-span coverage (ExactSubstr-style telemetry): for every
  // document, the fraction of its 5-token spans (ALL positions, not the
  // distinct shingle set) that also occur in at least one OTHER document.
  // Doc-level near-dup answers "is this document a copy?"; this answers
  // "how much of this document is copied from somewhere?" — the signal
  // span-level dedup (Lee et al.'s deduplicating-training-data setup)
  // thresholds on. Plan: one narrow span-extraction pass, a keyed
  // document-frequency aggregate on the span hash (two-level exact
  // distinct: (h, doc) dedup then count — partial aggs both levels), and
  // an equi-join of the span stream back to the df relation. No self-join
  // anywhere, so a hot span (boilerplate header shared by 10^6 docs)
  // costs one shuffled row per occurrence, never a quadratic pair blowup
  // — the reason this is the metric that SCALES while pairwise span
  // comparison does not.
  // ------------------------------------------------------------------
  def spanCoverage(s: SparkSession, dir: String): DataFrame = {
    val spans = Tables.loadParallel(s, dir, "documents")
      .select(coalesce(col("doc_id"), lit(Long.MinValue)).as("doc_id"),
        TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 5)
      // span key = 60-bit md5-prefix BIGINT (round 13): the df aggregate
      // and the span->df join below run on 8-byte keys, not 32-char hex
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks)-5), i -> " +
          "cast(conv(substring(md5(cast(concat_ws(' ', slice(toks, i+1, 5)) as binary)), 1, 15), 16, 10) as bigint))"))
        .as("h"))
    // exact df per span hash: distinct (h, doc) then count — both keyed
    val df = spans.select(col("h"), col("doc_id").as("d")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("nd"))
    spans.join(df, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        (col("n_dup_spans").cast("double") / col("n_spans")).as("dup_ratio"))
      .orderBy(col("doc_id"))
  }

  val spanCoverageSql: String =
    """WITH spans AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(toks)-3),
      |      i -> CAST(('0x' || substring(md5(array_to_string(toks[i:i+4], ' ')), 1, 15)) AS BIGINT))) AS h
      |  FROM (SELECT COALESCE(doc_id, -9223372036854775808) AS doc_id,
      |               string_split_regex(lower(trim(text)), '\s+') AS toks
      |        FROM documents)),
      |df AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM spans GROUP BY h)
      |SELECT s.doc_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
      |  CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
      |  CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_ratio
      |FROM spans s JOIN df USING (h)
      |GROUP BY s.doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // Loser set (curation's near-dup removal): per (b, band_key) bucket the
  // bucket-min doc is the canonical representative; every other member is
  // a loser CANDIDATE paired with that representative, then verified by
  // exact signature-match fraction >= cutoff. Candidate volume is <= one
  // row per (doc, band) — a 10⁶-copy cluster yields 10⁶-1 candidates, not
  // ~10¹²/2 pairs — so curation never materializes a quadratic pair set
  // and needs NO bucket cap (capping would silently KEEP exactly the most
  // duplicated content, the opposite of what dedup must do).
  // ------------------------------------------------------------------

  /** Loser core over a WIDE (doc_id, mh0..mh{K-1}) signature relation.
    * Returns the distinct doc_ids to DROP. */
  private[graft] def minhashLosersOf(sig: DataFrame, cutoff: Double): DataFrame = {
    val bands = bandsOf(sig)
    val reps = bands.groupBy(col("b"), col("band_key")).agg(min(col("doc_id")).as("rep"))
    val cand = bands.join(reps, Seq("b", "band_key"))
      .filter(col("doc_id") > col("rep"))
      .select(col("rep").as("d1"), col("doc_id").as("d2"))
      .distinct()
    cand.join(sig.as("s1"), col("d1") === col("s1.doc_id"))
      .join(sig.as("s2"), col("d2") === col("s2.doc_id"))
      .select(col("d1"), col("d2"), estJaccard("s1", "s2"))
      .filter(col("est_jaccard") >= cutoff)
      .select(col("d2").as("doc_id"))
      .distinct()
  }

  def minhashLosers(s: SparkSession, dir: String, cutoff: Double): DataFrame =
    minhashLosersOf(signature(s, dir), cutoff)

  def minhashLosersSql(cutoff: Double): String =
    s"""WITH sig AS MATERIALIZED ($signatureSql),
      |bands AS ($bandsSql),
      |reps AS (SELECT b, band_key, MIN(doc_id) AS rep FROM bands GROUP BY b, band_key),
      |cand AS (
      |  SELECT DISTINCT r.rep AS d1, bd.doc_id AS d2
      |  FROM bands bd JOIN reps r
      |    ON bd.b = r.b AND bd.band_key = r.band_key AND bd.doc_id > r.rep)
      |SELECT DISTINCT d2 AS doc_id FROM (
      |  SELECT d1, d2, $estJaccardSql AS est_jaccard
      |  FROM cand
      |  JOIN sig s1 ON d1 = s1.doc_id
      |  JOIN sig s2 ON d2 = s2.doc_id)
      |WHERE est_jaccard >= $cutoff""".stripMargin

  // ------------------------------------------------------------------
  // Exact n-gram Jaccard on shingle-sharing candidate pairs.
  // ------------------------------------------------------------------
  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    // join on the 60-bit md5-prefix of the shingle, not the (long) shingle
    // string: 8-byte shuffle keys and primitive comparisons, identical
    // semantics on both engines (key equality == shingle equality up to a
    // 2^-60 collision that would be IDENTICAL in the oracle, preserving
    // parity).
    ngramJaccardOf(shingleRows(s, dir)
      .select(col("doc_id"), hex60(col("shingle")).as("sh_key")))

  /** Df-cap then MATERIALIZE a (doc_id, sh_key) relation to scratch
    * parquet in ONE lineage cut (round 21; supersedes the round-13
    * two-cut form). The r12 formulation left sharing to ReuseExchange,
    * but the consumers' exchanges are not canonically equal (partial-
    * count agg vs semi probe vs self-join sides vs doc_id sizes), so the
    * tokenize+shingle+hash scan — the single most expensive narrow stage
    * in the engine — re-ran once PER CONSUMER (~4x, measured ~9 CPU-s
    * each at sf0.1). Round 13 fixed that with two cuts (raw keys, then
    * agg + semi-join + capped keys) = two full materializations of the
    * span relation. Round 21 (guide §2.4 "remove shuffles outright")
    * fuses them: one shuffle of the span relation by sh_key, a count
    * window over the partition key, filter, write — the tokenize scan
    * runs once, the relation is materialized once, and the raw
    * intermediate file (plus its eager delete walk) disappears. The
    * window is PARTITIONED (by sh_key), so the registry-wide
    * single-partition-window ban does not apply; a hot key is bounded by
    * the window's own partition (its rows all carry df > cap and are
    * dropped). Downstream is unchanged: the capped file is what the
    * self-join consumers read, so no key fans out quadratically. Same
    * cap rule as before (count per sh_key <= MAX_SHINGLE_DF), identical
    * output rows. */
  private def cappedShingles(sh0: DataFrame): DataFrame = {
    val s = sh0.sparkSession
    val cappedPath = graft.Scratch.dir("graft_sh_capped")
    val wDf = Window.partitionBy(col("sh_key"))
    sh0.withColumn("df", count(lit(1)).over(wDf))
      .filter(col("df") <= MAX_SHINGLE_DF)
      .select(col("doc_id"), col("sh_key"))
      .write.parquet(cappedPath)
    s.read.parquet(cappedPath)
  }

  /** Core of the exact-Jaccard pipeline over a (doc_id, sh_key) relation —
    * factored out so specs can drive it with synthetic hot-shingle data.
    * Emits (sh, sizes, inter) for the Jaccard/containment finishers. */
  private def shinglePairCore(sh0: DataFrame): (DataFrame, DataFrame) = {
    val sh = cappedShingles(sh0)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.sh_key") === col("b.sh_key") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_shared"))
    (sizes, inter)
  }

  private[graft] def ngramJaccardOf(sh0: DataFrame): DataFrame = {
    val (sizes, inter) = shinglePairCore(sh0)
    inter
      .join(sizes.as("n1"), col("d1") === col("n1.doc_id"))
      .join(sizes.as("n2"), col("d2") === col("n2.doc_id"))
      .select(col("d1"), col("d2"), col("n_shared"),
        (col("n_shared").cast("double") /
          (col("n1.n") + col("n2.n") - col("n_shared"))).as("jaccard"))
      .orderBy(col("d1"), col("d2"))
  }

  val ngramJaccardSql: String =
    s"""WITH sh0 AS (SELECT doc_id, ${hex60Sql("shingle")} AS sh_key FROM ($shingleRowsSql)),
      |sh AS (SELECT doc_id, sh_key FROM sh0
      |       QUALIFY COUNT(*) OVER (PARTITION BY sh_key) <= $MAX_SHINGLE_DF),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_shared
      |  FROM sh a JOIN sh b ON a.sh_key = b.sh_key AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT d1, d2, n_shared,
      |  CAST(n_shared AS DOUBLE) / (n1.n + n2.n - n_shared) AS jaccard
      |FROM inter
      |JOIN sizes n1 ON d1 = n1.doc_id
      |JOIN sizes n2 ON d2 = n2.doc_id
      |ORDER BY d1, d2""".stripMargin

  // ------------------------------------------------------------------
  // Containment (asymmetric near-dup): |A∩B| / |A| — catches QUOTATION
  // (a small doc wholly embedded in a big one), which symmetric Jaccard
  // misses because the union is dominated by the big doc. Same capped
  // md5-keyed shingle self-join as ngramJaccardOf (df cap BEFORE the
  // join, so no quadratic fan-out), with both directed ratios emitted and
  // the pair kept when either side is majority-contained.
  // ------------------------------------------------------------------
  def containment(s: SparkSession, dir: String): DataFrame = {
    val (sizes, inter) = shinglePairCore(shingleRows(s, dir)
      .select(col("doc_id"), hex60(col("shingle")).as("sh_key")))
    inter
      .join(sizes.as("n1"), col("d1") === col("n1.doc_id"))
      .join(sizes.as("n2"), col("d2") === col("n2.doc_id"))
      .select(col("d1"), col("d2"), col("n_shared"),
        (col("n_shared").cast("double") / col("n1.n")).as("contain_d1"),
        (col("n_shared").cast("double") / col("n2.n")).as("contain_d2"))
      .filter(greatest(col("contain_d1"), col("contain_d2")) >= 0.5)
      .orderBy(col("d1"), col("d2"))
  }

  val containmentSql: String =
    s"""WITH sh0 AS (SELECT doc_id, ${hex60Sql("shingle")} AS sh_key FROM ($shingleRowsSql)),
      |sh AS (SELECT doc_id, sh_key FROM sh0
      |       QUALIFY COUNT(*) OVER (PARTITION BY sh_key) <= $MAX_SHINGLE_DF),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_shared
      |  FROM sh a JOIN sh b ON a.sh_key = b.sh_key AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT * FROM (
      |  SELECT d1, d2, n_shared,
      |    CAST(n_shared AS DOUBLE) / n1.n AS contain_d1,
      |    CAST(n_shared AS DOUBLE) / n2.n AS contain_d2
      |  FROM inter
      |  JOIN sizes n1 ON d1 = n1.doc_id
      |  JOIN sizes n2 ON d2 = n2.doc_id)
      |WHERE greatest(contain_d1, contain_d2) >= 0.5
      |ORDER BY d1, d2""".stripMargin

  // ------------------------------------------------------------------
  // SimHash: 16-bit fingerprint from md5-nibble parity, majority-voted over
  // the token multiset. Near-identical docs land on near-identical bit
  // patterns; at scale the fingerprint is the dedup/block key.
  // ------------------------------------------------------------------
  /** nbits-wide simhash fingerprints: bit i = majority sign, over the
    * token multiset, of bit i of the token's 60-bit md5-prefix hash
    * (round 13: integer bit extraction `(h div 2^b) % 2` — identical in
    * DuckDB as `(h // 2^b) % 2`, like the simhashPairs band split —
    * replaces per-(token, bit) hex substring/ascii string ops; nbits <=
    * 60). Powers of two up to 2^59 are exactly representable doubles, so
    * the pow-then-cast is exact in both engines.
    *
    * Round 21 (optimization guide §2.3 "shuffle fewer bytes" / §1.2 "the
    * distributed algorithm"): the bit dimension is aggregated as nbits
    * SUM COLUMNS of one groupBy(doc_id), not an explode(0..nbits-1) row
    * fan-out — the old shape multiplied every token row x nbits through
    * TWO aggregate exchanges (tokens x 32 rows shuffled at sf0.1); this
    * one keeps the relation at one row per token and shuffles a single
    * partial-agg state of nbits longs per doc. Bit-identical result: the
    * per-bit vote v_b is the same integer sum either way, and the final
    * fingerprint is a left-assoc long sum of when(v_b > 0, 2^b) terms —
    * exact integer arithmetic, same as the grouped form. */
  private def simhashFp(s: SparkSession, dir: String, nbits: Int): DataFrame = {
    val votes = (0 until nbits).map { b =>
      sum(when(expr(s"(h div ${1L << b}) % 2") === 1, 1).otherwise(-1)).as(s"v$b")
    }
    val fpBits = (0 until nbits).map { b =>
      when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    Tables.loadParallel(s, dir, "documents")
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
      // compute the token hash ONCE, then extract all bit votes from it
      .select(col("doc_id"), hex60(col("tok")).as("h"))
      .groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), fpBits.as("simhash"))
  }

  def simhash(s: SparkSession, dir: String): DataFrame =
    simhashFp(s, dir, 16).orderBy(col("doc_id"))

  // ------------------------------------------------------------------
  // SimHash near-dup PAIRS on a 32-bit fingerprint, banded into 4 x 8-bit
  // keys: by pigeonhole, any pair within Hamming distance 3 shares at
  // least one intact band, so the equi-join on (band, band-value) is a
  // LOSSLESS blocker for the classic <=3 cutoff — no all-pairs stage.
  // Verification is the custom codegen'd hamming_dist expression (popcount
  // of XOR, a single intrinsic inside whole-stage codegen). 32 bits (not
  // dedup_simhash's 16) because band selectivity bounds candidate volume:
  // 256 bucket values per band instead of 16 keeps same-vocabulary corpora
  // from collapsing into a handful of quadratic buckets; at web scale this
  // is a 64-bit fingerprint with 4 x 16-bit bands, same plan.
  // ------------------------------------------------------------------
  def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    // Materialize the fingerprint relation ONCE (round 22, guide §1.2
    // "don't compute things you throw away" — the scratch-parquet lineage
    // cut cappedShingles/rfm use): the pairwise core consumes fp from
    // FIVE places (the two banded self-join sides — each dragging the
    // band explode + bucket-cap semi — plus the cap aggregate and the
    // two rehydration joins), and those subtrees are not canonically
    // equal, so ReuseExchange shared nothing and the per-token md5
    // fingerprint aggregation re-ran once per consumer (~5x, the dominant
    // measured CPU here). Long/long columns round-trip parquet exactly,
    // so rows are bit-identical and the oracle is untouched. The cut
    // lives HERE, not in simhashPairsOf: mm_dedup_phash's aHash
    // fingerprint is a cheap narrow fold whose recompute costs less than
    // a parquet round-trip (measured both ways, round 22).
    val fpPath = graft.Scratch.dir("graft_simhash_fp")
    simhashFp(s, dir, 32).write.parquet(fpPath)
    simhashPairsOf(s.read.parquet(fpPath))
  }

  /** Pairwise core over a (doc_id, simhash) fingerprint relation —
    * factored out so specs can drive it with a synthetic identical-
    * fingerprint cluster (the hot-bucket cap must bound the self-join). */
  private[graft] def simhashPairsOf(fp: DataFrame): DataFrame = {
    // integer-arithmetic band extraction ((fp div 256^b) mod 256) —
    // identical on both engines, no shift-function semantics to align
    val banded0 = fp
      .select(col("doc_id"), col("simhash"), explode(sequence(lit(0), lit(3))).as("b"))
      .withColumn("bk", expr("(simhash div cast(pow(256, b) as bigint)) % 256"))
    // same hot-bucket discipline as the MinHash band join (MAX_BAND_BUCKET):
    // pair output is quadratic per bucket by nature, so over-full buckets
    // (near-identical fingerprint regions) are dropped from the PAIRWISE
    // query — a loser-set formulation covers dedup of those regions
    val keep = banded0.groupBy(col("b"), col("bk"))
      .agg(count(lit(1)).as("n")).filter(col("n") <= MAX_BAND_BUCKET)
      .select(col("b"), col("bk"))
    val banded = banded0.join(keep, Seq("b", "bk"), "left_semi")
    val cand = banded.as("x").join(banded.as("y"),
        col("x.b") === col("y.b") && col("x.bk") === col("y.bk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    cand.join(fp.select(col("doc_id").as("d1"), col("simhash").as("s1")), Seq("d1"))
      .join(fp.select(col("doc_id").as("d2"), col("simhash").as("s2")), Seq("d2"))
      .select(col("d1"), col("d2"), expr("hamming_dist(s1, s2)").as("hamming"))
      .filter(col("hamming") <= 3)
      .orderBy(col("d1"), col("d2"))
  }

  private def simhashCoreSql(nbits: Int): String =
    s"""SELECT doc_id,
      |  CAST(SUM(CASE WHEN v > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
      |FROM (
      |  SELECT doc_id, b, SUM(contrib) AS v FROM (
      |    SELECT doc_id, b,
      |      CASE WHEN (h // CAST(pow(2, b) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END AS contrib
      |    FROM (
      |      SELECT doc_id, ${hex60Sql("tok")} AS h FROM (
      |        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
      |        FROM documents)) CROSS JOIN range(0, $nbits) t(b))
      |  GROUP BY doc_id, b)
      |GROUP BY doc_id""".stripMargin

  val simhashSql: String = simhashCoreSql(16) + "\nORDER BY doc_id"

  val simhashPairsSql: String =
    s"""WITH fp AS (${simhashCoreSql(32)}),
      |banded0 AS (
      |  SELECT doc_id, simhash, b, (simhash // CAST(pow(256, b) AS BIGINT)) % 256 AS bk
      |  FROM fp CROSS JOIN range(0, 4) t(b)),
      |banded AS (SELECT doc_id, simhash, b, bk FROM banded0
      |           QUALIFY COUNT(*) OVER (PARTITION BY b, bk) <= $MAX_BAND_BUCKET),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
      |  FROM banded x JOIN banded y
      |    ON x.b = y.b AND x.bk = y.bk AND x.doc_id < y.doc_id)
      |SELECT d1, d2, CAST(bit_count(xor(s1.simhash, s2.simhash)) AS INT) AS hamming
      |FROM cand
      |JOIN fp s1 ON d1 = s1.doc_id
      |JOIN fp s2 ON d2 = s2.doc_id
      |WHERE bit_count(xor(s1.simhash, s2.simhash)) <= 3
      |ORDER BY d1, d2""".stripMargin

  // ------------------------------------------------------------------
  // Curation telemetry: duplication rate per language — the fraction of
  // each language slice the near-dup loser set would remove. The metric a
  // corpus owner watches per ingestion batch. Scale: the loser set is
  // linear (see minhashLosers); the profile is one left join on doc_id +
  // one partial-agg exchange on lang.
  // ------------------------------------------------------------------
  def dupRateByLang(s: SparkSession, dir: String): DataFrame = {
    val losers = minhashLosers(s, dir, 0.9).withColumn("is_loser", lit(1))
    Tables.load(s, dir, "documents").select(col("doc_id"), col("lang"))
      .join(losers, Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_loser"), lit(0))).cast("bigint").as("n_dup"),
        (sum(coalesce(col("is_loser"), lit(0))).cast("double") / count(lit(1)))
          .as("dup_rate"))
      .orderBy(col("lang"))
  }

  val dupRateByLangSql: String =
    s"""WITH losers AS (${minhashLosersSql(0.9)})
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM losers) THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
      |  CAST(CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM losers) THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
      |    / COUNT(*) AS dup_rate
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------------------------
  // Incremental corpus dedup: a production curation run rarely re-dedups
  // the whole lake — it dedups the INCOMING batch against the standing
  // corpus. Historical = doc_id % 5 != 0 (a deterministic stand-in for
  // "already ingested"); batch = doc_id % 5 == 0. A batch doc is flagged
  // on an exact text-hash match against the historical side, and/or on
  // sharing any LSH band bucket with a historical doc (the same
  // md5-portable minhash machinery as dedup_minhash_pairs, so the whole
  // decision is DuckDB-hash-checkable). Scale: in production both
  // historical probes are PRECOMPUTED stores (an exact-hash set and a
  // band index, each maintained incrementally as batches are accepted);
  // the per-batch cost here is two key-only semi-joins — linear in the
  // batch, never corpus-quadratic, and the batch side is broadcast-able
  // when small relative to the store.
  // ------------------------------------------------------------------
  def incremental(s: SparkSession, dir: String): DataFrame = {
    val isNew = pmod(col("doc_id"), lit(5)) === 0
    val hashes = graft.sources.Tables.loadParallel(s, dir, "documents")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    val bands = bandsOf(signature(s, dir))
    val exact = hashes.filter(isNew)
      .join(hashes.filter(!isNew).select(col("h")).distinct(), Seq("h"), "left_semi")
      .select(col("doc_id")).withColumn("e", lit(true))
    val near = bands.filter(isNew)
      .join(bands.filter(!isNew).select(col("b"), col("band_key")).distinct(),
        Seq("b", "band_key"), "left_semi")
      .select(col("doc_id")).distinct().withColumn("nd", lit(true))
    hashes.filter(isNew).select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("e"), lit(false)).as("exact_dup"),
        coalesce(col("nd"), lit(false)).as("near_dup"))
      .withColumn("kept", !col("exact_dup") && !col("near_dup"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------------
  // PERSISTED standing-corpus store (round-9 verdict item 4): incremental()
  // above argues "in production both historical probes are precomputed
  // stores"; this variant DEMONSTRATES it. The exact-hash set and the band
  // index of the historical side are staged inputs, written ONCE per
  // (session, dir) to scratch parquet — the stand-in for the production
  // store tables a curation pipeline maintains as batches are accepted —
  // and the probe path only
  // READS them: two key-only semi-joins whose cost is independent of
  // rebuilding the corpus signature pipeline (ScaleProbe measures the
  // probe-vs-rebuild split). Same output contract as incremental(), so the
  // identical DuckDB oracle checks it.
  // ------------------------------------------------------------------
  private def isNewDoc = pmod(col("doc_id"), lit(5)) === 0

  /** (exact-hash store, band-index store) of the historical corpus side,
    * parquet-backed; built on first use, read thereafter. */
  private def corpusStore(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val (hPath, bPath) = graft.Scratch.staged(s, dir, "dedup_store") {
      val h = graft.Scratch.dir("graft_dedup_store_hash")
      val b = graft.Scratch.dir("graft_dedup_store_bands")
      graft.sources.Tables.loadParallel(s, dir, "documents").filter(!isNewDoc)
        .select(md5(col("text").cast("binary")).as("h")).distinct()
        .write.parquet(h)
      bandsOf(signature(s, dir)).filter(!isNewDoc)
        .select(col("b"), col("band_key")).distinct()
        .write.parquet(b)
      (h, b)
    }
    (s.read.parquet(hPath), s.read.parquet(bPath))
  }

  /** incremental() probing the PERSISTED store instead of recomputing the
    * historical index inline. The batch side still computes its own hashes
    * and band keys (linear in the batch); the historical side is two
    * parquet scans of key-only stores. */
  def incrementalStored(s: SparkSession, dir: String): DataFrame = {
    val (histHash, histBands) = corpusStore(s, dir)
    val hashes = graft.sources.Tables.loadParallel(s, dir, "documents")
      .filter(isNewDoc)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    val bands = bandsOf(signature(s, dir)).filter(isNewDoc)
    val exact = hashes.join(histHash, Seq("h"), "left_semi")
      .select(col("doc_id")).withColumn("e", lit(true))
    val near = bands.join(histBands, Seq("b", "band_key"), "left_semi")
      .select(col("doc_id")).distinct().withColumn("nd", lit(true))
    hashes.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("e"), lit(false)).as("exact_dup"),
        coalesce(col("nd"), lit(false)).as("near_dup"))
      .withColumn("kept", !col("exact_dup") && !col("near_dup"))
      .orderBy(col("doc_id"))
  }

  val incrementalSql: String =
    s"""WITH sig AS MATERIALIZED ($signatureSql),
      |bands AS ($bandsSql),
      |hashes AS (SELECT doc_id, md5(text) AS h FROM documents),
      |exact AS (
      |  SELECT DISTINCT n.doc_id FROM hashes n
      |  WHERE n.doc_id % 5 = 0
      |    AND n.h IN (SELECT h FROM hashes WHERE doc_id % 5 <> 0)),
      |near AS (
      |  SELECT DISTINCT n.doc_id FROM bands n
      |  WHERE n.doc_id % 5 = 0
      |    AND EXISTS (SELECT 1 FROM bands o
      |                WHERE o.doc_id % 5 <> 0
      |                  AND o.b = n.b AND o.band_key = n.band_key))
      |SELECT d.doc_id,
      |  d.doc_id IN (SELECT doc_id FROM exact) AS exact_dup,
      |  d.doc_id IN (SELECT doc_id FROM near) AS near_dup,
      |  NOT (d.doc_id IN (SELECT doc_id FROM exact)
      |    OR d.doc_id IN (SELECT doc_id FROM near)) AS kept
      |FROM documents d WHERE d.doc_id % 5 = 0 ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------------------------
  // Split-leakage audit: near-dup pairs that STRADDLE the train/val/test
  // boundary — the eval-hygiene number every training pipeline must
  // report (a test doc with a train near-twin inflates eval). Composes
  // two independently oracle-proven pipelines: the banded minhash pair
  // stream (est_jaccard >= 0.9, the cluster threshold) and docs_split's
  // md5-prefix assignment. Scale: pair volume is the already-bounded
  // band-join output; the split column is a per-row hash expression, so
  // the audit adds two id-keyed joins over pair-sized (not corpus-sized)
  // data. In production this runs as the acceptance gate right after
  // split assignment, before anything is trained on.
  // ------------------------------------------------------------------
  def splitLeakage(s: SparkSession, dir: String): DataFrame = {
    val prefix = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)
    val splits = graft.sources.Tables.loadParallel(s, dir, "documents")
      .select(col("doc_id"),
        when(prefix < "e6", "train").when(prefix < "f3", "val")
          .otherwise("test").as("split"))
    minhashPairs(s, dir).filter(col("est_jaccard") >= 0.9)
      .join(splits.select(col("doc_id").as("d1"), col("split").as("split1")), Seq("d1"))
      .join(splits.select(col("doc_id").as("d2"), col("split").as("split2")), Seq("d2"))
      .filter(col("split1") =!= col("split2"))
      .select(col("d1"), col("d2"), col("split1"), col("split2"), col("est_jaccard"))
      .orderBy(col("d1"), col("d2"))
  }

  val splitLeakageSql: String =
    s"""WITH pairs AS ($minhashPairsSql),
      |splits AS (
      |  SELECT doc_id,
      |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
      |         WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f3' THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM documents)
      |SELECT p.d1, p.d2, s1.split AS split1, s2.split AS split2, p.est_jaccard
      |FROM pairs p
      |JOIN splits s1 ON p.d1 = s1.doc_id
      |JOIN splits s2 ON p.d2 = s2.doc_id
      |WHERE p.est_jaccard >= 0.9 AND s1.split <> s2.split
      |ORDER BY d1, d2""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_rate_by_lang" -> (dupRateByLang _),
    "dedup_minhash_pairs" -> (minhashPairs _),
    "dedup_minhash_clusters" -> (minhashClusters _),
    "dedup_cluster_sizes" -> (clusterSizes _),
    "dedup_triangles" -> (triangleCount _),
    "dedup_span_coverage" -> (spanCoverage _),
    "dedup_ensemble" -> (ensembleVerdict _),
    "dedup_degree_hist" -> (degreeHist _),
    "dedup_pagerank" -> (pageRank _),
    "dedup_kcore" -> (kcore _),
    "dedup_minhash_losers" -> ((s, dir) => minhashLosers(s, dir, 0.9).orderBy(col("doc_id"))),
    "dedup_ngram_jaccard" -> (ngramJaccard _),
    "dedup_containment" -> (containment _),
    "dedup_simhash" -> (simhash _),
    "dedup_simhash_pairs" -> (simhashPairs _),
    "dedup_incremental" -> (incremental _),
    "dedup_incremental_store" -> (incrementalStored _),
    "dedup_split_leakage" -> (splitLeakage _))

  def oracles: Map[String, String] = Map(
    "dedup_rate_by_lang" -> dupRateByLangSql,
    "dedup_minhash_pairs" -> minhashPairsSql,
    "dedup_minhash_clusters" -> minhashClustersSql,
    "dedup_cluster_sizes" -> clusterSizesSql,
    "dedup_triangles" -> triangleCountSql,
    "dedup_span_coverage" -> spanCoverageSql,
    "dedup_ensemble" -> ensembleVerdictSql,
    "dedup_degree_hist" -> degreeHistSql,
    "dedup_pagerank" -> pageRankSql,
    "dedup_kcore" -> kcoreSql,
    "dedup_minhash_losers" -> (minhashLosersSql(0.9) + "\nORDER BY doc_id"),
    "dedup_ngram_jaccard" -> ngramJaccardSql,
    "dedup_containment" -> containmentSql,
    "dedup_simhash" -> simhashSql,
    "dedup_simhash_pairs" -> simhashPairsSql,
    "dedup_incremental" -> incrementalSql,
    // the store variant has the same output contract; the same oracle
    // proves the persisted-store probe returns what the inline form does
    "dedup_incremental_store" -> incrementalSql,
    "dedup_split_leakage" -> splitLeakageSql)
}
