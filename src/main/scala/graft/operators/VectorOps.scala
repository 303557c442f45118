package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFns
import graft.sources.Tables

/** [EXT] Similarity search over `embeddings` (SURVEY.md §2.10 L3x).
  *
  * Two tiers, as a 100 TB engine needs both:
  *  - Brute-force cosine top-K: the exact baseline. The query set is tiny
  *    and BROADCAST; the corpus streams once per partition and the top-K is
  *    taken with a rank window — no corpus shuffle of vectors, only the
  *    K survivors move.
  *  - IVF-style ANN: coarse quantizer = per-label centroids (computed with
  *    exact integer arithmetic so the oracle matches), probe the 2 nearest
  *    cells, exact-search only inside them. At scale the cell id is the
  *    partition key: probing turns a full scan into reading ~2/N of data.
  */
object VectorOps extends QueryModule {

  private val NQUERY = 5 // query vectors = vec_id < 5
  private val TOPK = 10
  private val PROBES = 2
  private val IVFK = 5
  /** Near-dup blocking probes more cells than top-K search (PROBES=2): a
    * PAIR is found only if the two vectors' probe sets intersect, so pair
    * recall ~ probe-recall², and the 0.5-cosine threshold admits pairs far
    * enough apart to land in disjoint top-2 cells (observed at sf0.1:
    * 10/14 pairs with 2 probes, 14/14 with 4 — verified against brute
    * force at sf0.001/0.01/0.1). */
  private val DUP_PROBES = 4
  /** Chunk fan-out for the cell self-join (see embeddingNearDupBlockedOn):
    * each cell's pair space is split across NCHUNK join keys, so the
    * quadratic pair EXPLOSION parallelizes NCHUNK-ways per cell instead of
    * being bounded by the cell count — the self-join analog of skew
    * salting. 16 ≈ 2 waves at 32 threads for the fixture's 5-cell domain;
    * at scale it bounds any single hot cell's task to 1/16 of its pairs. */
  private val NCHUNK = 16

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  // ------------------------------------------------------------------
  // Brute-force exact cosine top-K.
  // ------------------------------------------------------------------
  def cosineTopK(s: SparkSession, dir: String): DataFrame = {
    val q = emb(s, dir).filter(col("vec_id") < NQUERY)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val d = emb(s, dir).select(col("vec_id").as("did"), col("embedding").as("de"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("did"))
    d.join(broadcast(q), col("did") =!= col("qid"))
      .select(col("qid"), col("did"),
        VectorFns.cosine(col("qe"), col("de")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOPK)
      .select(col("qid"), col("rank"), col("did"), col("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  val cosineTopKSql: String =
    s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
      |           FROM embeddings WHERE vec_id < $NQUERY),
      |d AS (SELECT vec_id AS did, CAST(embedding AS DOUBLE[]) AS de FROM embeddings),
      |scored AS (
      |  SELECT qid, did,
      |    list_dot_product(qe, de) / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(de, de))) AS cos
      |  FROM d JOIN q ON did <> qid)
      |SELECT qid, rank, did, cos FROM (
      |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, did) AS rank
      |  FROM scored)
      |WHERE rank <= $TOPK ORDER BY qid, rank""".stripMargin

  // ------------------------------------------------------------------
  // IVF-style ANN: label = coarse cell; centroid per cell via exact
  // integer micro-unit sums; probe the PROBES best cells by dot product;
  // exact cosine only within probed cells.
  // ------------------------------------------------------------------
  def annIvf(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    // exact centroid: sum of round(v * 1e6) per (label, pos), then /n
    val centroids = e
      .select(col("label"), posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(round(col("v") * 1e6).cast("long")).as("csum"), count(lit(1)).as("n"))
      .withColumn("cv", col("csum").cast("double") / col("n"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        x => x.getField("cv")).as("ce"))
    val q = e.filter(col("vec_id") < NQUERY)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val wProbe = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("label"))
    val probes = centroids.join(broadcast(q), lit(true))
      .select(col("qid"), col("label"),
        VectorFns.dot(col("qe"), col("ce")).as("score"))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= PROBES)
      .select(col("qid").as("pqid"), col("label").as("plabel"))
    val wRank = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("did"))
    e.select(col("vec_id").as("did"), col("label"), col("embedding").as("de"))
      .join(broadcast(probes), col("label") === col("plabel"))
      .join(broadcast(q), col("qid") === col("pqid") && col("did") =!= col("qid"))
      .select(col("qid"), col("did"), col("label"),
        VectorFns.cosine(col("qe"), col("de")).as("cos"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= IVFK)
      .select(col("qid"), col("rank"), col("did"), col("label"), col("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  val annIvfSql: String =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS de FROM embeddings),
      |cent AS (
      |  SELECT label, list(cv ORDER BY pos) AS ce FROM (
      |    SELECT label, pos, CAST(SUM(sv) AS DOUBLE) / COUNT(*) AS cv FROM (
      |      SELECT label, g.i AS pos, CAST(round(de[g.i] * 1e6) AS BIGINT) AS sv
      |      FROM e CROSS JOIN range(1, 65) g(i))
      |    GROUP BY label, pos)
      |  GROUP BY label),
      |q AS (SELECT vec_id AS qid, de AS qe FROM e WHERE vec_id < $NQUERY),
      |probes AS (
      |  SELECT qid, label FROM (
      |    SELECT qid, label,
      |      row_number() OVER (PARTITION BY qid ORDER BY list_dot_product(qe, ce) DESC, label) AS pr
      |    FROM cent CROSS JOIN q)
      |  WHERE pr <= $PROBES),
      |scored AS (
      |  SELECT q.qid AS qid, vec_id AS did, e.label,
      |    list_dot_product(qe, de) / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(de, de))) AS cos
      |  FROM e JOIN probes ON e.label = probes.label
      |  JOIN q ON probes.qid = q.qid AND e.vec_id <> q.qid)
      |SELECT qid, rank, did, label, cos FROM (
      |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, did) AS rank
      |  FROM scored)
      |WHERE rank <= $IVFK ORDER BY qid, rank""".stripMargin

  // ------------------------------------------------------------------
  // Same brute-force top-K, but scored by the custom codegen'd
  // CosineSimilarity expression (graft.plans) — single fused loop, no
  // intermediate arrays. Bit-identical to the HOF version, so it shares
  // the same oracle; Bench shows the speedup.
  // ------------------------------------------------------------------
  def cosineTopKFast(s: SparkSession, dir: String): DataFrame = {
    val q = emb(s, dir).filter(col("vec_id") < NQUERY)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val d = emb(s, dir).select(col("vec_id").as("did"), col("embedding").as("de"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("did"))
    d.join(broadcast(q), col("did") =!= col("qid"))
      .select(col("qid"), col("did"), expr("cosine_fast(qe, de)").as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOPK)
      .select(col("qid"), col("rank"), col("did"), col("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  // ------------------------------------------------------------------
  // BLOCKED near-dup (the registered, 100 TB-shaped form): candidate pairs
  // come from an EQUI-JOIN on probed IVF cells, never from an all-pairs
  // product. Stages:
  //   1. per-label centroids (annIvf's exact integer arithmetic);
  //   2. every vector is assigned to its PROBES best cells by centroid dot
  //      product (multi-probe assignment is what keeps recall: two vectors
  //      with cosine >= 0.5 land in a shared probed cell);
  //   3. candidate (d1 < d2) pairs = vectors sharing a probed cell —
  //      a hash join on the cell id, distinct'd;
  //   4. embeddings rehydrated by TWO keyed id-joins (e1 attached by d1,
  //      then e2 by d2), the fused cosine evaluated in the second join's
  //      task — one exact cosine per pair.
  // Scale: the pair space is cell-local (sum over cells of |cell|² instead
  // of n²); the cell id is the shuffle key; candidates are a vanishing
  // fraction of the corpus, so the single id-join that rehydrates
  // embeddings moves candidate-sized data. Same result as the brute force
  // on the fixture (oracle + LlmOpsSpec's brute-force cross-check).
  // ------------------------------------------------------------------
  def embeddingNearDupBlocked(s: SparkSession, dir: String): DataFrame =
    embeddingNearDupBlockedOn(emb(s, dir))

  /** Core over an arbitrary (vec_id, label, embedding) relation — factored
    * out so specs can drive it with an input that GUARANTEES candidate
    * pairs at any scale factor (an empty result lets AQE collapse the
    * whole plan to an EmptyRelation, which no plan-shape guard survives). */
  private[graft] def embeddingNearDupBlockedOn(e: DataFrame): DataFrame = {
    val s = e.sparkSession
    val centroids = e
      .select(col("label"), posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(round(col("v") * 1e6).cast("long")).as("csum"), count(lit(1)).as("n"))
      .withColumn("cv", col("csum").cast("double") / col("n"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        x => x.getField("cv")).as("ce"))
      .select(col("label").as("cell"), col("ce"))
    val wAssign = Window.partitionBy(col("vec_id")).orderBy(col("score").desc, col("cell"))
    // The self-join below consumes the assignment twice, but NO explicit
    // materialization: the two branches canonicalize identically, so
    // ReuseExchange/AQE stage reuse computes the assignment shuffle once
    // and shares it. (Round 4 used an eager localCheckpoint here — it ran
    // the centroid stage as a separate opaque job during plan CONSTRUCTION,
    // hiding it from AQE and the plan guards, and a localCheckpoint
    // forfeits lineage: one lost executor fails a 100 TB run instead of
    // recomputing the lost blocks.)
    val assigned = e.select(col("vec_id"), col("embedding"))
      .join(broadcast(centroids), lit(true))
      .select(col("vec_id"), col("cell"),
        VectorFns.dot(col("embedding"), col("ce")).as("score"))
      .withColumn("pr", row_number().over(wAssign))
      .filter(col("pr") <= DUP_PROBES)
      .select(col("vec_id"), col("cell"))
    // SALTED pair generation: the self-join's INPUT is tiny but its OUTPUT
    // is quadratic per cell, so (a) joining on cell alone bounds
    // parallelism by the cell count, and (b) AQE, which plans by INPUT
    // bytes, would coalesce (or broadcast-join) the whole explosion into
    // one task. Chunk one side by hash(vec_id) % NCHUNK, fan the other out
    // to all NCHUNK chunk keys, and join on (cell, chunk) with an
    // explicitly PINNED partition count on BOTH sides (repartition with
    // numPartitions is not AQE-coalescible; pinning only one side leaves
    // the other serial whenever AQE broadcasts the pinned one): every
    // (d1, d2) pair surfaces exactly once — at d2's chunk key — and each
    // cell's pair space splits across NCHUNK independent tasks. Same rows
    // as the plain cell join, verified by the brute-force cross-check in
    // LlmOpsSpec and the DuckDB oracle.
    val nShuffle = s.sessionState.conf.numShufflePartitions
    // coalesce makes the chunk key NON-NULLABLE (pmod is nullable in the
    // abstract): otherwise the join infers isnotnull(pmod(hash(vec_id)))
    // and pushes it into THIS branch's scan only, making the two window
    // subtrees canonically unequal — which silently kills the exchange
    // reuse and recomputes the whole assignment stage.
    val byChunk = assigned.select(col("vec_id").as("d2"), col("cell"),
      coalesce(pmod(hash(col("vec_id")), lit(NCHUNK)), lit(0)).as("chunk"))
      .repartition(nShuffle, col("cell"), col("chunk"))
    val fanned = assigned.select(col("vec_id").as("d1"), col("cell"))
      .withColumn("chunk", explode(sequence(lit(0), lit(NCHUNK - 1))))
      .repartition(nShuffle, col("cell"), col("chunk"))
    val candidates = fanned.join(byChunk, Seq("cell", "chunk"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"))
      .distinct()
    // Rehydration as TWO keyed id-joins (round 21, guide §2.3 "shuffle
    // fewer bytes"): attach e1 by d1, then e2 by d2, and evaluate the
    // fused cosine in the second join's task. The previous form exploded
    // every pair into two (pair, side, vec_id) probe rows and re-grouped
    // by pair with first(when(side...)) aggregates — that final
    // groupBy(d1, d2) exchange carried BOTH embeddings per pair as
    // un-reducible aggregate state (first() over rows that land in
    // different map partitions merges nothing map-side), i.e. ~2 vectors
    // of payload per candidate pair through a shuffle, plus the 2x probe
    // fan-out before it. The join chain moves each candidate row through
    // at most two key exchanges carrying ONE vector, and the whole
    // explode + wide-aggregate stage disappears. Identical rows:
    // candidates are distinct, vec_id is unique in the corpus, and both
    // joins are inner on ids that exist by construction — one row per
    // candidate pair DEPENDS on vec_id being unique in the corpus (the
    // old first() aggregate collapsed hypothetical duplicates; LlmOpsSpec's
    // brute-force cross-check pins the invariant). Trade-off made
    // knowingly: in the no-broadcast fallback the corpus relation flows
    // through TWO vec_id exchanges (one per side) where the old shape paid
    // one scan + one exchange — a win whenever candidates are the smaller
    // side (they are, by construction: a vanishing fraction of the corpus)
    // or AQE broadcasts the corpus side. Still no
    // broadcast hints in either direction: the candidate set scales with
    // corpus duplication (web corpora run 30%+ duplicates), so forcing it
    // onto the driver is unbounded at 100 TB — unhinted, AQE broadcasts
    // the corpus side when runtime stats prove it small (it does at
    // fixture scale, making both joins exchange-free) and falls back to a
    // key shuffle when they don't.
    candidates
      .join(e.select(col("vec_id").as("d1"), col("embedding").as("e1")), Seq("d1"))
      .join(e.select(col("vec_id").as("d2"), col("embedding").as("e2")), Seq("d2"))
      .select(col("d1"), col("d2"), expr("cosine_fast(e1, e2)").as("cos"))
      .filter(col("cos") >= 0.5)
      .orderBy(col("d1"), col("d2"))
  }

  // ------------------------------------------------------------------
  // [EXT] k-means training for the IVF coarse quantizer: KM_ITER unrolled
  // Lloyd iterations of SPHERICAL k-means (cosine assignment — the right
  // metric for normalized-ish embedding spaces, and scale-invariant, so
  // centroids can stay in exact micro-units). annIvf above USES a coarse
  // quantizer (per-label cells); this trains one from scratch:
  //   init:   the KM_K lowest-id vectors (deterministic, pushdown filter);
  //   assign: per-row argmax cosine against the K centroids, computed as a
  //           NARROW codegen'd map over centroid LITERALS — zero join,
  //           zero shuffle of the corpus;
  //   update: posexplode to (k, pos), exact integer micro-unit sums
  //           (annIvf's determinism trick), map-side partial aggregation —
  //           the only exchange per iteration carries K*dims rows.
  // Between iterations the K*dims centroid matrix is collected to the
  // driver and re-embedded as literals — bounded state (KM_K*64 doubles),
  // the same broadcast-value pattern MLlib's KMeans uses; NOT a
  // driver-side data loop. At 100 TB each iteration is one full scan with
  // nothing wider than a K*dims aggregate behind it — the optimal shape.
  // Output: per-cluster size + exact centroid norm after KM_ITER rounds.
  // ------------------------------------------------------------------
  private val KM_K = 8
  private val KM_ITER = 2

  /** Argmax-cosine cluster id over literal centroids, as one codegen'd
    * expression: greatest() of (cos, -k) structs — max cosine, ties to the
    * lowest cluster id — mirroring the oracle's ORDER BY cos DESC, k. */
  private def kmAssign(cents: Seq[(Long, Array[Double])]): Column = {
    val scored = cents.map { case (k, ce) =>
      val lce = array(ce.map(lit): _*)
      struct(VectorFns.cosine(col("de"), lce).as("cos"), lit(-k).as("negk"))
    }
    -greatest(scored: _*).getField("negk")
  }

  /** Exact micro-unit mean per (cluster, pos), re-assembled to a centroid
    * vector (same integer arithmetic as annIvf's centroids). */
  private def kmUpdate(assigned: DataFrame): DataFrame =
    assigned
      .select(col("k"), posexplode(col("de")).as(Seq("pos", "v")))
      .groupBy(col("k"), col("pos"))
      .agg(sum(round(col("v") * 1e6).cast("long")).as("csum"), count(lit(1)).as("n"))
      .withColumn("cv", col("csum").cast("double") / col("n"))
      .groupBy(col("k"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        x => x.getField("cv")).as("ce"),
        max(col("n")).as("n"))

  def kmeansTrain(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("de"))
    def collectCents(c: DataFrame): Seq[(Long, Array[Double])] =
      c.collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1)
    // init: K seed vectors (bounded collect; id pushdown prunes the scan)
    var cents = collectCents(
      e.filter(col("vec_id") < KM_K).select(col("vec_id").as("k"), col("de")))
    // all but the last Lloyd round materialize the K*dims matrix eagerly
    for (_ <- 1 until KM_ITER)
      cents = collectCents(
        kmUpdate(e.withColumn("k", kmAssign(cents))).select(col("k"), col("ce")))
    // the last round stays lazy: the registered plan is assign -> update
    kmUpdate(e.withColumn("k", kmAssign(cents)))
      .select(col("k").as("cluster"), col("n").as("n_members"),
        sqrt(VectorFns.dot(col("ce"), col("ce"))).as("centroid_norm"))
      .orderBy(col("cluster"))
  }

  val kmeansTrainSql: String = {
    def assignSql(centsCte: String, outCte: String): String =
      s"""$outCte AS (SELECT vec_id, de, k FROM (
        |  SELECT e.vec_id, e.de, c.k,
        |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |      list_dot_product(e.de, c.ce) /
        |        (sqrt(list_dot_product(e.de, e.de)) * sqrt(list_dot_product(c.ce, c.ce))) DESC,
        |      c.k) AS rn
        |  FROM e CROSS JOIN $centsCte c) WHERE rn = 1)""".stripMargin
    def updateSql(assignCte: String, outCte: String): String =
      s"""$outCte AS (SELECT k, list(cv ORDER BY pos) AS ce, MAX(n) AS n FROM (
        |  SELECT k, g.i AS pos,
        |    CAST(SUM(CAST(round(de[g.i] * 1e6) AS BIGINT)) AS DOUBLE) / COUNT(*) AS cv,
        |    COUNT(*) AS n
        |  FROM $assignCte CROSS JOIN range(1, 65) g(i)
        |  GROUP BY k, g.i) GROUP BY k)""".stripMargin
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS de FROM embeddings),
      |c0 AS (SELECT vec_id AS k, de AS ce FROM e WHERE vec_id < $KM_K),
      |${assignSql("c0", "a1")},
      |${updateSql("a1", "c1")},
      |${assignSql("c1", "a2")},
      |${updateSql("a2", "c2")}
      |SELECT k AS cluster, n AS n_members,
      |  sqrt(list_dot_product(ce, ce)) AS centroid_norm
      |FROM c2 ORDER BY cluster""".stripMargin
  }

  val embeddingNearDupSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS de FROM embeddings)
      |SELECT a.vec_id AS d1, b.vec_id AS d2,
      |  list_dot_product(a.de, b.de) /
      |    (sqrt(list_dot_product(a.de, a.de)) * sqrt(list_dot_product(b.de, b.de))) AS cos
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE list_dot_product(a.de, b.de) /
      |    (sqrt(list_dot_product(a.de, a.de)) * sqrt(list_dot_product(b.de, b.de))) >= 0.5
      |ORDER BY d1, d2""".stripMargin

  // ------------------------------------------------------------------
  // [EXT] Product quantization (PQ) — the memory-scale path of ANN: each
  // 64-dim vector compresses to PQ_M=4 one-byte codes (16x smaller than
  // float32), and search runs over the COMPRESSED codes via asymmetric
  // distance (ADC): dist(q, x) ~ sum_m ||q_m - codebook_m[code_m(x)]||^2.
  // The whole pipeline is deterministic and DuckDB-checkable:
  //   train:  per-subspace k-means (init = slices of the PQ_K lowest-id
  //           vectors; one Lloyd round) — assignment is a codegen'd
  //           argmin-L2 over centroid LITERALS (no join, no shuffle of the
  //           corpus; all PQ_M subspaces assigned in ONE scan), update is
  //           the exact micro-unit mean (kmeansTrain's trick) whose only
  //           exchange carries M*K*16 rows;
  //   encode: a second narrow literal-map scan -> (vec_id, code0..code3);
  //   search: 4 broadcast joins against the tiny codebooks rehydrate the
  //           centroid vectors, a bounded query set (PQ_NQ rows) broadcast
  //           cross-joins, and ADC evaluates as a FIXED left-assoc
  //           d0+d1+d2+d3 of dot-product identities (fold-identical to
  //           DuckDB, see VectorFns) — bit-deterministic doubles.
  // At 100 TB: codes are 16x cheaper to scan than raw vectors, codebooks
  // are O(M*K*sub) bounded broadcasts, and the only corpus-wide exchange
  // is the final top-K rank window (refinable to per-partition local
  // top-K + merge when the query set grows).
  // ------------------------------------------------------------------
  private val PQ_M = 4     // subspaces
  private val PQ_SUB = 16  // dims per subspace
  private val PQ_K = 8     // codes per subspace
  private val PQ_NQ = 3    // query vectors: vec_id < 3
  private val PQ_TOPK = 5

  /** 1-based subspace slice m of a 64-dim array column. */
  private def sub(c: Column, m: Int): Column = slice(c, m * PQ_SUB + 1, PQ_SUB)

  /** Squared L2 via the three dot products — the fold-identical form both
    * engines compute bit-equally (never elementwise subtraction, whose
    * summation order would differ). Scored by the fused codegen
    * [[graft.plans.L2Squared]] expression (bit-identical to the HOF
    * three-fold form — see its Scaladoc — so the DuckDB twins are
    * unchanged); callers must have GraftFunctions registered (Sessions
    * does; pqSearch/pqTrain re-ensure). */
  private def l2sq(a: Column, b: Column): Column =
    call_function("l2sq_fast", a, b)

  /** Argmin-L2 code over literal codebook entries: least() of (dist, code)
    * structs — min distance, ties to the lowest code, mirroring the
    * oracle's ORDER BY dist, code. */
  private def pqAssign(cb: Seq[(Long, Array[Double])], sliceCol: Column): Column = {
    val scored = cb.map { case (code, ce) =>
      struct(l2sq(sliceCol, array(ce.map(lit): _*)).as("d"), lit(code).as("code"))
    }
    least(scored: _*).getField("code")
  }

  /** One Lloyd round per subspace, all subspaces in one corpus pass.
    * Returns codebook m as sorted (code, centroid) pairs — bounded
    * driver state (PQ_M * PQ_K * PQ_SUB doubles), the literal-broadcast
    * pattern kmeansTrain uses. */
  private def pqTrain(e: DataFrame): IndexedSeq[Seq[(Long, Array[Double])]] = {
    val initRows = e.filter(col("vec_id") < PQ_K)
      .select(col("vec_id"), col("de")).collect().sortBy(_.getLong(0))
    val init = (0 until PQ_M).map(m => initRows.toSeq.map(r => (r.getLong(0),
      r.getSeq[Double](1).slice(m * PQ_SUB, (m + 1) * PQ_SUB).toArray)))
    val withCodes = e.select(
      col("vec_id") +: col("de") +:
        (0 until PQ_M).map(m => pqAssign(init(m), sub(col("de"), m)).as(s"code$m")): _*)
    val upd = withCodes
      .select(col("vec_id") +:
        (0 until PQ_M).map(m => col(s"code$m")) :+ posexplode(col("de")): _*)
      .withColumn("m", (col("pos") / PQ_SUB).cast("int"))
      .withColumn("subpos", pmod(col("pos"), lit(PQ_SUB)))
      .withColumn("code", element_at(
        array((0 until PQ_M).map(m => col(s"code$m")): _*), col("m") + 1))
      .groupBy(col("m"), col("code"), col("subpos"))
      .agg(sum(round(col("col") * 1e6).cast("long")).as("csum"), count(lit(1)).as("n"))
      .withColumn("cv", col("csum").cast("double") / col("n"))
      .groupBy(col("m"), col("code"))
      .agg(transform(array_sort(collect_list(struct(col("subpos"), col("cv")))),
        x => x.getField("cv")).as("ce"))
      .collect()
    (0 until PQ_M).map(m => upd.filter(_.getInt(0) == m)
      .map(r => (r.getLong(1), r.getSeq[Double](2).toArray)).toSeq.sortBy(_._1))
  }

  /** Encode every vector to PQ codes with the given codebooks, then
    * rehydrate the centroid vector per subspace via broadcast joins.
    * Extra passthrough columns (e.g. the IVF label) survive. */
  private def pqEncodeWithCents(s: SparkSession, e: DataFrame,
      cbs: IndexedSeq[Seq[(Long, Array[Double])]], extra: Seq[String]): DataFrame = {
    import s.implicits._
    val enc = e.select(
      (col("vec_id") +: extra.map(col)) ++
        (0 until PQ_M).map(m => pqAssign(cbs(m), sub(col("de"), m)).as(s"code$m")): _*)
    (0 until PQ_M).foldLeft(enc) { (cur, m) =>
      val cb = cbs(m).map { case (c, ce) => (c, ce.toSeq) }
        .toDF(s"code$m", s"ce$m")
      cur.join(broadcast(cb), Seq(s"code$m"))
    }
  }

  /** The bounded PQ query relation: subspace slices of the PQ_NQ lowest-id
    * vectors (plus the full vector for cell probing). */
  private def pqQueries(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < PQ_NQ).select(
      col("vec_id").as("qid") +: col("de").as("qe") +:
        (0 until PQ_M).map(m => sub(col("de"), m).as(s"q$m")): _*)

  private def pqAdc: Column =
    (0 until PQ_M).map(m => l2sq(col(s"q$m"), col(s"ce$m"))).reduce(_ + _)

  /** Encode + ADC + rank over pre-trained codebooks (the steady-state
    * search path: in production the codebooks are a persisted artifact,
    * not retrained per query). */
  private def pqSearch(s: SparkSession, e: DataFrame,
      cbs: IndexedSeq[Seq[(Long, Array[Double])]]): DataFrame = {
    val withCents = pqEncodeWithCents(s, e, cbs, Seq.empty)
    val adc = withCents.crossJoin(broadcast(pqQueries(e).drop("qe")))
      .withColumn("adc", pqAdc)
    val w = Window.partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))
    adc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= PQ_TOPK)
      .select(col("qid"), col("rank"), col("vec_id"), col("adc"))
      .orderBy(col("qid"), col("rank"))
  }

  def pqTopK(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("de"))
    pqSearch(s, e, pqTrain(e))
  }

  /** Bench-only: the search path alone, over codebooks staged as an input
    * (trained once per (session, dir) — plain driver-side arrays, no Spark
    * resources to leak). Registered via BenchOnly so BENCH_r{N}.json
    * carries an honest steady-state search cost next to emb_pq_topk's
    * train+search cost. */
  private[graft] def pqTopKSearchOnly(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("de"))
    pqSearch(s, e, graft.Scratch.staged(s, dir, "pq_codebooks")(pqTrain(e)))
  }

  /** Shared oracle fragments: the PQ train/encode CTE chain (`e`, `s`,
    * init/assign/update per subspace, `enc`) plus the ADC helpers — used
    * by both the flat PQ search and the IVF-PQ composition. */
  private def pqL2(a: String, b: String): String =
    s"list_dot_product($a, $a) + list_dot_product($b, $b) - 2.0 * list_dot_product($a, $b)"

  private val pqCentJoins: String =
    (0 until PQ_M).map(m => s"JOIN u$m c$m ON enc.code$m = c$m.code").mkString(" ")

  private val pqAdcSqlExpr: String =
    (0 until PQ_M).map(m => s"(${pqL2(s"q.q$m", s"c$m.ce")})").mkString(" + ")

  /** The PQ train/encode CTE chain (`{p}s`, init/assign/update per
    * subspace, `{p}enc`) over an arbitrary (vec_id, de) source CTE —
    * shared by the flat PQ oracles (src = `e`, empty prefix) and the
    * residual oracles (src = a residual relation, prefixed so the chain
    * can coexist with the flat one inside a single WITH list, as the
    * recall oracle needs). */
  private def pqChainCtes(src: String, p: String = ""): String = {
    val subCols = (0 until PQ_M).map(m =>
      s"de[${m * PQ_SUB + 1}:${(m + 1) * PQ_SUB}] AS s$m").mkString(", ")
    def assignCte(m: Int, cbCte: String, outCte: String): String =
      s"""$outCte AS (SELECT vec_id, code FROM (
        |  SELECT s.vec_id, c.code, row_number() OVER (PARTITION BY s.vec_id
        |    ORDER BY ${pqL2(s"s.s$m", "c.ce")}, c.code) AS rn
        |  FROM ${p}s s CROSS JOIN $cbCte c) WHERE rn = 1)""".stripMargin
    def updCte(m: Int): String =
      s"""${p}u$m AS (SELECT code, list(cv ORDER BY pos) AS ce FROM (
        |  SELECT a.code, g.i AS pos,
        |    CAST(SUM(CAST(round(s.s$m[g.i] * 1e6) AS BIGINT)) AS DOUBLE) / COUNT(*) AS cv
        |  FROM ${p}a$m a JOIN ${p}s s ON a.vec_id = s.vec_id
        |  CROSS JOIN range(1, ${PQ_SUB + 1}) g(i)
        |  GROUP BY a.code, g.i) GROUP BY code)""".stripMargin
    val inits = (0 until PQ_M).map(m =>
      s"${p}i$m AS (SELECT vec_id AS code, s$m AS ce FROM ${p}s WHERE vec_id < $PQ_K)")
    val assigns = (0 until PQ_M).map(m => assignCte(m, s"${p}i$m", s"${p}a$m"))
    val upds = (0 until PQ_M).map(updCte)
    val encs = (0 until PQ_M).map(m => assignCte(m, s"${p}u$m", s"${p}e$m"))
    val encJoin = (1 until PQ_M).map(m => s"JOIN ${p}e$m USING (vec_id)").mkString(" ")
    s"""${p}s AS (SELECT vec_id, $subCols FROM $src),
      |${inits.mkString(",\n")},
      |${assigns.mkString(",\n")},
      |${upds.mkString(",\n")},
      |${encs.mkString(",\n")},
      |${p}enc AS (SELECT ${p}e0.vec_id, ${(0 until PQ_M).map(m => s"${p}e$m.code AS code$m").mkString(", ")}
      |        FROM ${p}e0 $encJoin)""".stripMargin
  }

  private val pqCommonCtes: String =
    s"""e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS de FROM embeddings),
      |${pqChainCtes("e")},
      |q AS (SELECT vec_id AS qid, de AS qe,
      |        ${(0 until PQ_M).map(m => s"s$m AS q$m").mkString(", ")}
      |      FROM s JOIN e USING (vec_id) WHERE vec_id < $PQ_NQ)""".stripMargin

  val pqTopKSql: String =
    s"""WITH $pqCommonCtes,
      |adc AS (SELECT q.qid, enc.vec_id, $pqAdcSqlExpr AS adc
      |        FROM enc $pqCentJoins CROSS JOIN q)
      |SELECT qid, rank, vec_id, adc FROM (
      |  SELECT qid, vec_id, adc,
      |    row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rank
      |  FROM adc)
      |WHERE rank <= $PQ_TOPK ORDER BY qid, rank""".stripMargin

  // ------------------------------------------------------------------
  // [EXT] IVF-PQ: the composed production ANN — IVF bounds WHAT is scanned
  // (only vectors in the query's PROBES best cells), PQ bounds what is
  // scanned PER VECTOR (4 bytes of codes instead of 256 bytes of floats).
  // Exactly the annIvf cell/probe machinery over exactly the pqTopK
  // codebooks/codes; the candidate set is the equi-join of encoded codes
  // with the probed (qid, label) pairs, scored by ADC. At 100 TB: cell id
  // is the partition key, so a probe reads PROBES/ncells of the corpus,
  // and each candidate row is a 4-code tuple — the scan-volume and
  // memory-volume reductions compose multiplicatively.
  // ------------------------------------------------------------------
  def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("de"))
    val cbs = pqTrain(e.select(col("vec_id"), col("de")))
    val withCents = pqEncodeWithCents(s, e, cbs, Seq("label"))
    val q = pqQueries(e)
    // coarse probe: same exact-centroid cells as annIvf, PQ_NQ queries
    val centroids = e
      .select(col("label"), posexplode(col("de")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(round(col("v") * 1e6).cast("long")).as("csum"), count(lit(1)).as("n"))
      .withColumn("cv", col("csum").cast("double") / col("n"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        x => x.getField("cv")).as("ce"))
    val wProbe = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("label"))
    val probes = centroids.join(broadcast(q.select(col("qid"), col("qe"))), lit(true))
      .select(col("qid"), col("label"), VectorFns.dot(col("qe"), col("ce")).as("score"))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= PROBES)
      .select(col("qid").as("pqid"), col("label").as("plabel"))
    val wRank = Window.partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))
    withCents
      .join(broadcast(probes), col("label") === col("plabel"))
      .join(broadcast(q.drop("qe")),
        col("qid") === col("pqid") && col("vec_id") =!= col("qid"))
      .withColumn("adc", pqAdc)
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= PQ_TOPK)
      .select(col("qid"), col("rank"), col("vec_id"), col("label"), col("adc"))
      .orderBy(col("qid"), col("rank"))
  }

  val annIvfPqSql: String =
    s"""WITH $pqCommonCtes,
      |cent AS (
      |  SELECT label, list(cv ORDER BY pos) AS ce FROM (
      |    SELECT label, pos, CAST(SUM(sv) AS DOUBLE) / COUNT(*) AS cv FROM (
      |      SELECT label, g.i AS pos, CAST(round(de[g.i] * 1e6) AS BIGINT) AS sv
      |      FROM e CROSS JOIN range(1, 65) g(i))
      |    GROUP BY label, pos)
      |  GROUP BY label),
      |probes AS (
      |  SELECT qid, label FROM (
      |    SELECT qid, label,
      |      row_number() OVER (PARTITION BY qid ORDER BY list_dot_product(qe, ce) DESC, label) AS pr
      |    FROM cent CROSS JOIN q)
      |  WHERE pr <= $PROBES),
      |encl AS (SELECT enc.*, e.label FROM enc JOIN e USING (vec_id)),
      |adc AS (SELECT q.qid, enc.vec_id, enc.label, $pqAdcSqlExpr AS adc
      |        FROM encl enc $pqCentJoins
      |        JOIN probes ON enc.label = probes.label
      |        JOIN q ON probes.qid = q.qid AND enc.vec_id <> q.qid)
      |SELECT qid, rank, vec_id, label, adc FROM (
      |  SELECT qid, vec_id, label, adc,
      |    row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rank
      |  FROM adc)
      |WHERE rank <= $PQ_TOPK ORDER BY qid, rank""".stripMargin

  // ------------------------------------------------------------------
  // [EXT] IVF-PQ with RESIDUAL encoding — the production refinement over
  // plain IVF-PQ: the PQ codebooks are trained on r = v - centroid(cell)
  // instead of on v itself. Residuals concentrate near the origin, so the
  // same PQ_K codes spend their resolution on the within-cell geometry
  // rather than on re-encoding the coarse cell position the IVF list
  // already knows — the standard accuracy-per-byte win. Query side: per
  // probed cell the query is residualized against THAT cell's centroid
  // (each (qid, cell) pair gets its own q-residual slices), then ADC runs
  // exactly as in annIvfPq, over the residual codebooks. All arithmetic
  // stays in the parity-proven forms (exact micro-unit centroids,
  // elementwise double subtraction — identical in DuckDB's
  // list_transform — and the fold-identical l2sq), so the full
  // train/encode/probe/score pipeline has an exact generated-CTE oracle.
  // Scale: identical plan skeleton to annIvfPq plus one broadcast
  // centroid join to residualize the corpus — the residual relation is
  // never wider than the input and the extra join is against the
  // label-bounded centroid set.
  // ------------------------------------------------------------------
  def annIvfPqResidual(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("de"))
    val centroidsAgg = e
      .select(col("label"), posexplode(col("de")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(round(col("v") * 1e6).cast("long")).as("csum"), count(lit(1)).as("n"))
      .withColumn("cv", col("csum").cast("double") / col("n"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        x => x.getField("cv")).as("ce"))
    // Round 21 (guide §1.2): the coarse codebook is MATERIALIZED ONCE per
    // execution as a local relation. The residual path consumes centroids
    // from THREE separate driver actions — pqTrain's init collect,
    // pqTrain's update collect, and the final declared plan — and
    // exchange reuse never spans actions, so the lazy form recomputed the
    // full posexplode centroid aggregate 3x per execution. The collect is
    // bounded BY CONSTRUCTION (ncells x 64 doubles — the IVF coarse
    // codebook, same class as the PQ codebooks and kmeansTrain's K-seed
    // collects); downstream arithmetic reads the exact same doubles, so
    // results are bit-identical and the oracle is untouched.
    val centroids = s.createDataFrame(
      java.util.Arrays.asList(centroidsAgg.collect(): _*), centroidsAgg.schema)
    val res = e.join(broadcast(centroids), Seq("label"))
      .select(col("vec_id"), col("label"),
        zip_with(col("de"), col("ce"), (a, b) => a - b).as("de"))
    val cbs = pqTrain(res.select(col("vec_id"), col("de")))
    val withCents = pqEncodeWithCents(s, res, cbs, Seq("label"))
    val q0 = e.filter(col("vec_id") < PQ_NQ)
      .select(col("vec_id").as("qid"), col("de").as("qe"))
    val wProbe = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("label"))
    val qres = centroids.join(broadcast(q0), lit(true))
      .select(col("qid"), col("label"), col("ce"), col("qe"),
        VectorFns.dot(col("qe"), col("ce")).as("score"))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= PROBES)
      .select(
        col("qid").as("pqid") +: col("label").as("plabel") +:
          (0 until PQ_M).map(m =>
            sub(zip_with(col("qe"), col("ce"), (a, b) => a - b), m).as(s"q$m")): _*)
    val wRank = Window.partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))
    withCents
      .join(broadcast(qres),
        col("label") === col("plabel") && col("vec_id") =!= col("pqid"))
      .withColumn("qid", col("pqid"))
      .withColumn("adc", pqAdc)
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= PQ_TOPK)
      .select(col("qid"), col("rank"), col("vec_id"), col("label"), col("adc"))
      .orderBy(col("qid"), col("rank"))
  }

  val annIvfPqResidualSql: String =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS de FROM embeddings),
      |cent AS (
      |  SELECT label, list(cv ORDER BY pos) AS ce FROM (
      |    SELECT label, pos, CAST(SUM(sv) AS DOUBLE) / COUNT(*) AS cv FROM (
      |      SELECT label, g.i AS pos, CAST(round(de[g.i] * 1e6) AS BIGINT) AS sv
      |      FROM e CROSS JOIN range(1, 65) g(i))
      |    GROUP BY label, pos)
      |  GROUP BY label),
      |r AS (SELECT e.vec_id, e.label,
      |        list_transform(range(1, 65), i -> e.de[i] - c.ce[i]) AS de
      |      FROM e JOIN cent c USING (label)),
      |${pqChainCtes("r")},
      |q0 AS (SELECT vec_id AS qid, de AS qe FROM e WHERE vec_id < $PQ_NQ),
      |qres AS (
      |  SELECT qid, label,
      |    ${(0 until PQ_M).map(m =>
             s"rq[${m * PQ_SUB + 1}:${(m + 1) * PQ_SUB}] AS q$m").mkString(", ")}
      |  FROM (
      |    SELECT qid, label, rq FROM (
      |      SELECT q0.qid, cent.label,
      |        list_transform(range(1, 65), i -> q0.qe[i] - cent.ce[i]) AS rq,
      |        row_number() OVER (PARTITION BY q0.qid
      |          ORDER BY list_dot_product(q0.qe, cent.ce) DESC, cent.label) AS pr
      |      FROM cent CROSS JOIN q0)
      |    WHERE pr <= $PROBES)),
      |encl AS (SELECT enc.*, e.label FROM enc JOIN e USING (vec_id)),
      |adc AS (SELECT q.qid, enc.vec_id, enc.label, $pqAdcSqlExpr AS adc
      |        FROM encl enc $pqCentJoins
      |        JOIN qres q ON enc.label = q.label AND enc.vec_id <> q.qid)
      |SELECT qid, rank, vec_id, label, adc FROM (
      |  SELECT qid, vec_id, label, adc,
      |    row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rank
      |  FROM adc)
      |WHERE rank <= $PQ_TOPK ORDER BY qid, rank""".stripMargin

  // ------------------------------------------------------------------
  // [EXT] ANN recall telemetry: recall@K of both approximate searchers
  // (IVF, IVF-PQ) against the exact brute-force top-K, as a REGISTERED
  // oracle-checked query — the accuracy of the ANN family becomes a
  // monitored number instead of a spec-only cross-check. One row per
  // (method, query vector): hits = |ann top-5 ∩ exact top-5|, recall =
  // hits/5. Both sides are deterministic, so the oracle is the same
  // join over the existing CTE stacks. At 100 TB this is the standard
  // eval harness shape: the exact side runs over the SAME bounded query
  // set the ANN answers (NQUERY rows broadcast against the corpus), so
  // cost is one extra brute-force pass over the query set, not a second
  // index build. NOTE on fixture values: the synthetic embeddings are
  // near-uniform random (labels carry little cluster structure), so
  // recall at 2-of-5 probed cells is honestly low (~0.0-0.4) — the
  // number measures the INDEX, and the fixture index has little to find.
  // On clustered real embeddings the same probe budget concentrates the
  // true neighbors in the probed cells.
  // ------------------------------------------------------------------
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    // Round 22 (guide §1.2 "don't compute things you throw away"): the
    // exact ground-truth set is consumed by THREE recallOf legs, and the
    // lazy form re-ran the whole brute-force cosine pipeline once per leg
    // (3 of this plan's 32 embedding scans). It is NQUERY x PQ_TOPK rows
    // by construction (25 here) — the same bounded-collect class as the
    // PQ codebooks — so materialize it once as a local relation and let
    // every leg broadcast the same 25 rows. Values are the identical
    // collected doubles; the oracle is untouched.
    def exactLocal(): DataFrame = {
      val exact0 = cosineTopK(s, dir).filter(col("rank") <= PQ_TOPK)
        .select(col("qid").as("eqid"), col("did").as("edid"))
      s.createDataFrame(
        java.util.Arrays.asList(exact0.collect(): _*), exact0.schema)
    }
    // Round 21 (guide §2.6 "overlap independent jobs"): constructing the
    // IVF-PQ and residual-IVF-PQ legs runs their PQ-training collects —
    // several short driver-blocking jobs each, independent of one another.
    // Built sequentially they serialize ~4 jobs of mostly-idle cluster
    // time; driver threads let the scheduler back-fill one leg's
    // stragglers with another leg's tasks. The collected codebooks (and
    // round 22, the exact ground-truth collect above, a third independent
    // job chain) are deterministic values, so construction order cannot
    // change results.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val fExact = Future(exactLocal())
    val fIvfpq = Future(annIvfPq(s, dir))
    val fRes = Future(annIvfPqResidual(s, dir))
    val ivfCand = annIvf(s, dir).select(col("qid"), col("did"))
    val exact = Await.result(fExact, Duration.Inf)
    def recallOf(cand: DataFrame, method: String): DataFrame =
      cand.join(broadcast(exact),
          col("qid") === col("eqid") && col("did") === col("edid"), "left")
        .groupBy(col("qid"))
        .agg(count(col("edid")).as("hits"))
        .select(lit(method).as("method"), col("qid"), col("hits"),
          (col("hits").cast("double") / PQ_TOPK).as("recall"))
    val ivfpqCand = Await.result(fIvfpq, Duration.Inf)
      .select(col("qid"), col("vec_id").as("did"))
    val resCand = Await.result(fRes, Duration.Inf)
      .select(col("qid"), col("vec_id").as("did"))
    recallOf(ivfCand, "ivf")
      .unionByName(recallOf(ivfpqCand, "ivfpq"))
      .unionByName(recallOf(resCand, "ivfpq_res"))
      .orderBy(col("method"), col("qid"))
  }

  val annRecallSql: String = {
    val cos = "list_dot_product(q5.qe, cand.de) / (sqrt(list_dot_product(q5.qe, q5.qe)) * sqrt(list_dot_product(cand.de, cand.de)))"
    s"""WITH $pqCommonCtes,
      |q5 AS (SELECT vec_id AS qid, de AS qe FROM e WHERE vec_id < $NQUERY),
      |exact AS (
      |  SELECT qid, did FROM (
      |    SELECT q5.qid, cand.vec_id AS did,
      |      row_number() OVER (PARTITION BY q5.qid ORDER BY $cos DESC, cand.vec_id) AS rank
      |    FROM e cand JOIN q5 ON cand.vec_id <> q5.qid)
      |  WHERE rank <= $PQ_TOPK),
      |cent AS (
      |  SELECT label, list(cv ORDER BY pos) AS ce FROM (
      |    SELECT label, pos, CAST(SUM(sv) AS DOUBLE) / COUNT(*) AS cv FROM (
      |      SELECT label, g.i AS pos, CAST(round(de[g.i] * 1e6) AS BIGINT) AS sv
      |      FROM e CROSS JOIN range(1, 65) g(i))
      |    GROUP BY label, pos)
      |  GROUP BY label),
      |probes5 AS (
      |  SELECT qid, label FROM (
      |    SELECT qid, label,
      |      row_number() OVER (PARTITION BY qid ORDER BY list_dot_product(qe, ce) DESC, label) AS pr
      |    FROM cent CROSS JOIN q5)
      |  WHERE pr <= $PROBES),
      |ivf AS (
      |  SELECT qid, did FROM (
      |    SELECT q5.qid, cand.vec_id AS did,
      |      row_number() OVER (PARTITION BY q5.qid ORDER BY $cos DESC, cand.vec_id) AS rank
      |    FROM e cand JOIN probes5 ON cand.label = probes5.label
      |    JOIN q5 ON probes5.qid = q5.qid AND cand.vec_id <> q5.qid)
      |  WHERE rank <= $IVFK),
      |probes3 AS (
      |  SELECT qid, label FROM (
      |    SELECT qid, label,
      |      row_number() OVER (PARTITION BY qid ORDER BY list_dot_product(qe, ce) DESC, label) AS pr
      |    FROM cent CROSS JOIN q)
      |  WHERE pr <= $PROBES),
      |encl AS (SELECT enc.*, e.label FROM enc JOIN e USING (vec_id)),
      |ivfpq AS (
      |  SELECT qid, did FROM (
      |    SELECT q.qid, enc.vec_id AS did,
      |      row_number() OVER (PARTITION BY q.qid ORDER BY $pqAdcSqlExpr, enc.vec_id) AS rank
      |    FROM encl enc $pqCentJoins
      |    JOIN probes3 ON enc.label = probes3.label
      |    JOIN q ON probes3.qid = q.qid AND enc.vec_id <> q.qid)
      |  WHERE rank <= $PQ_TOPK),
      |rr AS (SELECT e.vec_id, e.label,
      |        list_transform(range(1, 65), i -> e.de[i] - c.ce[i]) AS de
      |      FROM e JOIN cent c USING (label)),
      |${pqChainCtes("rr", "z")},
      |qres AS (
      |  SELECT qid, label,
      |    ${(0 until PQ_M).map(m =>
             s"rq[${m * PQ_SUB + 1}:${(m + 1) * PQ_SUB}] AS q$m").mkString(", ")}
      |  FROM (
      |    SELECT qid, label, rq FROM (
      |      SELECT q.qid, cent.label,
      |        list_transform(range(1, 65), i -> q.qe[i] - cent.ce[i]) AS rq,
      |        row_number() OVER (PARTITION BY q.qid
      |          ORDER BY list_dot_product(q.qe, cent.ce) DESC, cent.label) AS pr
      |      FROM cent CROSS JOIN q)
      |    WHERE pr <= $PROBES)),
      |zencl AS (SELECT zenc.*, e.label FROM zenc JOIN e USING (vec_id)),
      |ivfpqres AS (
      |  SELECT qid, did FROM (
      |    SELECT qq.qid, enc.vec_id AS did,
      |      row_number() OVER (PARTITION BY qq.qid ORDER BY ${
                (0 until PQ_M).map(m => s"(${pqL2(s"qq.q$m", s"c$m.ce")})").mkString(" + ")
              }, enc.vec_id) AS rank
      |    FROM zencl enc ${(0 until PQ_M).map(m => s"JOIN zu$m c$m ON enc.code$m = c$m.code").mkString(" ")}
      |    JOIN qres qq ON enc.label = qq.label AND enc.vec_id <> qq.qid)
      |  WHERE rank <= $PQ_TOPK),
      |r AS (
      |  SELECT 'ivf' AS method, i.qid, CAST(COUNT(ex.did) AS BIGINT) AS hits
      |  FROM ivf i LEFT JOIN exact ex ON i.qid = ex.qid AND i.did = ex.did
      |  GROUP BY i.qid
      |  UNION ALL
      |  SELECT 'ivfpq' AS method, p.qid, CAST(COUNT(ex.did) AS BIGINT) AS hits
      |  FROM ivfpq p LEFT JOIN exact ex ON p.qid = ex.qid AND p.did = ex.did
      |  GROUP BY p.qid
      |  UNION ALL
      |  SELECT 'ivfpq_res' AS method, p.qid, CAST(COUNT(ex.did) AS BIGINT) AS hits
      |  FROM ivfpqres p LEFT JOIN exact ex ON p.qid = ex.qid AND p.did = ex.did
      |  GROUP BY p.qid)
      |SELECT method, qid, hits, CAST(hits AS DOUBLE) / $PQ_TOPK AS recall
      |FROM r ORDER BY method, qid""".stripMargin
  }

  // ------------------------------------------------------------------
  // MMR diversified top-K (maximal marginal relevance): rerank the top-N
  // cosine candidates so each successive pick trades relevance against
  // redundancy with what is already selected —
  // score_k(d) = 0.5*cos(q,d) - 0.5*max_{s in selected} cos(d,s).
  // The production shape for retrieval-augmented sampling: ANN gives the
  // bounded candidate pool, MMR de-duplicates the RESULT LIST. Scale
  // split: the corpus is touched by exactly TWO distributed jobs — the
  // exact top-N scoring pass (broadcast queries, corpus streams once)
  // and one IN-pushdown rehydration of the <= NQUERY*N candidate vectors
  // for pair sims — while the greedy loop itself runs on the DRIVER over
  // the collected candidate list (NQUERY*N = 100 rows: the legitimate
  // bounded-collect pattern, same as the PQ codebooks; reranking is
  // inherently sequential in K and operates on a list that is bounded BY
  // CONSTRUCTION at any corpus size). A first cut expressed the K stages
  // as chained DataFrames; each stage re-derived the candidate lineage
  // and the ScaleProbe showed ~30x the exact-top-K cost at 10x corpus —
  // the collect form is one scan. All doubles in the greedy are VALUES
  // COLLECTED FROM SPARK EXPRESSIONS (cos, pair sims); the driver only
  // multiplies by the exactly-representable 0.5 and subtracts, the same
  // IEEE ops the oracle's CTE chain performs on the same operands.
  // ------------------------------------------------------------------
  private val MMR_N = 20
  private val MMR_K = 5

  def mmrTopK(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") < NQUERY)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val wCand = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("did"))
    val cand = e.select(col("vec_id").as("did"), col("embedding").as("de"))
      .join(broadcast(q), col("did") =!= col("qid"))
      .select(col("qid"), col("did"),
        VectorFns.cosine(col("qe"), col("de")).as("cos"))
      .withColumn("rn", row_number().over(wCand))
      .filter(col("rn") <= MMR_N)
      .collect()
    val candIds = cand.map(_.getAs[Long]("did")).distinct.sorted
    val cvecs = e.filter(col("vec_id").isin(candIds: _*))
      .select(col("vec_id"), col("embedding"))
    val sim = cvecs.select(col("vec_id").as("a"), col("embedding").as("ae"))
      .join(cvecs.select(col("vec_id").as("b"), col("embedding").as("be")), col("a") < col("b"))
      .select(col("a"), col("b"), VectorFns.cosine(col("ae"), col("be")).as("sim"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def simOf(x: Long, y: Long): Double = if (x < y) sim((x, y)) else sim((y, x))
    val rows = cand.groupBy(_.getAs[Long]("qid")).toSeq.flatMap { case (qid, cs) =>
      val byRn = cs.sortBy(_.getAs[Int]("rn"))
      val top1 = byRn.head
      var selected = Vector((top1.getAs[Long]("did"), top1.getAs[Double]("cos")))
      for (_ <- 2 to MMR_K) {
        val best = byRn
          .filter(r => !selected.exists(_._1 == r.getAs[Long]("did")))
          .map { r =>
            val d = r.getAs[Long]("did")
            (d, 0.5 * r.getAs[Double]("cos") - 0.5 * selected.map(p => simOf(d, p._1)).max)
          }
          .minBy { case (d, sc) => (-sc, d) } // score DESC, did ASC — the oracle's tiebreak
        selected :+= best
      }
      selected.zipWithIndex.map { case ((d, sc), i) => (qid, i + 1, d, sc) }
    }
    import s.implicits._
    rows.toDF("qid", "k", "did", "score").orderBy(col("qid"), col("k"))
  }

  val mmrTopKSql: String = {
    val cos = "list_dot_product(qe, de) / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(de, de)))"
    val stages = (2 to MMR_K).map { k =>
      s"""sel$k AS (
        |  SELECT * FROM sel${k - 1}
        |  UNION ALL
        |  SELECT qid, $k AS k, did, score FROM (
        |    SELECT c.qid, c.did, 0.5 * c.cos - 0.5 * m.maxsim AS score,
        |      row_number() OVER (PARTITION BY c.qid
        |        ORDER BY 0.5 * c.cos - 0.5 * m.maxsim DESC, c.did) AS rn
        |    FROM cand c
        |    JOIN (SELECT p.qid, p.a, MAX(p.sim) AS maxsim
        |          FROM pairs p JOIN sel${k - 1} s ON p.qid = s.qid AND p.b = s.did
        |          GROUP BY p.qid, p.a) m ON c.qid = m.qid AND c.did = m.a
        |    WHERE NOT EXISTS (SELECT 1 FROM sel${k - 1} s2
        |                      WHERE s2.qid = c.qid AND s2.did = c.did))
        |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS de FROM embeddings),
      |q AS (SELECT vec_id AS qid, de AS qe FROM e WHERE vec_id < $NQUERY),
      |cand AS (
      |  SELECT qid, did, de, cos FROM (
      |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, did) AS rn
      |    FROM (SELECT q.qid, e.vec_id AS did, e.de AS de, $cos AS cos
      |          FROM e JOIN q ON e.vec_id <> q.qid))
      |  WHERE rn <= $MMR_N),
      |pairs AS (
      |  SELECT x.qid, x.did AS a, y.did AS b,
      |    list_dot_product(x.de, y.de)
      |      / (sqrt(list_dot_product(x.de, x.de)) * sqrt(list_dot_product(y.de, y.de))) AS sim
      |  FROM cand x JOIN cand y ON x.qid = y.qid AND x.did <> y.did),
      |sel1 AS (
      |  SELECT qid, 1 AS k, did, CAST(cos AS DOUBLE) AS score FROM (
      |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, did) AS rn
      |    FROM cand)
      |  WHERE rn = 1),
      |$stages
      |SELECT qid, k, did, score FROM sel$MMR_K ORDER BY qid, k""".stripMargin
  }

  // ------------------------------------------------------------------
  // [EXT] SQ8 scalar quantization — the third member of the compression
  // family (IVF bounds WHAT is scanned, PQ compresses via codebooks, SQ8
  // compresses via per-dimension affine ranges). Train: one 64-row
  // aggregate finds each dimension's [min, max] over the corpus (assembled
  // into two broadcast arrays, the centroid-assembly idiom). Encode: the
  // corpus maps to integer codes round((v-mn)/(mx-mn)*255) in 0..255 —
  // 1 byte/dim at rest, a 4x cut vs float32. Search is the ASYMMETRIC
  // distance (the FAISS SQ shape): the RAW query vector dots the
  // DEQUANTIZED corpus vector mn + code*(mx-mn)/255 — a symmetric
  // code-times-code product would rank in the shifted-and-scaled space,
  // which diverges arbitrarily from raw-dot ranking (measured: recall 0
  // at sf0.01), while ADC keeps recall@5 = 1.0 there. Parity: encode and
  // decode are single-rounded double ops written in the same order on
  // both engines (round ties can't diverge — every rounded operand is
  // non-negative), and the dot is the proven ordered-fold kernel
  // (VectorFns.dot == DuckDB list_dot_product). Scale: ranges are ONE
  // tiny broadcast; encode is a narrow map; the corpus streams once with
  // no shuffle before the per-qid top-K; codes compose with IVF probing
  // exactly like PQ does.
  // ------------------------------------------------------------------
  private val SQ_NQ = 3
  private val SQ_TOPK = 5

  /** Quantize a double-array column to 0..255 integer codes given
    * broadcast per-dim min (`mna`) / max (`mxa`) arrays. */
  private def sq8Codes(v: Column): Column = {
    val dif = zip_with(v, col("mna"), (x, m) => x - m)
    val rngs = zip_with(col("mxa"), col("mna"), (a, b) => a - b)
    zip_with(dif, rngs, (d, r) =>
      when(r === 0.0, lit(0.0)).otherwise(round(d / r * 255))).cast("array<long>")
  }

  /** Dequantize codes back to doubles: mn + code * ((mx-mn)/255), the
    * same op order the oracle writes. */
  private def sq8Dequant(c: Column): Column = {
    val step = zip_with(col("mxa"), col("mna"), (a, b) => (a - b) / lit(255.0))
    zip_with(zip_with(c.cast("array<double>"), step, (cc, st) => cc * st),
      col("mna"), (x, m) => x + m)
  }

  def annSq8(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), col("embedding").cast("array<double>").as("de"))
    val rng = e
      .select(posexplode(col("de")).as(Seq("pos", "v")))
      .groupBy(col("pos")).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .groupBy()
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mn")))),
        x => x.getField("mn")).as("mna"),
        transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
          x => x.getField("mx")).as("mxa"))
    val codes = e.crossJoin(broadcast(rng))
      .select(col("vec_id"), sq8Codes(col("de")).as("c"))
    val q = e.filter(col("vec_id") < SQ_NQ)
      .select(col("vec_id").as("qid"), col("de").as("qe"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("did"))
    codes.crossJoin(broadcast(rng))
      .select(col("vec_id").as("did"), sq8Dequant(col("c")).as("dv"))
      .join(broadcast(q), col("did") =!= col("qid"))
      .select(col("qid"), col("did"), VectorFns.dot(col("qe"), col("dv")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= SQ_TOPK)
      .select(col("qid"), col("rank"), col("did"), col("score"))
      .orderBy(col("qid"), col("rank"))
  }

  val annSq8Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS de FROM embeddings),
      |x AS (SELECT vec_id, g.i AS pos, de[g.i] AS v FROM e CROSS JOIN range(1, 65) g(i)),
      |rng AS (SELECT pos, MIN(v) AS mn, MAX(v) AS mx FROM x GROUP BY pos),
      |dq AS (
      |  SELECT vec_id,
      |    list((CAST(CASE WHEN mx = mn THEN 0.0
      |                    ELSE round((v - mn) / (mx - mn) * 255) END AS BIGINT)
      |          * ((mx - mn) / 255.0)) + mn ORDER BY pos) AS dv
      |  FROM x JOIN rng USING (pos) GROUP BY vec_id),
      |q AS (SELECT vec_id AS qid, de AS qe FROM e WHERE vec_id < $SQ_NQ),
      |scored AS (
      |  SELECT qid, vec_id AS did, list_dot_product(qe, dv) AS score
      |  FROM dq JOIN q ON vec_id <> qid)
      |SELECT qid, rank, did, score FROM (
      |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, did) AS rank
      |  FROM scored)
      |WHERE rank <= $SQ_TOPK ORDER BY qid, rank""".stripMargin

  // ------------------------------------------------------------------
  // [EXT] Binary (1-bit) quantization ANN — the fourth and most extreme
  // member of the compression family: 1 bit/dim (a 32x cut vs float32).
  // Train: each dimension's threshold is its range MIDPOINT (mn+mx)/2 —
  // min/max are fold-order-independent and the midpoint is one double op,
  // so the stat is bit-exact on both engines (a MEAN threshold would be a
  // fold-order-dependent double sum and is banned by the parity rules).
  // Encode: bit i = (v_i > thr_i), packed into two 32-bit words carried
  // as BIGINTs (packing into one 64-bit word would set the sign bit and
  // overflow the ANSI-mode integer sum). Search is two-stage, the
  // standard binary-ANN shape: Hamming distance on the packed words
  // (codegen'd bit_count(xor)) prunes the corpus to BQ_CAND candidates
  // per query, then the RAW-vector exact dot reranks the survivors —
  // Hamming is the cheap sieve, never the final score. Parity: bit
  // packing is an exact integer sum of distinct powers of two; Hamming
  // is integer; the rerank dot is the proven ordered-fold kernel. Scale:
  // thresholds are ONE 64-row broadcast; encode is a narrow map; the
  // Hamming sieve streams the corpus once with only BQ_CAND survivors
  // per query reaching the rerank — and at rest the index is 16 bytes
  // per vector, so a 100 TB float corpus sieves from a 3 TB bit index.
  // ------------------------------------------------------------------
  private val BQ_NQ = 3
  private val BQ_CAND = 50
  private val BQ_TOPK = 5
  /** Literal 2^i weight arrays: packing = sum(bit_i * 2^i), an exact
    * integer dot with distinct powers of two (max 2^32-1, no overflow). */
  private val POW2_32: Column = array((0 until 32).map(i => lit(1L << i)): _*)

  /** Pack a 64-bit sign pattern (vs broadcast `thra` thresholds) into two
    * 32-bit words `(w0, w1)`; bits [0,32) -> w0, [32,64) -> w1. */
  private def packWords(v: Column): (Column, Column) = {
    val bits = zip_with(v, col("thra"), (x, t) => when(x > t, lit(1L)).otherwise(lit(0L)))
    def word(lo: Int) = aggregate(
      zip_with(slice(bits, lo, 32), POW2_32, (b, w) => b * w), lit(0L), (a, x) => a + x)
    (word(1), word(33))
  }

  def annBinary(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), col("embedding").cast("array<double>").as("de"))
    val thr = e
      .select(posexplode(col("de")).as(Seq("pos", "v")))
      .groupBy(col("pos")).agg(((min(col("v")) + max(col("v"))) / 2).as("t"))
      .groupBy()
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("t")))),
        x => x.getField("t")).as("thra"))
    val packed = packWords(col("de"))
    val codes = e.crossJoin(broadcast(thr))
      .select(col("vec_id"), col("de"), packed._1.as("w0"), packed._2.as("w1"))
    val q = codes.filter(col("vec_id") < BQ_NQ)
      .select(col("vec_id").as("qid"), col("de").as("qe"),
        col("w0").as("qw0"), col("w1").as("qw1"))
    val sieve = Window.partitionBy(col("qid")).orderBy(col("hd"), col("did"))
    val rerank = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("did"))
    codes.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("did"), col("qe"), col("de"),
        (bit_count(col("w0").bitwiseXOR(col("qw0"))) +
          bit_count(col("w1").bitwiseXOR(col("qw1")))).as("hd"))
      .withColumn("r1", row_number().over(sieve))
      .filter(col("r1") <= BQ_CAND)
      .select(col("qid"), col("did"), VectorFns.dot(col("qe"), col("de")).as("score"))
      .withColumn("rank", row_number().over(rerank))
      .filter(col("rank") <= BQ_TOPK)
      .select(col("qid"), col("rank"), col("did"), col("score"))
      .orderBy(col("qid"), col("rank"))
  }

  val annBinarySql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS de FROM embeddings),
      |x AS (SELECT vec_id, g.i - 1 AS pos, de[g.i] AS v FROM e CROSS JOIN range(1, 65) g(i)),
      |thr AS (SELECT pos, (MIN(v) + MAX(v)) / 2 AS t FROM x GROUP BY pos),
      |wd AS (
      |  SELECT vec_id,
      |    CAST(SUM(CASE WHEN pos < 32 AND v > t THEN 1::BIGINT << pos ELSE 0 END) AS BIGINT) AS w0,
      |    CAST(SUM(CASE WHEN pos >= 32 AND v > t THEN 1::BIGINT << (pos - 32) ELSE 0 END) AS BIGINT) AS w1
      |  FROM x JOIN thr USING (pos) GROUP BY vec_id),
      |c AS (SELECT wd.vec_id, w0, w1, de FROM wd JOIN e USING (vec_id)),
      |q AS (SELECT vec_id AS qid, w0 AS qw0, w1 AS qw1, de AS qe FROM c WHERE vec_id < $BQ_NQ),
      |ham AS (
      |  SELECT qid, vec_id AS did, qe, de,
      |    bit_count(xor(w0, qw0)) + bit_count(xor(w1, qw1)) AS hd
      |  FROM c JOIN q ON vec_id <> qid),
      |cand AS (SELECT qid, did, qe, de FROM (
      |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY hd, did) AS r1 FROM ham)
      |  WHERE r1 <= $BQ_CAND),
      |sc AS (SELECT qid, did, list_dot_product(qe, de) AS score FROM cand)
      |SELECT qid, rank, did, score FROM (
      |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, did) AS rank
      |  FROM sc)
      |WHERE rank <= $BQ_TOPK ORDER BY qid, rank""".stripMargin

  // ------------------------------------------------------------------
  // kNN majority-vote classification: predict each held-out query
  // vector's label from its K nearest corpus neighbors (exact cosine),
  // majority vote with (votes DESC, label ASC) tie-break, and report
  // per-query correctness — the label-propagation / weak-supervision
  // step a training-data pipeline runs to fill missing labels.
  //
  // Plan shape = the proven cosineTopK skeleton: the KNN_NQ query
  // vectors are BROADCAST, the corpus streams once partition-local, and
  // only K survivors per query reach the vote aggregation (bounded:
  // KNN_NQ x K rows). Cosines order the rank window but never appear in
  // the output — every output column is an exact integer, so the oracle
  // hash cannot drift on float rendering. At 100 TB the corpus scan
  // dominates and parallelizes per-partition; the vote/argmax stages
  // move KBs.
  // ------------------------------------------------------------------
  private val KNN_NQ = 20
  private val KNN_K = 10

  def knnClassify(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") < KNN_NQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("label").as("true_label"))
    val d = e.filter(col("vec_id") >= KNN_NQ)
      .select(col("vec_id").as("did"), col("embedding").as("de"),
        col("label").as("nlabel"))
    val wNn = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("did"))
    val wVote = Window.partitionBy(col("qid"))
      .orderBy(col("votes").desc, col("nlabel"))
    d.join(broadcast(q), lit(true))
      .select(col("qid"), col("true_label"), col("nlabel"), col("did"),
        VectorFns.cosine(col("qe"), col("de")).as("cos"))
      .withColumn("rnk", row_number().over(wNn))
      .filter(col("rnk") <= KNN_K)
      .groupBy(col("qid"), col("true_label"), col("nlabel"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1)
      .select(col("qid"), col("nlabel").as("pred_label"), col("votes"),
        col("true_label"),
        when(col("nlabel") === col("true_label"), 1).otherwise(0).as("correct"))
      .orderBy(col("qid"))
  }

  val knnClassifySql: String =
    s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe,
      |           label AS true_label FROM embeddings WHERE vec_id < $KNN_NQ),
      |d AS (SELECT vec_id AS did, CAST(embedding AS DOUBLE[]) AS de, label AS nlabel
      |      FROM embeddings WHERE vec_id >= $KNN_NQ),
      |sc AS (
      |  SELECT qid, true_label, nlabel, did,
      |    list_dot_product(qe, de) / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(de, de))) AS cos
      |  FROM d CROSS JOIN q),
      |nn AS (SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, did) AS rnk
      |    FROM sc)
      |  WHERE rnk <= $KNN_K),
      |v AS (SELECT qid, true_label, nlabel, CAST(COUNT(*) AS BIGINT) AS votes
      |      FROM nn GROUP BY qid, true_label, nlabel)
      |SELECT qid, nlabel AS pred_label, votes, true_label,
      |  CAST(CASE WHEN nlabel = true_label THEN 1 ELSE 0 END AS INTEGER) AS correct
      |FROM (
      |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY votes DESC, nlabel) AS vr
      |  FROM v)
      |WHERE vr = 1 ORDER BY qid""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_knn_classify" -> (knnClassify _),
    "emb_ann_binary" -> (annBinary _),
    "emb_ann_sq8" -> (annSq8 _),
    "emb_mmr_topk" -> (mmrTopK _),
    "emb_cosine_topk" -> (cosineTopK _),
    "emb_ann_recall" -> (annRecall _),
    "emb_cosine_topk_fast" -> (cosineTopKFast _),
    "emb_ann_ivf" -> (annIvf _),
    "emb_kmeans" -> (kmeansTrain _),
    "emb_pq_topk" -> (pqTopK _),
    "emb_ann_ivfpq" -> (annIvfPq _),
    "emb_ann_ivfpq_res" -> (annIvfPqResidual _),
    "dedup_embedding_cosine" -> (embeddingNearDupBlocked _))

  def oracles: Map[String, String] = Map(
    "emb_knn_classify" -> knnClassifySql,
    "emb_ann_binary" -> annBinarySql,
    "emb_ann_sq8" -> annSq8Sql,
    "emb_mmr_topk" -> mmrTopKSql,
    "emb_cosine_topk" -> cosineTopKSql,
    "emb_ann_recall" -> annRecallSql,
    "emb_cosine_topk_fast" -> cosineTopKSql,
    "emb_ann_ivf" -> annIvfSql,
    "emb_kmeans" -> kmeansTrainSql,
    "emb_pq_topk" -> pqTopKSql,
    "emb_ann_ivfpq" -> annIvfPqSql,
    "emb_ann_ivfpq_res" -> annIvfPqResidualSql,
    "dedup_embedding_cosine" -> embeddingNearDupSql)
}
