package graft.operators

import org.apache.spark.ml.feature.{BucketedRandomProjectionLSH, MinHashLSH}
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFns
import graft.sources.Tables

/** [EXT] MLlib-backed LSH variants (SURVEY.md §2.10 L2x/L3x): the library
  * wiring counterpart to the portable-md5 MinHash in DedupOps and the exact
  * IVF in VectorOps. Seeds are FIXED so results are reproducible run to run.
  *
  * Oracle story (round 11 — previously the registry's only two rows-only
  * queries): both hash families are now replicated in DuckDB SQL with the
  * fitted randomness INLINED AS LITERALS. The draws are seed-deterministic
  * replicas of MLlib's `createRawLSHModel` (MinHashLSH.scala /
  * BucketedRandomProjectionLSH.scala, verified against spark-mllib 4.1.2
  * bytecode): MinHash coefficients come from `new scala.util.Random(seed)`
  * nextInt pairs; BRP unit vectors from seeded gaussians normalized with
  * the SAME dev.ludovic.netlib JavaBLAS dnrm2/dscal MLlib uses, so the
  * doubles baked into the SQL are bit-identical to `model.randMatrix`.
  * LshSpec pins both replicas against the fitted models via the public
  * bytecode accessors (randCoefficients() / randUnitVectors()), and pins
  * the SQL bucket/hash formulas against `model.transform` output, so an
  * MLlib upgrade that changes either family fails the suite loudly
  * instead of silently rotting the oracles.
  *
  * Scale: both transformers are single-pass (hash signature per row), and
  * approxSimilarityJoin explodes rows by hash table then equi-joins on
  * (table, bucket) — same no-all-pairs property as the hand-rolled LSH.
  */
object LshOps extends QueryModule {

  /** Hashed-vocabulary dimension for the MinHash binary vectors.
    *
    * 2^20 (round 11; was 2^10): with a 1K vocab each table's minhash can
    * take at most 1024 DISTINCT values (the per-table map i -> (1+i)a+b
    * mod P is injective over the index domain), so two documents share a
    * bucket whenever they share an argmin INDEX — bucket sizes, and the
    * candidate-pair join output, grow quadratically with corpus size.
    * The round-11 ScaleProbe caught it: 1.8 s at sf0.1 -> 36 s at x10
    * (20x wall at 10x data). At 2^20 the minhash domain is ~10^6 values,
    * buckets track TRUE similarity, and the probe is back to near-linear.
    * Per-row cost is unchanged: the sparse vector still has one entry
    * per distinct shingle (~50-500), whatever the nominal dimension. */
  private val DIM = 1 << 20

  /** MinHashLSH.HASH_PRIME (Spark source constant; LshSpec re-reads it
    * from the MLlib object via reflection and asserts equality). */
  private[graft] val HASH_PRIME = 2038074743L

  private[graft] val MH_TABLES = 2
  private[graft] val MH_SEED = 42L
  private val MH_THRESHOLD = 0.6

  private[graft] val BRP_TABLES = 4
  private[graft] val BRP_SEED = 42L
  private[graft] val BRP_BUCKET_LEN = 2.0
  private val BRP_THRESHOLD = 100.0
  /** Fixture embedding dimensionality (64 at every SF). The BRP draw is
    * dim-dependent, so a fixture regeneration with a different dim breaks
    * the inlined oracle vectors — LshSpec asserts the fixture dim. */
  private[graft] val EMB_DIM = 64
  private val NQ = 5
  private val TOPK = 5

  /** documents -> (doc_id, binary token-presence vector over a hashed
    * vocabulary) for MinHash (which requires binary vectors). See DIM for
    * the round-11 dimensioning rationale (the earlier "1K keeps vectors
    * small" reasoning was wrong about the cost model — sparse size is the
    * shingle count, not the dimension — and 1K capped the minhash domain).
    *
    * The vocabulary index is the PORTABLE md5 prefix (round 11; was Java
    * String.hashCode, which no SQL engine reproduces): first 4 md5 bytes
    * big-endian mod DIM == DuckDB `('0x'||substr(md5(sh),1,8))::BIGINT %
    * DIM` — the change that made this query oracle-eligible.
    *
    * asNondeterministic (the function IS pure): MinHashLSH's similarity
    * join adds a non-empty-vector filter, and Catalyst would collapse
    * this UDF chain into that filter and push it below loadParallel's
    * repartition — re-running the whole tokenize+shingle+vectorize on the
    * unsplittable single-partition scan, serializing ~3s per join side.
    * The nondeterministic marker forbids the inlining, so the vector is
    * computed once, after the exchange, in parallel. */
  private def docVectors(s: SparkSession, dir: String): DataFrame = {
    val toVec = udf { (toks: Seq[String]) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val idx = toks.map { t =>
        val h = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val u = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
          ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
        (u % DIM).toInt
      }.distinct.sorted.toArray
      Vectors.sparse(DIM, idx, Array.fill(idx.length)(1.0))
    }.asNondeterministic()
    Tables.loadParallel(s, dir, "documents")
      .select(col("doc_id"), TextFns.shingles(TextFns.tokens(col("text"))).as("sh"))
      .select(col("doc_id"), toVec(col("sh")).as("features"))
  }

  /** Seed-deterministic replica of MinHashLSH.createRawLSHModel's
    * coefficient draw: per table, (1 + r.nextInt(P-1), r.nextInt(P-1))
    * from `new scala.util.Random(seed)`. LshSpec asserts equality with the
    * fitted model's randCoefficients(). */
  private[graft] def minhashCoefs: Seq[(Int, Int)] = {
    val rand = new scala.util.Random(MH_SEED)
    val bound = (HASH_PRIME - 1).toInt
    Seq.fill(MH_TABLES)((1 + rand.nextInt(bound), rand.nextInt(bound)))
  }

  /** Seed-deterministic replica of BucketedRandomProjectionLSH
    * .createRawLSHModel: numTables*dim seeded gaussians, each row
    * normalized in place with the SAME netlib JavaBLAS dnrm2/dscal MLlib
    * calls (dnrm2 is the scaled-ssq algorithm, not naive sqrt-of-sum, so
    * calling the library beats re-deriving it). LshSpec asserts bit
    * equality with the fitted model's randUnitVectors(). */
  private[graft] def brpUnitVectors: Seq[Array[Double]] = {
    val rand = new scala.util.Random(BRP_SEED)
    val values = Array.fill(BRP_TABLES * EMB_DIM)(rand.nextGaussian())
    val blas = dev.ludovic.netlib.blas.JavaBLAS.getInstance()
    (0 until BRP_TABLES).foreach { i =>
      val off = i * EMB_DIM
      val norm = blas.dnrm2(EMB_DIM, values, off, 1)
      if (norm != 0) blas.dscal(EMB_DIM, 1.0 / norm, values, off, 1)
    }
    (0 until BRP_TABLES).map(i => values.slice(i * EMB_DIM, (i + 1) * EMB_DIM))
  }

  /** L2x: MinHashLSH near-dup candidate pairs (Jaccard distance < 0.6). */
  def minhashMl(s: SparkSession, dir: String): DataFrame = {
    // No explicit materialization: the self-join's two sides canonicalize
    // identically, so exchange reuse shares the hashed/exploded docs
    // shuffle within the plan, and fit() only draws seeded coefficients
    // (no data pass). A cache()/localCheckpoint here would pin blocks with
    // no deterministic unpersist and (for localCheckpoint) forfeit lineage.
    val docs = docVectors(s, dir)
    // 2 hash tables (was 4): every emitted pair in the fixture has jaccard
    // similarity >= 0.87, so P(candidate missed) = (1-s)^2 < 2% and the
    // FIXED seed makes the outcome deterministic (re-verified at the 2^20
    // vocab: 25 pairs at sf0.01, 255 at sf0.1, both oracle-hash-green).
    // Halves the explode + join volume — this query was the round-1 bench
    // outlier (12.3 s of a 40.6 s total).
    val model = new MinHashLSH()
      .setNumHashTables(MH_TABLES).setSeed(MH_SEED)
      .setInputCol("features").setOutputCol("hashes")
      .fit(docs)
    model.approxSimilarityJoin(docs, docs, MH_THRESHOLD, "jaccard_dist")
      .select(col("datasetA.doc_id").as("d1"), col("datasetB.doc_id").as("d2"),
        col("jaccard_dist"))
      .filter(col("d1") < col("d2"))
      .orderBy(col("d1"), col("d2"))
  }

  /** L3x: BucketedRandomProjectionLSH ANN — top-5 euclidean neighbors for
    * each query vector (vec_id < 5) via approxSimilarityJoin + rank. */
  def annBrpLsh(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toVec = udf((a: Seq[Float]) => Vectors.dense(a.map(_.toDouble).toArray): Vector)
    // Narrow scan + UDF projection: recomputing it per consumer (fit's
    // dimension probe + both join sides) is cheaper than pinning blocks —
    // the parquet scan is the lineage.
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), toVec(col("embedding")).as("features"))
    val model = new BucketedRandomProjectionLSH()
      .setBucketLength(BRP_BUCKET_LEN).setNumHashTables(BRP_TABLES).setSeed(BRP_SEED)
      .setInputCol("features").setOutputCol("hashes")
      .fit(e)
    val q = e.filter(col("vec_id") < NQ)
    val w = Window.partitionBy(col("qid")).orderBy(col("dist"), col("did"))
    model.approxSimilarityJoin(q, e, BRP_THRESHOLD, "dist")
      .select(col("datasetA.vec_id").as("qid"), col("datasetB.vec_id").as("did"), col("dist"))
      .filter(col("qid") =!= col("did"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOPK)
      .select(col("qid"), col("rank"), col("did"), col("dist"))
      .orderBy(col("qid"), col("rank"))
  }

  // ------------------------------------------------------------------
  // DuckDB oracles. Candidate semantics replicate LSHModel
  // .approxSimilarityJoin (spark-mllib 4.1.2 bytecode): posexplode the
  // per-table hashes, equi-join on (table, hashValue), DISTINCT pairs,
  // exact keyDistance, strict `dist < threshold` filter. keyDistance is
  // pure sequential scalar arithmetic on both engines (MinHash: integer
  // set Jaccard + one double division; BRP: sqrt of a sequentially
  // accumulated squared distance == Vectors.sqdist), so the doubles match
  // bit-for-bit — same precedent as the unrounded cosine oracles.
  // ------------------------------------------------------------------

  /** Same tokenize/shingle pipeline as DedupOps' oracles (TextFns twins). */
  private val shinglesSql =
    """SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks)-3),
      |    i -> array_to_string(toks[i:i+4], ' ')))) AS shingle
      |FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents)""".stripMargin

  private def minhashMlSql: String = {
    val coefRows = minhashCoefs.zipWithIndex
      .map { case ((a, b), t) => s"($t, $a, $b)" }.mkString(", ")
    s"""WITH sh AS ($shinglesSql),
       |idx AS (SELECT DISTINCT doc_id,
       |  ('0x' || substr(md5(shingle), 1, 8))::BIGINT % $DIM AS idx FROM sh),
       |coef(t, a, b) AS (SELECT * FROM (VALUES $coefRows)),
       |h AS (SELECT doc_id, t, min(((1 + idx) * a + b) % $HASH_PRIME) AS hv
       |      FROM idx CROSS JOIN coef GROUP BY doc_id, t),
       |card AS (SELECT doc_id, count(*) AS n FROM idx GROUP BY doc_id),
       |cand AS (SELECT DISTINCT h1.doc_id AS d1, h2.doc_id AS d2
       |         FROM h h1 JOIN h h2 ON h1.t = h2.t AND h1.hv = h2.hv
       |         WHERE h1.doc_id < h2.doc_id),
       |inter AS (SELECT i1.doc_id AS d1, i2.doc_id AS d2, count(*) AS icnt
       |          FROM idx i1 JOIN idx i2 ON i1.idx = i2.idx
       |            AND i1.doc_id < i2.doc_id
       |          GROUP BY 1, 2)
       |SELECT d1, d2, jaccard_dist FROM (
       |  SELECT c.d1, c.d2,
       |    1 - (CAST(COALESCE(i.icnt, 0) AS DOUBLE)
       |         / (n1.n + n2.n - CAST(COALESCE(i.icnt, 0) AS DOUBLE))) AS jaccard_dist
       |  FROM cand c
       |  JOIN card n1 ON n1.doc_id = c.d1
       |  JOIN card n2 ON n2.doc_id = c.d2
       |  LEFT JOIN inter i ON i.d1 = c.d1 AND i.d2 = c.d2)
       |WHERE jaccard_dist < $MH_THRESHOLD
       |ORDER BY d1, d2""".stripMargin
  }

  /** Bucket formula: MLlib hashFunction is gemv(1/bucketLength,
    * randMatrix, x) then floor. The matrix is row-major, so the netlib
    * dgemv "T" path computes one sequential dot per table scaled by alpha
    * at the end: floor(0.5 * dot(u_t, x)). LshSpec asserts this formula
    * reproduces model.transform's buckets on every fixture vector (the
    * formula is fp-order-sensitive in principle; a floor flip needs the
    * dot within ~1e-13 of an integer, and the spec would catch it).
    *
    * DuckDB-side order assumption (round-12 advice, for diagnosability):
    * the oracle additionally relies on DuckDB's list_dot_product folding
    * its doubles SEQUENTIALLY in list order — the same order as the netlib
    * dgemv loop — for both the bucket floor here and the unrounded dist
    * column below. LshSpec pins only the Spark side, so a DuckDB upgrade
    * that vectorizes/reassociates the reduction would flip hash_match to a
    * LOUD oracle failure on this query. That failure mode is the oracle's
    * fp-order assumption breaking, not an engine bug: re-derive the
    * oracle's fold order before touching the Spark side. */
  private def annBrpLshSql: String = {
    val vecRows = brpUnitVectors.zipWithIndex.map { case (u, t) =>
      s"($t, [${u.map(java.lang.Double.toString).mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n  ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |rv(t, u) AS (SELECT * FROM (VALUES $vecRows)),
       |b AS (SELECT vec_id, t,
       |        floor(0.5 * list_dot_product(u, v)) AS bkt
       |      FROM e CROSS JOIN rv),
       |cand AS (SELECT DISTINCT bq.vec_id AS qid, bd.vec_id AS did
       |         FROM b bq JOIN b bd ON bq.t = bd.t AND bq.bkt = bd.bkt
       |         WHERE bq.vec_id < $NQ AND bq.vec_id <> bd.vec_id),
       |scored AS (SELECT c.qid, c.did,
       |    sqrt(list_dot_product(
       |      list_transform(range(1, $EMB_DIM + 1), i -> eq.v[i] - ed.v[i]),
       |      list_transform(range(1, $EMB_DIM + 1), i -> eq.v[i] - ed.v[i]))) AS dist
       |  FROM cand c
       |  JOIN e eq ON eq.vec_id = c.qid
       |  JOIN e ed ON ed.vec_id = c.did)
       |SELECT qid, rank, did, dist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dist, did) AS rank
       |  FROM scored WHERE dist < $BRP_THRESHOLD)
       |WHERE rank <= $TOPK ORDER BY qid, rank""".stripMargin
  }

  val queries: Map[String, Query] = Map(
    "dedup_minhash_ml" -> Query(minhashMl _, minhashMlSql),
    "emb_ann_brp_lsh" -> Query(annBrpLsh _, annBrpLshSql))
}
