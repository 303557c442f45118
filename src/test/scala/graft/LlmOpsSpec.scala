package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import graft.operators.{CorpusOps, DedupOps, Multimodal, TextOps, VectorOps}

/** Invariants for the [EXT] LLM-data-pipeline operators (SURVEY.md §2.10). */
class LlmOpsSpec extends SparkTestBase with BeforeAndAfterAll {

  /** The session is shared across suites: any .cache() this suite leaves
    * behind can be canonicalization-substituted into a LATER suite's plans
    * (round-3 failure mode), so drop them all on the way out. */
  override def afterAll(): Unit = {
    spark.catalog.clearCache()
    super.afterAll()
  }

  test("kmeans: partition of the corpus — sizes sum to |corpus|, centroids non-degenerate") {
    val out = VectorOps.kmeansTrain(spark, sfDir).cache()
    val n = graft.sources.Tables.load(spark, sfDir, "embeddings").count()
    assert(out.agg(sum(col("n_members"))).head().getLong(0) == n,
      "every vector must land in exactly one cluster")
    assert(out.count() <= 8 && out.count() >= 1)
    assert(out.filter(col("centroid_norm") <= 0.0).count() == 0)
    out.unpersist()
  }

  test("token stats: uniq <= total, ratios in (0,1]") {
    val bad = TextOps.tokenStats(spark, sfDir)
      .filter(col("n_uniq_tokens") > col("n_tokens") ||
        col("ttr") <= 0 || col("ttr") > 1).count()
    assert(bad == 0)
  }

  test("quality: score bounded and accepted iff score >= threshold") {
    val bad = TextOps.quality(spark, sfDir)
      .filter(col("quality_score") < 0 || col("quality_score") > 1.0 ||
        (col("accepted") =!= (col("quality_score") >= 0.35))).count()
    assert(bad == 0)
  }

  test("langid predictions stay in the closed label set") {
    val preds = TextOps.langId(spark, sfDir).select("predicted_lang")
      .distinct().collect().map(_.getString(0)).toSet
    assert(preds.subsetOf(Set("en", "de", "fr", "es", "unknown")))
  }

  test("repetition: pinned dup-ngram fractions on a fully repetitive doc") {
    import spark.implicits._
    // "a b a b a b": g2 = [ab, ba, ab, ba, ab] -> dup 3/5, top2 3/5;
    // g3 = [aba, bab, aba, bab] -> dup 2/4; g4 = [abab, baba, abab] -> 1/3.
    val out = TextOps.repetitionOf(Seq((1L, "a b a b a b")).toDF("doc_id", "text"))
      .collect().head
    assert(out.getAs[Int]("n_2grams") == 5)
    assert(math.abs(out.getAs[Double]("dup2_ratio") - 0.6) < 1e-12)
    assert(math.abs(out.getAs[Double]("dup3_ratio") - 0.5) < 1e-12)
    assert(math.abs(out.getAs[Double]("dup4_ratio") - 1.0 / 3.0) < 1e-12)
    assert(out.getAs[Long]("top2_count") == 3L)
    assert(!out.getAs[Boolean]("accepted"))
    // All-distinct tokens: zero duplicate grams everywhere, accepted
    // hinges only on top2_ratio = 1/n_2grams.
    val clean = TextOps.repetitionOf(Seq((2L, (1 to 30).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")).collect().head
    assert(clean.getAs[Double]("dup2_ratio") == 0.0)
    assert(clean.getAs[Double]("dup4_ratio") == 0.0)
    assert(clean.getAs[Long]("top2_count") == 1L)
  }

  test("repetition fixture invariants: ratios bounded, top gram consistent") {
    val bad = TextOps.repetition(spark, sfDir).filter(
      col("dup2_ratio") < 0 || col("dup2_ratio") >= 1 ||
        col("dup3_ratio") < 0 || col("dup4_ratio") < 0 ||
        col("top2_count") < 1 || col("top2_ratio") > 1 ||
        // a top bigram seen twice+ implies a nonzero duplicate fraction
        (col("top2_count") >= 2 && col("dup2_ratio") === 0.0)).count()
    assert(bad == 0)
  }

  test("vocab top-k: frequencies non-increasing, bounded by corpus size") {
    val rows = TextOps.vocabTopK(spark, sfDir).collect()
    assert(rows.length <= 100 && rows.nonEmpty)
    val freqs = rows.map(_.getAs[Long]("freq"))
    assert(freqs.zip(freqs.tail).forall { case (a, b) => a >= b })
    val total = TextOps.tokenStats(spark, sfDir)
      .agg(sum("n_tokens")).collect().head.getLong(0)
    assert(freqs.sum <= total)
  }

  test("split: deterministic, exhaustive, and ~90/5/5 by construction") {
    val rows = CorpusOps.split(spark, sfDir).collect()
    val byName = rows.groupBy(_.getAs[String]("split"))
    assert(byName.keySet.subsetOf(Set("train", "val", "test")))
    val nDocs = rows.map(_.getAs[Long]("n_docs")).sum
    assert(nDocs == 500L, s"split must cover every doc exactly once, got $nDocs")
    val trainFrac = byName("train").map(_.getAs[Long]("n_docs")).sum.toDouble / nDocs
    assert(trainFrac > 0.8 && trainFrac < 0.97, s"train fraction $trainFrac")
    // hash-of-id assignment is repartition- and re-run-stable
    val again = CorpusOps.split(spark, sfDir).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("stratified sample: exactly min(K, |stratum|) per source, a subset of the corpus") {
    val sample = CorpusOps.sampleStratified(spark, sfDir).collect()
    val corpus = graft.sources.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val perSource = sample.groupBy(_.getAs[String]("source"))
    val sizes = corpus.groupBy(_._2).map { case (s, m) => (s, m.size) }
    perSource.foreach { case (src, rows) =>
      assert(rows.length == math.min(16, sizes(src)),
        s"stratum $src must yield exactly min(16, ${sizes(src)}) rows")
      assert(rows.map(_.getAs[Int]("rn")).sorted.toSeq == (1 to rows.length),
        "ranks must be contiguous from 1")
    }
    assert(sample.forall(r =>
      corpus.get(r.getAs[Long]("doc_id")).contains(r.getAs[String]("source"))),
      "sampled rows must exist in the corpus with matching stratum")
  }

  test("fingerprint: exactly one keeper per fingerprint group") {
    val bad = TextOps.fingerprint(spark, sfDir)
      .groupBy("fp").agg(sum(when(col("keeper"), 1).otherwise(0)).as("keepers"))
      .filter(col("keepers") =!= 1).count()
    assert(bad == 0)
  }

  test("minhash pairs: estimates in [0,1], d1 < d2") {
    val df = DedupOps.minhashPairs(spark, sfDir).cache()
    assert(df.filter(col("est_jaccard") < 0 || col("est_jaccard") > 1).count() == 0)
    assert(df.filter(col("d1") >= col("d2")).count() == 0)
  }

  test("containment: directed ratios bounded, pair kept only when majority-contained") {
    val rows = DedupOps.containment(spark, sfDir).collect()
    assert(rows.nonEmpty, "fixture near-dups must yield containment pairs")
    rows.foreach { r =>
      val (c1, c2) = (r.getAs[Double]("contain_d1"), r.getAs[Double]("contain_d2"))
      assert(c1 > 0 && c1 <= 1.0 + 1e-12 && c2 > 0 && c2 <= 1.0 + 1e-12,
        s"containment out of range: $c1 / $c2")
      assert(math.max(c1, c2) >= 0.5)
      assert(r.getAs[Long]("n_shared") >= 1)
    }
  }

  test("oov rate: one row per doc, rate consistent with counts and bounded") {
    val rows = TextOps.oovRate(spark, sfDir).collect()
    val nDocs = graft.sources.Tables.load(spark, sfDir, "documents").count()
    assert(rows.length == nDocs)
    rows.foreach { r =>
      val (n, oov) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"))
      assert(oov >= 0 && oov <= n)
      assert(math.abs(r.getAs[Double]("oov_rate") - oov.toDouble / n) < 1e-12)
    }
  }

  test("ngram jaccard: bounds and shared <= min set size") {
    val df = DedupOps.ngramJaccard(spark, sfDir)
    assert(df.filter(col("jaccard") <= 0 || col("jaccard") > 1).count() == 0)
  }

  test("ngram jaccard df-caps hot shingles: no quadratic fan-out on one key") {
    import spark.implicits._
    // 100 docs all share the boilerplate shingle "HOT" (df=100 > cap);
    // each has a unique shingle; docs 1 and 2 additionally share "pair".
    // Without the df cap the self-join emits 100*99/2 + 1 candidate pairs;
    // with it, only (1,2) — from the signal-carrying shared shingle.
    val sh = (1 to 100).flatMap { d =>
      Seq((d.toLong, "HOT"), (d.toLong, s"uniq_$d")) ++
        (if (d <= 2) Seq((d.toLong, "pair")) else Nil)
    }.toDF("doc_id", "sh_key")
    val out = DedupOps.ngramJaccardOf(sh).collect()
    assert(out.length == 1, s"expected only the signal pair, got ${out.length}")
    val r = out.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (1L, 2L, 1L))
    // capped sizes: each of docs 1,2 keeps {uniq, pair} -> jaccard 1/3
    assert(math.abs(r.getDouble(3) - 1.0 / 3.0) < 1e-12)
  }

  test("int-key hash primitives match DuckDB bit-for-bit (round-13 parity pin)") {
    import spark.implicits._
    // Expected values computed IN DuckDB (the oracle engine) for the three
    // integer-key primitives the round-13 dedup redesign leans on:
    //   h60  = CAST(('0x'||substring(md5('abc'),1,15)) AS BIGINT)
    //   mh0  = (MH_A(0) * h32('abc') + MH_B(0)) % MH_P
    //   bk   = h60('7_11_13')  (the band-key fold shape)
    // A drift here (conv vs hex-cast semantics, % sign conventions,
    // concat_ws vs || formatting) would silently fail every dedup oracle.
    import graft.operators.DedupOps
    val r = Seq("abc").toDF("s").select(
      DedupOps.hex60(col("s")).as("h60"),
      ((lit(DedupOps.MH_A.head) *
        expr("cast(conv(substring(md5(cast(s as binary)), 1, 8), 16, 10) as bigint)") +
        DedupOps.MH_B.head) % DedupOps.MH_P).as("mh0"),
      DedupOps.hex60(concat_ws("_", lit(7).cast("string"),
        lit(11).cast("string"), lit(13).cast("string"))).as("bk")
    ).collect()(0)
    assert(r.getLong(0) == 648541476951500027L, "hex60 diverged from DuckDB")
    assert(r.getLong(1) == 2147377987L, "affine minhash permutation diverged from DuckDB")
    assert(r.getLong(2) == 171359694395265415L, "band-key fold diverged from DuckDB")
  }

  test("minhash band buckets are capped; loser set handles identical clusters linearly") {
    import spark.implicits._
    // 100 docs with IDENTICAL signatures (one duplicate cluster): every
    // band bucket has size 100 > MAX_BAND_BUCKET, so the PAIRWISE query
    // must drop them (100*99/2 pairs would be the quadratic blow-up);
    // docs 200/201 share a distinct signature (bucket size 2 -> kept).
    // wide signature shape (round 13): one row per doc, mh0..mh11 columns;
    // docs sharing `base` have identical signatures
    val sig = ((1 to 100).map(d => (d.toLong, 1L)) ++ Seq((200L, 2L), (201L, 2L)))
      .toDF("doc_id", "base")
      .select(col("doc_id") +: (0 until 12).map(k => (col("base") * 1000 + k).as(s"mh$k")): _*)
    val pairs = DedupOps.minhashPairsOf(sig).collect()
    assert(pairs.length == 1, s"expected only the below-cap pair, got ${pairs.length}")
    assert((pairs.head.getLong(0), pairs.head.getLong(1)) == (200L, 201L))
    assert(pairs.head.getDouble(2) == 1.0)
    // The loser set must catch the SAME cluster linearly: candidates are
    // (bucket-rep, member) rows — 99 for the cluster, 1 for the pair —
    // and every member verifies at est=1.0 against its representative.
    val losers = DedupOps.minhashLosersOf(sig, 0.9).collect().map(_.getLong(0)).toSet
    assert(losers == ((2 to 100).map(_.toLong).toSet + 201L))
  }

  test("simhash band buckets are capped: an identical-fingerprint cluster cannot explode") {
    import spark.implicits._
    // 100 docs with the IDENTICAL 32-bit fingerprint: all 4 band buckets
    // have size 100 > MAX_BAND_BUCKET, so the pairwise query must drop
    // them (100*99/2 pairs would be the quadratic blow-up); docs 200/201
    // differ in exactly one low bit (hamming 1, bucket size 2 -> kept).
    val fp = ((1 to 100).map(d => (d.toLong, 0x12345678L)) ++
      Seq((200L, 0x0F0F0F0FL), (201L, 0x0F0F0F0EL)))
      .toDF("doc_id", "simhash")
    val out = DedupOps.simhashPairsOf(fp).collect()
    assert(out.length == 1, s"expected only the below-cap pair, got ${out.length}")
    assert((out.head.getLong(0), out.head.getLong(1), out.head.getInt(2)) == (200L, 201L, 1))
  }

  test("simhash: 16-bit range, one row per doc") {
    val df = DedupOps.simhash(spark, sfDir).cache()
    assert(df.filter(col("simhash") < 0 || col("simhash") > 65535).count() == 0)
    assert(df.count() == graft.sources.Tables.load(spark, sfDir, "documents").count())
  }

  /** Embedding-cosine near-duplicate pairs: all (i < j) pairs above a
    * similarity threshold, scored by the fused codegen expression.
    * BRUTE-FORCE form — O(n²), the exact baseline the blocked search is
    * cross-checked against. */
  private def embeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    val a = graft.sources.Tables.load(s, dir, "embeddings")
      .select(col("vec_id").as("d1"), col("embedding").as("e1"))
    val b = graft.sources.Tables.load(s, dir, "embeddings")
      .select(col("vec_id").as("d2"), col("embedding").as("e2"))
    a.join(broadcast(b), col("d1") < col("d2"))
      .select(col("d1"), col("d2"), expr("cosine_fast(e1, e2)").as("cos"))
      .filter(col("cos") >= 0.5)
      .orderBy(col("d1"), col("d2"))
  }

  test("blocked embedding near-dup finds exactly the brute-force pair set") {
    // sf0.01, not the suite default sf0.001: the smallest fixture has zero
    // qualifying pairs, which would make this check vacuous.
    val dir = "/root/testdata/sf0.01"
    val brute = embeddingNearDup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = VectorOps.embeddingNearDupBlocked(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty)
    assert(blocked == brute)
  }

  test("pq top-k: full result grid, non-negative non-decreasing ADC, deterministic") {
    val rows = VectorOps.pqTopK(spark, sfDir).collect()
    assert(rows.length == 3 * 5, s"expected 3 queries x 5 ranks, got ${rows.length}")
    rows.groupBy(_.getAs[Long]("qid")).foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 5), s"ranks for q$q")
      val adcs = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("adc"))
      assert(adcs.forall(_ > -1e-6), "squared distances must be non-negative")
      assert(adcs.sliding(2).forall { case Array(a, b) => a <= b; case _ => true },
        "ADC must be non-decreasing in rank")
    }
    val again = VectorOps.pqTopK(spark, sfDir).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq,
      "PQ training + search must be re-run deterministic")
  }

  test("ivf-pq: full grid, candidates confined to <= PROBES cells per query") {
    val rows = VectorOps.annIvfPq(spark, sfDir).collect()
    assert(rows.length == 3 * 5, s"expected 3 queries x 5 ranks, got ${rows.length}")
    rows.groupBy(_.getAs[Long]("qid")).foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 5), s"ranks for q$q")
      assert(rs.map(_.getAs[Int]("label")).distinct.length <= 2,
        s"results for q$q must come only from the 2 probed cells")
      val adcs = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("adc"))
      assert(adcs.forall(_ > -1e-6))
      assert(adcs.sliding(2).forall { case Array(a, b) => a <= b; case _ => true })
    }
  }

  test("triangle count: oriented-wedge core matches known counts on synthetic graphs") {
    import spark.implicits._
    // 4-clique on {1,2,3,4} -> C(4,3)=4 triangles; plus a pendant chain
    // 4-5, 5-6 (no new triangles) and an isolated edge 7-8
    val clique = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val edges = (clique ++ Seq((4L, 5L), (5L, 6L), (7L, 8L))).toDF("u", "v")
    val n = graft.operators.DedupOps.triangleCountOf(edges).head().getLong(0)
    assert(n == 4, s"expected 4 triangles in the 4-clique graph, got $n")
    // a path graph has none
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    assert(graft.operators.DedupOps.triangleCountOf(path).head().getLong(0) == 0)
  }

  test("mmr: first pick is the exact top-1, picks distinct, scores sink with k") {
    val out = VectorOps.mmrTopK(spark, sfDir).collect()
    val byQ = out.groupBy(_.getAs[Long]("qid"))
    assert(byQ.size == 5 && byQ.values.forall(_.length == 5))
    val top1 = VectorOps.cosineTopK(spark, sfDir)
      .filter(col("rank") === 1).collect()
      .map(r => r.getAs[Long]("qid") -> r.getAs[Long]("did")).toMap
    byQ.foreach { case (qid, rows) =>
      val ks = rows.map(_.getAs[Int]("k")).sorted
      assert(ks.sameElements(1 to 5))
      assert(rows.map(_.getAs[Long]("did")).distinct.length == 5)
      assert(rows.find(_.getAs[Int]("k") == 1).get.getAs[Long]("did") == top1(qid))
      // selected-set growth can only raise each candidate's redundancy
      // penalty, so the achievable MMR score is non-increasing for k >= 2
      val s = rows.sortBy(_.getAs[Int]("k")).drop(1).map(_.getAs[Double]("score"))
      assert(s.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
    }
  }

  test("degree histogram: doc-count mass equals 2x edges, degrees positive") {
    val edges = DedupOps.minhashPairs(spark, sfDir)
      .filter(col("est_jaccard") >= 0.9).count()
    val hist = graft.operators.DedupOps.degreeHist(spark, sfDir).collect()
    // sum(degree * n_docs) counts each edge at both endpoints
    val mass = hist.map(r => r.getAs[Long]("degree") * r.getAs[Long]("n_docs")).sum
    assert(mass == 2 * edges)
    assert(hist.forall(r => r.getAs[Long]("degree") >= 1 && r.getAs[Long]("n_docs") >= 1))
  }

  test("pagerank: one rank per graph vertex, mass conserved within truncation loss") {
    val edges = DedupOps.minhashPairs(spark, sfDir)
      .filter(col("est_jaccard") >= 0.9)
    val nv = edges.select(explode(array(col("d1"), col("d2"))).as("v"))
      .distinct().count()
    val ranks = DedupOps.pageRank(spark, sfDir).collect()
    assert(ranks.length == nv)
    assert(ranks.forall(_.getAs[Long]("pr") > 0L))
    // every iteration redistributes the full 1e12 mass; each vertex loses
    // < 100 units to the two integer divisions (div deg, div 100) per
    // round, so total mass stays within iters * |V| * 100 of the start
    val mass = ranks.map(_.getAs[Long]("pr")).sum
    val scale = 1000000000000L
    assert(mass <= scale && mass >= scale - 5 * nv * 100)
  }

  test("kcore: triangle survives peeling, pendant and chain vertices do not") {
    import spark.implicits._
    // triangle 1-2-3, pendant 4 off vertex 1, isolated chain 5-6-7
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L), (5L, 6L), (6L, 7L))
      .toDF("u", "v")
    val core = DedupOps.kcoreOf(edges).collect()
    assert(core.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L, 3L))
    assert(core.forall(_.getAs[Long]("core_degree") == 2L))
  }

  test("kcore: fixture core vertices all have core degree >= 2") {
    val core = DedupOps.kcore(spark, sfDir).collect()
    // 6 peel rounds exceed the fixture graph's convergence depth, so the
    // fixpoint property holds: everyone left has >= 2 core neighbors
    assert(core.forall(_.getAs[Long]("core_degree") >= 2L))
  }

  test("ensemble: one verdict per >=0.9 minhash pair, cosine in [-1, 1]") {
    val pairs = DedupOps.minhashPairs(spark, sfDir)
      .filter(col("est_jaccard") >= 0.9).count()
    val out = graft.operators.DedupOps.ensembleVerdict(spark, sfDir).collect()
    assert(out.length.toLong == pairs)
    out.foreach { r =>
      val c = r.getAs[Double]("cos")
      assert(c >= -1.0 - 1e-12 && c <= 1.0 + 1e-12)
      assert(r.getAs[Int]("semantic_agrees") == (if (c >= 0.5) 1 else 0))
    }
  }

  test("token gini: in [0, 1), exactly (d-1)/d at uniform, 0 iff single-type doc") {
    val out = TextOps.tokenGini(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, d) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_distinct"))
      val g = r.getAs[Double]("gini")
      assert(g >= 0.0 && g < 1.0 && d <= n)
      // gini maximizes at the uniform distribution: g <= 1 - 1/d
      assert(g <= 1.0 - 1.0 / d + 1e-12)
      if (d == 1) assert(g == 0.0)
    }
  }

  test("collocations: ordered pairs, lift positive, joint count bounded by marginals") {
    val out = TextOps.collocations(spark, sfDir).collect()
    assert(out.nonEmpty && out.length <= 50)
    out.foreach { r =>
      assert(r.getAs[String]("tok_a") < r.getAs[String]("tok_b"))
      val (ab, a, b) = (r.getAs[Long]("n_ab"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
      assert(ab >= 1 && ab <= math.min(a, b))
      assert(r.getAs[Double]("lift") > 0)
    }
    val lifts = out.map(_.getAs[Double]("lift"))
    assert(lifts.sliding(2).forall { case Array(x, y) => x >= y; case _ => true })
  }

  test("span coverage: one row per >=5-token doc, ratio consistent and bounded") {
    val out = graft.operators.DedupOps.spanCoverage(spark, sfDir).collect()
    val eligible = graft.sources.Tables.load(spark, sfDir, "documents")
      .filter(size(graft.functions.TextFns.tokens(col("text"))) >= 5).count()
    assert(out.length.toLong == eligible)
    assert(out.map(_.getAs[Long]("doc_id")).distinct.length == out.length)
    out.foreach { r =>
      val n = r.getAs[Long]("n_spans"); val d = r.getAs[Long]("n_dup_spans")
      val ratio = r.getAs[Double]("dup_ratio")
      assert(n > 0 && d >= 0 && d <= n)
      assert(math.abs(ratio - d.toDouble / n) == 0.0)
    }
  }

  test("tfidf top-k: positive non-increasing scores; every hit contains a query term") {
    val out = TextOps.tfidfTopK(spark, sfDir).collect()
    assert(out.length <= 10 && out.nonEmpty)
    val scores = out.map(_.getDouble(1))
    assert(scores.forall(_ > 0.0), "a scored doc must match at least one term")
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, "output is rank order")
    val ids = out.map(_.getLong(0))
    val withTerm = graft.sources.Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id").isin(ids: _*))
      .filter(lower(col("text")).rlike("\\b(join|vector|stream)\\b"))
      .count()
    assert(withTerm == ids.length, "every returned doc must contain a query term")
  }

  test("rrf fusion: fused score is exactly the integer RRF of the row's own ranks") {
    val out = TextOps.rrfFusion(spark, sfDir).collect()
    assert(out.nonEmpty && out.length <= 10)
    def contrib(r: Option[Int]): Long = r.fold(0L)(x => 1000000000000L / (60 + x))
    out.foreach { r =>
      val lex = if (r.isNullAt(2)) None else Some(r.getInt(2))
      val vec = if (r.isNullAt(3)) None else Some(r.getInt(3))
      assert(lex.isDefined || vec.isDefined, "a fused doc must come from some pool")
      (lex ++ vec).foreach(x => assert(x >= 1 && x <= 50, "ranks are pool positions"))
      assert(r.getLong(1) == contrib(lex) + contrib(vec),
        "fused must be recomputable from the row's ranks alone")
    }
    val fused = out.map(r => (r.getLong(1), r.getLong(0)))
    assert(fused.zip(fused.tail).forall { case ((f1, d1), (f2, d2)) =>
      f1 > f2 || (f1 == f2 && d1 < d2) }, "output is (fused DESC, doc_id) order")
  }

  test("cosine top-k: 10 ranked neighbors per query, cos in [-1,1], descending") {
    val rows = VectorOps.cosineTopK(spark, sfDir).collect()
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQ.size == 5)
    byQ.values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.sameElements(1 to 10))
      val coss = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos"))
      assert(coss.forall(c => c >= -1.0001 && c <= 1.0001))
      assert(coss.sliding(2).forall { case Array(a, b) => a >= b })
    }
  }

  test("IVF ANN: results come only from probed cells; ranks contiguous") {
    val rows = VectorOps.annIvf(spark, sfDir).collect()
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQ.size == 5)
    byQ.values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.sameElements(1 to rs.length))
      assert(rs.map(_.getAs[Int]("label")).distinct.length <= 2)
    }
  }

  test("frame sampling: stride-4, capped at 8 samples, within frame count") {
    val out = Multimodal.frameSample(spark, sfDir).cache()
    val bad = out.filter(col("frame_idx") % Multimodal.FRAME_STRIDE =!= 0 ||
      col("frame_idx") >= col("n_frames") ||
      col("frame_idx") > Multimodal.FRAME_STRIDE * (Multimodal.MAX_FRAMES_SAMPLED - 1)).count()
    assert(bad == 0)
    val perDoc = out.groupBy("doc_id").count()
    assert(perDoc.filter(col("count") > Multimodal.MAX_FRAMES_SAMPLED).count() == 0)
    assert(out.count() > 0)
  }

  test("feature extraction: real byte statistics per sampled frame, resize halves dims") {
    val feats = Multimodal.featureExtract(spark, sfDir).cache()
    assert(feats.count() > 0)
    val bad = feats.filter(
      col("mean_byte") < 0 || col("mean_byte") > 255 ||
        col("max_byte") < col("mean_byte") - 0.5 ||
        col("n_nonzero") < 0 ||
        col("resized_w") < 32 || col("resized_w") > 64).count()
    assert(bad == 0)
    // frame 0's slice is the first 100 bytes: verify one row by hand
    val doc0 = graft.sources.Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") === 0).head.getAs[String]("text")
    val expected = doc0.getBytes("UTF-8").take(100).map(_ & 0xff)
    val row0 = feats.filter(col("doc_id") === 0 && col("frame_idx") === 0).head
    assert(row0.getAs[Double]("mean_byte") == expected.sum.toDouble / expected.length)
    assert(row0.getAs[Int]("max_byte") == expected.max)
  }

  test("decode stub: every doc decoded with plausible dimensions") {
    val df = Multimodal.decodeBatch(spark, sfDir).cache()
    assert(df.count() == graft.sources.Tables.load(spark, sfDir, "documents").count())
    assert(df.filter(!col("ok") || col("width") < 64 || col("width") > 127).count() == 0)
  }

  test("ANN quality floors at sf0.01: ivf recall and PQ band membership do not silently degrade") {
    // Round-7 gap: emb_ann_recall REPORTS recall but nothing failed if a
    // probe/codebook change gutted the index. Floors are pinned from
    // observed sf0.01 values (deterministic queries — these only move when
    // code changes, so a floor breach is always a reviewable code change):
    //  - ivf mean recall@10 = 0.32 observed -> floor 0.15 (2x headroom).
    //  - the PQ variants score 0.0 strict recall@10 on the near-uniform
    //    random fixture (honest — documented at annRecall), so their guard
    //    is membership in the exact top-100 band: of 15 candidates,
    //    chance = 15 * 100/500 = 3; observed ivfpq = 6 (2x chance),
    //    ivfpq_res = 3. Floors 4 / 2 catch an index that stops carrying
    //    any signal (a broken join or codebook emits ~0-1).
    val sf01 = "/root/testdata/sf0.01"
    val rec = VectorOps.annRecall(spark, sf01)
      .groupBy(col("method")).agg(avg(col("recall")).as("mean_recall"))
      .collect().map(r => r.getAs[String]("method") -> r.getAs[Double]("mean_recall")).toMap
    assert(rec("ivf") >= 0.15, s"ivf mean recall degraded: ${rec("ivf")}")
    val e = graft.sources.Tables.load(spark, sf01, "embeddings")
    // only the NQUERY=5 query vectors need an exact ranking
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid2"), col("embedding").as("qe"))
    val d = e.select(col("vec_id").as("did2"), col("embedding").as("de"))
    val band = q.join(d, col("qid2") =!= col("did2"))
      .withColumn("cos", expr("cosine_fast(qe, de)"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid2"))
          .orderBy(col("cos").desc, col("did2"))))
      .filter(col("rk") <= 100)
      .select(col("qid2"), col("did2"))
    def bandHits(cand: org.apache.spark.sql.DataFrame): Long =
      cand.join(band, col("qid") === col("qid2") && col("vec_id") === col("did2"),
        "left_semi").count()
    val pqHits = bandHits(VectorOps.annIvfPq(spark, sf01))
    val resHits = bandHits(VectorOps.annIvfPqResidual(spark, sf01))
    assert(pqHits >= 4, s"ivfpq top-100 band hits collapsed: $pqHits (chance 3)")
    assert(resHits >= 2, s"ivfpq_res top-100 band hits collapsed: $resHits")
  }

  test("sq8: asymmetric ADC ranking recalls the exact dot-product top-5") {
    // Observed at sf0.01: recall@5 = 1.0 for all 3 queries (the symmetric
    // code-times-code variant scored 0.0 — that regression is exactly what
    // this floor exists to catch). Floor 12/15 leaves headroom for fixture
    // evolution, not for a broken quantizer (which emits ~0).
    val sf01 = "/root/testdata/sf0.01"
    val sq = VectorOps.annSq8(spark, sf01)
    val rows = sq.collect()
    rows.groupBy(_.getAs[Long]("qid")).values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.sameElements(1 to 5))
      val sc = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("score"))
      assert(sc.zip(sc.tail).forall { case (a, b) => a >= b }, "scores descend with rank")
    }
    val e = graft.sources.Tables.load(spark, sf01, "embeddings")
    val q = e.filter(col("vec_id") < 3).select(col("vec_id").as("qid2"), col("embedding").as("qe"))
    val exact = e.select(col("vec_id").as("did2"), col("embedding").as("de"))
      .join(q, col("did2") =!= col("qid2"))
      .withColumn("dot", graft.functions.VectorFns.dot(col("qe"), col("de")))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid2"))
          .orderBy(col("dot").desc, col("did2"))))
      .filter(col("rk") <= 5)
      .select(col("qid2"), col("did2"))
    val hits = sq.join(exact,
      col("qid") === col("qid2") && col("did") === col("did2"), "left_semi").count()
    assert(hits >= 12, s"sq8 recall vs exact dot collapsed: $hits/15 band hits")
  }

  test("binary ANN: Hamming sieve + exact rerank beats chance recall") {
    // Observed at sf0.01: recall@5 = 10/15 with a 50-of-499 Hamming sieve
    // (chance for a broken sieve is ~1.5/15). Floor 7 catches a collapsed
    // quantizer (threshold or packing bug) while leaving fixture headroom.
    val sf01 = "/root/testdata/sf0.01"
    val bq = VectorOps.annBinary(spark, sf01)
    val rows = bq.collect()
    rows.groupBy(_.getAs[Long]("qid")).values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.sameElements(1 to 5))
      val sc = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("score"))
      assert(sc.zip(sc.tail).forall { case (a, b) => a >= b }, "scores descend with rank")
    }
    val e = graft.sources.Tables.load(spark, sf01, "embeddings")
    val q = e.filter(col("vec_id") < 3).select(col("vec_id").as("qid2"), col("embedding").as("qe"))
    val exact = e.select(col("vec_id").as("did2"), col("embedding").as("de"))
      .join(q, col("did2") =!= col("qid2"))
      .withColumn("dot", graft.functions.VectorFns.dot(col("qe"), col("de")))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid2"))
          .orderBy(col("dot").desc, col("did2"))))
      .filter(col("rk") <= 5)
      .select(col("qid2"), col("did2"))
    val hits = bq.join(exact,
      col("qid") === col("qid2") && col("did") === col("did2"), "left_semi").count()
    assert(hits >= 7, s"binary ANN recall vs exact dot collapsed: $hits/15")
  }

  test("ahash: 32-bit fingerprint, group stats consistent, identical payloads collide") {
    val df = Multimodal.ahash(spark, sfDir).collect()
    assert(df.nonEmpty)
    df.foreach { r =>
      val fp = r.getAs[Long]("fp")
      assert(fp >= 0L && fp < (1L << 32), s"fp out of 32-bit range: $fp")
      assert(r.getAs[Long]("rep_doc") <= r.getAs[Long]("doc_id"))
    }
    // group_n is exactly the fp collision count
    val byFp = df.groupBy(_.getAs[Long]("fp"))
    df.foreach { r =>
      assert(r.getAs[Long]("group_n") == byFp(r.getAs[Long]("fp")).length)
    }
    // determinism + collision semantics: identical payloads MUST collide
    // (fingerprint is a pure function of bytes) — check by fingerprinting
    // a two-copy corpus via the same code path on a temp dir.
    val tmp = java.nio.file.Files.createTempDirectory("ahash_dup").toString
    val docs = graft.sources.Tables.load(spark, sfDir, "documents").limit(5)
    docs.union(docs.withColumn("doc_id", col("doc_id") + 1000000L))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val dup = Multimodal.ahash(spark, tmp).collect()
    assert(dup.forall(_.getAs[Long]("group_n") >= 2),
      "identical payloads got different fingerprints")
  }

  test("knn classify: one verdict per query; the vote is the top-10 label mode") {
    // Label signal in the fixture is weak (acc ~0.15-0.2 vs 0.1 chance),
    // so no accuracy floor — the pinned property is the MECHANISM: the
    // predicted label must be exactly the (votes DESC, label ASC) argmax
    // of the true neighbor labels, recomputed here from the exact top-10.
    val df = VectorOps.knnClassify(spark, sfDir).collect()
    assert(df.length == 20, "one row per query vector")
    assert(df.map(_.getAs[Long]("qid")).distinct.length == 20)
    df.foreach { r =>
      val v = r.getAs[Long]("votes")
      assert(v >= 1 && v <= 10, s"votes out of range: $v")
      val ok = r.getAs[Int]("correct")
      assert((ok == 1) == (r.getAs[Int]("pred_label") == r.getAs[Int]("true_label")))
    }
    val e = graft.sources.Tables.load(spark, sfDir, "embeddings")
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid2"), col("embedding").as("qe"))
    val nn = e.filter(col("vec_id") >= 20)
      .select(col("vec_id").as("did2"), col("embedding").as("de"), col("label").as("nl"))
      .join(broadcast(q), lit(true))
      .withColumn("cos", graft.functions.VectorFns.cosine(col("qe"), col("de")))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid2"))
          .orderBy(col("cos").desc, col("did2"))))
      .filter(col("rk") <= 10)
      .groupBy(col("qid2"), col("nl")).agg(count(lit(1)).as("v2"))
      .collect().groupBy(_.getAs[Long]("qid2"))
    df.foreach { r =>
      val votes = nn(r.getAs[Long]("qid")).map(x =>
        (x.getAs[Long]("v2"), x.getAs[Int]("nl")))
      val best = votes.minBy { case (v, l) => (-v, l) }
      assert(r.getAs[Int]("pred_label") == best._2 && r.getAs[Long]("votes") == best._1,
        s"qid ${r.getAs[Long]("qid")}: registered argmax disagrees with recomputation")
    }
  }
}
