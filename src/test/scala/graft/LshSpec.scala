package graft

import org.apache.spark.sql.functions._
import graft.operators.{DedupOps, LshOps, VectorOps}

/** MLlib LSH variants cross-checked against the oracle-verified exact
  * implementations (which is their correctness story, since MLlib hash
  * families have no DuckDB twin). */
class LshSpec extends SparkTestBase {

  test("MinHashLSH candidates are reproducible across runs (fixed seed)") {
    val a = LshOps.minhashMl(spark, sfDir).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = LshOps.minhashMl(spark, sfDir).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == b)
  }

  test("BRP-LSH ANN returns ranked neighbors whose distances are exact euclidean") {
    val out = LshOps.annBrpLsh(spark, sfDir).cache()
    val byQ = out.collect().groupBy(_.getAs[Long]("qid"))
    assert(byQ.nonEmpty)
    byQ.values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.sameElements(1 to rs.length))
      val dists = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("dist"))
      assert(dists.sliding(2).forall { case Array(x, y) => x <= y; case _ => true })
    }
  }

  test("brute-force exact top-1 appears among BRP-LSH candidates for most queries") {
    val exact1 = VectorOps.cosineTopK(spark, sfDir)
      .filter(col("rank") === 1).select("qid", "did")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lshPairs = LshOps.annBrpLsh(spark, sfDir)
      .select("qid", "did").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    // cosine-top-1 and euclidean-top-5 differ metrics; just require overlap
    // of candidate structure: every query got candidates
    assert(lshPairs.size == exact1.size)
  }

  // ------------------------------------------------------------------
  // Recall floors (round-9): the two rows-only driver queries carry a
  // correctness signal beyond row count — their candidate sets must
  // contain the exact siblings' answers. Floor 0.9 mirrors the IVF/PQ
  // recall floors in VectorSpec; with 2 hash tables and fixture pair
  // similarity >= 0.87, expected MinHash miss rate is < 2% per pair.
  // ------------------------------------------------------------------
  test("MinHashLSH recall >= 0.9 against exact high-similarity pairs") {
    val exact = DedupOps.ngramJaccard(spark, sfDir)
      .filter(col("jaccard") >= 0.8)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture has no exact near-dup pairs to recall")
    val got = LshOps.minhashMl(spark, sfDir).select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(got).toDouble / exact.size
    assert(recall >= 0.9, s"MinHashLSH recall $recall over ${exact.size} exact pairs")
  }

  test("BRP-LSH recall >= 0.9 against exact euclidean top-5") {
    val rows = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def d2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val queries = rows.filter(_._1 < 5)
    val exact = queries.map { case (qid, qv) =>
      qid -> rows.filter(_._1 != qid)
        .map { case (did, dv) => (did, d2(qv, dv)) }
        .sortBy { case (did, d) => (d, did) }.take(5).map(_._1).toSet
    }.toMap
    val got = LshOps.annBrpLsh(spark, sfDir).select("qid", "did").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val hits = exact.toSeq.map { case (q, ex) => ex.count(got.getOrElse(q, Set.empty)).toDouble / ex.size }
    val recall = hits.sum / hits.size
    assert(recall >= 0.9, s"BRP-LSH mean recall@5 $recall across ${exact.size} queries")
  }

  // ------------------------------------------------------------------
  // Oracle-replica pins (round 11): the two MLlib queries now carry
  // generated DuckDB oracles whose randomness is a seed-deterministic
  // replica of createRawLSHModel. These tests re-read the FITTED models'
  // actual coefficients through the public-bytecode accessors (the fields
  // are private[ml] to scalac only) and assert the replicas are
  // bit-identical, so an MLlib upgrade that changes a draw or a hash
  // formula fails here loudly instead of silently rotting the oracles.
  // ------------------------------------------------------------------
  test("minhash coefficient replica is bit-identical to the fitted model's") {
    import org.apache.spark.ml.linalg.Vectors
    import spark.implicits._
    val df = Seq(Tuple1(Vectors.sparse(1024, Array(1), Array(1.0)))).toDF("features")
    val model = new org.apache.spark.ml.feature.MinHashLSH()
      .setNumHashTables(LshOps.MH_TABLES).setSeed(LshOps.MH_SEED)
      .setInputCol("features").setOutputCol("hashes").fit(df)
    val fitted = model.getClass.getMethod("randCoefficients").invoke(model)
      .asInstanceOf[Array[(Int, Int)]].toSeq
    assert(fitted == LshOps.minhashCoefs,
      s"fitted=$fitted replica=${LshOps.minhashCoefs}")
    val cls = Class.forName("org.apache.spark.ml.feature.MinHashLSH$")
    val module = cls.getField("MODULE$").get(null)
    val prime = cls.getMethod("HASH_PRIME").invoke(module).asInstanceOf[Int]
    assert(prime.toLong == LshOps.HASH_PRIME, s"MLlib HASH_PRIME drifted to $prime")
  }

  test("BRP unit-vector replica is bit-identical to the fitted model's") {
    import org.apache.spark.ml.linalg.{Vector, Vectors}
    import spark.implicits._
    val df = Seq(Tuple1(Vectors.dense(Array.fill(LshOps.EMB_DIM)(0.1)))).toDF("features")
    val model = new org.apache.spark.ml.feature.BucketedRandomProjectionLSH()
      .setBucketLength(LshOps.BRP_BUCKET_LEN).setNumHashTables(LshOps.BRP_TABLES)
      .setSeed(LshOps.BRP_SEED)
      .setInputCol("features").setOutputCol("hashes").fit(df)
    val fitted = model.getClass.getMethod("randUnitVectors").invoke(model)
      .asInstanceOf[Array[Vector]]
    val replica = LshOps.brpUnitVectors
    assert(fitted.length == replica.length)
    fitted.zip(replica).foreach { case (f, r) =>
      assert(java.util.Arrays.equals(f.toArray, r),
        "BRP unit vector replica diverged from fitted randMatrix row")
    }
  }

  test("SQL bucket formula floor(0.5*dot) reproduces model buckets on every fixture vector") {
    import org.apache.spark.ml.linalg.{Vector, Vectors}
    val toVec = udf((a: Seq[Float]) => Vectors.dense(a.map(_.toDouble).toArray): Vector)
    val fdf = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"), toVec(col("embedding")).as("features"))
    val model = new org.apache.spark.ml.feature.BucketedRandomProjectionLSH()
      .setBucketLength(LshOps.BRP_BUCKET_LEN).setNumHashTables(LshOps.BRP_TABLES)
      .setSeed(LshOps.BRP_SEED)
      .setInputCol("features").setOutputCol("hashes").fit(fdf)
    val uv = LshOps.brpUnitVectors
    val rows = model.transform(fdf)
      .select("vec_id", "embedding", "hashes").collect()
    assert(rows.nonEmpty)
    assert(rows.head.getSeq[Float](1).length == LshOps.EMB_DIM,
      "fixture embedding dim drifted; regenerate the BRP oracle constants")
    rows.foreach { r =>
      val x = r.getSeq[Float](1).map(_.toDouble)
      val hs = r.getSeq[Vector](2)
      uv.zipWithIndex.foreach { case (u, t) =>
        var acc = 0.0; var i = 0
        while (i < u.length) { acc += u(i) * x(i); i += 1 }
        assert(math.floor(0.5 * acc) == hs(t)(0),
          s"bucket mismatch vec_id=${r.getLong(0)} table=$t: " +
            s"sql-formula=${math.floor(0.5 * acc)} mllib=${hs(t)(0)}")
      }
    }
  }

  test("hand-rolled minhash est_jaccard tracks exact jaccard on shared pairs") {
    val est = DedupOps.minhashPairs(spark, sfDir).withColumnRenamed("est_jaccard", "est")
    val exact = DedupOps.ngramJaccard(spark, sfDir)
    val joined = est.join(exact, Seq("d1", "d2")).select("est", "jaccard").collect()
    // minhash candidates (band-matched) must be genuinely similar pairs
    joined.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) <= 0.6,
        s"est=${r.getDouble(0)} exact=${r.getDouble(1)}")
    }
  }
}
