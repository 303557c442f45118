package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** Unit coverage for the graftlog DataSource V2 connector beyond what the
  * oracle query (`scan_dsv2_pushdown`) and PlanShapeSpec's pushdown pin
  * can reach: the residual-filter contract, limit pushdown semantics,
  * corrupt-input loudness, and the empty/degenerate landings a production
  * source must survive. The connector's value claim is that pushdown is
  * EXACT — so the spec's job is the boundary: what is NOT pushed must
  * still be answered correctly by Spark above the scan. */
class GraftLogSpec extends SparkTestBase with BeforeAndAfterAll {
  import graft.sources.GraftLog

  private var landing: String = _
  private lazy val events = sources.Tables.load(spark, sfDir, "events")
    .select(col("event_id"), col("user_id"), col("value"), col("event_type"))

  override def beforeAll(): Unit = {
    super.beforeAll()
    landing = Scratch.dir("graftlog_spec")
    // 3 input partitions -> 3 log files: the one-task-per-file claim needs
    // a multi-file landing (sf0.001 events is a single partition raw)
    events.repartition(3).write.format("graftlog").mode("append").save(landing)
  }

  private def scan(): DataFrame = spark.read.format("graftlog").load(landing)

  /** Executes the frame and returns the graftlog BatchScan's emitted-row
    * metric — the honesty pin for pushed aggregates (partials, not
    * records) and runtime filters (join-live rows, not everything). AQE
    * hides scans inside materialized query stages, which are leaf nodes
    * to `collect` — recurse through them explicitly. */
  private def batchScanMetric(df: DataFrame, metric: String): Long = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    df.collect()
    def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case b: BatchScanExec => Seq(b)
      case other => other.children.flatMap(scans)
    }
    val found = scans(df.queryExecution.executedPlan)
    assert(found.nonEmpty, "no BatchScanExec in the executed plan")
    found.map(_.metrics(metric).value).sum
  }
  private def batchScanOutputRows(df: DataFrame): Long =
    batchScanMetric(df, "numOutputRows")

  test("roundtrip: the log reproduces the source rows exactly") {
    val back = scan().orderBy("event_id").collect()
    val src = events.orderBy("event_id").collect()
    assert(back.length == src.length && back.sameElements(src))
  }

  test("a residual (unsupported) filter is NOT pushed and Spark evaluates it post-scan") {
    // A function call over a column (UPPER) fits no lane of v2ToV1 ->
    // must come back as residual; the pushed one (value bound) stays in
    // the scan. (endsWith was this test's residual example through r14 —
    // round 15's V2 Predicate pushdown promoted it to pushed, so the
    // example moved one rung up the untranslatable ladder.) The answer
    // must equal the batch-parquet truth either way - the residual
    // contract is "correct, just not source-evaluated".
    val df = scan().filter(upper(col("event_type")) === "PURCHASE" && col("value") < 50.0)
    val plan = df.queryExecution.executedPlan.toString
    val scanLine = plan.split("\n").find(_.contains("GraftLogScan")).get
    assert(scanLine.contains("LessThan(value,50.0)"), s"value bound not pushed:\n$scanLine")
    assert(!scanLine.toUpperCase.contains("UPPER"), s"unsupported filter wrongly claimed pushed:\n$scanLine")
    val expect = events.filter(upper(col("event_type")) === "PURCHASE" && col("value") < 50.0).count()
    assert(expect > 0 && df.count() == expect)
  }

  test("OFFSET pushdown is FULL: one sequential partition in publish order, skip applied in the source") {
    // the SPI has no partial variant, so a pushed offset must be a global
    // skip: the scan collapses to ONE partition chaining files in publish
    // order. The plain scan's collect IS the same global stream (partition
    // order = sorted file names = publish order, rows in append order), so
    // the identity to pin is offset(40) == plain.drop(40), element order
    // included.
    val df = scan().filter(col("event_type") === "purchase").offset(40)
    val plan = df.queryExecution.executedPlan.toString
    val scanLine = plan.split("\n").find(_.contains("GraftLogScan")).get
    assert(scanLine.contains("offset=40"), s"offset not pushed into the scan:\n$scanLine")
    assert(df.rdd.getNumPartitions == 1,
      "pushed-offset scan must plan exactly one sequential partition")
    val stream = scan().filter(col("event_type") === "purchase").collect()
    val got = df.collect()
    assert(got.length == stream.length - 40)
    assert(got.sameElements(stream.drop(40)),
      "pushed offset did not drop exactly the first 40 rows of the publish-order stream")
  }

  test("limit pushdown is PARTIAL: per-file early stop, Spark keeps the global limit") {
    val df = scan().filter(col("event_type") === "purchase").limit(7)
    val plan = df.queryExecution.executedPlan.toString
    val scanLine = plan.split("\n").find(_.contains("GraftLogScan")).get
    assert(scanLine.contains("limit=7"), s"limit not pushed into the scan:\n$scanLine")
    // isPartiallyPushed=true => the global limit OPERATOR must survive
    // (the source's per-partition k rows are a superset, not the answer)
    assert(plan.contains("Limit") || plan.contains("limit=7,"),
      s"global limit operator missing above a partially-pushed scan:\n$plan")
    assert(df.count() == 7)
    assert(df.collect().forall(_.getString(3) == "purchase"))
  }

  test("limit composes with pruning and yields only requested columns") {
    val rows = scan().select("event_id").limit(3).collect()
    assert(rows.length == 3 && rows.head.length == 1)
  }

  test("IsNotNull on the non-nullable schema is eliminated BEFORE the source (no filter at all)") {
    // The format encodes no nulls and the schema says so (nullable=false
    // on every field), so Catalyst constant-folds isNotNull away upstream:
    // the scan sees pushed=[] and no Filter survives anywhere. (v2ToV1's
    // IS_NOT_NULL case still matters for engines/sessions that hand the
    // source a nullable view of the schema.)
    val df = scan().filter(col("user_id").isNotNull)
    val plan = df.queryExecution.executedPlan.toString
    val scanLine = plan.split("\n").find(_.contains("GraftLogScan")).get
    assert(scanLine.contains("pushed=[]"), s"expected the vacuous predicate folded away:\n$scanLine")
    // Filter OPERATOR nodes only — the scan line's own "RuntimeFilters:"
    // text also contains the substring
    val filterNode = """^[\s+\-:*()\d]*Filter[\s(]""".r
    assert(!plan.split("\n").exists(l =>
      filterNode.findFirstIn(l).isDefined && l.contains("user_id")),
      s"vacuous isNotNull survived as a Filter:\n$plan")
    assert(df.count() == events.count())
  }

  test("an empty landing reads as zero rows, not an error") {
    val empty = Scratch.dir("graftlog_spec_empty")
    new java.io.File(empty).mkdirs()
    assert(spark.read.format("graftlog").load(empty).count() == 0)
  }

  test("a corrupt record fails LOUDLY with the offending file named") {
    val bad = Scratch.dir("graftlog_spec_bad")
    new java.io.File(bad).mkdirs()
    val out = new java.io.DataOutputStream(
      new java.io.FileOutputStream(s"$bad/part-0.graftlog"))
    // declared len disagrees with the encoded fields: a truncated/shifted
    // write must surface as an error, never as silently skipped rows
    out.writeInt(999); out.writeLong(1L); out.writeLong(2L)
    out.writeDouble(3.0); out.writeShort(2); out.write("ab".getBytes)
    out.close()
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("graftlog").load(bad).count()
    }
    assert(e.getCause != null &&
      Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).take(8)
        .exists(t => String.valueOf(t.getMessage).contains("corrupt record")),
      s"expected a 'corrupt record' failure, got: $e")
  }

  test("a corrupt equality-delete record fails LOUDLY on the scan, compaction and changes-stream paths") {
    // a lone '-' and an over-Long key are not keys: every reader of the
    // published .graftdel must name the file, never throw a bare
    // NumberFormatException or apply a garbage takedown
    import org.apache.spark.sql.streaming.Trigger
    val src = Scratch.dir("graftlog_spec_baddel_src")
    val sink = Scratch.dir("graftlog_spec_baddel_sink")
    val ckpt = Scratch.streamCkptDir("graftlog_spec_baddel_ckpt")
    def drain(): Unit =
      spark.readStream.format("graftlog").load(src)
        .writeStream.format("graftlog")
        .option("upsertKey", "event_id")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(sink)
        .awaitTermination()
    val base = events.orderBy("event_id").limit(10)
    base.repartition(1).write.format("graftlog").mode("append").save(src)
    drain()
    val s1 = GraftLog.latestSnapshotStamp(sink)
    base.withColumn("value", col("value") * 2)
      .repartition(1).write.format("graftlog").mode("append").save(src)
    drain()
    val dels = new java.io.File(sink).listFiles().filter(_.getName.endsWith(".graftdel"))
    assert(dels.length == 1, s"fixture: expected one published eq-delete, got ${dels.length}")
    def labeled(t: Throwable): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(12)
        .exists { c =>
          val m = String.valueOf(c.getMessage)
          m.contains("corrupt equality-delete record in ") && m.contains(dels.head.getName)
        }
    Seq("-", "99999999999999999999").foreach { bad =>
      java.nio.file.Files.writeString(dels.head.toPath, s"eq event_id\n$bad\n")
      val paths = Seq[(String, () => Any)](
        "batch scan" -> (() => spark.read.format("graftlog").load(sink).collect()),
        "compact" -> (() => GraftLog.compact(spark, sink, 1L << 30)),
        "changes stream" -> (() =>
          spark.readStream.format("graftlog")
            .option("readChanges", "true").option("changesFrom", s1).load(sink)
            .writeStream.format("noop")
            .option("checkpointLocation", Scratch.streamCkptDir("graftlog_spec_baddel_ch"))
            .trigger(Trigger.AvailableNow()).start()
            .awaitTermination()))
      paths.foreach { case (what, run) =>
        val e = intercept[Exception](run())
        assert(labeled(e), s"$what on '$bad': expected the labeled corrupt-record error, got: $e")
      }
    }
  }

  test("V2 write commit publishes atomically: no .tmp leftovers, append adds, overwrite truncates") {
    val dir = Scratch.dir("graftlog_spec_write")
    val five = events.orderBy("event_id").limit(5)
    five.write.format("graftlog").mode("append").save(dir)
    five.write.format("graftlog").mode("append").save(dir)
    val files = new java.io.File(dir).listFiles().map(_.getName)
    assert(!files.exists(_.endsWith(".tmp")), s"uncommitted tmp survived commit: ${files.mkString(",")}")
    assert(spark.read.format("graftlog").load(dir).count() == 10, "append lost rows")
    val three = events.orderBy("event_id").limit(3)
    three.write.format("graftlog").mode("overwrite").save(dir)
    assert(spark.read.format("graftlog").load(dir).count() == 3, "overwrite did not truncate")
  }

  test("V2 write resolves columns BY NAME (misordered select lands correctly); wrong names fail analysis") {
    // The V2 append path reorders the query's output to the table schema
    // by NAME (ResolveOutputRelation) — a positionally type-compatible but
    // swapped select therefore lands CORRECT data, and the writer-side
    // exact-schema require (the defense for any non-Spark caller of the
    // protocol) never fires because Spark hands it table-ordered rows.
    val dir = Scratch.dir("graftlog_spec_byname")
    val one = events.orderBy("event_id").limit(1)
    one.select(col("user_id"), col("event_id"), col("value"), col("event_type"))
      .write.format("graftlog").mode("append").save(dir)
    val back = spark.read.format("graftlog").load(dir).collect()(0)
    val src = one.collect()(0)
    assert(back.getLong(0) == src.getLong(0) && back.getLong(1) == src.getLong(1),
      s"by-name resolution failed: wrote $back from $src")
    // a column the table does not have fails in analysis, before any file
    intercept[org.apache.spark.sql.AnalysisException] {
      one.withColumnRenamed("value", "v")
        .write.format("graftlog").mode("append").save(Scratch.dir("graftlog_spec_badname"))
    }
  }

  test("streaming read resumes from its checkpoint and processes appended files EXACTLY ONCE") {
    // The Kafka-shaped contract, on the offline log: offsets are the
    // discovered file-name set; a restarted query replays its committed
    // offset from the checkpoint and plans only the difference. Chunk A
    // drains to a parquet sink and stops; chunk B lands; a SECOND query
    // against the SAME checkpoint must emit chunk B's rows only — a
    // re-emit of chunk A (duplicates) or a miss of chunk B both fail the
    // final count/sum.
    import org.apache.spark.sql.streaming.Trigger
    val dir = Scratch.dir("graftlog_spec_resume")
    val out = Scratch.dir("graftlog_spec_resume_out")
    val ckpt = Scratch.streamCkptDir("graftlog_spec_resume_ckpt")
    val all = events.orderBy("event_id").limit(40)
    def drain(): Unit = {
      val q = spark.readStream.format("graftlog").load(dir)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    all.filter(col("event_id") % 2 === 0).write.format("graftlog").mode("append").save(dir)
    drain()
    val afterA = spark.read.parquet(out).count()
    all.filter(col("event_id") % 2 === 1).write.format("graftlog").mode("append").save(dir)
    drain()
    val fin = spark.read.parquet(out)
    assert(afterA == 20 && fin.count() == 40,
      s"expected 20 then 40 rows, got $afterA then ${fin.count()}")
    assert(fin.select(countDistinct(col("event_id"))).collect()(0).getLong(0) == 40,
      "a row was emitted twice across the restart")
  }

  test("metadata columns are a BATCH surface: a streaming reference fails (documented Spark DSv2 gap)") {
    // Spark resolves metadata columns on the streaming relation (the
    // table declares SupportsMetadataColumns) but NEVER calls
    // pruneColumns/pushPredicates for DSv2 streaming scans, so the source
    // cannot learn which metadata columns were requested and the executed
    // plan reads an ordinal the 4-field rows don't have. Pinned here so
    // the boundary is documented behavior, not a surprise: incremental
    // STREAMING reads are served by the offset mechanism itself (the
    // checkpoint-resume test above); incremental BATCH reads are served
    // by `_pub_stamp` predicate pushdown (file-level pruning, next test).
    import org.apache.spark.sql.streaming.StreamingQueryException
    val dir = Scratch.dir("graftlog_meta_stream")
    events.limit(20).write.format("graftlog").mode("append").save(dir)
    intercept[StreamingQueryException] {
      streaming.Streams.runToCompletion(
        spark.readStream.format("graftlog").load(dir)
          .select(col("event_id"), col("_file")),
        org.apache.spark.sql.streaming.OutputMode.Append())
    }
  }

  test("streaming offset JSON round-trips and rejects malformed input") {
    // reflection-free access via the public source surface is not exposed,
    // so pin the serde through the package-private companion. The offset
    // is (high-water + tail), not a name list — a mis-parse silently
    // re-reads or skips files across restarts.
    import graft.sources.GraftLogOffsetTestHook._
    val hw = publishName(1700000000123L, 2, "b00002-aabbccdd")
    val t1 = publishName(1700000000123L, 0, "b00000-11223344")
    val off = make(hw, 10000L, Seq(t1, hw, "legacy-name.graftlog"))
    assert(parse(off) == ((hw, 10000L, Seq(t1, hw, "legacy-name.graftlog"))))
    assert(parse(make("", 10000L, Nil)) == (("", 10000L, Nil)))
    intercept[IllegalArgumentException] { parse("{bad}") }
    intercept[IllegalArgumentException] { parse("""["old","v1","list"]""") }
    // the r13 lag-less format must be rejected, not parsed with a guessed
    // lag (the lag IS the compaction basis — see the lag-carry test below)
    intercept[IllegalArgumentException] { parse(s"""{"hw":"$hw","tail":[]}""") }
    intercept[IllegalArgumentException] { parse(s"""{"hw":"$hw","lag":10,"tail":[noquotes]}""") }
    // the high-water must be publish-stamped: watermark arithmetic on an
    // unstamped name would compare garbage
    intercept[IllegalArgumentException] { parse("""{"hw":"legacy.graftlog","lag":10,"tail":[]}""") }
    // a comma-bearing foreign name must fail at construction, loudly —
    // the tail parser splits on commas and would otherwise round-trip it
    // into a corrupted offset
    intercept[IllegalArgumentException] { make(hw, 10000L, Seq("a,b.graftlog")) }
    // a PARTIAL scheme match is a foreign name, not a stamped one: pulled
    // into watermark arithmetic it would be silently classified seen
    assert(!seen(make(hw, 0L, Nil), "pub-1690000000000.graftlog"),
      "a prefix-only foreign name was treated as publish-stamped")
  }

  test("offset compaction: seen-set arithmetic, lag-window tail, legacy names never compact") {
    import graft.sources.GraftLogOffsetTestHook._
    val base = 1700000000000L
    def n(ms: Long, seq: Int) = publishName(ms, seq, s"t$seq-deadbeef")
    val lag = 1000L
    // admit three old files + one legacy name, then a much newer file:
    // the old stamped names must compact out (implicitly seen), the
    // legacy name must stay in the tail forever
    val o1 = admit(make("", lag, Nil), Seq(n(base, 0), n(base, 1), n(base, 2), "legacy.graftlog"), lag)
    val (hw1, _, tail1) = parse(o1)
    assert(hw1 == n(base, 2) && tail1.toSet ==
      Set(n(base, 0), n(base, 1), n(base, 2), "legacy.graftlog"))
    val o2 = admit(o1, Seq(n(base + 60000, 0)), lag)
    val (hw2, _, tail2) = parse(o2)
    assert(hw2 == n(base + 60000, 0), "high-water did not advance")
    assert(tail2.toSet == Set(n(base + 60000, 0), "legacy.graftlog"),
      s"expected old stamped names compacted out and legacy retained, got $tail2")
    // compacted-out names are still SEEN (implicitly, below the lag
    // boundary); names inside the lag window are seen only via the tail
    assert(seen(o2, n(base, 1)), "compacted name no longer seen")
    assert(seen(o2, "legacy.graftlog"))
    assert(!seen(o2, "other-legacy.graftlog"),
      "an unseen unstamped name must never be implicitly seen")
    assert(!seen(o2, n(base + 59500, 0)),
      "an unseen name inside the lag window must not be implicitly seen")
    assert(seen(o2, n(base + 1000, 0)),
      "names below the lag boundary are implicitly seen (the documented " +
        "publish-to-visibility assumption)")
    // admitting nothing returns the identical offset (no empty batches)
    assert(admit(o2, Nil, lag) == o2)
    // LAG CARRY + MONOTONE BOUNDARY (r14 review): the offset's own lag is
    // the seen() basis, and a RAISED session lag must not move the
    // boundary down — o2's boundary sits at (base+60000)-1000; a restart
    // with sessionLag=50000 admits a file at base+61000, whose unclamped
    // boundary (base+11000) would re-expose names compacted under o2
    // (e.g. n(base+30000, _) if it had been processed). The clamp keeps
    // every previously-implicit name implicitly seen.
    val o3 = admit(o2, Seq(n(base + 61000, 0)), 50000L)
    assert(seen(o3, n(base, 1)), "raised lag re-exposed a compacted name")
    assert(seen(o3, n(base + 50000, 0)),
      "raised lag moved the implicit-seen boundary DOWN across a restart")
    assert(!seen(o3, n(base + 60500, 0)),
      "an unseen name inside the (clamped) window must not be implicitly seen")
    // LOWERED-LAG TWIN (r14 advice, the other half of exactly-once): a
    // restart with a SMALLER publishLagMs must not jump the boundary up
    // faster than the high-water advances. o2 (lag=1000, hw=base+60000)
    // restarted under sessionLag=10: admitting a file at base+60100 would,
    // unclamped, put the boundary at base+60090 — silently classifying a
    // fresh-but-unadmitted stamped file at base+59500 (late-visible under
    // multi-writer clock skew, or held back by maxFilesPerTrigger) as
    // already seen → ROW LOSS. The carried lag never shrinks, so the
    // boundary advances by exactly the high-water delta.
    val o4 = admit(o2, Seq(n(base + 60100, 0)), 10L)
    assert(!seen(o4, n(base + 59500, 0)),
      "lowered session lag jumped the implicit-seen boundary over a " +
        "fresh-but-unadmitted stamped name — rows lost")
    val (_, lag4, _) = parse(o4)
    assert(lag4 == lag, s"carried lag must never shrink (got $lag4, had $lag)")
    // and the name it DID admit is seen, via the tail
    assert(seen(o4, n(base + 60100, 0)))
  }

  test("publish stamps are monotone per writer (backwards wall-clock step cannot strand files)") {
    import graft.sources.GraftLogOffsetTestHook._
    // nextStamp() = max(lastStamp + 1, now): strictly increasing within
    // the driver JVM even if the wall clock steps backwards between
    // commits — a stamp below an already-advanced offset boundary would
    // be silently skipped by a streaming reader (r14 advice).
    val stamps = (1 to 100).map(_ => nextStamp())
    assert(stamps.zip(stamps.tail).forall { case (a, b) => a < b },
      s"publish stamps not strictly increasing: $stamps")
    assert(stamps.last >= System.currentTimeMillis() - 60000L,
      "stamps should track the wall clock when it is sane")
  }

  test("TopN pushdown is PARTIAL: per-file heap in the scan, global TakeOrdered kept, exact results") {
    val df = scan().filter(col("event_type") === "purchase")
      .orderBy(col("value").desc, col("event_id")).limit(5)
    val plan = df.queryExecution.executedPlan.toString
    val scanLine = plan.split("\n").find(_.contains("GraftLogScan")).get
    assert(scanLine.contains("topn=[value DESC, event_id ASC] limit=5"),
      s"topN not pushed into the scan:\n$scanLine")
    // no full Sort OPERATOR anywhere — the global merge is TakeOrdered
    val sortNode = """^[\s+\-:*()\d]*Sort[\s(]""".r
    assert(!plan.split("\n").exists(l => sortNode.findFirstIn(l).isDefined),
      s"a full Sort survived above a pushed topN:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"global TakeOrdered missing above a partially-pushed topN:\n$plan")
    val got = df.collect()
    val want = events.filter(col("event_type") === "purchase")
      .orderBy(col("value").desc, col("event_id")).limit(5).collect()
    assert(got.sameElements(want), "pushed topN changed the answer")
  }

  test("aggregate pushdown ships per-file partials: scan emits O(files x groups) rows, exact results") {
    val df = scan().groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("value")).as("vmin"), max(col("value")).as("vmax"))
      .orderBy(col("event_type"))
    val plan = df.queryExecution.executedPlan.toString
    val scanLine = plan.split("\n").find(_.contains("GraftLogScan")).get
    assert(scanLine.contains("agg=[count(*), min(value), max(value)] groupBy=[event_type]"),
      s"aggregation not pushed into the scan:\n$scanLine")
    val want = events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("value")).as("vmin"), max(col("value")).as("vmax"))
      .orderBy(col("event_type")).collect()
    assert(df.collect().sameElements(want), "pushed aggregation changed the answer")
    // the honesty pin: the scan must emit partial rows, never records —
    // bounded by files x groups (the metric counts reader-emitted rows)
    val nFiles = new java.io.File(landing).listFiles().count(_.getName.endsWith(".graftlog"))
    val nGroups = want.length
    val emitted = batchScanOutputRows(df)
    assert(emitted <= nFiles.toLong * nGroups && emitted > 0,
      s"scan emitted $emitted rows; expected <= files($nFiles) x groups($nGroups) partials")
  }

  test("global aggregate over an empty landing yields COUNT 0 (one partial row per file, nulls merge)") {
    val empty = Scratch.dir("graftlog_spec_agg_empty")
    new java.io.File(empty).mkdirs()
    // an empty DIRECTORY has no files -> no partials -> Spark's global agg
    // still answers from zero partials
    val r0 = spark.read.format("graftlog").load(empty)
      .agg(count(lit(1)).as("n"), min(col("value")).as("vmin")).collect()(0)
    assert(r0.getLong(0) == 0L && r0.isNullAt(1))
    // a landing with files but no matching rows: each file emits one
    // (0, null) partial and the merge keeps COUNT 0 / null MIN
    val r1 = scan().filter(col("value") < -1.0)
      .agg(count(lit(1)).as("n"), min(col("value")).as("vmin")).collect()(0)
    assert(r1.getLong(0) == 0L && r1.isNullAt(1))
  }

  test("runtime filtering reaches the READER: scan emits only join-live rows") {
    // a selective dim (one customer segment): without
    // SupportsRuntimeV2Filtering the scan emits every record and the join
    // drops the rest; with it the BatchScan line carries the dynamic IN
    // and the reader's emitted-row metric collapses to just the matching
    // users' rows. The dim MUST carry a selective predicate — Spark's
    // pruning rule only spends a runtime filter where the build side was
    // itself filtered (a bare distinct-and-limit dim is declined).
    val dim = sources.Tables.load(spark, sfDir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val joined = scan().join(broadcast(dim), col("user_id") === col("c_custkey"))
    val matching = joined.count()
    val total = events.count()
    assert(matching > 0 && matching < total, s"fixture degenerate: $matching of $total")
    val plan = joined.queryExecution.executedPlan.toString
    val scanLine = plan.split("\n").find(_.contains("GraftLogScan")).get
    assert(scanLine.contains("RuntimeFilters: [dynamicpruningexpression"),
      s"no runtime filter injected on the graftlog scan:\n$plan")
    val emitted = batchScanOutputRows(joined)
    assert(emitted == matching,
      s"reader ignored the runtime IN-set: emitted $emitted rows, join keeps $matching of $total")
  }

  test("streaming V2 write resumes from its checkpoint and a replayed epoch does not duplicate") {
    import org.apache.spark.sql.streaming.Trigger
    val in = Scratch.dir("graftlog_spec_sink_in")
    val out = Scratch.dir("graftlog_spec_sink_out")
    val ckpt = Scratch.streamCkptDir("graftlog_spec_sink_ckpt")
    val all = events.orderBy("event_id").limit(40)
    def drain(): Unit = {
      val q = spark.readStream.format("graftlog").load(in)
        .writeStream.format("graftlog")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(out)
      q.awaitTermination()
    }
    def distinctIds(): Long = spark.read.format("graftlog").load(out)
      .select(countDistinct(col("event_id"))).collect()(0).getLong(0)
    // phase 1: evens; phase 2 (same checkpoint): odds — the write-side
    // twin of the read-resume test: a re-emit of phase 1 (duplicate rows)
    // or a miss of phase 2 both fail the final counts
    all.filter(col("event_id") % 2 === 0).write.format("graftlog").mode("append").save(in)
    drain()
    val afterA = spark.read.format("graftlog").load(out).count()
    all.filter(col("event_id") % 2 === 1).write.format("graftlog").mode("append").save(in)
    drain()
    val afterB = spark.read.format("graftlog").load(out).count()
    assert(afterA == 20 && afterB == 40 && distinctIds() == 40,
      s"expected 20 then 40 distinct rows, got $afterA then $afterB (${distinctIds()} distinct)")
    // phase 3: simulate a crash AFTER the sink published but BEFORE the
    // checkpoint recorded the commit — delete the last commit marker and
    // re-drain: Spark replays the batch with the SAME epoch id, and the
    // epoch-keyed delete-then-publish must REPLACE, not duplicate
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty, "no commit markers written")
    // the local checkpoint FS writes a .N.crc sidecar per marker — leave
    // it behind and the replay's rewrite fails as a spurious
    // "concurrent queries" error instead of replaying
    val sidecar = new java.io.File(commits.last.getParentFile, s".${commits.last.getName}.crc")
    if (sidecar.exists()) assert(sidecar.delete(), "could not delete the commit crc sidecar")
    assert(commits.last.delete(), "could not delete the last commit marker")
    drain()
    assert(spark.read.format("graftlog").load(out).count() == 40 && distinctIds() == 40,
      "an epoch replay duplicated its rows instead of replacing them")
  }

  test("COMPLETE-mode streaming write replaces the landing with each epoch's snapshot") {
    // Spark routes Complete output mode through SupportsTruncate, so the
    // streaming write MUST honor the flag: each epoch clears the landing
    // and publishes the full snapshot. Ignoring it (the r14 review catch)
    // would append a whole snapshot per micro-batch — silently multiplied
    // groups on read-back. The aggregate is projected into the table
    // schema (the writer requires it exactly).
    import org.apache.spark.sql.streaming.Trigger
    val in = Scratch.dir("graftlog_spec_complete_in")
    val out = Scratch.dir("graftlog_spec_complete_out")
    events.limit(30).repartition(3).write.format("graftlog").mode("append").save(in)
    val q = spark.readStream.format("graftlog")
      .option("maxFilesPerTrigger", "1").load(in)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("event_id"), min(col("user_id")).as("user_id"),
        max(col("value")).as("value"))
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .writeStream.format("graftlog")
      .option("checkpointLocation", Scratch.streamCkptDir("graftlog_spec_complete_ckpt"))
      .outputMode("complete")
      .trigger(Trigger.AvailableNow()).start(out)
    q.awaitTermination()
    val snapshot = spark.read.format("graftlog").load(out)
    val nGroups = events.limit(30).select("event_type").distinct().count()
    assert(snapshot.count() == nGroups,
      s"expected one row per group ($nGroups) in the final snapshot, got " +
        s"${snapshot.count()} — Complete mode appended instead of replacing")
  }

  test("a NEW streaming query's epoch 0 does not delete a previous query's files") {
    // epoch ids restart at 0 for every new query, so the replay cleanup
    // must be scoped by queryId (r14 review): two sequential queries
    // appending into the same landing must coexist.
    import org.apache.spark.sql.streaming.Trigger
    val out = Scratch.dir("graftlog_spec_twoq_out")
    def drainInto(rows: DataFrame, tag: String): Unit = {
      val in = Scratch.dir(s"graftlog_spec_twoq_$tag")
      rows.write.format("graftlog").mode("append").save(in)
      val q = spark.readStream.format("graftlog").load(in)
        .writeStream.format("graftlog")
        .option("checkpointLocation", Scratch.streamCkptDir(s"graftlog_spec_twoq_ckpt_$tag"))
        .trigger(Trigger.AvailableNow()).start(out)
      q.awaitTermination()
    }
    val all = events.orderBy("event_id").limit(20)
    drainInto(all.filter(col("event_id") % 2 === 0), "a")
    drainInto(all.filter(col("event_id") % 2 === 1), "b")
    val got = spark.read.format("graftlog").load(out).count()
    assert(got == 20,
      s"expected both queries' 20 rows, got $got — an epoch-0 collision deleted the first query's data")
  }

  test("published names are stamped at commit time and streaming offsets stay compacted") {
    // every file the connector publishes (batch and epoch commits alike)
    // must carry a publish stamp — the compaction arithmetic depends on it
    val names = new java.io.File(landing).listFiles()
      .map(_.getName).filter(_.endsWith(".graftlog"))
    assert(names.nonEmpty && names.forall(_.startsWith("pub-")),
      s"unstamped published names: ${names.mkString(", ")}")
    // drive a stream over MANY single-file batches with a tiny lag and
    // sleeps longer than it: the committed offsets' tails must compact
    // (stay well under the total file count) while every row still
    // arrives exactly once
    val dir = Scratch.dir("graftlog_spec_compact")
    val name = s"gl_compact_${java.util.UUID.randomUUID().toString.take(8)}"
    val ckpt = Scratch.streamCkptDir("gl_compact_ckpt")
    val slice = events.orderBy("event_id").limit(60)
    val q = graft.streaming.Streams.withStreamShuffle(spark) {
      spark.readStream.format("graftlog")
        .option("maxFilesPerTrigger", "1").option("publishLagMs", "40").load(dir)
        .writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    }
    try {
      for (b <- 0 until 6) {
        slice.filter(col("event_id") % 6 === b).coalesce(1)
          .write.format("graftlog").mode("append").save(dir)
        Thread.sleep(120) // > publishLagMs: earlier batches age past the boundary
        q.processAllAvailable()
      }
      assert(spark.table(name).count() == 60, "compaction lost or duplicated rows")
      val last = new java.io.File(s"$ckpt/offsets").listFiles()
        .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
      val offLine = scala.io.Source.fromFile(last).getLines().toSeq.last
      val (hw, _, tailNames) = graft.sources.GraftLogOffsetTestHook.parse(offLine)
      assert(hw.startsWith("pub-"), s"no high-water in the final offset: $offLine")
      assert(tailNames.length < 6,
        s"offset tail did not compact: ${tailNames.length} names for 6 files ($offLine)")
    } finally { q.stop(); spark.catalog.dropTempView(name) }
  }

  test("reported statistics let Catalyst BROADCAST a small graftlog dimension") {
    // Without SupportsReportStatistics a V2 scan reports unknown size,
    // Catalyst assumes huge, and a kilobyte-scale log could never be the
    // build side — the stats are what make the custom source a
    // first-class join citizen, not just readable.
    val dim = Scratch.dir("graftlog_spec_dim")
    events.orderBy("event_id").limit(50)
      .write.format("graftlog").mode("append").save(dim)
    val joined = events.join(
      spark.read.format("graftlog").load(dim).select(col("event_id"), col("value").as("dim_value")),
      "event_id")
    val plan = { joined.collect(); joined.queryExecution.executedPlan.toString }
    assert(plan.contains("BroadcastHashJoin"), s"small graftlog side not broadcast:\n$plan")
    assert(joined.count() == 50)
  }

  test("streaming maxFilesPerTrigger caps admission: one batch per file at 1") {
    val dir = Scratch.dir("graftlog_spec_admit")
    events.limit(30).repartition(3).write.format("graftlog").mode("append").save(dir)
    val name = s"gl_admit_${java.util.UUID.randomUUID().toString.take(8)}"
    val q = graft.streaming.Streams.withStreamShuffle(spark) {
      spark.readStream.format("graftlog")
        .option("maxFilesPerTrigger", "1").load(dir)
        .writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", Scratch.streamCkptDir("gl_admit_ckpt"))
        .start()
    }
    q.processAllAvailable()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(batches == 3, s"expected 3 one-file batches, got $batches")
    assert(spark.table(name).count() == 30)
    spark.catalog.dropTempView(name)
  }

  test("native Trigger.AvailableNow drains the whole start-time backlog in admission-sized batches, then terminates") {
    // SupportsTriggerAvailableNow (round 14): prepare() snapshots the
    // visible set; the drain must still respect maxFilesPerTrigger (three
    // one-file batches, not one giant batch) AND terminate on its own —
    // chunked eviction semantics with batch-job lifecycle.
    import org.apache.spark.sql.streaming.Trigger
    val dir = Scratch.dir("graftlog_spec_availnow")
    events.limit(30).repartition(3).write.format("graftlog").mode("append").save(dir)
    val out = Scratch.dir("graftlog_spec_availnow_out")
    val q = spark.readStream.format("graftlog")
      .option("maxFilesPerTrigger", "1").load(dir)
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", Scratch.streamCkptDir("graftlog_spec_availnow_ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "AvailableNow drain did not terminate")
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches == 3, s"expected 3 one-file batches, got $dataBatches")
    assert(spark.read.parquet(out).count() == 30)
    // source metrics (ReportsSourceMetrics): the last progress entry must
    // report the drained state — all visible files consumed
    val m = q.recentProgress.last.sources.head.metrics
    assert(m.get("visibleFiles") == "3" && m.get("pendingFiles") == "0",
      s"source metrics wrong after a full drain: $m")
  }

  test("recordsSkipped SQL metric surfaces the pushdown saving on the scan node") {
    // the observability twin of the exact-pushdown contract: records the
    // readers dropped via pushed predicates become a first-class metric
    // on the BatchScan — kept + skipped must account for every record
    val df = scan().filter(col("value") < 50.0)
    val kept = events.filter(col("value") < 50.0).count()
    val total = events.count()
    assert(kept > 0 && kept < total, s"fixture degenerate: $kept of $total")
    val skipped = batchScanMetric(df, "recordsSkipped")
    assert(skipped == total - kept,
      s"recordsSkipped=$skipped; expected ${total - kept} (total $total - kept $kept)")
  }

  test("one InputPartition per log file (the distributed-scan shape)") {
    val nFiles = new java.io.File(landing).listFiles()
      .count(_.getName.endsWith(".graftlog"))
    assert(nFiles > 1, s"fixture landed as $nFiles file(s); spec needs >1 for the claim")
    assert(scan().rdd.getNumPartitions == nFiles)
  }

  test("ungrouped COUNT/MIN/MAX answer from the manifest: servable files are never opened") {
    // Round 17 metadata aggregates: an unfiltered, ungrouped COUNT/MIN/
    // MAX over the tracked columns is served from the zone maps alone.
    // The decisive proof that no file opens: UNLINK every data file and
    // re-run — the answer cannot change. A FILTERED aggregate must open
    // files (the zone maps cannot apply row predicates) and now fails
    // loudly instead.
    val land = Scratch.dir("graftlog_metaagg")
    events.limit(600).repartition(3).write.format("graftlog").mode("append").save(land)
    def agg() = spark.read.format("graftlog").load(land)
      .agg(count(lit(1)).as("n"), min(col("event_id")).as("mn"),
        max(col("value")).as("mx"))
    val want = agg().collect()(0)
    assert(want.getLong(0) == 600)
    new java.io.File(land).listFiles()
      .filter(_.getName.endsWith(".graftlog"))
      .foreach(f => assert(f.delete()))
    val got = agg().collect()(0)
    assert(got == want,
      s"metadata aggregate depended on the (deleted) data files: $got vs $want")
    intercept[Exception] {
      spark.read.format("graftlog").load(land)
        .filter(col("event_type") === "click")
        .agg(count(lit(1))).collect()
    }
  }

  test("per-file zone maps prune files: a range predicate opens only overlapping files") {
    // Round 17: task writers record min/max of the numeric columns into
    // the manifest; the scan drops files a pushed conjunct provably
    // cannot match. Four disjoint event_id chunks -> four files with
    // disjoint zones; the partition count IS the files opened.
    val land = Scratch.dir("graftlog_zonemap")
    (0 until 4).foreach { k =>
      events.filter(col("event_id") >= k * 250 && col("event_id") < (k + 1) * 250)
        .repartition(1).write.format("graftlog").mode("append").save(land)
    }
    def read() = spark.read.format("graftlog").load(land)
    assert(read().rdd.getNumPartitions == 4, "fixture must land as 4 files")
    // equality hits exactly one zone
    val q1 = read().filter(col("event_id") === 400)
    assert(q1.rdd.getNumPartitions == 1,
      s"point predicate planned ${q1.rdd.getNumPartitions} files, wanted 1")
    assert(q1.count() == 1)
    // a range straddling a zone boundary opens exactly the two overlaps
    val q2 = read().filter(col("event_id") >= 240 && col("event_id") < 260)
    assert(q2.rdd.getNumPartitions == 2,
      s"straddling range planned ${q2.rdd.getNumPartitions} files, wanted 2")
    assert(q2.count() ==
      events.filter(col("event_id") >= 240 && col("event_id") < 260).count())
    // a provably-empty value range opens NOTHING (fixture values are > 0)
    val q3 = read().filter(col("value") < -1.0d)
    assert(q3.rdd.getNumPartitions == 0 && q3.count() == 0,
      "an out-of-bounds value range must plan zero files")
    // untracked columns claim nothing: no false pruning
    assert(read().filter(col("event_type") === "click").rdd.getNumPartitions == 4)
    // compaction merges zone maps without decoding: the merged file's
    // bounds span its inputs, so the point predicate still plans it (1
    // file = the whole landing now) and the rows stay exact
    GraftLog.compact(spark, land, Long.MaxValue)
    val q4 = read().filter(col("event_id") === 400)
    assert(q4.rdd.getNumPartitions == 1 && q4.count() == 1,
      "post-compaction merged zone map must keep the point lookup exact")
  }

  test("evolved + string zone maps: ADDED-column ranges prune files, null-present files stay exact, cluster by any column") {
    // Round 18 (r17 verdict #3): W tokens carry per-file bounds for
    // ALTER-added columns, Y tokens for event_type. A range predicate on
    // the added column prunes files WITHOUT being claimed (it stays a
    // residual Spark evaluates); the all-null-range file declines every
    // value predicate via its present count; IS NULL opens only files
    // that provably hold nulls.
    spark.conf.set("spark.sql.catalog.graftz",
      classOf[graft.sources.GraftCatalog].getName)
    val wh = Scratch.dir("graftlog_evolved_wh")
    spark.conf.set("spark.sql.catalog.graftz.warehouse", wh)
    spark.sql("DROP TABLE IF EXISTS graftz.zs")
    spark.sql("CREATE TABLE graftz.zs (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog")
    spark.sql("ALTER TABLE graftz.zs ADD COLUMN score DOUBLE")
    val src = events.withColumn("score",
      when(col("event_id") % 5 === 0, lit(null).cast("double"))
        .otherwise(col("event_id").cast("double")))
    src.repartitionByRange(4, col("score")).sortWithinPartitions("score")
      .writeTo("graftz.zs").append()
    def t() = spark.table("graftz.zs")
    assert(t().rdd.getNumPartitions == 4, "fixture must land as 4 files")
    // range on the ADDED column: only overlapping zones open
    val q1 = t().filter(col("score") > 700.0)
    assert(q1.rdd.getNumPartitions > 0 && q1.rdd.getNumPartitions < 4,
      s"added-column range planned ${q1.rdd.getNumPartitions} of 4 files — no skipping")
    assert(q1.count() == src.filter(col("score") > 700.0).count(),
      "added-column pruning changed the answer")
    // the all-null + low zone declines the high range; IS NULL opens
    // ONLY files that provably hold nulls (the nulls-first range file)
    val qn = t().filter(col("score").isNull)
    assert(qn.rdd.getNumPartitions == 1,
      s"IS NULL planned ${qn.rdd.getNumPartitions} files, wanted the 1 null-holding file")
    assert(qn.count() == src.filter(col("score").isNull).count())
    // provably-empty added-column range opens nothing
    val q0 = t().filter(col("score") < -5.0)
    assert(q0.rdd.getNumPartitions == 0 && q0.count() == 0,
      "out-of-bounds added-column range must plan zero files")
    // string zone maps: cluster BY event_type (restriction lifted), then
    // an equality on one type opens a subset of the clustered files
    val dir = s"$wh/zs"
    val extraCols = Array(org.apache.spark.sql.types.StructField("score",
      org.apache.spark.sql.types.DoubleType, nullable = true))
    val (b1, a1, _) = GraftLog.cluster(spark, dir, "event_type", 12L * 1024, extraCols)
    assert(b1 == 4 && a1 > 1, s"expected a multi-file etype-clustered layout, got $b1 -> $a1")
    val types = src.select(col("event_type")).distinct().collect().map(_.getString(0)).sorted
    val probe = types.head // the lexicographic minimum: confined to the first zone(s)
    val q2 = t().filter(col("event_type") === probe)
    assert(q2.rdd.getNumPartitions < a1,
      s"etype equality planned ${q2.rdd.getNumPartitions} of $a1 clustered files — no string skipping")
    assert(q2.count() == src.filter(col("event_type") === probe).count(),
      "string-bounds pruning changed the answer")
    // the evolved column survived the sort-rewrite byte-exactly
    assert(t().filter(col("score").isNull).count() ==
      src.filter(col("score").isNull).count(),
      "cluster dropped or corrupted the evolved-column tail")
  }

  test("two-column Z-order cluster: a two-range predicate opens a small corner of the files") {
    // Round 18 stretch (r17 verdict #8): `cluster by 'a,b'` interleaves
    // quantile-rank bits of both columns, so every output file is a
    // bounded RECTANGLE in (event_id, user_id) — a conjunctive range
    // opens ~1/N² of the landing where a single-column sort serves only
    // one predicate.
    val land = Scratch.dir("graftlog_zcluster")
    events.repartition(8).write.format("graftlog").mode("append").save(land)
    def read() = spark.read.format("graftlog").load(land)
    val pred = col("event_id") < 250 && col("user_id") < 4
    val want = events.filter(pred).orderBy("event_id").collect()
    assert(want.nonEmpty)
    assert(read().filter(pred).rdd.getNumPartitions == 8,
      "hash-landed fixture must plan all 8 files for the corner query")
    val (b, a, _) = GraftLog.cluster(spark, land, "event_id,user_id", 2048L)
    assert(b == 8 && a >= 8, s"expected a many-file z-clustered layout, got $b -> $a")
    val q = read().filter(pred)
    assert(q.rdd.getNumPartitions * 3 <= a,
      s"corner query planned ${q.rdd.getNumPartitions} of $a z-clustered files — " +
        "expected at least 3x skipping from the 2D rectangles")
    assert(q.orderBy("event_id").collect().sameElements(want),
      "z-order clustering changed the answer")
  }

  test("_pub_stamp predicate pushdown prunes FILES: the incremental-batch read surface") {
    val land = Scratch.dir("graftlog_stamp")
    val a = events.filter(col("event_id") < 300)
    val b = events.filter(col("event_id") >= 300)
    a.repartition(2).write.format("graftlog").mode("append").save(land)
    def stamps() = new java.io.File(land).listFiles()
      .filter(_.getName.endsWith(".graftlog"))
      .map(f => GraftLog.stampOf(f.getName))
    val t = stamps().max
    // monotone per-writer stamps: chunk B's publishes are STRICTLY above t
    b.repartition(3).write.format("graftlog").mode("append").save(land)
    def read() = spark.read.format("graftlog").load(land)
    val inc = read().filter(col("_pub_stamp") > t)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
    // file-level pruning: only chunk B's 3 files are planned at all
    assert(inc.rdd.getNumPartitions == 3,
      s"stamp pruning planned ${inc.rdd.getNumPartitions} partitions, wanted 3")
    val got = inc.orderBy("event_id").collect()
    val want = b.orderBy("event_id").collect()
    assert(got.length == want.length && got.sameElements(want))
    // the claim is EXACT (no post-scan Filter NODE; the scan's own
    // "RuntimeFilters:" label contains the substring, hence the space)
    val plan = inc.queryExecution.executedPlan.toString
    assert(!plan.contains(" Filter "), s"stamp predicate left a post-scan Filter:\n$plan")
    assert(plan.contains("stampPruned="), s"scan does not report stamp pruning:\n$plan")
    // complement bound and 3VL edges: <= t is chunk A; IS NULL matches
    // nothing on an all-stamped landing; IS NOT NULL keeps everything
    assert(read().filter(col("_pub_stamp") <= t).count() == a.count())
    assert(read().filter(col("_pub_stamp").isNull).count() == 0)
    assert(read().filter(col("_pub_stamp").isNotNull).count() == events.count())
    // composes with a data predicate (two pushdown lanes, one scan)
    val both = read().filter(col("_pub_stamp") > t && col("user_id") === 7L)
    assert(both.rdd.getNumPartitions == 3)
    assert(both.count() == b.filter(col("user_id") === 7L).count())
  }

  test("compact on a PLAIN landing: token-less group merges, order preserved, target size respected, no-op when compact") {
    val land = Scratch.dir("graftlog_compact_plain")
    (0 until 4).foreach { i =>
      events.filter(col("event_id") % 4 === i)
        .write.format("graftlog").mode("append").save(land)
    }
    def files() = new java.io.File(land).listFiles()
      .filter(_.getName.endsWith(".graftlog"))
    val before = files()
    assert(before.length == 4)
    val preOrdered = spark.read.format("graftlog").load(land).collect() // publish-order stream
    // a tight target first: files (~equal size) must bin-pack into TWO
    // merged files of two inputs each, not one giant one
    val target2 = before.map(_.length()).max * 2 + 8
    val (b1, a1, bytes1) = GraftLog.compact(spark, land, target2)
    assert(b1 == 4 && a1 == 2 && bytes1 > 0, s"($b1, $a1, $bytes1)")
    assert(files().length == 2)
    assert(files().forall(f => graft.sources.GraftSnapshotTestHook.bucketOf(f.getName) == -1),
      "a plain landing's compacted file grew a bucket token")
    // then merge the rest: everything fits one file
    val (b2, a2, _) = GraftLog.compact(spark, land, Long.MaxValue)
    assert(b2 == 2 && a2 == 1 && files().length == 1)
    assert(spark.read.format("graftlog").load(land).collect().sameElements(preOrdered),
      "compaction changed the publish-order row stream")
    // already compact: exact no-op
    val (b3, a3, bytes3) = GraftLog.compact(spark, land, Long.MaxValue)
    assert(b3 == 1 && a3 == 1 && bytes3 == 0L)
  }

  test("metadata columns surface file provenance: _file exact, _bucket null on plain landings, _pub_stamp = name stamp") {
    val files = new java.io.File(landing).listFiles()
      .filter(_.getName.endsWith(".graftlog")).map(_.getAbsolutePath).toSet
    val rows = scan()
      .select(col("event_id"), col("_file"), col("_bucket"), col("_pub_stamp"))
      .collect()
    assert(rows.length == events.count())
    assert(rows.map(_.getString(1)).toSet == files,
      "_file must cover exactly the landing's published files")
    assert(rows.forall(_.isNullAt(2)), "plain landing files carry no bucket token")
    rows.foreach { r =>
      val expect = GraftLog.stampOf(new java.io.File(r.getString(1)).getName)
      assert(expect >= 0 && r.getLong(3) == expect,
        s"_pub_stamp ${r.getLong(3)} != name stamp $expect for ${r.getString(1)}")
    }
    // composes with pushed predicates (metadata never enters the pushdown
    // surface; the data-column filter still pushes and the meta projection
    // rides the same reader)
    val f = scan().filter(col("user_id") === 7L).select(col("user_id"), col("_file"))
    val got = f.collect()
    assert(got.nonEmpty && got.forall(r => r.getLong(0) == 7L && files.contains(r.getString(1))))
  }

  test("NOT IN with a NULL literal is NOT pushed: three-valued logic stays in Spark and selects zero rows") {
    // r15 advice (medium): the reader evaluates pushed trees two-valued
    // (sound — the format encodes no nulls), but a null LITERAL under NOT
    // reintroduces 3VL: `et NOT IN ('purchase', NULL)` is never true in
    // SQL, while a null-dropped two-valued NOT keeps every non-purchase
    // row. The whole subtree must be declined and evaluated by Spark.
    val df = scan().filter(!col("event_type").isin("purchase", null))
    assert(df.count() == 0,
      "NOT IN (..., NULL) must select zero rows (SQL three-valued logic)")
    // Catalyst usually folds this exact shape away before the source; the
    // pushdown translator must still decline it for the shapes that
    // survive — pinned at the unit level, against the translator itself
    val plan = df.queryExecution.executedPlan.toString
    plan.split("\n").find(_.contains("GraftLogScan")).foreach { scanLine =>
      assert(!scanLine.contains("IN ("),
        s"a NULL-bearing IN list was claimed as pushed:\n$scanLine")
    }
    import org.apache.spark.sql.connector.expressions.{Expression => VExpr, Expressions, Literal => VLit}
    import org.apache.spark.sql.connector.expressions.filter.{Not => V2Not, Predicate => V2Predicate}
    import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    def vlit(v: AnyRef, dt: DataType): VExpr = new VLit[AnyRef] {
      override def value(): AnyRef = v
      override def dataType(): DataType = dt
    }
    val nullIn = new V2Predicate("IN", Array[VExpr](
      Expressions.column("event_type"),
      vlit(UTF8String.fromString("purchase"), StringType),
      vlit(null, StringType)))
    assert(GraftLog.v2ToV1(new V2Not(nullIn)).isEmpty,
      "NOT(IN(col, (..., NULL))) must be untranslatable (residual)")
    assert(GraftLog.v2ToV1(nullIn).isEmpty,
      "IN with a NULL literal must be untranslatable (residual)")
    val nullEq = new V2Predicate("=", Array[VExpr](
      Expressions.column("value"), vlit(null, DoubleType)))
    assert(GraftLog.v2ToV1(nullEq).isEmpty,
      "comparison against a NULL literal must be untranslatable (would NPE in compile)")
    // the non-null twin of the same tree DOES translate — the decline is
    // null-specific, not a blanket IN/NOT regression
    val cleanIn = new V2Predicate("IN", Array[VExpr](
      Expressions.column("event_type"),
      vlit(UTF8String.fromString("purchase"), StringType)))
    assert(GraftLog.v2ToV1(new V2Not(cleanIn)).isDefined)
    // the POSITIVE case stays fully pushed and exact: a null in the list
    // can never match a (non-null) row, so IN ('purchase', NULL) = IN
    // ('purchase') for filtering
    val pos = scan().filter(col("event_type").isin("purchase", null))
    assert(pos.count() == events.filter(col("event_type") === "purchase").count())
  }

  test("snapshot isolation: visibility flips at the manifest swap, not at file publish or delete") {
    import graft.sources.GraftSnapshotTestHook
    val dir = Scratch.dir("graftlog_snap_iso")
    events.limit(30).repartition(2).write.format("graftlog").mode("append").save(dir)
    def read() = spark.read.format("graftlog").load(dir)
    val base = read().count()
    val dataFiles = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".graftlog"))
    // 1. the mid-commit window, reader side: a STAMPED file is published
    //    (on disk, listable) but its commit's manifest swap is pending —
    //    the reader must NOT see it (this invisibility is the atomicity:
    //    pre-r16, a listing here returned rows twice during compaction)
    val donor = dataFiles.head
    val donorRows = read().filter(col("_file") === donor.getAbsolutePath).count()
    assert(donorRows > 0)
    val stowaway = GraftSnapshotTestHook.publishedName("stowaway")
    java.nio.file.Files.copy(donor.toPath, new java.io.File(dir, stowaway).toPath)
    assert(read().count() == base,
      "a published-but-uncommitted stamped file leaked into a read")
    assert(!GraftSnapshotTestHook.liveNames(dir).contains(stowaway))
    // 2. the swap makes it visible — atomically, one rename
    GraftSnapshotTestHook.addData(dir, stowaway)
    assert(read().count() == base + donorRows)
    // 3. the delete window, reader side: a file removed from the manifest
    //    but still ON DISK (the commit's unlink pass pending) is dead to
    //    readers — exactly-once across the replace window
    GraftSnapshotTestHook.removeData(dir, stowaway)
    assert(new java.io.File(dir, stowaway).isFile, "fixture: file must still exist")
    assert(read().count() == base,
      "a manifest-removed file still on disk leaked into a read")
    // 4. the legacy affordance survives: an UNSTAMPED foreign file has no
    //    commit protocol, so the listing reconciles it in
    java.nio.file.Files.copy(donor.toPath, new java.io.File(dir, "foreign.graftlog").toPath)
    assert(read().count() == base + donorRows)
    assert(GraftSnapshotTestHook.liveNames(dir).contains("foreign.graftlog"))
  }

  test("compaction preserves _pub_stamp per segment: incremental slices stay exact, pre-horizon bytes are SKIPPED wholesale") {
    import graft.sources.GraftSnapshotTestHook
    val land = Scratch.dir("graftlog_compact_stamp")
    val a = events.filter(col("event_id") < 300)
    val b = events.filter(col("event_id") >= 300)
    a.write.format("graftlog").mode("append").save(land)
    val t = new java.io.File(land).listFiles()
      .filter(_.getName.endsWith(".graftlog"))
      .map(f => GraftLog.stampOf(f.getName)).max
    b.write.format("graftlog").mode("append").save(land)
    def read() = spark.read.format("graftlog").load(land)
    val preStamps = read().select("event_id", "_pub_stamp")
      .orderBy("event_id").collect()
    // merge everything into ONE file
    val (before, after, _) = GraftLog.compact(spark, land, Long.MaxValue)
    assert(before == 2 && after == 1)
    val mergedName = new java.io.File(land).listFiles()
      .filter(_.getName.endsWith(".graftlog")).map(_.getName).head
    // the manifest carries the two origin stamps as segments
    val segs = GraftSnapshotTestHook.segmentsOf(land, mergedName)
    assert(segs.isDefined && segs.get.length == 2 &&
      segs.get.head._1 == 0L && segs.get.map(_._2) == segs.get.map(_._2).sorted,
      s"expected a 2-segment origin-stamp map, got $segs")
    // `_pub_stamp` values are IDENTICAL across the compaction
    val postStamps = read().select("event_id", "_pub_stamp")
      .orderBy("event_id").collect()
    assert(postStamps.sameElements(preStamps),
      "compaction changed _pub_stamp values")
    // the incremental slice is exact — and the pre-t segment is skipped
    // by BYTE RANGE, not decode-and-drop: recordsSkipped stays 0
    val inc = read().filter(col("_pub_stamp") > t)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
    val got = inc.orderBy("event_id").collect()
    val want = b.orderBy("event_id").collect()
    assert(got.length == want.length && got.sameElements(want),
      "incremental slice re-delivered or lost rows across a compaction")
    assert(batchScanMetric(inc, "recordsSkipped") == 0L,
      "pre-horizon segment was decoded instead of byte-skipped")
    // retention keys on DATA age, not the fresh merged name: the whole
    // file's newest origin is below t+1... only chunk A's segment is, so
    // the file survives an expire at t+1 (partial overlap never deletes)
    val (nDel, _, _) = GraftLog.expire(land, t + 1)
    assert(nDel == 0, "expire deleted a file whose newest origin stamp is above the horizon")
    assert(read().count() == a.count() + b.count())
  }
}
