package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.sources.Tables
import graft.streaming.Streams

/** ST1-ST4 (SURVEY.md §2.9): replay the events table as a file-source
  * stream, drive to completion, and assert equivalence with the batch
  * window queries over the same closed input. */
class StreamingSpec extends SparkTestBase with org.scalatest.BeforeAndAfterAll {

  /** The session is shared across suites: cached DataFrames left behind
    * leak into later suites' persistent-RDD checks (LifecycleSpec) and can
    * be canonicalization-substituted into their plans — same rule as
    * LlmOpsSpec. */
  override def afterAll(): Unit = {
    spark.catalog.clearCache()
    super.afterAll()
  }

  /** Events re-materialized as standard µs-timestamp parquet chunks (the
    * fixture file is ns-typed, which the streaming schema reader can't
    * declare) — split into 3 files to exercise multi-batch file discovery. */
  lazy val streamDir: String = {
    val dir = Files.createTempDirectory("events-stream").toString
    Tables.load(spark, sfDir, "events")
      .repartition(3)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("K2: notification-delete side-effect sink hands the 8 newest ids to the delete action") {
    val deleted = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    val q = Streams.notificationDeleteSink(
      Streams.eventsStream(spark, streamDir),
      ids => deleted.synchronized { deleted += ids })
    q.processAllAvailable()
    q.stop()
    // batch twin of clear_notfi: newest-8 by (ts, event_id) desc
    val expected = Tables.load(spark, sfDir, "events")
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(8).select("event_id").collect().map(_.getLong(0)).toSet
    val allDeleted = deleted.synchronized { deleted.flatten.toSet }
    assert(deleted.nonEmpty, "delete action never invoked")
    // every batch deletes ITS newest-8; the union must contain the global
    // newest-8 (the final batch sees them) — at-least-once semantics
    assert(expected.subsetOf(allDeleted) || deleted.exists(_.toSet == expected),
      s"global newest-8 $expected not covered by deletions $allDeleted")
  }

  test("ST1: streaming tumbling agg == batch tumbling agg on closed input") {
    val streamed = Streams.runToCompletion(
      Streams.tumblingAgg(Streams.eventsStream(spark, streamDir)),
      OutputMode.Append())
    val batch = graft.operators.StreamShapes.tumbling(spark, sfDir)
    // watermark append-mode emits only finalized windows; on a closed input
    // every window except those near the max event time is final
    val sCount = streamed.count()
    val bCount = batch.count()
    assert(sCount > 0 && sCount <= bCount)
    val joined = streamed.alias("s").join(batch.alias("b"),
      col("s.window_start") === col("b.window_start") &&
        col("s.event_type") === col("b.event_type"))
    assert(joined.filter(col("s.n") =!= col("b.n")).count() == 0)
    assert(joined.count() == sCount)
  }

  test("ST3: watermarked dropDuplicates removes a replayed chunk exactly once") {
    // replay: copy one chunk file so the stream sees duplicate event_ids
    val dir = Files.createTempDirectory("events-dup").toString
    val ev = Tables.load(spark, sfDir, "events")
    ev.write.mode("overwrite").parquet(dir)
    ev.limit(100).write.mode("append").parquet(dir)
    val streamed = Streams.runToCompletion(
      Streams.dedupStream(spark.readStream.schema(Tables.events).parquet(dir))
        .groupBy().count(),
      OutputMode.Complete())
    assert(streamed.head().getLong(0) == ev.count())
  }

  test("ST4: mapGroupsWithState final per-user counts match batch groupBy") {
    val streamed = Streams.runToCompletion(
      Streams.runningUserState(Streams.eventsStream(spark, streamDir)).toDF(),
      OutputMode.Update())
    // update mode re-emits snapshots per batch; the LAST snapshot per user
    // must equal the batch aggregate
    val finalSnap = streamed.groupBy("user_id")
      .agg(max(col("n")).as("n"), max(col("total_cents")).as("total_cents"))
    val batch = Tables.load(spark, sfDir, "events")
      .groupBy("user_id")
      .agg(count(lit(1)).as("bn"),
        sum(expr("cast(round(value * 100) as long)")).as("bc"))
    val bad = finalSnap.join(batch, "user_id")
      .filter(col("n") =!= col("bn") || col("total_cents") =!= col("bc"))
    assert(bad.count() == 0)
    assert(finalSnap.count() == batch.count())
  }

  /** A fresh landing of `files` parquet files holding `rows`. */
  private def land(dir: String, rows: org.apache.spark.sql.DataFrame, files: Int): Long = {
    rows.repartition(files).write.mode("append").parquet(dir)
    rows.count()
  }

  private def eventsFrom(dir: String) =
    spark.readStream.schema(Tables.events).option("maxFilesPerTrigger", "1").parquet(dir)

  test("drain: an AvailableNow drain reports one progress record per data trigger") {
    import org.apache.spark.sql.streaming.Trigger
    val landing = Scratch.dir("drain_progress_landing")
    val n = land(landing, Tables.load(spark, sfDir, "events"), 3)
    val q = Streams.drain(eventsFrom(landing),
      Streams.Sink.Parquet(Scratch.dir("drain_progress_out")), Trigger.AvailableNow())
    assert(!q.isActive)
    val data = q.recentProgress.filter(_.numInputRows > 0)
    assert(data.length == 3, s"${data.length} data triggers over 3 one-file triggers")
    assert(data.map(_.numInputRows).sum == n)
  }

  test("drain: a second drain on the same checkpoint reads only the files landed since") {
    import org.apache.spark.sql.streaming.Trigger
    val (landing, out) = (Scratch.dir("drain_resume_landing"), Scratch.dir("drain_resume_out"))
    val ckpt = Some(Scratch.streamCkptDir("drain_resume_ckpt"))
    val ev = Tables.load(spark, sfDir, "events")
    val first = land(landing, ev, 3)
    Streams.drain(eventsFrom(landing), Streams.Sink.Parquet(out), Trigger.AvailableNow(),
      ckpt = ckpt)
    val added = land(landing, ev.limit(100), 2)
    val q = Streams.drain(eventsFrom(landing), Streams.Sink.Parquet(out),
      Trigger.AvailableNow(), ckpt = ckpt)
    val data = q.recentProgress.filter(_.numInputRows > 0)
    assert(data.length == 2, s"${data.length} data triggers over the 2 new files")
    assert(data.map(_.numInputRows).sum == added)
    assert(spark.read.schema(Tables.events).parquet(out).count() == first + added)
  }

  test("drain: a failing foreachBatch sink rethrows its error and leaves no active query") {
    val e = intercept[Exception] {
      Streams.drain(Streams.eventsStream(spark, streamDir),
        Streams.Sink.ForeachBatch((_, _) => throw new IllegalStateException("sink refused batch")))
    }
    assert(e.getMessage.contains("sink refused batch"), s"drain threw $e")
    assert(spark.streams.active.isEmpty)
  }

  test("trigger wiring: AvailableNow drains the closed input and terminates") {
    import org.apache.spark.sql.streaming.Trigger
    val q = Streams.tumblingAgg(Streams.eventsStream(spark, streamDir))
      .writeStream.format("memory").queryName("avail_now_out")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "AvailableNow query did not self-terminate")
    assert(spark.table("avail_now_out").count() > 0)
  }

  test("§2.9 pacing: ProcessingTime trigger paces micro-batches over the closed input") {
    // the reference's 30 s polling sleep (trading212.py:95) is
    // Trigger.ProcessingTime pacing — shrunk to 1 s here so the spec runs
    // fast; maxFilesPerTrigger=1 forces the 3-file input through >=3 paced
    // micro-batches instead of one drain.
    import org.apache.spark.sql.streaming.Trigger
    val paced = spark.readStream.schema(Tables.events)
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    val q = Streams.dedupStream(paced)
      .groupBy().count()
      .writeStream.format("memory").queryName("paced_out")
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    q.processAllAvailable()
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(dataBatches >= 3, s"expected >=3 paced micro-batches, got $dataBatches")
    assert(spark.table("paced_out").head().getLong(0) ==
      Tables.load(spark, sfDir, "events").count())
  }

  test("K2 side-effect sink: foreachBatch collects notification ids to delete") {
    // the reference DELETEs the newest notifications after ingest
    // (clear_notfi, trading212.py:79-83); modeled as a foreachBatch side
    // effect so the data plane stays declarative
    val deleted = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = Streams.dedupStream(Streams.eventsStream(spark, streamDir))
      .writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.orderBy(col("ts").desc, col("event_id").desc).limit(8)
          .select("event_id").collect().foreach(r => deleted.add(r.getLong(0)))
        ()
      }
      .start()
    q.processAllAvailable(); q.stop()
    assert(!deleted.isEmpty)
    val valid = Tables.load(spark, sfDir, "events")
      .select("event_id").collect().map(_.getLong(0)).toSet
    deleted.forEach(id => assert(valid.contains(id)))
  }

  test("ST4 (transformWithState): final per-user state matches batch groupBy") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val streamed = Streams.runToCompletion(
        Streams.runningUserStateTws(Streams.eventsStream(spark, streamDir)).toDF(),
        OutputMode.Update())
      val finalSnap = streamed.groupBy("user_id")
        .agg(max(col("n")).as("n"), max(col("total_cents")).as("total_cents"))
      val batch = Tables.load(spark, sfDir, "events")
        .groupBy("user_id")
        .agg(count(lit(1)).as("bn"),
          sum(expr("cast(round(value * 100) as long)")).as("bc"))
      val bad = finalSnap.join(batch, "user_id")
        .filter(col("n") =!= col("bn") || col("total_cents") =!= col("bc"))
      assert(bad.count() == 0)
      assert(finalSnap.count() == batch.count())
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("ST2: batch session windows respect the 5-minute gap invariant") {
    val sess = graft.operators.StreamShapes.sessions(spark, sfDir).cache()
    // session_end = last event + gap; within a user, sessions don't overlap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("session_start")
    val overlaps = sess
      .withColumn("prev_end", lag(col("session_end"), 1).over(w))
      .filter(col("prev_end").isNotNull && col("session_start") < col("prev_end"))
      .count()
    assert(overlaps == 0)
  }

  test("ST4 (flatMapGroupsWithState): eager sessions == batch sessions minus each user's tail") {
    val streamed = graft.operators.StreamShapes.streamSessions(spark, sfDir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("session_start").desc)
    val expected = graft.operators.StreamShapes.sessions(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1)
      .drop("rn")
    assert(streamed.exceptAll(expected).count() == 0 &&
      expected.exceptAll(streamed).count() == 0,
      "streaming eager sessions must equal batch sessions minus each user's final session")
  }

  test("gap-fill grid is dense, endpoints real, filled flag <=> zero activity") {
    val g = graft.operators.StreamShapes.gapfill(spark, sfDir).cache()
    // dense & regular: per user, row count == hours in [min, max] inclusive
    val spans = g.groupBy(col("user_id")).agg(
      count(lit(1)).as("rows"),
      ((unix_timestamp(max(col("hour"))) - unix_timestamp(min(col("hour")))) / 3600 + 1)
        .cast("long").as("hours"))
    assert(spans.filter(col("rows") =!= col("hours")).count() == 0,
      "grid has gaps or duplicate hours")
    // span endpoints come from real activity, so they can never be filled
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    assert(g.withColumn("h0", min(col("hour")).over(w))
      .withColumn("h1", max(col("hour")).over(w))
      .filter((col("hour") === col("h0") || col("hour") === col("h1")) &&
        col("filled") === 1).count() == 0)
    // filled <=> no events (and zero value)
    assert(g.filter((col("filled") === 1) =!= (col("n_events") === 0)).count() == 0)
    assert(g.filter(col("filled") === 1 && col("total_value") =!= 0.0).count() == 0)
    g.unpersist()
  }

  test("stream-static join: streamed enrichment equals the batch twin") {
    val out = graft.operators.StreamShapes.streamStaticJoin(spark, sfDir)
    val ev = graft.sources.Tables.load(spark, sfDir, "events")
    val dim = ev.groupBy(col("user_id").as("d_uid")).agg(count(lit(1)).as("user_total"))
    val batch = ev.join(dim, col("user_id") === col("d_uid"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("user_total") >= 100, 1L).otherwise(0L)).as("n_heavy_user_events"))
      .orderBy(col("event_type"))
    assert(out.collect().sameElements(batch.collect()))
  }

  test("streaming foreachBatch merge sink converges to the batch aggregate") {
    val out = graft.operators.StreamShapes.streamMergeUpsert(spark, sfDir)
    val ev = graft.sources.Tables.load(spark, sfDir, "events")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    val batch = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))
      .join(ev.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("ts").as("last_ts"), col("event_id").as("last_event_id")),
        Seq("user_id"))
      .select(col("user_id"), col("n_events"), col("total_value"),
        col("last_ts"), col("last_event_id"))
      .orderBy(col("user_id"))
    // multi-batch merge (8 landing files, 3 per trigger) == one-shot batch
    assert(out.collect().sameElements(batch.collect()))
  }

  test("retention triangle: offset-0 row IS the cohort size and bounds every later offset") {
    val ret = graft.operators.StreamShapes.retention(spark, sfDir).cache()
    assert(ret.filter(col("week_offset") < 0).count() == 0)
    // every user is active in their own cohort week, so the offset-0 cell
    // counts the whole cohort and no later offset can exceed it
    val base = ret.filter(col("week_offset") === 0)
      .select(col("cohort_week"), col("n_users").as("cohort_size"))
    assert(base.count() == ret.select("cohort_week").distinct().count(),
      "a cohort is missing its offset-0 row")
    assert(ret.join(base, Seq("cohort_week"))
      .filter(col("n_users") > col("cohort_size")).count() == 0)
    ret.unpersist()
  }

  test("stream stage copy fails naming a missing or empty stage directory") {
    val landing = Scratch.dir("graft_arrive_landing")
    val missing = Scratch.dir("graft_arrive_missing") // registered, never created
    val e1 = intercept[IllegalArgumentException](
      graft.operators.StreamShapes.arrive(missing, landing, "c1"))
    assert(e1.getMessage.contains(missing), e1.getMessage)
    val empty = Scratch.dir("graft_arrive_empty")
    Files.createDirectories(java.nio.file.Paths.get(empty))
    val e2 = intercept[IllegalArgumentException](
      graft.operators.StreamShapes.arrive(empty, landing, "c1"))
    assert(e2.getMessage.contains(empty), e2.getMessage)
  }
}
