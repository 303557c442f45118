package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.sources.Tables

/** [EXT] Structured Streaming slice (SURVEY.md §2.9, §2.10 ST1-ST4).
  *
  * The reference's poll-until-done + 30s pacing loop (trading212.py:95,
  * 103-111) is micro-batch-with-trigger semantics; here the `events` table
  * replays as a file-source stream and the transforms are the streaming
  * counterparts of the batch window queries in
  * [[graft.operators.StreamShapes]] (same SQL surface, batch-verifiable).
  *
  * Scale notes: watermarks bound state; tumbling/session aggregation state
  * is per (window x key) and evicted past the watermark; dropDuplicates
  * keyed state is bounded by the watermark horizon. mapGroupsWithState
  * keeps one counter per user — the 100 TB-safe shape for per-entity state.
  *
  * One lifecycle: every bounded streaming run in the engine starts, waits
  * and stops in [[drain]], which owns the checkpoint, the shuffle scope
  * and the rethrow of a failed query's error. The scope is always taken,
  * because a stateful operator, a key-clustered sink and a foreachBatch
  * body all read the shuffle width while the query runs, and a drain
  * with no shuffle never reads it. [[notificationDeleteSink]] is the one
  * long-running query: its caller owns it.
  */
object Streams {

  /** File-source stream over a directory of parquet chunks with the events
    * schema (microsecond timestamps — see Tables.load notes on ns data). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(Tables.events).parquet(dir)

  /** ST3: watermarked exactly-once dedup on the event key. */
  def dedupStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour").dropDuplicates("event_id")

  /** ST4: arbitrary stateful op — running event count + running value sum
    * per user via mapGroupsWithState (update mode). */
  case class UserState(n: Long, totalCents: Long)
  case class UserSnapshot(user_id: Long, n: Long, total_cents: Long)

  def runningUserState(events: DataFrame): Dataset[UserSnapshot] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0L))
          val (dn, dc) = rows.foldLeft((0L, 0L)) { case ((n, c), (_, v)) =>
            (n + 1, c + math.round(v * 100))
          }
          val next = UserState(prev.n + dn, prev.totalCents + dc)
          state.update(next)
          UserSnapshot(user, next.n, next.totalCents)
      }
  }

  /** ST4 (modern API): the same per-user running state as
    * [[runningUserState]], on Spark 4's transformWithState — typed
    * ValueState, explicit TimeMode/TTL, RocksDB-backed state store
    * (required by the API; set the provider conf before starting):
    *
    * {{{
    * spark.conf.set("spark.sql.streaming.stateStore.providerClass",
    *   "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    * }}}
    */
  class UserStateProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Double), UserSnapshot] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.{Encoders => E}

    @transient private var state: ValueState[UserState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserState]("userState", E.product[UserState], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[(Long, Double)],
        timerValues: TimerValues): Iterator[UserSnapshot] = {
      val prev = Option(state.get()).getOrElse(UserState(0L, 0L))
      val (dn, dc) = rows.foldLeft((0L, 0L)) { case ((n, c), (_, v)) =>
        (n + 1, c + math.round(v * 100))
      }
      val next = UserState(prev.n + dn, prev.totalCents + dc)
      state.update(next)
      Iterator.single(UserSnapshot(user, next.n, next.totalCents))
    }
  }

  def runningUserStateTws(events: DataFrame): Dataset[UserSnapshot] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events.select(col("user_id"), col("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new UserStateProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** ST4 (flatMapGroupsWithState): streaming sessionization with eager
    * emission. Each CLOSED session (the next event for that user arrives
    * >= 5 minutes later — the same boundary rule as Spark's
    * session_window and the batch gaps-and-islands oracle) is emitted the
    * moment the closing event is processed; the user's open tail session
    * stays in state and is never emitted. On a closed input the output is
    * therefore exactly the batch session set MINUS each user's final
    * session — a set the DuckDB oracle states in one QUALIFY clause.
    * flatMap (not map) because one batch can close MANY sessions for one
    * user. Scale: state is one (start, last, n, sum) tuple per user —
    * the same bounded per-entity shape as [[runningUserState]]; value
    * sums are exact 1e-4-unit longs (the decimal(18,4) twin). */
  case class OpenSession(startUs: Long, lastUs: Long, n: Long, sum4: Long)
  case class SessionRow(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n: Long, total_value: Double)

  private val SESSION_GAP_US = 5L * 60 * 1000000

  private def toUs(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
  private def toTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  def sessionizeStream(events: DataFrame): Dataset[SessionRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("ts"), col("value"))
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)],
            state: GroupState[OpenSession]) =>
          // sort within the batch: group iterators carry no order; equal
          // timestamps can't straddle a 5-minute boundary, so ts alone is
          // a sufficient key
          val evs = rows.map { case (_, t, v) => (toUs(t), math.round(v * 10000)) }
            .toArray.sortBy(_._1)
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionRow]
          var open = state.getOption.orNull
          evs.foreach { case (t, v4) =>
            if (open == null) open = OpenSession(t, t, 1, v4)
            else if (t - open.lastUs >= SESSION_GAP_US) {
              out += SessionRow(user, toTs(open.startUs),
                toTs(open.lastUs + SESSION_GAP_US), open.n, open.sum4 / 10000.0)
              open = OpenSession(t, t, 1, v4)
            } else open = OpenSession(open.startUs, t, open.n + 1, open.sum4 + v4)
          }
          if (open != null) state.update(open)
          out.iterator
      }
  }

  /** K2: side-effect sink (clear_notfi, trading212.py:79-83) — after each
    * micro-batch the 8 newest notification ids are handed to an external
    * delete action via foreachBatch. Side effects stay OUT of the data
    * plane; semantics are at-least-once on replay, which is safe because
    * the reference's DELETE is idempotent (deleting an already-deleted
    * notification is a no-op). The head-8 is a distributed TakeOrdered;
    * only 8 ids ever reach the driver. */
  def notificationDeleteSink(events: DataFrame, deleteAction: Seq[Long] => Unit)
      : StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ids = batch.orderBy(col("ts").desc, col("event_id").desc)
          .limit(8).select("event_id")
          .collect().map(_.getLong(0)).toSeq
        if (ids.nonEmpty) deleteAction(ids)
      }
      .start()

  /** Shuffle-partition count for streaming micro-batches. Every stateful
    * operator pays a per-partition fixed cost PER MICRO-BATCH: a state
    * store instance to open, version, and commit, plus a checkpoint entry
    * — whether or not the partition holds any state. The state in these
    * pipelines is keyed by bounded domains (users, windows, sessions), so
    * a handful of partitions hold it comfortably; inheriting the batch
    * shuffle default (32 locally, thousands on a cluster) spends more
    * wall time committing EMPTY state stores than computing. On a real
    * cluster, size this to state volume / desired state-store
    * parallelism, not to the batch shuffle width — the two defaults serve
    * different masters. (Results are partition-count-independent; the
    * DuckDB oracles prove it per run.) Round 10: 8 -> 4 — the bench's 14
    * stream queries spend a fifth of the whole run on this fixed
    * machinery, and fixture-scale state fits 4 stores with headroom. */
  val streamShufflePartitions: Int = 4

  /** Run `body` with spark.sql.shuffle.partitions scoped to
    * [[streamShufflePartitions]] — the streaming query must START inside
    * the scope (the state-store layout is fixed at query start). */
  def withStreamShuffle[A](s: SparkSession)(body: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", streamShufflePartitions.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Where a [[drain]] writes. */
  sealed trait Sink
  object Sink {
    /** In-memory table registered as the temp view `name`. */
    final case class Memory(name: String) extends Sink
    final case class Parquet(path: String) extends Sink
    final case class GraftLog(path: String, options: Map[String, String] = Map.empty) extends Sink
    final case class ForeachBatch(f: (DataFrame, Long) => Unit) extends Sink
  }

  /** Run a bounded streaming query to its end: the one start-wait-stop
    * lifecycle for every bounded stream in the engine.
    *
    *  - The [[withStreamShuffle]] scope covers start, wait and stop, on
    *    every drain: stateful operators fix their state-store layout at
    *    start, a key-clustered sink (the graftlog upsert write) shuffles
    *    at that width, and foreachBatch bodies plan their batch jobs
    *    while the query runs. A stateless drain plans no shuffle, so the
    *    scope costs it nothing.
    *  - `ckpt`: a fresh tmpfs checkpoint ([[graft.Scratch.streamCkptDir]])
    *    unless the caller passes its own, to resume on it.
    *  - Wait rule: an `AvailableNow` query stops itself and is awaited;
    *    any other trigger drains with `processAllAvailable`. `stopAtBatch`
    *    is for an unbounded source: wait until batch `n` is committed
    *    (120 s deadline) and fail if it never is.
    *  - A failed query's exception is rethrown.
    *
    * On return and on throw the query is stopped. The stopped query is
    * returned so callers can read its `recentProgress`. */
  def drain(df: DataFrame, sink: Sink, trigger: Trigger = Trigger.ProcessingTime(0L),
      mode: OutputMode = OutputMode.Append(), ckpt: Option[String] = None,
      stopAtBatch: Option[Long] = None): StreamingQuery =
    withStreamShuffle(df.sparkSession) {
      val w = df.writeStream.outputMode(mode).trigger(trigger)
        .option("checkpointLocation", ckpt.getOrElse(graft.Scratch.streamCkptDir("graft_ckpt")))
      val q = sink match {
        case Sink.Memory(name) => w.format("memory").queryName(name).start()
        case Sink.Parquet(path) => w.format("parquet").start(path)
        case Sink.GraftLog(path, opts) => w.format("graftlog").options(opts).start(path)
        case Sink.ForeachBatch(f) => w.foreachBatch(f).start()
      }
      try {
        stopAtBatch match {
          case Some(n) =>
            val deadline = System.nanoTime() + 120L * 1000L * 1000L * 1000L
            while (q.isActive && System.nanoTime() < deadline &&
                (q.lastProgress == null || q.lastProgress.batchId < n))
              Thread.sleep(20)
            q.exception.foreach(throw _)
            require(q.lastProgress != null && q.lastProgress.batchId >= n,
              s"stream did not reach batch $n within the deadline")
          case None if trigger == Trigger.AvailableNow() => q.awaitTermination()
          case None => q.processAllAvailable()
        }
        q
      } finally q.stop()
    }

  /** Drain a streaming DataFrame into a memory sink under a fresh query
    * name and return the final result (default-trigger micro-batches, or
    * a caller-supplied trigger, e.g. ProcessingTime pacing — §2.9). */
  def runToCompletion(df: DataFrame, outputMode: OutputMode,
      trigger: Trigger = Trigger.ProcessingTime(0L)): DataFrame = {
    val name = s"graft_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    drain(df, Sink.Memory(name), trigger, outputMode)
    // Return a SELF-CONTAINED handle and drop the temp view immediately:
    // `table()` analyzes EAGERLY, so the returned Dataset's plan already
    // holds the resolved memory-sink relation, not the view name, and
    // stays valid for the rest of the session across a purge.
    val s = df.sparkSession
    val out = s.table(name)
    s.catalog.dropTempView(name)
    out
  }
}
