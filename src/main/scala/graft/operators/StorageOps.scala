package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.Scratch
import graft.sources.{Formats, GraftFs, Tables}
import graft.streaming.Streams

/** [EXT] Storage-layout operators (SURVEY.md §2.1-§2.2 at scale, §4):
  * format roundtrips beyond CSV, date/key-partitioned layouts that readers
  * prune, and bucketed layouts that join without a shuffle. These are the
  * write-side halves of the 100 TB story — partition pruning is the S6
  * 365-day-window idea made physical (a reader touches ~1/N of the data),
  * bucketing converts the dominant fact-join exchange into a local zip.
  * Each query is driver-checked: the layout is written to a run-unique
  * scratch dir, read back through the layout-aware path, and the oracle
  * compares against the original parquet — so writer lossiness, pruning
  * bugs, or bucket misassignment all fail the hash.
  */
object StorageOps extends QueryModule {

  // run-unique, registered in graft.Scratch: Bench/Verify purge these
  // after their last action, and a shutdown hook covers other JVMs.
  private def scratch(prefix: String): String = graft.Scratch.dir(prefix)

  /** The graftq catalog on this session, returning its warehouse dir. The
    * catalog binds its options at first load and keeps them for the
    * session, so the warehouse is chosen once and read back from the
    * session conf afterwards. A purge deletes it and forgets it, so it is
    * registered with [[Scratch]] again on every call. Its tables are staged
    * inputs (DROP/CREATE in their build); a query that mutates its table
    * gets a [[Scratch.fresh]] copy per execution. */
  private def catalog(s: SparkSession): String = {
    s.conf.set("spark.sql.catalog.graftq", classOf[graft.sources.GraftCatalog].getName)
    val key = "spark.sql.catalog.graftq.warehouse"
    val wh = Scratch.register(s.conf.getOption(key).getOrElse(scratch("graft_catalog_wh")))
    s.conf.set(key, wh)
    wh
  }

  /** The 4-column slice of events that every graftlog landing and graftq
    * table here is written from. */
  private def events4(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))

  private val Bucket8 = "PARTITIONED BY (bucket(8, user_id))"
  private val Retain = "TBLPROPERTIES ('snapshot.retain' = 'true')"

  /** graftq.`name`, the 4-column events table: dropped, created with
    * `spec` (its PARTITIONED BY / TBLPROPERTIES clauses), then `waves`
    * appended in order. Returns the table's directory. */
  private def eventsTable(s: SparkSession, name: String, spec: String,
      waves: DataFrame*): String = {
    val wh = catalog(s)
    s.sql(s"DROP TABLE IF EXISTS graftq.$name")
    s.sql(s"CREATE TABLE graftq.$name (event_id BIGINT, user_id BIGINT, value DOUBLE, " +
      s"event_type STRING) USING graftlog $spec")
    waves.foreach(_.writeTo(s"graftq.$name").append())
    GraftFs.child(wh, name)
  }

  /** A graftq table the query only reads, staged under its own name. */
  private def stagedTable[A <: AnyRef](s: SparkSession, dir: String, name: String)(
      build: => A): A = {
    catalog(s)
    Scratch.staged(s, dir, name)(build)
  }

  /** A graftq events table the query mutates: [[eventsTable]] of `waves`
    * built once, and a fresh byte copy of it for every later execution.
    * Its handle is empty: the staged value names only the pristine copy. */
  private def freshTable(s: SparkSession, dir: String, name: String, spec: String,
      waves: => Seq[DataFrame]): Unit =
    Scratch.fresh(s, dir, name, GraftFs.child(catalog(s), name)) {
      eventsTable(s, name, spec, waves: _*)
      ()
    }

  /** `rows` landed as a graftlog directory: a staged input under `tag`. */
  private def stagedLog(s: SparkSession, dir: String, tag: String)(rows: => DataFrame): String =
    Scratch.staged(s, dir, tag) {
      val p = scratch(s"graft_$tag")
      rows.write.format("graftlog").mode("append").save(p)
      p
    }

  /** Events landed as four graftlog files, read-only input of the scan
    * pushdown queries (OR, TopN, aggregate, manifest aggregate, runtime
    * filter). */
  private def logLanding4(s: SparkSession, dir: String): String =
    stagedLog(s, dir, "log_events4")(events4(s, dir).repartition(4))

  /** The event_id < 20000 slice landed as four graftlog files, read-only
    * input of the streaming source and sink queries. */
  private def logSlice(s: SparkSession, dir: String): String =
    stagedLog(s, dir, "log_slice")(
      events4(s, dir).filter(col("event_id") < 20000).repartition(4))

  // ------------------------------------------------------------------
  // S2/K-json: JSON-lines write + schema'd read roundtrip (the reference's
  // JSON surface, trading212.py:59,81,92, driver-checked end to end).
  // Explicit schema on read — inference is an extra pass and
  // nondeterministic under drift (SURVEY.md §1.1).
  // ------------------------------------------------------------------
  def jsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val landing = scratch("graft_json_landing")
    val slice = Tables.load(s, dir, "events")
      .filter(col("event_id") >= 1000 && col("event_id") < 2000)
      .select("event_id", "ts", "user_id", "event_type", "value")
    Formats.writeJson(slice, landing)
    Formats.readJson(s, landing,
      org.apache.spark.sql.types.StructType(Tables.events.filterNot(_.name == "props")))
      .orderBy("event_id")
  }

  val jsonRoundtripSql: String =
    """SELECT event_id, ts, user_id, event_type, value
      |FROM events WHERE event_id >= 1000 AND event_id < 2000
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // ORC write + schema'd read roundtrip: the second columnar format the
  // engine speaks natively (vectorized reader, predicate pushdown — the
  // same scan-side machinery as parquet). DuckDB cannot read ORC, so the
  // oracle is the parquet original of the identical slice: writer
  // lossiness (timestamp precision, double fidelity) fails the hash.
  // ------------------------------------------------------------------
  def orcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val landing = scratch("graft_orc_landing")
    val slice = Tables.load(s, dir, "events")
      .filter(col("event_id") >= 2000 && col("event_id") < 3000)
      .select("event_id", "ts", "user_id", "event_type", "value")
    slice.write.orc(landing)
    s.read.schema(org.apache.spark.sql.types.StructType(
        Tables.events.filterNot(_.name == "props")))
      .orc(landing)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("event_id")
  }

  val orcRoundtripSql: String =
    """SELECT event_id, ts, user_id, event_type, value
      |FROM events WHERE event_id >= 2000 AND event_id < 3000
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // Partition-pruned scan: events written PARTITIONED BY event_type, read
  // back with a partition predicate. The filter resolves against directory
  // metadata — the scan never opens the other partitions' files (asserted
  // on the executed plan in StorageSpec). At 100 TB with a date-partitioned
  // layout this is the difference between reading a day and reading a year.
  // ------------------------------------------------------------------
  private def partLanding(s: SparkSession, dir: String): String =
    Scratch.staged(s, dir, "part_landing") {
      val p = scratch("graft_part_landing")
      Tables.load(s, dir, "events")
        .select("event_id", "ts", "user_id", "value", "event_type")
        .write.partitionBy("event_type").parquet(p)
      p
    }

  def partitionPruned(s: SparkSession, dir: String): DataFrame = {
    s.read.parquet(partLanding(s, dir))
      .filter(col("event_type") === "purchase")
      .select("event_id", "ts", "user_id", "value", "event_type")
      .orderBy("event_id")
  }

  val partitionPrunedSql: String =
    """SELECT event_id, ts, user_id, value, event_type
      |FROM events WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // Bucketed zero-exchange join: customer and a per-customer orders
  // aggregate both bucketed on the customer key at write time; the join
  // reads co-located buckets and needs NO exchange on either side
  // (StorageSpec asserts no hash-partitioning exchange under the join).
  // Run-unique table names: the metastore is per-JVM and Verify/Bench run
  // many queries in one session.
  // ------------------------------------------------------------------
  private def bucketedTables(s: SparkSession, dir: String): (String, String) =
    Scratch.staged(s, dir, "bucketed_tables") {
      val cT = graft.Scratch.table(s, "cust_bq")
      val oT = graft.Scratch.table(s, "ord_bq")
      Tables.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_mktsegment")
        .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .mode("overwrite").saveAsTable(cT)
      Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .mode("overwrite").saveAsTable(oT)
      (cT, oT)
    }

  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (custT, ordT) = bucketedTables(s, dir)
    s.table(custT)
      .join(s.table(ordT), col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey"), col("c_mktsegment"), col("n_orders"))
      .orderBy(col("c_custkey"))
  }

  val bucketedJoinSql: String =
    """SELECT c_custkey, c_mktsegment, n_orders
      |FROM customer
      |JOIN (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey)
      |  ON c_custkey = o_custkey
      |ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------------------------
  // Range-clustered layout (the 1-D Z-order story): events written
  // repartitionByRange on ts + sortWithinPartitions, so every output file
  // covers a DISJOINT ts interval and the parquet min/max footer stats let
  // the pushed-down range predicate skip whole row groups — partition
  // pruning's unpartitioned cousin, the right layout for high-cardinality
  // sort keys where a directory per value is infeasible. At 100 TB:
  // range-cluster the fact table by (event_date, key) and a time-slice
  // query reads ~1/N of the files regardless of partition-count limits.
  // StorageSpec proves the physical property (pairwise-disjoint per-file
  // intervals) and the pushdown (PushedFilters carries both ts bounds).
  // ------------------------------------------------------------------
  private[graft] def writeRangeClustered(s: SparkSession, dir: String): String = {
    val landing = scratch("graft_range_landing")
    Tables.load(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .repartitionByRange(8, col("ts"))
      .sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(landing)
    landing
  }

  private def rangeLanding(s: SparkSession, dir: String): String =
    Scratch.staged(s, dir, "range_landing")(writeRangeClustered(s, dir))

  def rangeClusteredScan(s: SparkSession, dir: String): DataFrame = {
    s.read.parquet(rangeLanding(s, dir))
      .filter(col("ts") >= lit("2024-01-10").cast("timestamp") &&
        col("ts") < lit("2024-01-11").cast("timestamp"))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("event_id")
  }

  val rangeClusteredScanSql: String =
    """SELECT event_id, ts, user_id, event_type, value
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-11'
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // Z-order (2-D) clustered layout: the multi-dimension extension of the
  // range-clustered story above. Bit-interleaving (user_id, hour-index)
  // into a Morton key and range-partitioning on THAT gives every output
  // file a small min/max box in BOTH dimensions — so a query filtering on
  // either-or-both columns skips files via footer stats, where a 1-D sort
  // localizes only its own column (a ts-sorted file spans the whole user
  // domain). This is Delta/Iceberg OPTIMIZE ZORDER re-expressed as plain
  // Spark: the z-value is pure codegen'd integer shifts (no UDF), the
  // layout is repartitionByRange(z) + sortWithinPartitions(z), and the
  // physical locality guarantee is pinned by StorageSpec (per-file spans +
  // both predicates pushed + query-box file-intersection count).
  // At 100 TB: z-cluster the fact table on its 2-3 hottest filter columns;
  // file count scales freely because pruning is stats-based, not
  // directory-based.
  // ------------------------------------------------------------------
  /** Morton/Z-value: bit-interleave two 11-bit non-negative dimensions
    * into one 22-bit key — pure codegen'd shifts/masks. */
  private[graft] def zValue(u: org.apache.spark.sql.Column,
      h: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 11).map { i =>
      shiftleft(shiftright(u, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(h, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_.bitwiseOR(_))

  /** Hours since 2024-01-01 UTC — the second z dimension (integer, ~10
    * bits over the fixture's one-month span). */
  private[graft] def hourIdx: org.apache.spark.sql.Column =
    floor((unix_timestamp(col("ts")) - lit(1704067200L)) / 3600).cast("long")

  private[graft] def writeZOrdered(s: SparkSession, dir: String): String = {
    val landing = scratch("graft_zorder_landing")
    Tables.load(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("z", zValue(col("user_id"), hourIdx))
      .repartitionByRange(16, col("z"))
      .sortWithinPartitions("z")
      .drop("z")
      .write.mode("overwrite").parquet(landing)
    landing
  }

  private def zorderLanding(s: SparkSession, dir: String): String =
    Scratch.staged(s, dir, "zorder_landing")(writeZOrdered(s, dir))

  def zorderScan(s: SparkSession, dir: String): DataFrame = {
    s.read.parquet(zorderLanding(s, dir))
      .filter(col("user_id") >= 4 && col("user_id") <= 7 &&
        col("ts") >= lit("2024-01-08").cast("timestamp") &&
        col("ts") < lit("2024-01-12").cast("timestamp"))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("event_id")
  }

  val zorderScanSql: String =
    """SELECT event_id, ts, user_id, event_type, value
      |FROM events
      |WHERE user_id >= 4 AND user_id <= 7
      |  AND ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-12'
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // DATE-partitioned layout + window aggregate — the Spark mapping of the
  // reference's 365-day chunk loop (trading212.py:86-97, SURVEY §4.2
  // "write data date-partitioned"): events land PARTITIONED BY event
  // date, and a one-week window query resolves its date predicate
  // against DIRECTORY METADATA — the scan lists and reads only the 7
  // matched partitions of the 30 written (PlanShapeSpec asserts the
  // executed scan's partitionFilters is non-empty AND it selected fewer
  // files than the layout holds). scan_partition_pruned proves the same
  // mechanism on a categorical column; this is the time-axis form that
  // replaces the reference's hand-rolled chunking at 100 TB — a window
  // query or a day's re-ingest touches a day's directories, never the
  // table. The aggregate keeps the result bounded (date x type), so the
  // query also shows pruning COMPOSING with partial aggregation.
  // ------------------------------------------------------------------
  private[graft] def writeDatePartitioned(s: SparkSession, dir: String): String = {
    val landing = scratch("graft_date_part_landing")
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("value"),
        col("event_type"))
      .withColumn("event_date", col("ts").cast("date"))
      .write.partitionBy("event_date").parquet(landing)
    landing
  }

  private def datePartLanding(s: SparkSession, dir: String): String =
    Scratch.staged(s, dir, "date_part_landing")(writeDatePartitioned(s, dir))

  def datePartitionPrune(s: SparkSession, dir: String): DataFrame = {
    s.read.parquet(datePartLanding(s, dir))
      .filter(col("event_date") >= lit("2024-01-03").cast("date") &&
        col("event_date") < lit("2024-01-10").cast("date"))
      .groupBy(col("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))
      // date -> string at the output boundary: the driver's two readers
      // render DATE differently (pandas date vs datetime64 midnight)
      .select(date_format(col("event_date"), "yyyy-MM-dd").as("event_date"),
        col("event_type"), col("n_events"), col("total_value"))
      .orderBy(col("event_date"), col("event_type"))
  }

  val datePartitionPruneSql: String =
    """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date, event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |FROM events
      |WHERE CAST(ts AS DATE) >= DATE '2024-01-03'
      |  AND CAST(ts AS DATE) < DATE '2024-01-10'
      |GROUP BY 1, event_type
      |ORDER BY event_date, event_type""".stripMargin

  // ------------------------------------------------------------------
  // Custom DataSource V2 roundtrip (round 13): events landed as a
  // length-prefixed binary log through the V2 WRITE protocol (one file
  // per partition, executor-side DataWriters, tmp-file + driver-commit
  // rename), read back via format("graftlog") with an equality + range
  // predicate and a 3-column projection — both handled INSIDE the source
  // (SupportsPushDownV2Filters / SupportsPushDownRequiredColumns), so the
  // plan carries no post-scan Filter for the pushed conjuncts and the
  // reader never materializes the unrequested string except to test the
  // pushed predicate. PlanShapeSpec pins both. See sources/GraftLogCodec.scala
  // for the format and sources/GraftLogScan.scala for the 100 TB scan story.
  // ------------------------------------------------------------------
  private def logLanding(s: SparkSession, dir: String): String =
    stagedLog(s, dir, "log_landing")(events4(s, dir))

  def dsv2Pushdown(s: SparkSession, dir: String): DataFrame = {
    s.read.format("graftlog").load(logLanding(s, dir))
      .filter(col("event_type") === "purchase" && col("value") >= 100.0)
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy(col("event_id"))
  }

  val dsv2PushdownSql: String =
    """SELECT event_id, user_id, value FROM events
      |WHERE event_type = 'purchase' AND value >= 100.0
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // Custom source, V2 Predicate pushdown (round 15): a whole DISJUNCTION
  // of conjuncts — (type='purchase' AND value>=300) OR (type LIKE 'sig%'
  // AND value<50) — pushed into the source as ONE exact predicate tree
  // through SupportsPushDownV2Filters and the data lane of GraftLog.v2ToV1,
  // the one translator every graftlog predicate goes through. The reader
  // evaluates the OR (with the STARTS_WITH prefix byte-compare) during
  // the sequential decode and non-matching records are never
  // materialized. PlanShapeSpec pins the pushed tree and the absence of a
  // post-scan Filter.
  // ------------------------------------------------------------------
  def dsv2OrPushdown(s: SparkSession, dir: String): DataFrame = {
    s.read.format("graftlog").load(logLanding4(s, dir))
      .filter((col("event_type") === "purchase" && col("value") >= 300.0) ||
        (col("event_type").startsWith("sig") && col("value") < 50.0))
      .orderBy(col("event_id"))
  }

  val dsv2OrPushdownSql: String =
    """SELECT event_id, user_id, value, event_type FROM events
      |WHERE (event_type = 'purchase' AND value >= 300.0)
      |   OR (event_type LIKE 'sig%' AND value < 50.0)
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // Storage-partitioned join over bucketed graftlog CATALOG tables
  // (round 15, r14 verdict #3 — the last DSv2 optimizer rung): two tables
  // created through GraftCatalog with PARTITIONED BY (bucket(16,
  // user_id)), populated via writeTo (clustered V2 write, k-tagged
  // files), then joined on the bucket column. Each scan reports
  // KeyGroupedPartitioning over the catalog-resolvable bucket transform,
  // so the join plans with ZERO shuffle exchanges — the connector twin of
  // join_bucketed, and at 100 TB the difference between shuffling two
  // fact tables and shuffling nothing. The merge-join hint is
  // plan-embedded (a conf toggle would not survive this function's lazy
  // return); at fixture scale the optimizer would otherwise broadcast the
  // small side, which is exactly the plan the pin must exclude.
  // ------------------------------------------------------------------
  private def spjTables(s: SparkSession, dir: String): (String, String) =
    stagedTable(s, dir, "spj_tables") {
      val bucket16 = "PARTITIONED BY (bucket(16, user_id))"
      val ev = events4(s, dir)
      (eventsTable(s, "spj_events", bucket16, ev),
        eventsTable(s, "spj_signups", bucket16, ev.filter(col("event_type") === "signup")))
    }

  def dsv2PartitionedJoin(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spjTables(s, dir)
    s.table("graftq.spj_events")
      .join(s.table("graftq.spj_signups").select(col("user_id")).hint("merge"), "user_id")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        // decimal-accumulate (exact, shuffle-order-stable), double at the
        // render boundary — the engine-wide money discipline (Relational)
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total"))
      .orderBy(col("user_id"))
  }

  val dsv2PartitionedJoinSql: String =
    """SELECT a.user_id, COUNT(*) AS n,
      |  CAST(SUM(CAST(a.value AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM events a
      |JOIN (SELECT user_id FROM events WHERE event_type = 'signup') b
      |  ON a.user_id = b.user_id
      |GROUP BY a.user_id
      |ORDER BY a.user_id""".stripMargin

  // ------------------------------------------------------------------
  // Incremental batch read under the oracle gate (round 15): the
  // time-travel surface — `_pub_stamp` is constant per file, so a WHERE
  // on it is claimed as EXACT pushdown and prunes whole FILES (the scan
  // never opens the old chunk; plan shows stampPruned, no post-scan
  // Filter — GraftLogSpec pins both). Two ingest chunks land with
  // monotone publish stamps; the read with `_pub_stamp > t` (t = the
  // high-water between chunks) must return exactly the second chunk —
  // the CDC-style "everything published since my last run" batch read a
  // 100 TB landing needs to avoid rescanning its own history.
  // ------------------------------------------------------------------
  /** Two ingest chunks (event_id % 3 == 0, then the rest) appended to the
    * graftlog directory `p`; returns the high-water stamp between them. */
  private def twoChunks(s: SparkSession, dir: String, p: String): Long = {
    val ev = events4(s, dir)
    ev.filter(col("event_id") % 3 === 0)
      .write.format("graftlog").mode("append").save(p)
    val hw = GraftFs.listNames(p)
      .filter(_.endsWith(".graftlog"))
      .map(graft.sources.GraftLog.stampOf).max
    ev.filter(col("event_id") % 3 =!= 0)
      .write.format("graftlog").mode("append").save(p)
    hw
  }

  private def sinceLanding(s: SparkSession, dir: String): (String, Long) =
    Scratch.staged(s, dir, "log_since") {
      val p = scratch("graft_log_since")
      (p, twoChunks(s, dir, p))
    }

  def dsv2Since(s: SparkSession, dir: String): DataFrame = {
    val (landing, t) = sinceLanding(s, dir)
    s.read.format("graftlog").load(landing)
      .filter(col("_pub_stamp") > t)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .orderBy(col("event_id"))
  }

  val dsv2SinceSql: String =
    """SELECT event_id, user_id, value, event_type FROM events
      |WHERE event_id % 3 <> 0 ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // Small-file compaction under the oracle gate (round 15): the
  // maintenance CALL a real landing needs (every append/epoch adds
  // files; scan task count and listing degrade linearly in file count).
  // Five small appends build a fragmented bucketed landing; CALL
  // graftq.system.compact merges each bucket's files by raw byte
  // concatenation in publish order (headerless length-prefixed format:
  // concatenation IS the merged file); the oracle is the read-back —
  // compaction must be invisible to every query. GraftCatalogSpec pins
  // the file counts, layout survival, order preservation, idempotence.
  // ------------------------------------------------------------------
  private def cmpTable(s: SparkSession, dir: String): Unit =
    freshTable(s, dir, "cmp_ev", Bucket8,
      (0 until 5).map(i => events4(s, dir).filter(col("event_id") % 5 === i)))

  def dsv2Compact(s: SparkSession, dir: String): DataFrame = {
    cmpTable(s, dir)
    s.sql("CALL graftq.system.compact(table => 'cmp_ev', target_mb => 64)").collect()
    s.table("graftq.cmp_ev").orderBy(col("event_id"))
  }

  val dsv2CompactSql: String =
    """SELECT event_id, user_id, value, event_type FROM events
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // Retention under the oracle gate (round 15): the lifecycle's third
  // operation (ingest -> compact -> expire). Two monotone-stamped ingest
  // chunks; CALL graftq.system.expire with the inter-chunk high-water
  // horizon deletes exactly the first chunk's publishes (file-level
  // metadata deletes, no bytes moved); the read-back must equal the
  // second chunk. The inverse selection of scan_dsv2_since, enforced by
  // DELETION rather than pruning — together they pin that the stamp
  // arithmetic means the same thing on both sides. GraftCatalogSpec pins
  // the boundary semantics (legacy unstamped names never expire; orphan
  // tmps age out behind a grace window).
  // ------------------------------------------------------------------
  /** The two-chunk landing, staged; every execution expires its own fresh
    * copy of it, so the expire deletes chunk 1 every time. Returns the copy
    * and the high-water stamp between the chunks. */
  private def expireLanding(s: SparkSession, dir: String): (String, Long) = {
    val landing = scratch("graft_log_expire")
    (landing, Scratch.fresh(s, dir, "log_expire", landing)(twoChunks(s, dir, landing)))
  }

  def dsv2Expire(s: SparkSession, dir: String): DataFrame = {
    val (landing, t) = expireLanding(s, dir)
    // path landing (no catalog table needed): call the engine entry the
    // procedure wraps — the procedure surface itself is spec-covered
    graft.sources.GraftLog.expire(landing, t + 1)
    s.read.format("graftlog").load(landing)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .orderBy(col("event_id"))
  }

  val dsv2ExpireSql: String =
    """SELECT event_id, user_id, value, event_type FROM events
      |WHERE event_id % 3 <> 0 ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // Metadata columns under the oracle gate (round 15): the connector
  // exposes `_file` / `_bucket` / `_pub_stamp` through
  // SupportsMetadataColumns the way parquet exposes _metadata. On a
  // bucketed catalog table `_bucket` IS floorMod(user_id, n) — a
  // deterministic function of the data — so a GROUP BY _bucket aggregate
  // is DuckDB-expressible; `_file` and `_pub_stamp` ride the same reader
  // projection and are exercised via vacuously-true guards (every
  // published file is stamped), keeping them in the scanned plan while
  // the compared values stay run-independent (paths and stamps are not).
  // ------------------------------------------------------------------
  private def metaTable(s: SparkSession, dir: String): String =
    stagedTable(s, dir, "meta_ev")(eventsTable(s, "meta_ev", Bucket8, events4(s, dir)))

  def dsv2Meta(s: SparkSession, dir: String): DataFrame = {
    metaTable(s, dir)
    s.table("graftq.meta_ev")
      .filter(col("_file").isNotNull && col("_pub_stamp") > 0L)
      .groupBy(col("_bucket"))
      .agg(count(lit(1)).as("n"), sum(col("user_id")).as("uid_sum"),
        min(col("event_id")).as("min_eid"), max(col("event_id")).as("max_eid"))
      .orderBy(col("_bucket"))
  }

  val dsv2MetaSql: String =
    """SELECT CAST(user_id % 8 AS INT) AS _bucket, COUNT(*) AS n,
      |  CAST(SUM(user_id) AS BIGINT) AS uid_sum,
      |  MIN(event_id) AS min_eid, MAX(event_id) AS max_eid
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // Row-level DELETE under the oracle gate (round 15): the
  // takedown/right-to-be-forgotten command over a bucketed graftlog
  // catalog table — SQL DELETE rewritten by Spark into a group-based
  // copy-on-write ReplaceData, with runtime group filtering (an IN
  // subquery over the `_file` metadata column) confining the rewrite to
  // the files that actually contain matching rows. The oracle is the
  // read-back: the landing after DELETE must equal the survivor set row
  // for row. GraftCatalogSpec pins the file-level provenance (untouched
  // files keep their names); this query pins the end-to-end semantics.
  // ------------------------------------------------------------------
  private def delTable(s: SparkSession, dir: String): Unit =
    freshTable(s, dir, "del_ev", Bucket8, Seq(events4(s, dir)))

  def dsv2Delete(s: SparkSession, dir: String): DataFrame = {
    delTable(s, dir)
    s.sql("DELETE FROM graftq.del_ev WHERE event_type = 'click' OR value < 120.0")
    s.table("graftq.del_ev").orderBy(col("event_id"))
  }

  val dsv2DeleteSql: String =
    """SELECT event_id, user_id, value, event_type FROM events
      |WHERE NOT (event_type = 'click' OR value < 120.0)
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // Row-level UPDATE under the oracle gate (round 15): same group-based
  // copy-on-write machinery as DELETE (one command-agnostic operation),
  // different rewrite plan — Spark lands If(cond, updated, original) for
  // every row of the affected files. Doubling is exact in binary
  // floating point, so the DuckDB CASE twin hashes identically.
  // ------------------------------------------------------------------
  private def updTable(s: SparkSession, dir: String): Unit =
    freshTable(s, dir, "upd_ev", Bucket8, Seq(events4(s, dir)))

  def dsv2Update(s: SparkSession, dir: String): DataFrame = {
    updTable(s, dir)
    s.sql("UPDATE graftq.upd_ev SET value = value * 2 WHERE event_type = 'error'")
    s.table("graftq.upd_ev").orderBy(col("event_id"))
  }

  val dsv2UpdateSql: String =
    """SELECT event_id, user_id,
      |  CASE WHEN event_type = 'error' THEN value * 2 ELSE value END AS value,
      |  event_type
      |FROM events ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // MERGE INTO under the oracle gate (round 15): the SQL-native upsert —
  // matched target rows take the source's correction (signup values
  // zeroed), unmatched source rows insert (error events re-keyed above
  // the fixture's event_id domain, tagged 'merged'). The whole command
  // is one group-based ReplaceData; the oracle reproduces the post-merge
  // table as a CASE + UNION ALL over the parquet twin.
  // ------------------------------------------------------------------
  private def mrgTable(s: SparkSession, dir: String): Unit =
    freshTable(s, dir, "mrg_ev", Bucket8, Seq(events4(s, dir)))

  def dsv2Merge(s: SparkSession, dir: String): DataFrame = {
    mrgTable(s, dir)
    val ev = events4(s, dir)
    ev.filter(col("event_type") === "signup").withColumn("value", lit(0.0))
      .unionByName(ev.filter(col("event_type") === "error")
        .withColumn("event_id", col("event_id") + 1000000L)
        .withColumn("event_type", lit("merged")))
      .createOrReplaceTempView("graft_mrg_src")
    s.sql("""MERGE INTO graftq.mrg_ev t USING graft_mrg_src s
      ON t.event_id = s.event_id
      WHEN MATCHED THEN UPDATE SET t.value = s.value
      WHEN NOT MATCHED THEN INSERT *""")
    s.table("graftq.mrg_ev").orderBy(col("event_id"))
  }

  val dsv2MergeSql: String =
    """SELECT * FROM (
      |  SELECT event_id, user_id,
      |    CASE WHEN event_type = 'signup' THEN 0.0 ELSE value END AS value,
      |    event_type
      |  FROM events
      |  UNION ALL
      |  SELECT event_id + 1000000, user_id, value, 'merged' FROM events
      |  WHERE event_type = 'error'
      |) ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // Flagship-over-connector composition (round 15, r14 verdict #6): the
  // §3.3 flagship OPERATOR CHAIN run end-to-end with graftlog as BOTH
  // source and sink — proof the connector carries the engine's own
  // flagship semantics, not just probe queries. The 19-column trading
  // schema cannot transit the format's fixed 4-column layout, so the
  // chain itself is what composes: two overlapping ingest chunks land in
  // two graftlog directories (the reference's per-chunk CSV exports,
  // U1 union-accumulate), the event_type carries raw decorations the
  // flagship's OWN StringFns.normalizeAction must clean (P1 substring
  // strip incl. leading whitespace survival, P2 whole-cell replace ->
  // 'Div', P3 trim+capitalize), then F2 IN-filter, D1 full-row dedup
  // (real work: the chunks overlap on event_id%3==2), O1 global sort,
  // V2 write to a third graftlog landing, and the oracle reads THAT
  // back through the connector. Every stage is DuckDB-reproducible, so
  // the hash gate covers the whole composition including both V2 write
  // paths and the columnar read path.
  // ------------------------------------------------------------------
  def dsv2Flagship(s: SparkSession, dir: String): DataFrame = {
    val chunkA = scratch("graft_log_fsA")
    val chunkB = scratch("graft_log_fsB")
    val sink = scratch("graft_log_fs_out")
    val raw = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"),
        when(col("event_type") === "error", lit("Dividend (Ordinary)"))
          .when(pmod(col("event_id"), lit(3)) === 0, concat(lit("Market "), col("event_type")))
          .when(pmod(col("event_id"), lit(3)) === 1, concat(lit("  Limit "), col("event_type")))
          .otherwise(col("event_type")).as("event_type"))
    raw.filter(pmod(col("event_id"), lit(3)) =!= 1)
      .write.format("graftlog").mode("append").save(chunkA)
    raw.filter(pmod(col("event_id"), lit(3)) =!= 0)
      .write.format("graftlog").mode("append").save(chunkB)
    val unioned = s.read.format("graftlog").load(chunkA)
      .unionByName(s.read.format("graftlog").load(chunkB))
    unioned
      .withColumn("event_type", graft.functions.StringFns.normalizeAction(col("event_type")))
      .filter(col("event_type").isin("Purchase", "Signup", "Click", "Div"))
      .dropDuplicates()
      .orderBy(col("event_id"))
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .write.format("graftlog").mode("append").save(sink)
    s.read.format("graftlog").load(sink).orderBy(col("event_id"))
  }

  val dsv2FlagshipSql: String =
    """WITH raw AS (
      |  SELECT event_id, user_id, value,
      |    CASE WHEN event_type = 'error' THEN 'Dividend (Ordinary)'
      |         WHEN event_id % 3 = 0 THEN 'Market ' || event_type
      |         WHEN event_id % 3 = 1 THEN '  Limit ' || event_type
      |         ELSE event_type END AS event_type
      |  FROM events),
      |unioned AS (
      |  SELECT * FROM raw WHERE event_id % 3 <> 1
      |  UNION ALL
      |  SELECT * FROM raw WHERE event_id % 3 <> 0),
      |normalized AS (
      |  SELECT event_id, user_id, value,
      |    upper(substr(t, 1, 1)) || lower(substr(t, 2)) AS event_type
      |  FROM (
      |    SELECT event_id, user_id, value,
      |      trim(CASE WHEN st = 'Dividend (Ordinary)' THEN 'Div' ELSE st END) AS t
      |    FROM (
      |      SELECT event_id, user_id, value,
      |        regexp_replace(event_type, 'Market |Limit |Stop ', '', 'g') AS st
      |      FROM unioned) x) y)
      |SELECT DISTINCT event_id, user_id, value, event_type
      |FROM normalized
      |WHERE event_type IN ('Purchase', 'Signup', 'Click', 'Div')
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // Merge-on-read DELETE under the oracle gate (round 16, r15 verdict
  // #2): a `delete.mode = merge-on-read` catalog table serves DELETE
  // through Spark's SupportsDelta contract — each matching row's
  // (_file, _pos) identity lands in a position-delete file and the
  // manifest swap makes it visible; NO data file is rewritten (at 100 TB
  // a takedown of a handful of rows must not move terabytes — the
  // copy-on-write twin `delete_dsv2_rewrite` rewrites whole files).
  // Readers drop the deleted ordinals during the sequential decode, so
  // the read-back equals the survivor set — same oracle SHAPE as the CoW
  // twin, different WHERE, so a pushdown confusion between the two paths
  // cannot cancel out. GraftCatalogSpec pins the mechanics (no data file
  // moved, one .graftdel published, compaction absorbs).
  // ------------------------------------------------------------------
  private def morTable(s: SparkSession, dir: String): Unit =
    freshTable(s, dir, "mor_ev", s"$Bucket8 TBLPROPERTIES ('delete.mode' = 'merge-on-read')",
      Seq(events4(s, dir)))

  def dsv2DeleteMor(s: SparkSession, dir: String): DataFrame = {
    morTable(s, dir)
    s.sql("DELETE FROM graftq.mor_ev WHERE event_type = 'signup' OR value >= 450.0")
    s.table("graftq.mor_ev").orderBy(col("event_id"))
  }

  val dsv2DeleteMorSql: String =
    """SELECT event_id, user_id, value, event_type FROM events
      |WHERE NOT (event_type = 'signup' OR value >= 450.0)
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // Incremental read ACROSS a compaction (round 16, r15 verdict #4):
  // same contract as scan_dsv2_since — `_pub_stamp > t` returns exactly
  // what was published after t — but a CALL system.compact merges the
  // two ingest chunks into one file between the ingests and the read.
  // The compacted file's manifest segment map preserves each input's
  // ORIGINAL stamp, the scan keeps the file (one segment matches), and
  // the cursor byte-skips the pre-t segment wholesale — so the slice is
  // IDENTICAL to the uncompacted one instead of re-delivering the whole
  // file (r15's documented gap). The oracle is the second chunk.
  // ------------------------------------------------------------------
  /** Fixture = two ingests + the mid-window compaction (the layout being
    * read through); returns the table's directory and the stamp between
    * the ingests. */
  private def sincecTable(s: SparkSession, dir: String): (String, Long) =
    stagedTable(s, dir, "sincec_ev") {
      val ev = events4(s, dir)
      val landing = eventsTable(s, "sincec_ev", "", ev.filter(col("event_id") % 3 === 0))
      val hw = GraftFs.listNames(landing)
        .filter(_.endsWith(".graftlog"))
        .map(graft.sources.GraftLog.stampOf).max
      ev.filter(col("event_id") % 3 =!= 0).writeTo("graftq.sincec_ev").append()
      s.sql("CALL graftq.system.compact(table => 'sincec_ev', target_mb => 64)").collect()
      (landing, hw)
    }

  def dsv2SinceCompact(s: SparkSession, dir: String): DataFrame = {
    // the timed operator is the stamp-pushed segment scan
    val (_, t) = sincecTable(s, dir)
    s.table("graftq.sincec_ev")
      .filter(col("_pub_stamp") > t)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .orderBy(col("event_id"))
  }

  val dsv2SinceCompactSql: String =
    """SELECT event_id, user_id, value, event_type FROM events
      |WHERE event_id % 3 <> 0 ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // Schema evolution under the oracle gate (round 16, r15 verdict #3):
  // ALTER TABLE ADD COLUMN on a graftlog catalog table. Chunk 1 lands
  // under the base 4-column schema; the table then gains nullable
  // (score DOUBLE, tag STRING) appended columns; chunk 2 lands carrying
  // them. The read-back must show chunk-1 rows NULL-FILLED in the added
  // columns and chunk-2 rows with their written values — one landing,
  // two record generations, no rewrite (O(1) metadata is the only
  // acceptable evolution cost at 100 TB). The oracle reproduces both
  // generations as a UNION ALL with CAST(NULL AS ...) for the old one.
  // ------------------------------------------------------------------
  private def evoTable(s: SparkSession, dir: String): String =
    stagedTable(s, dir, "evo_ev") {
      val ev = events4(s, dir)
      val p = eventsTable(s, "evo_ev", "", ev.filter(col("event_id") % 2 === 0))
      s.sql("ALTER TABLE graftq.evo_ev ADD COLUMNS (score DOUBLE, tag STRING)")
      ev.filter(col("event_id") % 2 =!= 0)
        .withColumn("score", col("value") * 2)
        .withColumn("tag", upper(col("event_type")))
        .writeTo("graftq.evo_ev").append()
      p
    }

  def dsv2Evolved(s: SparkSession, dir: String): DataFrame = {
    evoTable(s, dir)
    s.table("graftq.evo_ev").orderBy(col("event_id"))
  }

  val dsv2EvolvedSql: String =
    """SELECT event_id, user_id, value, event_type,
      |  CAST(NULL AS DOUBLE) AS score, CAST(NULL AS VARCHAR) AS tag
      |FROM events WHERE event_id % 2 = 0
      |UNION ALL
      |SELECT event_id, user_id, value, event_type,
      |  value * 2 AS score, upper(event_type) AS tag
      |FROM events WHERE event_id % 2 <> 0
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // Merge-on-read UPDATE under the oracle gate (round 16): on an
  // `update.mode = merge-on-read` table the command is a DELTA —
  // representUpdateAsDeleteAndInsert splits every matched row into a
  // position delete of its old (_file, _pos) identity plus an appended
  // replacement record in a NEW file; no original data file is
  // rewritten (GraftCatalogSpec pins the zero-motion property). The
  // read composes deletes and replacements; the oracle is the same CASE
  // twin shape as the copy-on-write update, different predicate/factor
  // so a path confusion cannot cancel out.
  // ------------------------------------------------------------------
  private def updmTable(s: SparkSession, dir: String): Unit =
    freshTable(s, dir, "updm_ev", s"$Bucket8 TBLPROPERTIES ('update.mode' = 'merge-on-read')",
      Seq(events4(s, dir)))

  def dsv2UpdateMor(s: SparkSession, dir: String): DataFrame = {
    updmTable(s, dir)
    s.sql("UPDATE graftq.updm_ev SET value = value * 4 WHERE event_type = 'click'")
    s.table("graftq.updm_ev").orderBy(col("event_id"))
  }

  val dsv2UpdateMorSql: String =
    """SELECT event_id, user_id,
      |  CASE WHEN event_type = 'click' THEN value * 4 ELSE value END AS value,
      |  event_type
      |FROM events ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // Merge-on-read MERGE under the oracle gate (round 16): the upsert as
  // a delta — matched rows become (position delete + reinserted
  // correction), unmatched source rows become plain inserts, all in one
  // commit's manifest swap. Same oracle shape as merge_dsv2_upsert with
  // different actions (purchase values negated, click events re-keyed),
  // so the two paths cannot be confused.
  // ------------------------------------------------------------------
  private def mrgmTable(s: SparkSession, dir: String): Unit =
    freshTable(s, dir, "mrgm_ev", s"$Bucket8 TBLPROPERTIES ('merge.mode' = 'merge-on-read')",
      Seq(events4(s, dir)))

  def dsv2MergeMor(s: SparkSession, dir: String): DataFrame = {
    mrgmTable(s, dir)
    val ev = events4(s, dir)
    ev.filter(col("event_type") === "purchase").withColumn("value", -col("value"))
      .unionByName(ev.filter(col("event_type") === "click")
        .withColumn("event_id", col("event_id") + 2000000L)
        .withColumn("event_type", lit("merged")))
      .createOrReplaceTempView("graft_mrgm_src")
    s.sql("""MERGE INTO graftq.mrgm_ev t USING graft_mrgm_src s
      ON t.event_id = s.event_id
      WHEN MATCHED THEN UPDATE SET t.value = s.value
      WHEN NOT MATCHED THEN INSERT *""")
    s.table("graftq.mrgm_ev").orderBy(col("event_id"))
  }

  val dsv2MergeMorSql: String =
    """SELECT * FROM (
      |  SELECT event_id, user_id,
      |    CASE WHEN event_type = 'purchase' THEN -value ELSE value END AS value,
      |    event_type
      |  FROM events
      |  UNION ALL
      |  SELECT event_id + 2000000, user_id, value, 'merged' FROM events
      |  WHERE event_type = 'click'
      |) ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // Time travel under the oracle gate (round 16): `VERSION AS OF` over
  // the snapshot-manifest history — every commit leaves an immutable
  // manifest, so reading the table AS OF the stamp between two ingests
  // must return exactly the FIRST chunk, while the current read sees
  // both. This is the lake-format read surface the snapshot protocol
  // buys beyond isolation: reproducing yesterday's training set is a
  // stamp, not a restore. The pinned table is read-only (spec-enforced);
  // TIMESTAMP AS OF and the path-read `.option("asOfStamp", t)` are the
  // same resolution (GraftCatalogSpec pins all three surfaces).
  // ------------------------------------------------------------------
  /** Two ingests; returns the table's directory and the snapshot stamp
    * between them. */
  private def asofTable(s: SparkSession, dir: String): (String, Long) =
    stagedTable(s, dir, "asof_ev") {
      val ev = events4(s, dir)
      val landing = eventsTable(s, "asof_ev", "", ev.filter(col("event_id") % 3 === 0))
      val mid = graft.sources.GraftLog.latestSnapshotStamp(landing)
      ev.filter(col("event_id") % 3 =!= 0).writeTo("graftq.asof_ev").append()
      (landing, mid)
    }

  def dsv2AsOf(s: SparkSession, dir: String): DataFrame = {
    val (_, t) = asofTable(s, dir)
    s.sql(s"SELECT event_id, user_id, value, event_type " +
      s"FROM graftq.asof_ev VERSION AS OF '$t' ORDER BY event_id")
  }

  val dsv2AsOfSql: String =
    """SELECT event_id, user_id, value, event_type FROM events
      |WHERE event_id % 3 = 0 ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // Snapshot retention under the oracle gate (round 16): on a
  // `snapshot.retain = true` table, rewrites keep the replaced files on
  // disk (still referenced by the retained manifests), so VERSION AS OF
  // stays readable ACROSS a row-level DELETE — the full pre-delete table,
  // deleted rows included, from a stamp. This is the Iceberg
  // expire_snapshots retention model: history survives until `CALL
  // system.expire` passes its horizon (GraftCatalogSpec pins the GC and
  // the post-GC loud failure). The oracle is the whole events table —
  // the CURRENT read (survivors only) would fail the hash, so the query
  // proves the historical read really bypasses the delete.
  // ------------------------------------------------------------------
  /** Fixture = ingest + the retained DELETE (the history being read
    * through); returns the table's directory and the snapshot stamp
    * before the DELETE. */
  private def retTable(s: SparkSession, dir: String): (String, Long) =
    stagedTable(s, dir, "ret_ev") {
      val landing = eventsTable(s, "ret_ev", Retain, events4(s, dir))
      val mid = graft.sources.GraftLog.latestSnapshotStamp(landing)
      s.sql("DELETE FROM graftq.ret_ev WHERE event_type = 'click'")
      (landing, mid)
    }

  def dsv2AsOfRetained(s: SparkSession, dir: String): DataFrame = {
    // the timed operator is the VERSION AS OF resolution + scan
    val (_, t) = retTable(s, dir)
    s.sql(s"SELECT event_id, user_id, value, event_type " +
      s"FROM graftq.ret_ev VERSION AS OF '$t' ORDER BY event_id")
  }

  val dsv2AsOfRetainedSql: String =
    """SELECT event_id, user_id, value, event_type FROM events
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // Concurrent writers under the oracle gate (round 17): TWO appends
  // racing on one landing — the lost-update case the r16 verdict ranked
  // first. Every commit now CAS-claims manifest seq+1 (an atomic
  // create-if-absent); the loser re-resolves and rebases, so BOTH halves
  // are in the final read. Under the r16 protocol (unique manifest
  // names, last rename wins) the first commit's rows would silently
  // vanish — this oracle, the full table, is exactly the query that
  // catches it. GraftSnapshotSpec drives the same race at the protocol
  // level plus the conflict-exception surface.
  // ------------------------------------------------------------------
  def dsv2Concurrent(s: SparkSession, dir: String): DataFrame = {
    val landing = scratch("graft_log_concurrent")
    val ev = events4(s, dir)
    val halves = Seq(ev.filter(col("event_id") % 2 === 0),
      ev.filter(col("event_id") % 2 =!= 0))
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = halves.map { h =>
      new Thread(() =>
        try h.write.format("graftlog").mode("append").save(landing)
        catch { case t: Throwable => failures.add(t); () })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (!failures.isEmpty) throw failures.peek()
    s.read.format("graftlog").load(landing).orderBy(col("event_id"))
  }

  val dsv2ConcurrentSql: String =
    """SELECT event_id, user_id, value, event_type FROM events
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // Delta-manifest chain under the oracle gate (round 17): 18 appends +
  // a mid-chain compaction = one base manifest, a compact commit, a
  // BASE_EVERY rollover base, and a tail of O(change) deltas — the
  // round's second claim (commit cost no longer O(live files)) exercised
  // on the real read path: resolution walks the chain back to the
  // nearest base and folds the deltas, and the oracle (the full table)
  // fails if any link mis-applies. artifacts/MANIFEST_SCALE_r17.json
  // carries the latency/bytes measurements at 10^3..10^5 files.
  // ------------------------------------------------------------------
  private def chainLanding(s: SparkSession, dir: String): String =
    Scratch.staged(s, dir, "log_chain") {
      val p = scratch("graft_log_chain")
      val ev = events4(s, dir).cache()
      try {
        (0 until 18).foreach { k =>
          ev.filter(col("event_id") % 18 === k)
            .repartition(1)
            .write.format("graftlog").mode("append").save(p)
          if (k == 8) // compaction is itself a chain commit (R lines + F line)
            graft.sources.GraftLog.compact(s, p, 1L << 30)
        }
      } finally { ev.unpersist(); () }
      p
    }

  def dsv2Chain(s: SparkSession, dir: String): DataFrame =
    s.read.format("graftlog").load(chainLanding(s, dir)).orderBy(col("event_id"))

  val dsv2ChainSql: String =
    """SELECT event_id, user_id, value, event_type FROM events
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // Streaming exactly-once ACROSS a compaction under the oracle gate
  // (round 17, closing the r16 verdict's #3): chunk A drains, chunk B
  // lands, compaction merges A+B into ONE fresh-named file MID-STREAM,
  // the reader resumes. Offsets are name arithmetic, so the r16 source
  // re-delivered all of A (the merged name looks new); now the merged
  // file's manifest segment map carries its inputs' ORIGINAL stamps and
  // the resumed reader suppresses the segments its checkpointed offset
  // already processed (GraftLogOffset.seenStamp) — batch and streaming
  // share one consistency model across compaction. A re-delivery
  // doubles chunk A and fails this oracle's row count and hash.
  // ------------------------------------------------------------------
  def dsv2StreamCompact(s: SparkSession, dir: String): DataFrame = {
    val landing = scratch("graft_stream_compact")
    val out = scratch("graft_stream_compact_out")
    val ckpt = graft.Scratch.streamCkptDir("graft_stream_compact_ckpt")
    val ev = events4(s, dir).filter(col("event_id") < 30000)
    def drain(): Unit = Streams.drain(s.readStream.format("graftlog").load(landing),
      Streams.Sink.Parquet(out), Trigger.AvailableNow(), ckpt = Some(ckpt))
    ev.filter(col("event_id") % 2 === 0)
      .write.format("graftlog").mode("append").save(landing)
    drain()
    ev.filter(col("event_id") % 2 =!= 0)
      .write.format("graftlog").mode("append").save(landing)
    graft.sources.GraftLog.compact(s, landing, 1L << 30)
    drain()
    s.read.parquet(out)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .orderBy(col("event_id"))
  }

  val dsv2StreamCompactSql: String =
    """SELECT event_id, user_id, value, event_type FROM events
      |WHERE event_id < 30000 ORDER BY event_id""".stripMargin

  /** One AvailableNow drain of the graftlog landing `src`, two files per
    * trigger, into the upsert sink at `sink` keyed on `key`, resuming on
    * the caller's checkpoint `ckpt` (each call picks up only the files
    * that landed since the last one). */
  private def upsertDrain(s: SparkSession, src: String, sink: String, key: String,
      ckpt: String): Unit =
    Streams.drain(s.readStream.format("graftlog").option("maxFilesPerTrigger", 2).load(src),
      Streams.Sink.GraftLog(sink, Map("upsertKey" -> key)), Trigger.AvailableNow(),
      ckpt = Some(ckpt))

  // ------------------------------------------------------------------
  // NATIVE streaming upsert sink (round 18, r17 verdict #2): the keyed
  // MERGE that previously needed a foreachBatch batch-MERGE detour
  // (`stream_merge_upsert`) as a first-class V2 sink —
  // `.option("upsertKey", "event_id")` makes each epoch REPLACE rows by
  // key: the epoch commit publishes its data files plus equality-delete
  // files (`.graftdel`, `eq event_id` header) covering the whole
  // pre-commit live set, in ONE manifest swap. No foreachBatch anywhere:
  // the plan is readStream -> writeStream, exactly-once across restarts
  // by the same epoch-replay machinery as the plain sink. The fixture
  // streams the original rows, then streams CORRECTED versions of every
  // third key; the final table is latest-version-per-key, and a
  // compaction mid-check pins merge-on-read parity (the absorb walk
  // drops eq-deleted records so the physical rewrite answers
  // identically).
  // ------------------------------------------------------------------
  def dsv2StreamUpsert(s: SparkSession, dir: String): DataFrame = {
    val src = scratch("graft_upsert_src")
    val sink = scratch("graft_upsert_sink")
    val ckpt = graft.Scratch.streamCkptDir("graft_upsert_ckpt")
    val ev = events4(s, dir).filter(col("event_id") < 30000)
    def drain(): Unit = upsertDrain(s, src, sink, "event_id", ckpt)
    ev.repartition(3).write.format("graftlog").mode("append").save(src)
    drain() // two epochs (3 files at maxFilesPerTrigger=2): inserts
    // one correction epoch with INTRA-EPOCH duplicate keys (round 19):
    // every third key is corrected, and every fifteenth is corrected
    // TWICE in the same micro-batch — one source file, version order
    // pinned, so the sink's keep-last-per-key contract is what the
    // oracle checks (the r18 sink landed both copies)
    val corr1 = ev.filter(col("event_id") % 3 === 0)
      .withColumn("value", col("value") * 2)
      .withColumn("event_type", lit("corrected"))
      .withColumn("_v", lit(1))
    val corr2 = ev.filter(col("event_id") % 15 === 0)
      .withColumn("value", col("value") * 3)
      .withColumn("event_type", lit("corrected2"))
      .withColumn("_v", lit(2))
    corr1.unionByName(corr2).repartition(1).sortWithinPartitions(col("_v"))
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .write.format("graftlog").mode("append").save(src)
    drain() // one epoch: keyed corrections replace the originals, last wins
    // merge-on-read parity across compaction: absorb the eq-deletes
    graft.sources.GraftLog.compact(s, sink, 1L << 30)
    s.read.format("graftlog").load(sink).orderBy(col("event_id"))
  }

  val dsv2StreamUpsertSql: String =
    """SELECT event_id, user_id,
      |  CASE WHEN event_id % 15 = 0 THEN value * 3
      |       WHEN event_id % 3 = 0 THEN value * 2 ELSE value END AS value,
      |  CASE WHEN event_id % 15 = 0 THEN 'corrected2'
      |       WHEN event_id % 3 = 0 THEN 'corrected' ELSE event_type END AS event_type
      |FROM events WHERE event_id < 30000 ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // COMPOSITE upsert key (round 20, r19 verdict missing #2): the sink
  // keyed on the (user_id, event_type) TUPLE. Wave 1 streams the whole
  // events slice in one pinned-order file, so the sink's keep-last
  // contract leaves the max-event_id row per tuple; wave 2 replaces
  // exactly the 'click' tuple of every user that has one — other types
  // for the same users, and the same type for other tuples, untouched.
  // Compaction absorbs the composite eq-deletes (the absorb-walk probes
  // the canonical tuple encode) before the read.
  // ------------------------------------------------------------------
  def dsv2StreamUpsertCk(s: SparkSession, dir: String): DataFrame = {
    val src = scratch("graft_upsert_ck_src")
    val sink = scratch("graft_upsert_ck_sink")
    val ckpt = graft.Scratch.streamCkptDir("graft_upsert_ck_ckpt")
    val ev = events4(s, dir)
    def drain(): Unit = upsertDrain(s, src, sink, "user_id,event_type", ckpt)
    ev.repartition(1).sortWithinPartitions(col("event_id"))
      .write.format("graftlog").mode("append").save(src)
    drain() // keep-last leaves the max-event_id row per tuple
    ev.filter(col("event_type") === "click")
      .select(col("user_id")).distinct()
      .select((col("user_id") + 2000000L).as("event_id"), col("user_id"),
        lit(77.5).as("value"), lit("click").as("event_type"))
      .repartition(1).write.format("graftlog").mode("append").save(src)
    drain() // tuple corrections for every (user, 'click')
    graft.sources.GraftLog.compact(s, sink, 1L << 30)
    s.read.format("graftlog").load(sink)
      .orderBy(col("user_id"), col("event_type"), col("event_id"))
  }

  val dsv2StreamUpsertCkSql: String =
    """SELECT event_id, user_id, value, event_type FROM (
      |  SELECT event_id, user_id, value, event_type,
      |         row_number() OVER (PARTITION BY user_id, event_type
      |                            ORDER BY event_id DESC) AS rn
      |  FROM events) t
      |WHERE rn = 1 AND event_type <> 'click'
      |UNION ALL
      |SELECT 2000000 + user_id AS event_id, user_id,
      |       77.5 AS value, 'click' AS event_type
      |FROM (SELECT DISTINCT user_id FROM events WHERE event_type = 'click') u
      |ORDER BY user_id, event_type, event_id""".stripMargin

  // ------------------------------------------------------------------
  // Zone maps over EVOLVED columns (round 18, r17 verdict #3): an ALTER
  // TABLE ADD COLUMN column gets per-file bounds too (the manifest's W
  // tokens — present count + typed min/max, string bounds truncated the
  // Iceberg way), and a range predicate on it PRUNES files even though
  // extras are never claimed by row pushdown: the predicate stays a
  // residual Spark evaluates, while a provably-excluded file is never
  // opened. Null-present files stay exact — bounds cover the non-null
  // values and SQL value predicates reject nulls anyway (the all-null
  // range-partition lands in the first file, which the stats then
  // decline for any value predicate). GraftLogSpec pins the planned-
  // partition counts; this oracle pins the rows.
  // ------------------------------------------------------------------
  private def statsTable(s: SparkSession, dir: String): String =
    stagedTable(s, dir, "stats_ev") {
      val p = eventsTable(s, "stats_ev", "")
      s.sql("ALTER TABLE graftq.stats_ev ADD COLUMN score DOUBLE")
      events4(s, dir)
        .withColumn("score",
          when(col("event_id") % 7 === 0, lit(null).cast("double"))
            .otherwise(col("value") * lit(0.5)))
        .repartitionByRange(6, col("score"))
        .sortWithinPartitions("score")
        .writeTo("graftq.stats_ev").append()
      p
    }

  def dsv2StatsEvolved(s: SparkSession, dir: String): DataFrame = {
    statsTable(s, dir)
    s.table("graftq.stats_ev")
      .filter(col("score") > 40.0)
      .orderBy(col("event_id"))
  }

  val dsv2StatsEvolvedSql: String =
    """SELECT event_id, user_id, value, event_type,
      |  value * 0.5 AS score
      |FROM events
      |WHERE event_id % 7 <> 0 AND value * 0.5 > 40.0
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // Two-column Z-order cluster (round 18, r17 verdict #8 stretch):
  // `CALL system.cluster(by => 'event_id,user_id')` interleaves
  // quantile-rank bits of both columns so every rewritten file is a
  // bounded RECTANGLE in the 2D domain — a conjunctive range query
  // opens ~1/N² of the landing (GraftLogSpec pins the planned-partition
  // skipping; this oracle pins the rows and the CALL surface).
  // ------------------------------------------------------------------
  private def mclTable(s: SparkSession, dir: String): Unit =
    freshTable(s, dir, "mcl_ev", "", Seq(events4(s, dir).repartition(5)))

  def dsv2ClusterMulti(s: SparkSession, dir: String): DataFrame = {
    mclTable(s, dir)
    s.sql("CALL graftq.system.cluster(table => 'mcl_ev', " +
      "by => 'event_id,user_id', target_mb => 1)").collect()
    s.table("graftq.mcl_ev")
      .filter(col("event_id") < 2500 && col("user_id") < 40)
      .orderBy(col("event_id"))
  }

  val dsv2ClusterMultiSql: String =
    """SELECT event_id, user_id, value, event_type FROM events
      |WHERE event_id < 2500 AND user_id < 40
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // Snapshot-history introspection under the oracle gate (round 17):
  // `CALL system.snapshots(table)` — Iceberg's snapshots metadata table
  // as a procedure. The fixture drives a deterministic commit sequence
  // (three 1-file appends, a copy-on-write DELETE that rewrites all
  // three files, a compaction that merges them to one) and the oracle
  // pins the folded history shape: version ordinals, base/delta cadence,
  // live/added/removed file counts per commit. Stamps are projected away
  // (wall-clock); everything else is deterministic, so a mis-applied
  // chain link or a wrong change record fails the hash.
  // ------------------------------------------------------------------
  /** Fixture = the deterministic commit sequence whose history is being
    * introspected. */
  private def snapTable(s: SparkSession, dir: String): String =
    stagedTable(s, dir, "snap_ev") {
      val ev = events4(s, dir)
      val p = eventsTable(s, "snap_ev", "",
        (0 until 3).map(k => ev.filter(col("event_id") % 3 === k).repartition(1)): _*)
      s.sql("DELETE FROM graftq.snap_ev WHERE event_type = 'click'")
      s.sql("CALL graftq.system.compact(table => 'snap_ev', target_mb => 1024)").collect()
      p
    }

  def dsv2Snapshots(s: SparkSession, dir: String): DataFrame = {
    // the timed operator is the snapshots procedure (a read-only walk of
    // the manifest chain)
    snapTable(s, dir)
    s.sql("CALL graftq.system.snapshots(table => 'snap_ev')")
      .drop("stamp").orderBy(col("version"))
  }

  // kind pins the base cadence too: a commit writes a BASE whenever the
  // full list is no bigger than its delta — the DELETE (3 removes + 3
  // adds vs a 3-file base) and the compaction (3+1 vs a 1-file base)
  // both roll a base; the appends stay O(change) deltas.
  val dsv2SnapshotsSql: String =
    """SELECT * FROM (VALUES
      |  (1, 'base',  1, 0, 1, 0),
      |  (2, 'delta', 2, 0, 1, 0),
      |  (3, 'delta', 3, 0, 1, 0),
      |  (4, 'base',  3, 0, 3, 3),
      |  (5, 'base',  1, 0, 1, 3)
      |) AS t(version, kind, live_files, delete_files, added_files, removed_files)
      |ORDER BY version""".stripMargin

  // ------------------------------------------------------------------
  // Zone-map file skipping under the oracle gate (round 17): the task
  // writers record per-file min/max of the numeric columns into the
  // manifest (Iceberg's per-file stats), and the scan drops files a
  // pushed range predicate provably cannot match — on a range-clustered
  // landing a selective range opens ~1/N of the files instead of all of
  // them, the classic data-skipping lever at 100 TB. The landing is
  // written range-partitioned on event_id so the zones are disjoint;
  // GraftLogSpec pins the planned-partition counts (including the
  // no-decode zone-map merge across compaction), this oracle pins the
  // rows.
  // ------------------------------------------------------------------
  private def statsLanding(s: SparkSession, dir: String): String =
    stagedLog(s, dir, "log_stats")(events4(s, dir)
      .repartitionByRange(6, col("event_id")).sortWithinPartitions("event_id"))

  def dsv2StatsPruned(s: SparkSession, dir: String): DataFrame = {
    s.read.format("graftlog").load(statsLanding(s, dir))
      .filter(col("event_id") < 2000 && col("value") >= 1.0d)
      .orderBy(col("event_id"))
  }

  val dsv2StatsPrunedSql: String =
    """SELECT event_id, user_id, value, event_type FROM events
      |WHERE event_id < 2000 AND value >= 1.0 ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // Metadata aggregates under the oracle gate (round 17): an unfiltered,
  // ungrouped COUNT/MIN/MAX over the zone-mapped columns is answered
  // from the manifest alone — the scan plans ONE partition carrying the
  // pre-merged partials and opens no data file (GraftLogSpec proves it
  // by unlinking the files and re-running). `SELECT count(*) FROM t` on
  // a 100 TB landing is a metadata operation, exactly Iceberg's
  // stats-served aggregates.
  // ------------------------------------------------------------------
  def dsv2AggStats(s: SparkSession, dir: String): DataFrame = {
    s.read.format("graftlog").load(logLanding4(s, dir))
      .agg(count(lit(1)).as("n"),
        min(col("event_id")).as("eid_min"), max(col("event_id")).as("eid_max"),
        min(col("user_id")).as("uid_min"), max(col("user_id")).as("uid_max"),
        min(col("value")).as("vmin"), max(col("value")).as("vmax"))
  }

  val dsv2AggStatsSql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  MIN(event_id) AS eid_min, MAX(event_id) AS eid_max,
      |  MIN(user_id) AS uid_min, MAX(user_id) AS uid_max,
      |  MIN(value) AS vmin, MAX(value) AS vmax
      |FROM events""".stripMargin

  // ------------------------------------------------------------------
  // Sort-rewrite clustering under the oracle gate (round 17): `CALL
  // system.cluster(table, by, target_mb)` range-repartitions the live
  // rows and rewrites the landing as files with DISJOINT zone maps —
  // the maintenance command that makes range predicates open ~1/N of a
  // hash-landed table. The fixture lands events hash-partitioned (every
  // file spans the whole event_id domain, zone maps prune nothing),
  // clusters by event_id, then range-scans; the oracle pins the rows and
  // GraftCatalogSpec pins the planned-file counts before/after.
  // ------------------------------------------------------------------
  /** Hash-landed: every file spans the whole event_id domain. */
  private def cluTable(s: SparkSession, dir: String): Unit =
    freshTable(s, dir, "clu_ev", "", Seq(events4(s, dir).repartition(6)))

  def dsv2Cluster(s: SparkSession, dir: String): DataFrame = {
    cluTable(s, dir)
    s.sql("CALL graftq.system.cluster(table => 'clu_ev', by => 'event_id', " +
      "target_mb => 1)").collect()
    s.sql("SELECT event_id, user_id, value, event_type FROM graftq.clu_ev " +
      "WHERE event_id < 2000 ORDER BY event_id")
  }

  val dsv2ClusterSql: String =
    """SELECT event_id, user_id, value, event_type FROM events
      |WHERE event_id < 2000 ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // Custom source, OFFSET pushdown (round 15): the SPI has no partial
  // variant, so the source claims OFFSET fully by collapsing the scan to
  // ONE sequential partition chaining files in publish order and skipping
  // the first k passing records before any row is built. The landing is
  // written range-partitioned + sorted by event_id, so publish order ==
  // event_id order and "skip the first 40" is oracle-expressible as
  // ORDER BY event_id OFFSET 40 in DuckDB. GraftLogSpec pins the
  // element-exact drop semantics; PlanShapeSpec pins offset-in-scan.
  // ------------------------------------------------------------------
  private def offsetLanding(s: SparkSession, dir: String): String =
    stagedLog(s, dir, "log_offset")(events4(s, dir)
      .repartitionByRange(3, col("event_id")).sortWithinPartitions("event_id"))

  def dsv2Offset(s: SparkSession, dir: String): DataFrame = {
    s.read.format("graftlog").load(offsetLanding(s, dir))
      .filter(col("event_type") === "purchase")
      .offset(40)
      .orderBy(col("event_id"))
  }

  val dsv2OffsetSql: String =
    """SELECT * FROM (
      |  SELECT event_id, user_id, value, event_type FROM events
      |  WHERE event_type = 'purchase' ORDER BY event_id OFFSET 40
      |) ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // Custom source, TopN pushdown (round 14): ORDER BY ... LIMIT k handled
  // INSIDE the source as a size-k bounded heap per file — the plan carries
  // NO full Sort over the scan, only Spark's global TakeOrdered over the
  // <= k*files per-file survivors (partial push: one task per file cannot
  // claim the global order). At 100 TB this is the difference between a
  // top-k probe that decodes-and-heaps in one sequential pass per file
  // and one that materializes + sorts every matching record. Pinned in
  // PlanShapeSpec; per-file heap honesty pinned in GraftLogSpec.
  // ------------------------------------------------------------------
  def dsv2TopN(s: SparkSession, dir: String): DataFrame = {
    val landing = logLanding4(s, dir)
    s.read.format("graftlog").load(landing)
      .filter(col("event_type") === "purchase")
      .orderBy(col("value").desc, col("event_id"))
      .limit(25)
  }

  val dsv2TopNSql: String =
    """SELECT event_id, user_id, value, event_type FROM events
      |WHERE event_type = 'purchase'
      |ORDER BY value DESC, event_id LIMIT 25""".stripMargin

  // ------------------------------------------------------------------
  // Custom source, aggregate pushdown (round 14): COUNT(*)/MIN/MAX with a
  // simple GROUP BY are computed per file inside the source's sequential
  // read (supportCompletePushDown=false — one task per file yields
  // partials), so Spark's merge aggregate receives O(files x groups)
  // partial rows instead of O(records): the map-side combine pushed all
  // the way into the scan. A telemetry rollup over a 100 TB landing then
  // ships kilobytes per file to the exchange. SUM is deliberately NOT
  // pushed (double addition order stays under Spark's decimal
  // discipline). Plan + scan-output-row-count pinned in the specs.
  // ------------------------------------------------------------------
  def dsv2Agg(s: SparkSession, dir: String): DataFrame = {
    val landing = logLanding4(s, dir)
    s.read.format("graftlog").load(landing)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("vmin"), max(col("value")).as("vmax"),
        min(col("event_id")).as("first_event"))
      .orderBy(col("event_type"))
  }

  val dsv2AggSql: String =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  MIN(value) AS vmin, MAX(value) AS vmax,
      |  MIN(event_id) AS first_event
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------------
  // Custom source, runtime filtering (round 14): the selective broadcast
  // dim side hands the graftlog scan its IN-set at execution time
  // (SupportsRuntimeV2Filtering — the BatchScan line shows RuntimeFilters:
  // [dynamicpruningexpression(user_id IN ...)]) and the reader drops
  // non-matching records during the decode, before the join ever probes
  // them — the join_bloom_runtime story extended from parquet to the
  // custom source. At 100 TB: scan output shrinks from every event to
  // only the filtered segment's events, for free, reusing the join's own
  // broadcast. Reduction only — the join above still applies the
  // condition, so a dropped filter can never change the answer.
  // ------------------------------------------------------------------
  def dsv2RuntimeFilter(s: SparkSession, dir: String): DataFrame = {
    val landing = logLanding4(s, dir)
    val dim = Tables.load(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    s.read.format("graftlog").load(landing)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))
      .orderBy(col("event_type"))
  }

  val dsv2RuntimeFilterSql: String =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |FROM events JOIN customer ON user_id = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------------
  // Custom sink, STREAMING half (round 14): the same bounded events slice
  // drained from a graftlog landing THROUGH the V2 StreamingWrite protocol
  // into a second landing — epoch-committed, replay-idempotent (a re-run
  // micro-batch replaces its epoch's files instead of duplicating them;
  // GraftLogSpec proves the restart + replay) — then read back in batch
  // and rolled up for the oracle. This closes the last unexercised V2
  // protocol corner from r13 (the write half was batch-only).
  // ------------------------------------------------------------------
  def dsv2StreamSink(s: SparkSession, dir: String): DataFrame = {
    // the INPUT landing is a staged input; the V2 StreamingWrite drain into
    // a fresh sink + checkpoint is the operator and re-runs per execution
    val in = logSlice(s, dir)
    val out = scratch("graft_log_sink_out")
    Streams.drain(s.readStream.format("graftlog").load(in), Streams.Sink.GraftLog(out),
      Trigger.AvailableNow())
    s.read.format("graftlog").load(out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))
      .orderBy(col("event_type"))
  }

  val dsv2StreamSinkSql: String =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |FROM events WHERE event_id < 20000
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------------
  // Custom sink, COMPLETE output mode (round 14): a streaming aggregation
  // written through the V2 StreamingWrite with truncate-per-epoch
  // snapshot semantics (Spark routes Complete through SupportsTruncate).
  // maxFilesPerTrigger=1 forces multiple epochs, so the read-back equals
  // the oracle ONLY if every epoch actually REPLACED the landing — an
  // append-instead-of-replace regression multiplies the snapshot rows and
  // fails the row-count compare. The aggregate is projected into the
  // log's fixed schema (count -> event_id slot etc.) and renamed on
  // read-back.
  // ------------------------------------------------------------------
  /** Two input files x one-file triggers = two data epochs: the minimum
    * that PROVES replacement (epoch 2's snapshot must replace epoch 1's)
    * without paying fixture-scale per-epoch machinery twice more. */
  private def completeLanding(s: SparkSession, dir: String): String =
    stagedLog(s, dir, "log_complete_in")(
      events4(s, dir).filter(col("event_id") < 20000).repartition(2))

  def dsv2StreamComplete(s: SparkSession, dir: String): DataFrame = {
    // the INPUT landing is a staged input; the truncate-per-epoch drain
    // into a fresh sink + checkpoint is the operator, per execution
    val in = completeLanding(s, dir)
    val out = scratch("graft_log_complete_out")
    val agg = s.readStream.format("graftlog")
      .option("maxFilesPerTrigger", "1").load(in)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("event_id"), min(col("user_id")).as("user_id"),
        max(col("value")).as("value"))
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
    Streams.drain(agg, Streams.Sink.GraftLog(out), Trigger.AvailableNow(), OutputMode.Complete())
    s.read.format("graftlog").load(out)
      .select(col("event_type"), col("event_id").as("n"),
        col("user_id").as("min_user"), col("value").as("max_value"))
      .orderBy(col("event_type"))
  }

  val dsv2StreamCompleteSql: String =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  MIN(user_id) AS min_user, MAX(value) AS max_value
      |FROM events WHERE event_id < 20000
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------------
  // Custom source, STREAMING half (round 13): the same graftlog landing
  // drained as a micro-batch stream — offsets are the discovered file-name
  // set (the Kafka-shaped contract: named positions in an append-only log,
  // checkpoint-resumable exactly-once; GraftLogSpec proves the restart) —
  // through a stateful keyed aggregation to the memory sink. Bounded slice
  // (event_id < 20000) like every streamed landing, identical bound in the
  // oracle; decimal-accumulate / double-render house discipline.
  // ------------------------------------------------------------------
  def dsv2StreamSource(s: SparkSession, dir: String): DataFrame = {
    val agg = s.readStream.format("graftlog").load(logSlice(s, dir))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))
    Streams.runToCompletion(agg, OutputMode.Complete())
      .orderBy(col("event_type"))
  }

  val dsv2StreamSourceSql: String =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |FROM events WHERE event_id < 20000
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------------
  // Changelog read (round 19, r18 verdict #2): TABLE CHANGES between two
  // snapshots — Delta CDF / Iceberg changelog-scan, derived from the
  // manifest chain's eq-delete records. The fixture streams the events
  // slice into a snapshot-retaining catalog table through the native
  // upsert sink (snapshot s1), streams a correction wave for every fifth
  // key, compacts MID-WINDOW (the changelog must see through the rewrite
  // — its segment maps make it net-zero), and reads the changes: each
  // corrected key appears exactly twice, its original row as 'delete'
  // and its corrected row as 'insert'. `_change_stamp` is wall-clock and
  // projected away for the oracle.
  // ------------------------------------------------------------------
  def dsv2Changes(s: SparkSession, dir: String): DataFrame = {
    // the timed operator is the changelog DERIVATION itself (readChanges
    // over the manifest chain), which re-runs every execution
    val (sink, s1, s2) = changesFixture(s, dir)
    graft.sources.GraftLog.readChanges(s, sink, s1, s2)
      .select(col("event_id"), col("user_id"), col("value"),
        col("event_type"), col("_change_type"))
      .orderBy(col("_change_type"), col("event_id"))
  }

  /** The standing table both changelog queries read, a staged input: the
    * upsert-stream ingest history of the events slice into the
    * snapshot-retaining catalog table `cdf_ev` (baseline wave, a correction
    * wave for every fifth key, mid-window compaction). Returns the table
    * path and the window's two snapshot stamps. */
  private def changesFixture(s: SparkSession, dir: String)
      : (String, java.lang.Long, java.lang.Long) =
    stagedTable(s, dir, "cdf_ev") {
      val snk = eventsTable(s, "cdf_ev", Retain)
      val src = scratch("graft_cdf_src")
      val ckpt = graft.Scratch.streamCkptDir("graft_cdf_ckpt")
      val ev = events4(s, dir).filter(col("event_id") < 30000)
      ev.repartition(2).write.format("graftlog").mode("append").save(src)
      upsertDrain(s, src, snk, "event_id", ckpt) // wave 1: the baseline snapshot
      val a = graft.sources.GraftLog.latestSnapshotStamp(snk)
      ev.filter(col("event_id") % 5 === 0)
        .withColumn("value", col("value") * 2)
        .withColumn("event_type", lit("fix"))
        .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
        .repartition(1).write.format("graftlog").mode("append").save(src)
      // wave 2: keyed corrections (the change window's content)
      upsertDrain(s, src, snk, "event_id", ckpt)
      s.sql("CALL graftq.system.compact(table => 'cdf_ev')").collect()
      val b = graft.sources.GraftLog.latestSnapshotStamp(snk)
      (snk, java.lang.Long.valueOf(a), java.lang.Long.valueOf(b))
    }

  val dsv2ChangesSql: String =
    """SELECT event_id, user_id, value, event_type, _change_type FROM (
      |  SELECT event_id, user_id, value * 2 AS value, 'fix' AS event_type,
      |         'insert' AS _change_type
      |  FROM events WHERE event_id < 30000 AND event_id % 5 = 0
      |  UNION ALL
      |  SELECT event_id, user_id, value, event_type,
      |         'delete' AS _change_type
      |  FROM events WHERE event_id < 30000 AND event_id % 5 = 0
      |) ORDER BY _change_type, event_id""".stripMargin

  // ------------------------------------------------------------------
  // Changelog as a native STREAMING source (round 20, r19 verdict next
  // #6): the same correction window as scan_dsv2_changes, but consumed
  // via `readStream.option("readChanges", "true")` — offset = snapshot
  // stamp, the AvailableNow drain over the closed window re-derives the
  // identical typed feed the batch reader computes (the spec also pins
  // restart exactly-once). The mid-window compaction is kept: insert
  // partitions suppress pre-window/replay segments by origin stamp, so
  // the stream sees through the rewrite like the batch surface.
  // ------------------------------------------------------------------
  def dsv2StreamChanges(s: SparkSession, dir: String): DataFrame = {
    // the standing table is scan_dsv2_changes' fixture; the timed operator
    // is the changelog STREAM (fresh checkpoint + memory sink per execution)
    val (sink, s1, _) = changesFixture(s, dir)
    val changes = s.readStream.format("graftlog")
      .option("readChanges", "true").option("changesFrom", s1)
      .load(sink)
    Streams.runToCompletion(changes, OutputMode.Append(), Trigger.AvailableNow())
      .select(col("event_id"), col("user_id"), col("value"),
        col("event_type"), col("_change_type"))
      .orderBy(col("_change_type"), col("event_id"))
  }

  val dsv2StreamChangesSql: String =
    """SELECT event_id, user_id, value, event_type, _change_type FROM (
      |  SELECT event_id, user_id, value * 2 AS value, 'fix' AS event_type,
      |         'insert' AS _change_type
      |  FROM events WHERE event_id < 30000 AND event_id % 5 = 0
      |  UNION ALL
      |  SELECT event_id, user_id, value, event_type,
      |         'delete' AS _change_type
      |  FROM events WHERE event_id < 30000 AND event_id % 5 = 0
      |) ORDER BY _change_type, event_id""".stripMargin

  // ------------------------------------------------------------------
  // Typed changelog with UPDATE images (round 20, r19 verdict missing
  // #1): Delta-CDF-style `update_preimage`/`update_postimage` rows. The
  // fixture streams a baseline through the upsert sink, then in one
  // window (a) corrects every fifth key (typed as update pre/post
  // images), (b) appends a disjoint fresh wave (typed `insert`), and
  // (c) runs a merge-on-read DELETE (typed `delete` — keys removed
  // without replacement, including corrected keys whose replacement the
  // delete killed in-window: NET leaves only the FROM row as a delete,
  // and a fresh row born and killed in-window appears on neither side).
  // ------------------------------------------------------------------
  /** Fixture = the standing-table history (baseline, correction + insert
    * waves, MoR DELETE); returns the table path and the window's stamps. */
  private def changesUFixture(s: SparkSession, dir: String)
      : (String, java.lang.Long, java.lang.Long) =
    stagedTable(s, dir, "cdfu_ev") {
      val snk = eventsTable(s, "cdfu_ev",
        "TBLPROPERTIES ('snapshot.retain'='true', 'delete.mode'='merge-on-read')")
      val src = scratch("graft_cdfu_src")
      val ckpt = graft.Scratch.streamCkptDir("graft_cdfu_ckpt")
      val ev = events4(s, dir).filter(col("event_id") < 30000)
      def drain(): Unit = upsertDrain(s, src, snk, "event_id", ckpt)
      ev.repartition(2).write.format("graftlog").mode("append").save(src)
      drain() // baseline
      val a = graft.sources.GraftLog.latestSnapshotStamp(snk)
      ev.filter(col("event_id") % 5 === 0) // corrections: update images
        .withColumn("value", col("value") * 2)
        .withColumn("event_type", lit("fix"))
        .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
        .repartition(1).write.format("graftlog").mode("append").save(src)
      ev.withColumn("event_id", col("event_id") + 1000000L) // fresh inserts
        .repartition(1).write.format("graftlog").mode("append").save(src)
      drain()
      s.sql("DELETE FROM graftq.cdfu_ev WHERE event_id % 11 = 1")
      val b = graft.sources.GraftLog.latestSnapshotStamp(snk)
      (snk, java.lang.Long.valueOf(a), java.lang.Long.valueOf(b))
    }

  def dsv2ChangesU(s: SparkSession, dir: String): DataFrame = {
    // the timed operator is the typed changelog derivation (readChanges
    // with update images) over the fixture's window
    val (sink, s1, s2) = changesUFixture(s, dir)
    graft.sources.GraftLog.readChanges(s, sink, s1, s2,
        updateImages = true)
      .select(col("event_id"), col("user_id"), col("value"),
        col("event_type"), col("_change_type"))
      .orderBy(col("_change_type"), col("event_id"))
  }

  val dsv2ChangesUSql: String =
    """SELECT event_id, user_id, value, event_type, _change_type FROM (
      |  SELECT event_id, user_id, value, event_type,
      |         'update_preimage' AS _change_type
      |  FROM events
      |  WHERE event_id < 30000 AND event_id % 5 = 0 AND event_id % 11 <> 1
      |  UNION ALL
      |  SELECT event_id, user_id, value * 2 AS value, 'fix' AS event_type,
      |         'update_postimage'
      |  FROM events
      |  WHERE event_id < 30000 AND event_id % 5 = 0 AND event_id % 11 <> 1
      |  UNION ALL
      |  SELECT event_id, user_id, value, event_type, 'delete'
      |  FROM events WHERE event_id < 30000 AND event_id % 11 = 1
      |  UNION ALL
      |  SELECT event_id + 1000000 AS event_id, user_id, value, event_type,
      |         'insert'
      |  FROM events
      |  WHERE event_id < 30000 AND (event_id + 1000000) % 11 <> 1
      |) ORDER BY _change_type, event_id""".stripMargin

  // ------------------------------------------------------------------
  // Column RENAME via stable slot ids (round 19, r18 verdict #5): the
  // record tail and the manifest's W zone-map tokens are positional by
  // SLOT, so a rename is metadata-only — records written under the OLD
  // name read through the NEW one, with the slot-indexed zone maps still
  // pruning. The fixture writes one wave under `score`, renames to
  // `quality`, writes a second wave under the new name with a DIFFERENT
  // formula, and filters on `quality`: both generations must answer.
  // ------------------------------------------------------------------
  private def renTable(s: SparkSession, dir: String): String =
    stagedTable(s, dir, "ren_ev") {
      val p = eventsTable(s, "ren_ev", "")
      s.sql("ALTER TABLE graftq.ren_ev ADD COLUMN score DOUBLE")
      val ev = events4(s, dir).filter(col("event_id") < 30000)
      ev.filter(col("event_id") % 2 === 0)
        .withColumn("score",
          when(col("event_id") % 7 === 0, lit(null).cast("double"))
            .otherwise(col("value") * lit(0.5)))
        .repartitionByRange(4, col("score")).sortWithinPartitions("score")
        .writeTo("graftq.ren_ev").append()
      s.sql("ALTER TABLE graftq.ren_ev RENAME COLUMN score TO quality")
      ev.filter(col("event_id") % 2 === 1)
        .withColumn("quality", col("value") * lit(0.25))
        .repartitionByRange(4, col("quality")).sortWithinPartitions("quality")
        .writeTo("graftq.ren_ev").append()
      p
    }

  def dsv2Renamed(s: SparkSession, dir: String): DataFrame = {
    renTable(s, dir)
    s.table("graftq.ren_ev")
      .filter(col("quality") > 40.0)
      .orderBy(col("event_id"))
  }

  val dsv2RenamedSql: String =
    """SELECT event_id, user_id, value, event_type,
      |  CASE WHEN event_id % 2 = 0 THEN value * 0.5
      |       ELSE value * 0.25 END AS quality
      |FROM events
      |WHERE event_id < 30000
      |  AND CASE WHEN event_id % 2 = 0
      |        THEN event_id % 7 <> 0 AND value * 0.5 > 40.0
      |        ELSE value * 0.25 > 40.0 END
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // Writable branches (round 19, r18 verdict #7; de-collected round 20,
  // the r19 verdict's one weak component): write-audit-publish. The
  // fixture appends the even keys to main, forks a branch, STAGES the
  // odd keys onto it, publishes, and reads all three observable states —
  // main while staged (evens only: isolation), the branch view (all
  // rows), and main after the atomic fast-forward publish (all rows).
  // The table RETAINS snapshots, so the pre-publish states are LAZY
  // time-travel reads pinned to captured snapshot stamps — zero
  // driver-side collect in the pipeline (the old form materialized the
  // full table on the driver, a scale-killer at 100x). Phase a is
  // pinned to main's tip stamp during staging (branch staging commits
  // nothing to main — that IS the isolation claim); the branch's
  // content becomes main's tip at the fast-forward publish, so phase b
  // reads the retained publish snapshot — the branch view, lazily.
  // ------------------------------------------------------------------
  /** Fixture = the write-audit-publish commit SEQUENCE (append, branch,
    * staged append, publish) whose three observable states the query
    * reads; returns the table path, main's stamp while staged and the
    * publish stamp. */
  private def branchFixture(s: SparkSession, dir: String)
      : (String, java.lang.Long, java.lang.Long) =
    stagedTable(s, dir, "br_ev") {
      val ev = events4(s, dir).filter(col("event_id") < 30000)
      val snk = eventsTable(s, "br_ev", Retain, ev.filter(col("event_id") % 2 === 0))
      val staged = graft.sources.GraftLog.latestSnapshotStamp(snk)
      s.sql("CALL graftq.system.branch(table => 'br_ev', name => 'fix')").collect()
      ev.filter(col("event_id") % 2 === 1)
        .writeTo("graftq.br_ev").option("branch", "fix").append()
      s.sql("CALL graftq.system.publish_branch(table => 'br_ev', name => 'fix')").collect()
      val pub = graft.sources.GraftLog.latestSnapshotStamp(snk)
      (snk, java.lang.Long.valueOf(staged), java.lang.Long.valueOf(pub))
    }

  def dsv2Branch(s: SparkSession, dir: String): DataFrame = {
    // the timed operator is the stamp-pinned three-phase read
    val (sink, stagedStamp, publishStamp) = branchFixture(s, dir)
    def phase(stamp: Long, label: String) =
      s.read.format("graftlog").option("asOfStamp", stamp).load(sink)
        .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
        .withColumn("phase", lit(label))
    phase(stagedStamp, "a_staged_main")
      .unionByName(phase(publishStamp, "b_branch"))
      .unionByName(s.table("graftq.br_ev").withColumn("phase", lit("c_published")))
      .orderBy(col("phase"), col("event_id"))
  }

  val dsv2BranchSql: String =
    """SELECT event_id, user_id, value, event_type, phase FROM (
      |  SELECT event_id, user_id, value, event_type,
      |         'a_staged_main' AS phase
      |  FROM events WHERE event_id < 30000 AND event_id % 2 = 0
      |  UNION ALL
      |  SELECT event_id, user_id, value, event_type, 'b_branch'
      |  FROM events WHERE event_id < 30000
      |  UNION ALL
      |  SELECT event_id, user_id, value, event_type, 'c_published'
      |  FROM events WHERE event_id < 30000
      |) ORDER BY phase, event_id""".stripMargin

  val queries: Map[String, Query] = Map(
    "scan_dsv2_branch" -> Query(dsv2Branch _, dsv2BranchSql, branchFixture _),
    "scan_dsv2_renamed" -> Query(dsv2Renamed _, dsv2RenamedSql, renTable _),
    "scan_dsv2_changes" -> Query(dsv2Changes _, dsv2ChangesSql, changesFixture _),
    "scan_dsv2_changes_u" -> Query(dsv2ChangesU _, dsv2ChangesUSql, changesUFixture _),
    "stream_dsv2_upsert_ck" -> Query(dsv2StreamUpsertCk _, dsv2StreamUpsertCkSql),
    "stream_dsv2_changes" -> Query(dsv2StreamChanges _, dsv2StreamChangesSql, changesFixture _),
    "json_roundtrip" -> Query(jsonRoundtrip _, jsonRoundtripSql),
    "orc_roundtrip" -> Query(orcRoundtrip _, orcRoundtripSql),
    "scan_partition_pruned" -> Query(partitionPruned _, partitionPrunedSql, partLanding _),
    "storage_partition_prune" -> Query(datePartitionPrune _, datePartitionPruneSql,
      datePartLanding _),
    "scan_range_clustered" -> Query(rangeClusteredScan _, rangeClusteredScanSql, rangeLanding _),
    "scan_zorder" -> Query(zorderScan _, zorderScanSql, zorderLanding _),
    "join_bucketed" -> Query(bucketedJoin _, bucketedJoinSql, bucketedTables _),
    "scan_dsv2_pushdown" -> Query(dsv2Pushdown _, dsv2PushdownSql, logLanding _),
    "scan_dsv2_or" -> Query(dsv2OrPushdown _, dsv2OrPushdownSql, logLanding4 _),
    "scan_dsv2_offset" -> Query(dsv2Offset _, dsv2OffsetSql, offsetLanding _),
    "pipeline_dsv2_flagship" -> Query(dsv2Flagship _, dsv2FlagshipSql),
    "join_dsv2_partitioned" -> Query(dsv2PartitionedJoin _, dsv2PartitionedJoinSql, spjTables _),
    "scan_dsv2_meta" -> Query(dsv2Meta _, dsv2MetaSql, metaTable _),
    "scan_dsv2_since" -> Query(dsv2Since _, dsv2SinceSql, sinceLanding _),
    "call_dsv2_compact" -> Query(dsv2Compact _, dsv2CompactSql, cmpTable _),
    "call_dsv2_expire" -> Query(dsv2Expire _, dsv2ExpireSql, expireLanding _),
    "delete_dsv2_rewrite" -> Query(dsv2Delete _, dsv2DeleteSql, delTable _),
    "delete_dsv2_mor" -> Query(dsv2DeleteMor _, dsv2DeleteMorSql, morTable _),
    "scan_dsv2_since_compact" -> Query(dsv2SinceCompact _, dsv2SinceCompactSql, sincecTable _),
    "scan_dsv2_evolved" -> Query(dsv2Evolved _, dsv2EvolvedSql, evoTable _),
    "scan_dsv2_asof" -> Query(dsv2AsOf _, dsv2AsOfSql, asofTable _),
    "scan_dsv2_asof_retained" -> Query(dsv2AsOfRetained _, dsv2AsOfRetainedSql, retTable _),
    "scan_dsv2_concurrent" -> Query(dsv2Concurrent _, dsv2ConcurrentSql),
    "scan_dsv2_chain" -> Query(dsv2Chain _, dsv2ChainSql, chainLanding _),
    "stream_dsv2_compact" -> Query(dsv2StreamCompact _, dsv2StreamCompactSql),
    "stream_dsv2_upsert" -> Query(dsv2StreamUpsert _, dsv2StreamUpsertSql),
    "scan_dsv2_stats_evolved" -> Query(dsv2StatsEvolved _, dsv2StatsEvolvedSql, statsTable _),
    "call_dsv2_cluster_multi" -> Query(dsv2ClusterMulti _, dsv2ClusterMultiSql, mclTable _),
    "call_dsv2_snapshots" -> Query(dsv2Snapshots _, dsv2SnapshotsSql, snapTable _),
    "scan_dsv2_stats_pruned" -> Query(dsv2StatsPruned _, dsv2StatsPrunedSql, statsLanding _),
    "agg_dsv2_stats" -> Query(dsv2AggStats _, dsv2AggStatsSql, logLanding4 _),
    "call_dsv2_cluster" -> Query(dsv2Cluster _, dsv2ClusterSql, cluTable _),
    "update_dsv2_rewrite" -> Query(dsv2Update _, dsv2UpdateSql, updTable _),
    "update_dsv2_mor" -> Query(dsv2UpdateMor _, dsv2UpdateMorSql, updmTable _),
    "merge_dsv2_upsert" -> Query(dsv2Merge _, dsv2MergeSql, mrgTable _),
    "merge_dsv2_mor" -> Query(dsv2MergeMor _, dsv2MergeMorSql, mrgmTable _),
    "scan_dsv2_topn" -> Query(dsv2TopN _, dsv2TopNSql, logLanding4 _),
    "scan_dsv2_agg" -> Query(dsv2Agg _, dsv2AggSql, logLanding4 _),
    "join_dsv2_runtime" -> Query(dsv2RuntimeFilter _, dsv2RuntimeFilterSql, logLanding4 _),
    "stream_dsv2_source" -> Query(dsv2StreamSource _, dsv2StreamSourceSql, logSlice _),
    "stream_dsv2_sink" -> Query(dsv2StreamSink _, dsv2StreamSinkSql, logSlice _),
    "stream_dsv2_complete" -> Query(dsv2StreamComplete _, dsv2StreamCompleteSql, completeLanding _))
}
