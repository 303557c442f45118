package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types._

/** Typed loaders for the driver-shipped fixture tables
  * (`/root/testdata/sf*`, see TESTDATA.md / FIXTURES.md §B).
  *
  * Schemas are declared explicitly — never inferred — mirroring the survey's
  * conclusion (SURVEY.md §1.4) that the reference's schema-on-read
  * (`pd.read_csv`, trading212.py:108) must become explicit `StructType`s at
  * 100 TB scale: inference requires an extra pass over data and is
  * nondeterministic under schema drift.
  *
  * All loaders are thin `spark.read.parquet` wrappers: Parquet footers carry
  * the physical schema, and Catalyst's vectorized reader + column pruning +
  * row-group predicate pushdown do the heavy lifting. The explicit schemas
  * below serve as (a) documentation, (b) compile-time anchors for the typed
  * Dataset views, and (c) a guard: `load` verifies the on-disk schema contains
  * the expected columns so drift fails fast instead of mid-query.
  */
object Tables {

  val region = StructType(Seq(
    StructField("r_regionkey", IntegerType), StructField("r_name", StringType)))

  val nation = StructType(Seq(
    StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val customer = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val supplier = StructType(Seq(
    StructField("s_suppkey", LongType), StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType)))

  val part = StructType(Seq(
    StructField("p_partkey", LongType), StructField("p_name", StringType),
    StructField("p_brand", StringType), StructField("p_type", StringType),
    StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType)))

  val orders = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))

  val lineitem = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  val events = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  val documents = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddings = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  private val expected: Map[String, StructType] = Map(
    "region" -> region, "nation" -> nation, "customer" -> customer,
    "supplier" -> supplier, "part" -> part, "orders" -> orders,
    "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
    "embeddings" -> embeddings)

  /** Load + spread a fixture table across the executor threads.
    *
    * The driver-shipped fixtures are SINGLE-ROW-GROUP parquet files, which
    * caps scan parallelism at 1 task no matter how
    * spark.sql.files.maxPartitionBytes is set — so any compute-heavy narrow
    * chain (regex normalization, md5 signatures, per-row hashing) would run
    * single-threaded. This loader round-robins the rows across
    * defaultParallelism partitions right after the scan. On a production
    * many-file/many-row-group layout the scan parallelizes naturally and
    * this exchange is a cheap rebalance of already-distributed data; use
    * plain `load` for queries whose first operation is itself a shuffle
    * (aggregate/join on a key), where the extra exchange buys nothing.
    */
  def loadParallel(spark: SparkSession, sfDir: String, name: String): DataFrame =
    load(spark, sfDir, name).repartition(spark.sparkContext.defaultParallelism)

  /** Normalize a physically-varying timestamp column to session-local
    * TimestampType (the engine's canonical time type; the session runs UTC so
    * wall-clock is preserved in every branch).
    *
    * A 100 TB lake accumulates files from multiple writer generations, and
    * the physical type of a "timestamp" column drifts across them — the
    * driver fixtures themselves have shipped `ts` as Parquet TIMESTAMP(NANOS)
    * (which Spark 4 only reads as nanos-since-epoch long under the legacy
    * conf), as TIMESTAMP(isAdjustedToUTC=false) (surfaced as TIMESTAMP_NTZ),
    * and could ship instant-semantics TIMESTAMP next. The reader, not every
    * downstream query, owns absorbing that drift:
    *   - LongType (nanos-as-long)  -> truncate to micros, the same ns->us
    *     truncation DuckDB applies, so the oracle sees identical values;
    *   - TIMESTAMP_NTZ             -> reinterpret the wall-clock as UTC
    *     (cast under the UTC session), identical rendered values to DuckDB's
    *     naive TIMESTAMP read of the same file;
    *   - TimestampType             -> already canonical. */
  private[graft] def normalizeTs(df: DataFrame, colName: String): DataFrame =
    df.schema(colName).dataType match {
      case LongType =>
        df.withColumn(colName, expr(s"timestamp_micros($colName div 1000)"))
      case TimestampNTZType =>
        df.withColumn(colName, df.col(colName).cast(TimestampType))
      case _ => df
    }

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Part of the session contract (graft.Sessions sets it at build time):
    * the conf is read when the lazy scan executes, so a reader that set it
    * here would change the caller's session for good, and one that
    * restored it afterwards would race the action. */
  private def requireNanosAsLong(spark: SparkSession): Unit =
    require(spark.conf.get(NanosAsLong) == "true",
      s"$NanosAsLong must be true before a fixture timestamp is read; " +
        "build the session with graft.Sessions")

  /** Load a fixture table. Fails fast if a declared column is missing.
    * EVERY declared-timestamp column (events.ts, orders.o_orderdate,
    * lineitem.l_shipdate) is normalized to canonical TimestampType
    * whatever its physical parquet type (see [[normalizeTs]]) — round 8
    * proved the fixture's physical time type changes across writer
    * generations, and only events happened to be hit that time. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // the legacy conf must be on BEFORE the read for any table whose
    // declared schema carries a timestamp — a NANOS-generation file throws
    // PARQUET_TYPE_ILLEGAL at scan time otherwise, before normalizeTs can
    // see it (gating this on events-only was the round-9 review's catch:
    // a NANOS o_orderdate would have crashed every orders query).
    if (expected.get(name).exists(_.fields.exists(_.dataType == TimestampType)))
      requireNanosAsLong(spark)
    val raw = spark.read.parquet(s"$sfDir/$name.parquet")
    val tsCols = expected.get(name).toSeq.flatMap(_.fields)
      .collect { case f if f.dataType == TimestampType && raw.columns.contains(f.name) => f.name }
    val df = tsCols.foldLeft(raw)((d, c) => normalizeTs(d, c))
    expected.get(name).foreach { schema =>
      val missing = schema.fieldNames.toSet -- df.columns.toSet
      require(missing.isEmpty, s"table $name missing columns: $missing")
    }
    df
  }

  /** Events as a file STREAM with the same type-adaptive `ts` handling as
    * the batch [[load]]. Structured Streaming requires an explicit schema,
    * so this peeks the parquet footer via a batch read (metadata-only),
    * mirrors the physical `ts` type into the stream schema, then normalizes
    * to canonical TimestampType — the four real-streaming queries share this
    * instead of hard-coding a physical type that the next fixture
    * regeneration invalidates. */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    requireNanosAsLong(spark)
    // Peek the schema over the SAME glob the stream reads (round-9 advice:
    // peeking events.parquet alone while streaming events.parqu* mirrors
    // the wrong physical type if the glob ever matches files from a
    // different writer generation), and assert the matched files agree on
    // one physical ts type — mixed generations under ONE stream schema
    // would silently misread some files, which is exactly the drift
    // normalizeTs exists to absorb, so fail loudly instead.
    // The peek costs a driver-side listing and one footer read per file,
    // and a fixture dir's physical layout cannot change within a session,
    // so the physical ts type is a staged input: paid once, not once per
    // streaming query execution.
    val glob = s"$sfDir/events.parqu*"
    val physicalTs = graft.Scratch.staged(spark, sfDir, "events_stream_ts") {
      val peek = spark.read.parquet(glob)
      val top = peek.schema("ts").dataType
      val perFile = peek.inputFiles.toSeq
        .map(p => spark.read.parquet(p).schema("ts").dataType).distinct
      require(perFile.forall(_ == top),
        s"events stream glob $glob matches files with mixed physical ts types " +
          s"(${perFile.mkString(", ")}); one stream schema cannot read them all — " +
          "split the landing by writer generation")
      top
    }
    val streamSchema = StructType(events.map(f =>
      if (f.name == "ts") StructField("ts", physicalTs) else f))
    normalizeTs(spark.readStream.schema(streamSchema).parquet(glob), "ts")
  }
}
