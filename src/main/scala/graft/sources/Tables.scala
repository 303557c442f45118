package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types._

/** Typed loaders for the driver-shipped fixture tables
  * (`/root/testdata/sf*`, see TESTDATA.md / FIXTURES.md §B).
  *
  * The declared schemas below are the contract every query is written
  * against (SURVEY.md §1.4: the reference's schema-on-read `pd.read_csv`,
  * trading212.py:108, becomes explicit `StructType`s). They serve as
  * documentation, as anchors for the typed Dataset views and as a guard:
  * `load` fails fast when the on-disk schema lacks a declared column.
  *
  * The physical schema comes from ONE parquet footer, read on the driver
  * ([[footerSchema]]), and the scan is handed that schema. A plain
  * `spark.read.parquet` infers it instead, which submits a one-task Spark
  * job per load — a fixed cost paid before every plan that reads a
  * fixture. The footer is converted by the same Spark routine inference
  * uses, under the session's conf, so Spark's own row metadata, the
  * nanos-as-long timestamps and TIMESTAMP_NTZ come out exactly as
  * inference gives them. The file is the one inference reads: the table
  * file itself, or the first data file in path order of a Spark-written
  * directory (which holds no parquet summary file). Catalyst's
  * vectorized reader, column pruning and row-group pushdown do the rest.
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

  private[graft] val expected: Map[String, StructType] = Map(
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
    val path = s"$sfDir/$name.parquet"
    val conf = spark.sessionState.newHadoopConf()
    val first = dataFiles(conf, path).headOption.getOrElse(
      throw new IllegalArgumentException(s"table $name: no parquet data file at $path"))
    val raw = spark.read.schema(footerSchema(spark, conf, first)).parquet(path)
    val tsCols = expected.get(name).toSeq.flatMap(_.fields)
      .collect { case f if f.dataType == TimestampType && raw.columns.contains(f.name) => f.name }
    val df = tsCols.foldLeft(raw)((d, c) => normalizeTs(d, c))
    expected.get(name).foreach { schema =>
      val missing = schema.fieldNames.toSet -- df.columns.toSet
      require(missing.isEmpty, s"table $name missing columns: $missing")
    }
    df
  }

  /** The parquet data files of `path`, in the order Spark's schema
    * inference considers them: the file itself, or the directory's
    * visible files (Spark's listing skips `_`- and `.`-prefixed names:
    * `_SUCCESS`, checksums) sorted by path. Empty if `path` is missing. */
  private def dataFiles(conf: Configuration, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    try {
      val top = fs.getFileStatus(p)
      if (!top.isDirectory) Seq(top)
      else fs.listStatus(p).toSeq
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
        .sortBy(_.getPath.toString)
    } catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** The Spark schema of one parquet file, from its footer alone: the
    * conversion schema inference applies to the file it picks, with the
    * session's parquet conf, and no Spark job. */
  private def footerSchema(spark: SparkSession, conf: Configuration,
      file: FileStatus): StructType = {
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Events as a file STREAM with the same type-adaptive `ts` handling as
    * the batch [[load]]. Structured Streaming requires an explicit schema,
    * so this reads the physical `ts` type from the files' footers,
    * mirrors the physical `ts` type into the stream schema, then normalizes
    * to canonical TimestampType — the four real-streaming queries share this
    * instead of hard-coding a physical type that the next fixture
    * regeneration invalidates. */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    requireNanosAsLong(spark)
    val streamSchema = StructType(events.map(f =>
      if (f.name == "ts") StructField("ts", eventsStreamTs(spark, sfDir)) else f))
    normalizeTs(spark.readStream.schema(streamSchema).parquet(s"$sfDir/events.parqu*"), "ts")
  }

  /** The physical `ts` type of the events stream's files, a staged input
    * that a query streaming through [[eventsStream]] declares in its
    * `prepare`. */
  def eventsStreamTs(spark: SparkSession, sfDir: String): DataType = {
    // Peek the schema over the SAME glob the stream reads (round-9 advice:
    // peeking events.parquet alone while streaming events.parqu* mirrors
    // the wrong physical type if the glob ever matches files from a
    // different writer generation), and assert the matched files agree on
    // one physical ts type — mixed generations under ONE stream schema
    // would silently misread some files, which is exactly the drift
    // normalizeTs exists to absorb, so fail loudly instead.
    // The peek costs a driver-side listing and one footer read per file
    // (no Spark job), and a fixture dir's physical layout cannot change
    // within a session, so the physical ts type is a staged input: paid
    // once, not once per streaming query execution.
    val glob = s"$sfDir/events.parqu*"
    graft.Scratch.staged(spark, sfDir, "events_stream_ts") {
      val conf = spark.sessionState.newHadoopConf()
      val matched = GraftFs.listNames(sfDir).filter(_.startsWith("events.parqu"))
        .sorted.flatMap(n => dataFiles(conf, GraftFs.child(sfDir, n)))
      require(matched.nonEmpty, s"events stream glob $glob matches no files")
      val perFile = matched.map(f => footerSchema(spark, conf, f)("ts").dataType).distinct
      require(perFile.size == 1,
        s"events stream glob $glob matches files with mixed physical ts types " +
          s"(${perFile.mkString(", ")}); one stream schema cannot read them all — " +
          "split the landing by writer generation")
      perFile.head
    }
  }
}
