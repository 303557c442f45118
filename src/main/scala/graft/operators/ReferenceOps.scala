package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import scala.annotation.unused

/** Reference-derived operator queries (SURVEY.md §2.1-§2.9): every
  * relational operation the reference performs, re-expressed Spark-first and
  * oracle-checked. The flagship pipeline covers P1-P8, F2, D1, U1/U2, O1, K1
  * in one composed plan; the remaining reference operators get focused
  * queries here.
  */
object ReferenceOps extends QueryModule {

  // ------------------------------------------------------------------
  // S6: ingestion window generator (trading212.py:11-14, 86-97).
  // The reference's imperative while-loop becomes a declarative
  // sequence+explode: one row per contiguous 365-day window, with the
  // reference's exact boundary stamping (timeTo = start+364d @ 23:59:59,
  // suffix format from form_data, trading212.py:46-47). End date pinned
  // (the reference uses today(); a pinned end keeps the oracle stable).
  // Scale: generated on the driver as a single-row explode — zero scan.
  // ------------------------------------------------------------------
  def windowGen(s: SparkSession, @unused dir: String): DataFrame =
    s.range(1)
      .select(explode(sequence(
        to_date(lit("2020-01-01")),
        to_date(lit("2026-01-01")),
        expr("interval 365 days"))).as("win_start"))
      .select(
        concat(date_format(col("win_start"), "yyyy-MM-dd"), lit("T00:00:00.000+00:00")).as("timeFrom"),
        concat(date_format(date_add(col("win_start"), 364), "yyyy-MM-dd"), lit("T23:59:59.000+00:00")).as("timeTo"))
      .orderBy("timeFrom")

  val windowGenSql: String =
    """SELECT strftime(d, '%Y-%m-%d') || 'T00:00:00.000+00:00' AS timeFrom,
      |       strftime(d + INTERVAL 364 DAY, '%Y-%m-%d') || 'T23:59:59.000+00:00' AS timeTo
      |FROM (SELECT unnest(generate_series(DATE '2020-01-01', DATE '2026-01-01', INTERVAL 365 DAY)) AS d)
      |ORDER BY timeFrom""".stripMargin

  // ------------------------------------------------------------------
  // P9: export-request JSON construction (form_data, trading212.py:44-54).
  // The reference templates the body with %-interpolation; we build it as a
  // typed struct and serialize with to_json — one body per S6 window.
  // ------------------------------------------------------------------
  def jsonConstruct(s: SparkSession, dir: String): DataFrame =
    windowGen(s, dir)
      .select(col("timeFrom"), to_json(struct(
        col("timeFrom"), col("timeTo"),
        lit("CSV").as("reportFormat"),
        struct(
          lit(true).as("includeOrders"),
          lit(true).as("includeDividends"),
          lit(true).as("includeTransactions")).as("dataIncluded"))).as("body"))
      .orderBy("timeFrom")

  val jsonConstructSql: String =
    """SELECT timeFrom, to_json(struct_pack(
      |    timeFrom := timeFrom, timeTo := timeTo, reportFormat := 'CSV',
      |    dataIncluded := struct_pack(includeOrders := true,
      |      includeDividends := true, includeTransactions := true))) AS body
      |FROM (
      |  SELECT strftime(d, '%Y-%m-%d') || 'T00:00:00.000+00:00' AS timeFrom,
      |         strftime(d + INTERVAL 364 DAY, '%Y-%m-%d') || 'T23:59:59.000+00:00' AS timeTo
      |  FROM (SELECT unnest(generate_series(DATE '2020-01-01', DATE '2026-01-01', INTERVAL 365 DAY)) AS d))
      |ORDER BY timeFrom""".stripMargin

  // ------------------------------------------------------------------
  // P10/S4: scalar JSON field extraction (trading212.py:92,105-108) over the
  // events.props JSON column; F5 range predicate on the extracted value.
  // Scale: get_json_object is codegen'd; filter + pruning reach the scan for
  // the non-JSON columns.
  // ------------------------------------------------------------------
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .filter(col("k") > 50)
      .orderBy("event_id")

  val jsonExtractSql: String =
    """SELECT event_id, event_type, CAST(props->>'$.k' AS INTEGER) AS k
      |FROM events WHERE CAST(props->>'$.k' AS INTEGER) > 50
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // L1 + A1 + P11: head-8 newest notifications, ids comma-joined
  // (clear_notfi, trading212.py:79-83). The REST array order was implicit
  // newest-first; we make it explicit (ts DESC, event_id DESC tiebreak).
  // Scale: limit-8 is a partial top-K pushed into each scan task (TakeOrdered)
  // — no full sort, no full shuffle; the final concat folds 8 rows.
  // ------------------------------------------------------------------
  def limitConcat(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(8)
      .agg(array_join(transform(sort_array(collect_list(col("event_id"))),
        _.cast("string")), ",").as("ids"))

  val limitConcatSql: String =
    """SELECT string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id) AS ids
      |FROM (SELECT event_id FROM events ORDER BY ts DESC, event_id DESC LIMIT 8)""".stripMargin

  // ------------------------------------------------------------------
  // S3 + F1 + F4: the switch_account flow (trading212.py:62-77): iterate the
  // accountId->account map, keep tradingType in ('EQUITY','ISA'), skip the
  // current account. The funds map is synthesized deterministically from
  // customer; "current account" = the minimum eligible key, computed as a
  // 1-row broadcast anti-filter (the reference's if-equal-skip, :69).
  // ------------------------------------------------------------------
  def switchAccount(s: SparkSession, dir: String): DataFrame = {
    val funds = Tables.load(s, dir, "customer").select(
      col("c_custkey").as("accountId"),
      when(pmod(col("c_custkey"), lit(3)) === 0, "EQUITY")
        .when(pmod(col("c_custkey"), lit(3)) === 1, "ISA")
        .otherwise("CFD").as("tradingType"))
    val eligible = funds.filter(col("tradingType").isin("EQUITY", "ISA"))
    val current = eligible.agg(min(col("accountId")).as("currentId"))
    eligible.join(broadcast(current), col("accountId") === col("currentId"), "left_anti")
      .orderBy("accountId")
  }

  val switchAccountSql: String =
    """WITH funds AS (
      |  SELECT c_custkey AS accountId,
      |    CASE c_custkey % 3 WHEN 0 THEN 'EQUITY' WHEN 1 THEN 'ISA' ELSE 'CFD' END AS tradingType
      |  FROM customer),
      |eligible AS (SELECT * FROM funds WHERE tradingType IN ('EQUITY','ISA'))
      |SELECT accountId, tradingType FROM eligible
      |WHERE accountId <> (SELECT min(accountId) FROM eligible)
      |ORDER BY accountId""".stripMargin

  // ------------------------------------------------------------------
  // S3 (full fidelity): the funds response is ONE JSON object mapping
  // accountId -> account info (`for k, v in accs.json().items()`,
  // trading212.py:65) — so the scan is a MapType read: from_json with a
  // MapType schema, then explode(map) into (key, value) rows, feeding the
  // same F1/F4 eligibility logic as ref_switch_account. The map is
  // synthesized deterministically from customer and capped at 200 keys
  // (an API response is response-sized — the single-row JSON string is
  // the reference's data shape, not a scale path).
  // ------------------------------------------------------------------
  def fundsMap(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val body = Tables.load(s, dir, "customer")
      .filter(col("c_custkey") <= 200)
      .agg(to_json(map_from_entries(collect_list(struct(
        col("c_custkey").cast("string"),
        struct(when(pmod(col("c_custkey"), lit(3)) === 0, "EQUITY")
          .when(pmod(col("c_custkey"), lit(3)) === 1, "ISA")
          .otherwise("CFD").as("tradingType")))))).as("body"))
    val accountsSchema = MapType(StringType,
      StructType(Seq(StructField("tradingType", StringType))))
    val accounts = body
      .select(explode(from_json(col("body"), accountsSchema)).as(Seq("k", "v")))
      .select(col("k").cast("bigint").as("accountId"),
        col("v.tradingType").as("tradingType"))
    val eligible = accounts.filter(col("tradingType").isin("EQUITY", "ISA"))
    val current = eligible.agg(min(col("accountId")).as("currentId"))
    eligible.join(broadcast(current), col("accountId") === col("currentId"), "left_anti")
      .orderBy("accountId")
  }

  val fundsMapSql: String =
    """WITH funds AS (
      |  SELECT c_custkey AS accountId,
      |    CASE c_custkey % 3 WHEN 0 THEN 'EQUITY' WHEN 1 THEN 'ISA' ELSE 'CFD' END AS tradingType
      |  FROM customer WHERE c_custkey <= 200),
      |eligible AS (SELECT * FROM funds WHERE tradingType IN ('EQUITY','ISA'))
      |SELECT accountId, tradingType FROM eligible
      |WHERE accountId <> (SELECT min(accountId) FROM eligible)
      |ORDER BY accountId""".stripMargin

  // ------------------------------------------------------------------
  // D2/L1x: keyed dedup keep-latest (SURVEY.md §2.9 at-least-once + dedup;
  // the streaming-incremental variant of D1). row_number over
  // (user_id, ts DESC, event_id DESC) == 1.
  // Scale: one hash exchange on user_id; AQE coalesces post-shuffle
  // partitions. At 100 TB this is the canonical "latest state per key".
  // ------------------------------------------------------------------
  def dedupKeepLatest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
    Tables.load(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .orderBy("user_id")
  }

  val dedupKeepLatestSql: String =
    """SELECT user_id, event_id, ts, event_type FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------------
  // S2: JSON scan + flatten (pd.json_normalize, trading212.py:59) — parse
  // with an explicit schema via from_json, then flatten the struct with
  // a .* projection (dot-path flattening, the Spark-native json_normalize).
  // ------------------------------------------------------------------
  def jsonFlatten(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .select(col("event_id"),
        from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")).as("p"))
      .select(col("event_id"), col("p.*"))
      .orderBy("event_id")

  val jsonFlattenSql: String =
    """SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS k
      |FROM events ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // S1: CSV scan with explicit schema (pd.read_csv of the export download,
  // trading212.py:108), made driver-checkable: a deterministic event slice
  // is round-tripped through a headered CSV landing dir and read back with
  // graft.sources.Formats — the oracle compares against the parquet
  // original, so any reader/writer lossiness fails the hash.
  // ------------------------------------------------------------------
  /** Run-unique scratch dir (concurrent runs must not collide), registered
    * in graft.Scratch for purge at Bench/Verify end or JVM shutdown. */
  private def scratch(prefix: String): String = graft.Scratch.dir(prefix)

  def csvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val landing = scratch("graft_csv_landing")
    val slice = Tables.load(s, dir, "events")
      .filter(col("event_id") < 1000)
      .select("event_id", "ts", "user_id", "event_type", "value")
    graft.sources.Formats.writeCsv(slice, landing)
    graft.sources.Formats.readCsv(s, landing,
      org.apache.spark.sql.types.StructType(Tables.events.filterNot(_.name == "props")))
      .orderBy("event_id")
  }

  val csvRoundtripSql: String =
    """SELECT event_id, ts, user_id, event_type, value
      |FROM events WHERE event_id < 1000 ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // S5: spreadsheet scan with header promotion (trading212.py:122-125:
  // `mf.columns = mf.iloc[0]; mf = mf[1:]`, all cells strings) — driver-
  // checkable: a deterministic orders slice is laid out as a headered
  // all-strings sheet, read back with Formats.readSheet (header promotion,
  // inferSchema OFF so every cell arrives as a string — exactly
  // get_all_values() semantics), then TYPE-PROMOTED to the engine schema.
  // The oracle compares against the parquet original, so both the
  // string-typed read and the promotion casts are under test.
  // ------------------------------------------------------------------
  def sheetScan(s: SparkSession, dir: String): DataFrame = {
    val landing = scratch("graft_sheet_landing")
    val sheet = Tables.load(s, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(7)) === 0)
      .select(
        col("o_orderkey").cast("string").as("Order Key"),
        col("o_custkey").cast("string").as("Customer"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("Order Date"),
        // sheet numbers are strings; decimal->string->double is exact for 2dp
        col("o_totalprice").cast("decimal(18,6)").cast("string").as("Total"),
        col("o_orderpriority").as("Priority"))
    graft.sources.Formats.writeCsv(sheet, landing)
    graft.sources.Formats.readSheet(s, landing)
      .select(
        col("Order Key").cast("long").as("order_key"),
        col("Customer").cast("long").as("cust_key"),
        to_timestamp(col("Order Date")).as("order_ts"),
        col("Total").cast("double").as("total"),
        col("Priority").as("priority"))
      .orderBy("order_key")
  }

  val sheetScanSql: String =
    """SELECT o_orderkey AS order_key, o_custkey AS cust_key,
      |  o_orderdate AS order_ts, CAST(o_totalprice AS DOUBLE) AS total,
      |  o_orderpriority AS priority
      |FROM orders WHERE o_orderkey % 7 = 0 ORDER BY order_key""".stripMargin

  val queries: Map[String, Query] = Map(
    "ref_flagship" -> Query((s, dir) => Flagship.pipeline(s, dir), Flagship.oracleSql),
    "ref_csv_roundtrip" -> Query(csvRoundtrip _, csvRoundtripSql),
    "ref_sheet_scan" -> Query(sheetScan _, sheetScanSql),
    "ref_json_flatten" -> Query(jsonFlatten _, jsonFlattenSql),
    "ref_window_gen" -> Query(windowGen _, windowGenSql),
    "ref_json_construct" -> Query(jsonConstruct _, jsonConstructSql),
    "ref_json_extract" -> Query(jsonExtract _, jsonExtractSql),
    "ref_limit_concat" -> Query(limitConcat _, limitConcatSql),
    "ref_switch_account" -> Query(switchAccount _, switchAccountSql),
    "ref_funds_map" -> Query(fundsMap _, fundsMapSql),
    "ref_dedup_latest" -> Query(dedupKeepLatest _, dedupKeepLatestSql))
}
