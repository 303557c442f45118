package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** [EXT] Relational core over the TPC-H-style fixture tables
  * (SURVEY.md §2.10 J1-J5, A2-A4, W1-W2, T1, SET1, X1).
  *
  * Oracle-parity rules used throughout this module (SURVEY.md §7 risk 1):
  *  - Aggregates over DOUBLE columns are computed EXACTLY: the raw 2-decimal
  *    fixture values are cast to DECIMAL before any arithmetic (per-row
  *    double->decimal of a 2dp value is lossless; decimal sums are
  *    associative, so shuffle order cannot perturb results the way double
  *    summation would). Computed doubles are never cast to decimal.
  *  - Final aggregate types are cast explicitly so Spark/DuckDB schemas match.
  *  - Every query ends in a total ORDER BY (unique tiebreak) on both sides.
  *
  * Scale notes are per-query; the common themes: dimension joins broadcast,
  * fact-side shuffles happen at most once per query, partial aggregation
  * precedes every exchange, AQE handles runtime re-planning and skew.
  */
object Relational extends QueryModule {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Exact sum of a raw 2dp double column, OUTPUT AS DOUBLE.
    * The sum itself accumulates in decimal (exact, shuffle-order-stable);
    * only the final value converts to double. Rationale: the driver's
    * correctness gate hashes RENDERED values, and decimal rendering differs
    * across engines on trailing zeros (Spark parquet "152729.20" vs oracle
    * "152729.2") even when values are numerically identical — double
    * rendering is bit-identical on both sides. Every oracle SQL mirrors the
    * final CAST(... AS DOUBLE). */
  private def dsum(c: Column) = sum(c.cast("decimal(18,4)")).cast("double")

  /** Lossless decimal view of a raw 2dp money column. */
  private def dec2(c: Column) = c.cast("decimal(12,2)")
  private val one2 = lit(1).cast("decimal(12,2)")

  /** Exact revenue term: extendedprice * (1 - discount), in decimals. */
  private def revenue = dec2(col("l_extendedprice")) * (one2 - dec2(col("l_discount")))
  private val revenueSql =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))"

  // ------------------------------------------------------------------
  // A2: TPC-H Q1-shaped grouped aggregation over lineitem.
  // Scale: map-side partial hash agg before the exchange on ~6 groups —
  // the shuffle moves a handful of rows per partition regardless of input.
  // ------------------------------------------------------------------
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(revenue).cast("double").as("sum_disc_price"),
        sum(revenue * (one2 + dec2(col("l_tax")))).cast("double").as("sum_charge"),
        (sum(col("l_quantity").cast("decimal(18,4)")).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(col("l_discount").cast("decimal(18,4)")).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q1AggSql: String =
    s"""SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM($revenueSql) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM($revenueSql * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ------------------------------------------------------------------
  // J1+J2+T1: TPC-H Q3 shape — 3-way join, group, top-10 by revenue.
  // Scale: customer scales WITH the fact data (sf100k ≈ 1.5B rows), so it
  // carries NO broadcast hint — AQE broadcasts it when runtime stats prove
  // it small and shuffles on the key when they don't (a forced broadcast
  // OOMs the driver at 100 TB); orders⋈lineitem shuffles on the order key
  // once; the LIMIT 10 after sort is a TakeOrdered (partial top-K).
  // ------------------------------------------------------------------
  def q3JoinTopK(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(s, dir, "orders").filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val l = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1996-01-01").cast("timestamp"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(revenue).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3JoinTopKSql: String =
    s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
      |  CAST(SUM($revenueSql) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  // ------------------------------------------------------------------
  // J1/J2: TPC-H Q5 shape — 6-table star join, revenue per nation.
  // Scale: only the BOUNDED-domain dims (region: 5 rows, nation: 25 — fixed
  // by the data model at every scale factor) carry broadcast hints.
  // Customer and supplier grow linearly with the fact data, so they are
  // unhinted: AQE broadcasts them at fixture scale and falls back to a
  // key shuffle at 100 TB. The only mandatory big shuffle is
  // lineitem⋈orders on the order key. Filters push to every scan.
  // ------------------------------------------------------------------
  def q5StarJoin(s: SparkSession, dir: String): DataFrame = {
    val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
    val n = t(s, dir, "nation")
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val l = t(s, dir, "lineitem")
    val sup = t(s, dir, "supplier")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(c,
        col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(revenue).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q5StarJoinSql: String =
    s"""SELECT n_name, CAST(SUM($revenueSql) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  // ------------------------------------------------------------------
  // J-bloom: runtime bloom-filter join pruning — the shuffle-join analog
  // of broadcast pruning, and the mechanism that matters when BOTH sides
  // are too big to broadcast. Catalyst's InjectRuntimeFilter sees the
  // selective dim-side predicate (p_brand/p_size), builds a bloom filter
  // over the surviving p_partkey set as a tiny aggregate, and stuffs
  // might_contain(xxhash64(l_partkey)) into the FACT-side scan filter —
  // at 100 TB that drops most lineitem rows before they are shuffled,
  // turning a full-fact exchange into a ~selectivity-sized one.
  //
  // The fixture is far below the production thresholds (the application
  // side must look scan-heavy: default 10 GB), so the query runs on a
  // child session (`newSession` — shared SparkContext, isolated conf)
  // with the scan-size threshold floored and auto-broadcast off to force
  // the shuffle-join shape the rule targets. The CONF IS THE DEMO; at
  // real scale the defaults fire by themselves. A child session (not a
  // scoped set/restore) because the returned DataFrame optimizes lazily —
  // restoring the conf before the driver executes it would silently
  // disable the rule. PlanShapeSpec asserts might_contain lands in the
  // final plan; the oracle checks the join result is unchanged by it.
  // ------------------------------------------------------------------
  def joinBloomRuntime(s: SparkSession, dir: String): DataFrame = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    val p = t(s2, dir, "part")
      .filter(col("p_size") < 10 && col("p_brand") === "Brand#1")
    t(s2, dir, "lineitem")
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_lines"), sum(revenue).cast("double").as("revenue"))
      .orderBy(col("l_returnflag"))
  }

  val joinBloomRuntimeSql: String =
    s"""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_lines,
      |  CAST(SUM($revenueSql) AS DOUBLE) AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_size < 10 AND p_brand = 'Brand#1'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------------------------
  // J1 (left outer): customers with their order count/spend, 0 for none.
  // Scale: orders pre-aggregates per custkey BEFORE the join (shrinks the
  // shuffle to one row per customer), then joins — never the raw fact table.
  // ------------------------------------------------------------------
  def joinLeftOuter(s: SparkSession, dir: String): DataFrame = {
    val perCust = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec2(col("o_totalprice"))).cast("decimal(38,2)").as("spend"))
    t(s, dir, "customer")
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("c_name"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("spend"), lit(0).cast("decimal(38,2)")).cast("double").as("spend"))
      .orderBy(col("c_custkey"))
  }

  val joinLeftOuterSql: String =
    """SELECT c_custkey, c_name,
      |  COALESCE(n_orders, 0) AS n_orders,
      |  CAST(COALESCE(spend, 0) AS DOUBLE) AS spend
      |FROM customer LEFT JOIN (
      |  SELECT o_custkey, COUNT(*) AS n_orders,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS spend
      |  FROM orders GROUP BY o_custkey) ON c_custkey = o_custkey
      |ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------------------------
  // J3: semi / anti joins. Scale: the probe side aggregates to distinct keys
  // inside the join operator; Spark plans LeftSemi/LeftAnti natively (hash
  // or broadcast depending on side sizes).
  // ------------------------------------------------------------------
  def joinSemi(s: SparkSession, dir: String): DataFrame = {
    val fOrders = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
    t(s, dir, "customer")
      .join(fOrders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  val joinSemiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  def joinAnti(s: SparkSession, dir: String): DataFrame = {
    val pOrders = t(s, dir, "orders").filter(col("o_orderstatus") === "P")
    t(s, dir, "customer")
      .join(pOrders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val joinAntiSql: String =
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
      |ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------------------------
  // J4: theta/range join — parts into generated price bands.
  // Scale: the band table is tiny and broadcast; Spark plans a broadcast
  // nested-loop join, so the part scan streams once with no shuffle.
  // ------------------------------------------------------------------
  def joinRange(s: SparkSession, dir: String): DataFrame = {
    val bands = s.range(90, 100)
      .select((col("id") * 10.0).as("lo"), ((col("id") + 1) * 10.0).as("hi"))
    t(s, dir, "part")
      .join(broadcast(bands), col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
      .groupBy(col("lo"))
      .agg(count(lit(1)).as("n_parts"),
        sum(dec2(col("p_retailprice"))).cast("double").as("band_value"))
      .orderBy(col("lo"))
  }

  val joinRangeSql: String =
    """SELECT lo, COUNT(*) AS n_parts,
      |  CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS band_value
      |FROM part JOIN (SELECT b*10.0 AS lo, (b+1)*10.0 AS hi FROM range(90,100) t(b))
      |  ON p_retailprice >= lo AND p_retailprice < hi
      |GROUP BY lo ORDER BY lo""".stripMargin

  // ------------------------------------------------------------------
  // J4 (overlap): interval overlap join via BUCKET DECOMPOSITION — the
  // 100 TB shape for temporal overlap when NEITHER side broadcasts.
  // join_range's broadcast-nested-loop works only while one side is tiny;
  // here both interval relations explode into fixed-width day buckets
  // (width 128 >= the longest interval, so each side emits at most 2 rows
  // per interval), the join is a plain EQUI join on the bucket id, and
  // the true overlap predicate filters the bucket collisions. Duplicate
  // pairs (intervals sharing 2 buckets) are eliminated WITHOUT a distinct:
  // a pair is kept only in the bucket containing the overlap's start
  // (greatest of the two starts) — exactly one bucket qualifies by
  // construction, so the join output is exact and the plan has no
  // dedup exchange and no nested loop. All temporal math is in epoch-day
  // INTEGERS (datediff from 1970-01-01) — no date/timestamp parity risk.
  // Intervals: order fulfillment windows [o_orderdate, +5..64 days]
  // (duration keyed off o_orderkey, deterministic); probe side: 28
  // generated 90-day audit windows covering the o_orderdate domain.
  // ------------------------------------------------------------------
  private val IVL_W = 128 // bucket width (days); > max interval span (90)

  def joinIntervalOverlap(s: SparkSession, dir: String): DataFrame = {
    val iv = t(s, dir, "orders")
      .withColumn("s1", datediff(col("o_orderdate"), lit("1970-01-01").cast("date")))
      .withColumn("e1", col("s1") + lit(5) + pmod(col("o_orderkey"), lit(60)).cast("int"))
      .withColumn("b", explode(sequence(expr(s"s1 div $IVL_W"), expr(s"e1 div $IVL_W"))))
    val win = s.range(0, 28)
      .select(col("id").cast("int").as("wid"),
        (lit(9131) + col("id").cast("int") * 90).as("ws"))
      .withColumn("we", col("ws") + 89)
      .withColumn("b", explode(sequence(expr(s"ws div $IVL_W"), expr(s"we div $IVL_W"))))
    iv.join(win, Seq("b"))
      .filter(col("s1") <= col("we") && col("ws") <= col("e1") &&
        col("b") === expr(s"greatest(s1, ws) div $IVL_W"))
      .groupBy(col("wid"), col("ws"))
      .agg(count(lit(1)).as("n_overlap"),
        sum(dec2(col("o_totalprice"))).cast("double").as("win_value"))
      .orderBy(col("wid"))
  }

  val joinIntervalOverlapSql: String =
    """WITH iv AS (
      |  SELECT o_orderkey, o_totalprice,
      |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS s1,
      |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      + 5 + o_orderkey % 60 AS e1
      |  FROM orders),
      |win AS (SELECT CAST(wid AS INTEGER) AS wid,
      |               CAST(9131 + wid*90 AS INTEGER) AS ws,
      |               CAST(9131 + wid*90 + 89 AS INTEGER) AS we
      |        FROM range(0, 28) t(wid))
      |SELECT wid, ws, CAST(COUNT(*) AS BIGINT) AS n_overlap,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS win_value
      |FROM iv JOIN win ON s1 <= we AND ws <= e1
      |GROUP BY wid, ws ORDER BY wid""".stripMargin

  // ------------------------------------------------------------------
  // J5: as-of join — for every event, the latest 'purchase' event of the
  // same user at-or-before it. Implemented the Spark-native way (SURVEY.md
  // §2.10 J5): NOT as a range join + filter (quadratic) but as a single
  // ordered window with last(ignoreNulls) — one shuffle on user_id, one
  // local sort, linear scan. This is the 100 TB-safe as-of pattern.
  // ------------------------------------------------------------------
  def joinAsOf(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .withColumn("last_purchase_id",
        last(when(col("event_type") === "purchase", col("event_id")), ignoreNulls = true).over(w))
      .select(col("event_id"), col("user_id"), col("ts"), col("last_purchase_id"))
      .orderBy(col("event_id"))
  }

  val joinAsOfSql: String =
    """SELECT event_id, user_id, ts,
      |  last_value(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_id
      |FROM events ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // J5 (two-relation form): the trades-vs-quotes as-of — for every
  // 'purchase' (trade), the latest 'view' (quote) of the same user
  // at-or-before it. Same 100 TB-safe pattern as joinAsOf generalized to
  // two inputs: UNION the relations with a side tag, then ONE ordered
  // window per key — one shuffle on user_id, a linear scan, no range-join
  // pair explosion. Quotes sort before trades at equal ts (is_trade
  // tiebreak), making "at-or-before" inclusive of same-instant quotes.
  // ------------------------------------------------------------------
  def joinAsOf2(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val quotes = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id"), lit(0).as("is_trade"))
    val trades = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), lit(1).as("is_trade"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_trade"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    quotes.unionByName(trades)
      .withColumn("last_quote_id",
        last(when(col("is_trade") === 0, col("event_id")), ignoreNulls = true).over(w))
      .filter(col("is_trade") === 1)
      .select(col("event_id").as("trade_id"), col("user_id"), col("ts"), col("last_quote_id"))
      .orderBy(col("trade_id"))
  }

  val joinAsOf2Sql: String =
    """SELECT event_id AS trade_id, user_id, ts, last_quote_id FROM (
      |  SELECT *, last_value(CASE WHEN is_trade = 0 THEN event_id END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY ts, is_trade, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_quote_id
      |  FROM (SELECT user_id, ts, event_id,
      |          CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_trade
      |        FROM events WHERE event_type IN ('view', 'purchase')))
      |WHERE is_trade = 1 ORDER BY trade_id""".stripMargin

  // ------------------------------------------------------------------
  // A3: exact + approximate distinct counts.
  // Scale: countDistinct expands to a two-phase agg (partial distinct per
  // partition, then merge); approx_count_distinct (HLL++) is single-pass
  // mergeable state — the 100 TB default. The approx variant's sketch has
  // no DuckDB twin, so its query emits exact values plus a within-bound
  // verdict the oracle can reproduce as literal TRUE.
  // ------------------------------------------------------------------
  def aggDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(to_date(col("ts")).cast("string")).as("n_days"))
      .orderBy(col("event_type"))

  val aggDistinctSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  COUNT(DISTINCT CAST(CAST(ts AS DATE) AS VARCHAR)) AS n_days
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  def aggApproxDistinct(s: SparkSession, dir: String): DataFrame =
    // The sketch value itself has no DuckDB twin, so the hash-checkable
    // output is exact values + the sketch's WITHIN-BOUND verdict: HLL++ at
    // the default rsd=0.05 is inside 3*rsd of exact essentially always
    // (and deterministically for a fixed input), so approx_ok is a stable
    // TRUE both engines can render. A sketch regression (wrong hash,
    // merge bug) flips it to False and fails the driver hash.
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        approx_count_distinct(col("user_id")).as("a"))
      .select(col("event_type"), col("n_events"), col("n_users"),
        (abs(col("a") - col("n_users")) <= greatest(col("n_users") * 0.15, lit(2)))
          .as("approx_ok"))
      .orderBy(col("event_type"))

  val aggApproxDistinctSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  COUNT(DISTINCT user_id) AS n_users, TRUE AS approx_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** A3 (sketch MERGE): per-group HLL sketches unioned into a global
    * distinct estimate WITHOUT rescanning the input — the 100 TB rollup
    * pattern (per-day/per-partition sketch tables, unioned at query time;
    * a COUNT(DISTINCT) over the raw corpus would re-shuffle every key).
    * Users appear under many event types, so the union must DEDUP across
    * groups — a naive sum of per-group estimates (~5x exact here) fails
    * loudly, proving real sketch-union semantics. Oracle-checkable like
    * the other sketches: exact values + a within-band verdict the sketch
    * meets deterministically on a fixed input. */
  def aggSketchUnion(s: SparkSession, dir: String): DataFrame = {
    val perType = t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"),
        countDistinct(col("user_id")).as("n_users"))
    perType.agg(
        count(lit(1)).cast("long").as("n_types"),
        sum(col("n_users")).cast("long").as("sum_per_type_users"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .join(t(s, dir, "events").agg(
        countDistinct(col("user_id")).as("n_users_exact")))
      .select(col("n_types"), col("sum_per_type_users"), col("n_users_exact"),
        (abs(col("est") - col("n_users_exact")) <= col("n_users_exact") * 0.15 &&
          col("est") < col("sum_per_type_users")).as("union_ok"))
  }

  val aggSketchUnionSql: String =
    """SELECT COUNT(DISTINCT event_type) AS n_types,
      |  CAST((SELECT SUM(n) FROM (SELECT COUNT(DISTINCT user_id) AS n FROM events
      |                            GROUP BY event_type)) AS BIGINT) AS sum_per_type_users,
      |  COUNT(DISTINCT user_id) AS n_users_exact,
      |  TRUE AS union_ok
      |FROM events""".stripMargin

  /** A2/A3 (approximate order statistics): approx_percentile — mergeable
    * sketch state, single pass, the 100 TB default where exact percentile's
    * per-group sort is too expensive. Hash-checkable the same way as
    * aggApproxDistinct: the sketch guarantees rank error <= n/accuracy
    * (= n/1000), far inside the exact ±1-percentile value band computed
    * alongside, so the _ok verdicts are deterministically TRUE on intact
    * sketches and the oracle emits literal TRUE. */
  def aggApproxPercentile(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        expr("percentile(o_totalprice, 0.5)").as("p50"),
        expr("percentile(o_totalprice, 0.9)").as("p90"),
        expr("percentile(o_totalprice, 0.49)").as("q49"),
        expr("percentile(o_totalprice, 0.51)").as("q51"),
        expr("percentile(o_totalprice, 0.89)").as("q89"),
        expr("percentile(o_totalprice, 0.91)").as("q91"),
        expr("approx_percentile(o_totalprice, 0.5, 1000)").as("a50"),
        expr("approx_percentile(o_totalprice, 0.9, 1000)").as("a90"),
        count(lit(1)).as("n"))
      .select(col("c_mktsegment"), col("p50"), col("p90"), col("n"),
        (col("a50") >= col("q49") && col("a50") <= col("q51")).as("p50_ok"),
        (col("a90") >= col("q89") && col("a90") <= col("q91")).as("p90_ok"))
      .orderBy(col("c_mktsegment"))

  val aggApproxPercentileSql: String =
    """SELECT c_mktsegment,
      |  quantile_cont(o_totalprice, 0.5) AS p50,
      |  quantile_cont(o_totalprice, 0.9) AS p90,
      |  COUNT(*) AS n, TRUE AS p50_ok, TRUE AS p90_ok
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ------------------------------------------------------------------
  // A4: rollup over region -> nation with subtotal rows.
  // Scale: Spark expands rollup into a single Expand + hash agg — one pass,
  // one shuffle. Both engines order NULL subtotal keys first explicitly.
  // ------------------------------------------------------------------
  def aggRollup(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        sum(dec2(col("c_acctbal"))).cast("double").as("total_balance"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  val aggRollupSql: String =
    """SELECT r_name, n_name, COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_balance
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin

  // ------------------------------------------------------------------
  // W1: ranking windows. rank/dense_rank over a coarse key (ties real),
  // row_number/ntile over the totally-ordered spec (deterministic).
  // Scale: one shuffle on the partition key; windows evaluate with a local
  // sort per partition.
  // ------------------------------------------------------------------
  def windowRank(s: SparkSession, dir: String): DataFrame = {
    val bucket = floor(col("s_acctbal") / 100).cast("long")
    val coarse = Window.partitionBy(col("s_nationkey")).orderBy(bucket.desc)
    val total = Window.partitionBy(col("s_nationkey")).orderBy(bucket.desc, col("s_suppkey"))
    t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"), col("s_name"),
        bucket.as("bal_bucket"),
        row_number().over(total).as("rn"),
        rank().over(coarse).as("rnk"),
        dense_rank().over(coarse).as("drnk"),
        ntile(4).over(total).as("quartile"))
      .orderBy(col("s_nationkey"), col("rn"))
  }

  val windowRankSql: String =
    """SELECT s_suppkey, s_nationkey, s_name,
      |  CAST(floor(s_acctbal / 100) AS BIGINT) AS bal_bucket,
      |  row_number() OVER w_total AS rn,
      |  rank() OVER w_coarse AS rnk,
      |  dense_rank() OVER w_coarse AS drnk,
      |  ntile(4) OVER w_total AS quartile
      |FROM supplier
      |WINDOW
      |  w_coarse AS (PARTITION BY s_nationkey ORDER BY CAST(floor(s_acctbal / 100) AS BIGINT) DESC),
      |  w_total AS (PARTITION BY s_nationkey ORDER BY CAST(floor(s_acctbal / 100) AS BIGINT) DESC, s_suppkey)
      |ORDER BY s_nationkey, rn""".stripMargin

  // ------------------------------------------------------------------
  // W2: analytic windows — running spend, lag/lead, per customer over time.
  // Running sums accumulate DECIMALS (exact, order-stable under the total
  // window ordering). Scale: single shuffle on o_custkey.
  // ------------------------------------------------------------------
  def windowRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        sum(dec2(col("o_totalprice"))).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running_spend"),
        lag(dec2(col("o_totalprice")), 1).over(w).cast("double").as("prev_price"),
        lead(dec2(col("o_totalprice")), 1).over(w).cast("double").as("next_price"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  val windowRunningSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
      |  CAST(lag(CAST(o_totalprice AS DECIMAL(12,2)), 1) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey) AS DOUBLE) AS prev_price,
      |  CAST(lead(CAST(o_totalprice AS DECIMAL(12,2)), 1) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey) AS DOUBLE) AS next_price
      |FROM orders
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  // ------------------------------------------------------------------
  // W1/W2 (navigation + distribution): first/last/nth_value over the full
  // partition frame, percent_rank and cume_dist over the running frame —
  // completing the window-function surface. Total ordering (acctbal +
  // suppkey tiebreak) keeps every value deterministic on both engines.
  // ------------------------------------------------------------------
  def windowNavigation(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("s_nationkey")).orderBy(col("s_acctbal"), col("s_suppkey"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"),
        first(col("s_suppkey")).over(full).as("poorest"),
        last(col("s_suppkey")).over(full).as("richest"),
        nth_value(col("s_suppkey"), 2).over(full).as("second_poorest"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
      .orderBy(col("s_nationkey"), col("s_suppkey"))
  }

  val windowNavigationSql: String =
    """SELECT s_suppkey, s_nationkey,
      |  first_value(s_suppkey) OVER w_full AS poorest,
      |  last_value(s_suppkey) OVER w_full AS richest,
      |  nth_value(s_suppkey, 2) OVER w_full AS second_poorest,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cume
      |FROM supplier
      |WINDOW
      |  w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey),
      |  w_full AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY s_nationkey, s_suppkey""".stripMargin

  // ------------------------------------------------------------------
  // T1: top-K per group (top-3 orders by price per market segment).
  // Scale: row_number + filter(rn<=k) — Spark pushes a partial top-K into
  // the window sort per partition (rank-limit optimization); with AQE the
  // post-filter output coalesces.
  // ------------------------------------------------------------------
  def topKPerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(dec2(col("o_totalprice")).desc, col("o_orderkey"))
    t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("c_mktsegment"), col("rn"), col("o_orderkey"),
        // raw double, NOT dec2: the output must render identically on both
        // engines (decimal trailing zeros don't); ordering stays on dec2.
        col("o_totalprice"))
      .orderBy(col("c_mktsegment"), col("rn"))
  }

  val topKPerGroupSql: String =
    """SELECT c_mktsegment, rn, o_orderkey, o_totalprice FROM (
      |  SELECT c_mktsegment, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY c_mktsegment
      |      ORDER BY CAST(o_totalprice AS DECIMAL(12,2)) DESC, o_orderkey) AS rn
      |  FROM orders JOIN customer ON o_custkey = c_custkey)
      |WHERE rn <= 3 ORDER BY c_mktsegment, rn""".stripMargin

  // ------------------------------------------------------------------
  // SET1: intersect / except / union-distinct, tagged into one result.
  // Scale: each set op is a hash-based distinct-aggregate join; inputs
  // pre-project to the key column so only keys shuffle.
  // ------------------------------------------------------------------
  def setOps(s: SparkSession, dir: String): DataFrame = {
    val fCust = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("k"))
    val pCust = t(s, dir, "orders").filter(col("o_orderstatus") === "P")
      .select(col("o_custkey").as("k"))
    val building = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("k"))
    val allCust = t(s, dir, "customer").select(col("c_custkey").as("k"))
    val anyOrder = t(s, dir, "orders").select(col("o_custkey").as("k"))
    fCust.intersect(building).withColumn("op", lit("intersect"))
      .unionAll(allCust.except(anyOrder).withColumn("op", lit("except")))
      .unionAll(fCust.union(pCust).distinct().withColumn("op", lit("union")))
      .select(col("op"), col("k"))
      .orderBy(col("op"), col("k"))
  }

  val setOpsSql: String =
    """SELECT 'intersect' AS op, k FROM (
      |  SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
      |  INTERSECT SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      |UNION ALL
      |SELECT 'except', k FROM (
      |  SELECT c_custkey AS k FROM customer
      |  EXCEPT SELECT o_custkey FROM orders)
      |UNION ALL
      |SELECT 'union', k FROM (
      |  SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
      |  UNION SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
      |ORDER BY op, k""".stripMargin

  // ------------------------------------------------------------------
  // X1a: scalar function surface — string/array/math over part.
  // All codegen'd built-ins; stays inside one WholeStageCodegen span.
  // ------------------------------------------------------------------
  def scalarFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(
      col("p_partkey"),
      regexp_extract(col("p_brand"), "#(\\d+)", 1).cast("int").as("brand_num"),
      upper(element_at(split(col("p_name"), " "), 1)).as("first_word"),
      size(split(col("p_name"), " ")).as("n_words"),
      array_contains(split(col("p_name"), " "), "widget").as("is_widget"),
      array_join(sort_array(split(col("p_name"), " ")), "_").as("sorted_words"),
      levenshtein(col("p_name"), col("p_type")).as("lev"),
      lpad(col("p_partkey").cast("string"), 6, "0").as("padded"),
      round(col("p_retailprice") * 100).cast("long").as("retail_cents"),
      floor(sqrt(col("p_retailprice"))).cast("long").as("sqrt_floor"))
      .orderBy(col("p_partkey"))

  val scalarFuncsSql: String =
    """SELECT p_partkey,
      |  CAST(regexp_extract(p_brand, '#(\d+)', 1) AS INTEGER) AS brand_num,
      |  upper(string_split(p_name, ' ')[1]) AS first_word,
      |  len(string_split(p_name, ' ')) AS n_words,
      |  list_contains(string_split(p_name, ' '), 'widget') AS is_widget,
      |  list_aggregate(list_sort(string_split(p_name, ' ')), 'string_agg', '_') AS sorted_words,
      |  levenshtein(p_name, p_type) AS lev,
      |  lpad(CAST(p_partkey AS VARCHAR), 6, '0') AS padded,
      |  CAST(round(p_retailprice * 100) AS BIGINT) AS retail_cents,
      |  CAST(floor(sqrt(p_retailprice)) AS BIGINT) AS sqrt_floor
      |FROM part ORDER BY p_partkey""".stripMargin

  // ------------------------------------------------------------------
  // X1b: date/time function surface over orders.
  // ------------------------------------------------------------------
  def scalarDates(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(
      col("o_orderkey"),
      date_trunc("month", col("o_orderdate")).as("month_start"),
      year(col("o_orderdate")).as("yr"),
      quarter(col("o_orderdate")).as("qtr"),
      datediff(lit("2002-01-01").cast("timestamp"), col("o_orderdate")).as("days_to_2002"),
      add_months(col("o_orderdate"), 3).cast("timestamp").as("plus3m"),
      date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
      .orderBy(col("o_orderkey"))

  val scalarDatesSql: String =
    """SELECT o_orderkey,
      |  date_trunc('month', o_orderdate) AS month_start,
      |  CAST(year(o_orderdate) AS INTEGER) AS yr,
      |  CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
      |  CAST(date_diff('day', o_orderdate, TIMESTAMP '2002-01-01 00:00:00') AS INTEGER) AS days_to_2002,
      |  CAST(o_orderdate + INTERVAL 3 MONTH AS TIMESTAMP) AS plus3m,
      |  strftime(o_orderdate, '%Y-%m') AS ym
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ------------------------------------------------------------------
  // UD1: custom typed Aggregator (graft.functions.VwapAggregator) —
  // volume-weighted average price per return flag. Exact integer-cents
  // accumulation makes the result merge-order-independent (see Aggregator
  // scaladoc); the oracle reproduces it with integer SQL arithmetic.
  // ------------------------------------------------------------------
  def weightedAvg(s: SparkSession, dir: String): DataFrame = {
    val vwap = udaf(graft.functions.VwapAggregator)
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(vwap(col("l_extendedprice"), col("l_quantity")).as("vwap"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("l_returnflag"))
  }

  val weightedAvgSql: String =
    """SELECT l_returnflag,
      |  (CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
      |            * CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) / 100.0)
      |    / CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) AS vwap,
      |  COUNT(*) AS n_lines
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------------------------
  // A4 (cube): full cube over region x market segment with an explicit
  // grouping-id (grouping(a)*2 + grouping(b) — identical convention on
  // both engines). Same single Expand + hash agg execution as rollup.
  // ------------------------------------------------------------------
  def aggCube(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .cube(col("r_name"), col("c_mktsegment"))
      .agg((grouping(col("r_name")) * 2 + grouping(col("c_mktsegment"))).as("gid"),
        count(lit(1)).as("n_customers"))
      .orderBy(col("gid"), col("r_name").asc_nulls_first, col("c_mktsegment").asc_nulls_first)
  }

  val aggCubeSql: String =
    """SELECT r_name, c_mktsegment,
      |  CAST(GROUPING(r_name) * 2 + GROUPING(c_mktsegment) AS INTEGER) AS gid,
      |  COUNT(*) AS n_customers
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY CUBE (r_name, c_mktsegment)
      |ORDER BY gid, r_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""".stripMargin

  // ------------------------------------------------------------------
  // W2 (range frame): 30-day trailing spend per customer — a VALUE-based
  // window frame (RANGE + interval), not a row count; tied order dates
  // share one frame, so the result is deterministic under ties.
  // ------------------------------------------------------------------
  def windowRangeFrame(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        expr("""cast(sum(cast(o_totalprice as decimal(12,2))) over (
          |  partition by o_custkey order by o_orderdate
          |  range between interval 30 days preceding and current row)
          |as double)""".stripMargin).as("spend_30d"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))

  val windowRangeFrameSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate
      |    RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_30d
      |FROM orders
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  // ------------------------------------------------------------------
  // Pivot: order counts per priority pivoted by status — Spark's
  // RelationalGroupedDataset.pivot with EXPLICIT values (never inferred:
  // value inference costs an extra distinct scan and breaks determinism).
  // ------------------------------------------------------------------
  def aggPivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))
      .orderBy(col("o_orderpriority"))

  val aggPivotSql: String =
    """SELECT o_orderpriority,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ------------------------------------------------------------------
  // Unpivot (melt) — the inverse of aggPivot: the wide per-status counts
  // fold back to (priority, status, n) long form. Spark's native
  // Dataset.unpivot is an Expand (one pass, no shuffle beyond the
  // underlying aggregate); the oracle is the UNION ALL expansion.
  // ------------------------------------------------------------------
  def aggUnpivot(s: SparkSession, dir: String): DataFrame =
    aggPivot(s, dir)
      .unpivot(Array(col("o_orderpriority")),
        Array(col("n_f"), col("n_o"), col("n_p")), "status", "n")
      .orderBy(col("o_orderpriority"), col("status"))

  val aggUnpivotSql: String =
    s"""WITH pivoted AS ($aggPivotSql)
      |SELECT o_orderpriority, 'n_f' AS status, n_f AS n FROM pivoted
      |UNION ALL SELECT o_orderpriority, 'n_o', n_o FROM pivoted
      |UNION ALL SELECT o_orderpriority, 'n_p', n_p FROM pivoted
      |ORDER BY o_orderpriority, status""".stripMargin

  // ------------------------------------------------------------------
  // Error-safe scalar surface (ANSI try_* family): malformed casts and
  // division by zero yield NULL instead of failing the job — at 100 TB a
  // single dirty row must not kill a 1000-executor stage. DuckDB parity:
  // TRY_CAST matches try_cast, and DuckDB division by zero is NULL,
  // matching try_divide exactly.
  // ------------------------------------------------------------------
  def scalarSafe(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(
      col("p_partkey"),
      expr("try_cast(regexp_extract(p_brand, '#(\\\\d+)', 1) AS INT)").as("brand_num"),
      expr("try_cast(element_at(split(p_name, ' '), 1) AS INT)").as("bad_cast"),
      expr("try_cast(p_type AS TIMESTAMP)").as("bad_ts"),
      expr("try_divide(p_retailprice, p_partkey % 3)").as("safe_div"))
      .orderBy(col("p_partkey"))

  val scalarSafeSql: String =
    """SELECT p_partkey,
      |  TRY_CAST(regexp_extract(p_brand, '#(\d+)', 1) AS INTEGER) AS brand_num,
      |  TRY_CAST(string_split(p_name, ' ')[1] AS INTEGER) AS bad_cast,
      |  TRY_CAST(p_type AS TIMESTAMP) AS bad_ts,
      |  p_retailprice / (p_partkey % 3) AS safe_div
      |FROM part ORDER BY p_partkey""".stripMargin

  // ------------------------------------------------------------------
  // SET1 (ALL variants): multiset intersect/except on order-status keys.
  // ------------------------------------------------------------------
  def setOpsAll(s: SparkSession, dir: String): DataFrame = {
    // each key set feeds both the intersect and the except branch; the
    // branches re-read the (column-pruned, filter-pushed) scan — cheaper
    // than pinning blocks, and exchange reuse dedups the shuffles the set
    // operators put on top of the identical scan subtrees
    val f = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("k"))
    val p = t(s, dir, "orders").filter(col("o_orderstatus") === "P")
      .select(col("o_custkey").as("k"))
    f.intersectAll(p).withColumn("op", lit("intersect_all"))
      .unionAll(f.exceptAll(p).withColumn("op", lit("except_all")))
      .select(col("op"), col("k"))
      .orderBy(col("op"), col("k"))
  }

  val setOpsAllSql: String =
    """SELECT 'intersect_all' AS op, k FROM (
      |  SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
      |  INTERSECT ALL SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
      |UNION ALL
      |SELECT 'except_all', k FROM (
      |  SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
      |  EXCEPT ALL SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
      |ORDER BY op, k""".stripMargin

  // ------------------------------------------------------------------
  // A2 (order statistics): EXACT interpolated percentiles per segment —
  // sort-based (deterministic operands), matching DuckDB quantile_cont.
  // At scale exact percentile shuffles the group's values; the sketch-based
  // alternative (approx_percentile, mergeable t-digest-like state) is the
  // 100 TB default but has no cross-engine oracle.
  // ------------------------------------------------------------------
  def aggPercentile(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        expr("percentile(o_totalprice, 0.5)").as("p50"),
        expr("percentile(o_totalprice, 0.9)").as("p90"),
        count(lit(1)).as("n"))
      .orderBy(col("c_mktsegment"))

  val aggPercentileSql: String =
    """SELECT c_mktsegment,
      |  quantile_cont(o_totalprice, 0.5) AS p50,
      |  quantile_cont(o_totalprice, 0.9) AS p90,
      |  COUNT(*) AS n
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ------------------------------------------------------------------
  // UD1 (scalar UDF): price bucketing via a Scala closure UDF — included
  // for API-surface completeness ONLY. A UDF is opaque to Catalyst (no
  // pushdown through it, no codegen fusion); the same logic as when/
  // otherwise (cf. P2) is strictly better — which is why every other
  // operator in this engine avoids UDFs.
  // ------------------------------------------------------------------
  def udfScalar(s: SparkSession, dir: String): DataFrame = {
    val bucket = udf((price: Double) =>
      if (price < 50000) "low" else if (price < 200000) "mid" else "high")
    t(s, dir, "orders")
      .select(col("o_orderkey"), bucket(col("o_totalprice")).as("bucket"))
      .orderBy(col("o_orderkey"))
  }

  val udfScalarSql: String =
    """SELECT o_orderkey,
      |  CASE WHEN o_totalprice < 50000 THEN 'low'
      |       WHEN o_totalprice < 200000 THEN 'mid'
      |       ELSE 'high' END AS bucket
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ------------------------------------------------------------------
  // X1 (map functions): construct a map column, read it back via
  // map_keys / element_at. The oracle validates against the plain source
  // columns, which checks Spark's map semantics against ground truth.
  // ------------------------------------------------------------------
  def scalarMaps(s: SparkSession, dir: String): DataFrame = {
    val m = map(lit("qty"), col("l_quantity"), lit("price"), col("l_extendedprice"))
    t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
      array_join(map_keys(m), ",").as("keys"),
      size(map_values(m)).as("n_vals"),
      element_at(m, "qty").as("qty_val"),
      element_at(m, "price").as("price_val"),
      map_contains_key(m, "fee").as("has_fee"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        col("qty_val"))
  }

  val scalarMapsSql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |  'qty,price' AS keys, 2 AS n_vals,
      |  l_quantity AS qty_val, l_extendedprice AS price_val,
      |  false AS has_fee
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, qty_val""".stripMargin

  // ------------------------------------------------------------------
  // A4 (grouping sets) through the SQL entry point: the engine's full SQL
  // surface (spark.sql) with explicit GROUPING SETS.
  // ------------------------------------------------------------------
  def sqlGroupingSets(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("customer_v")
    t(s, dir, "nation").createOrReplaceTempView("nation_v")
    s.sql(
      """SELECT n_name, c_mktsegment, count(*) AS n
        |FROM customer_v JOIN nation_v ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
        |ORDER BY n_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""".stripMargin)
  }

  val sqlGroupingSetsSql: String =
    """SELECT n_name, c_mktsegment, count(*) AS n
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
      |ORDER BY n_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""".stripMargin

  // ------------------------------------------------------------------
  // Recursive CTE through the SQL surface (Spark 4's WITH RECURSIVE,
  // planned as UnionLoop): a 90-day date spine generated by the recursion,
  // left-joined to daily order totals with zero-fill — the reference's
  // day-window generator (S6) as pure SQL, and the gap-fill twin of
  // events_gapfill (which composes sequence()+explode instead). Scale: the
  // recursion produces 90 rows driver-side-cheap and broadcasts to the
  // date-bounded orders slice; depth is calendar-bounded, far under
  // spark.sql.cteRecursionLevelLimit (100 per step default). All outputs
  // are exact (count, decimal-sum cast at the boundary).
  // ------------------------------------------------------------------
  def sqlRecursiveSpine(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("ord_rcte")
    s.sql(
      """WITH RECURSIVE spine(day) AS (
        |  SELECT DATE'1996-01-01'
        |  UNION ALL
        |  SELECT date_add(day, 1) FROM spine WHERE day < DATE'1996-03-30'
        |)
        |SELECT date_format(day, 'yyyy-MM-dd') AS day, COUNT(o_orderkey) AS n_orders,
        |  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,2))),
        |                CAST(0 AS DECIMAL(12,2))) AS DOUBLE) AS day_value
        |FROM spine LEFT JOIN ord_rcte ON CAST(o_orderdate AS DATE) = day
        |GROUP BY day ORDER BY day""".stripMargin)
  }

  val sqlRecursiveSpineSql: String =
    """WITH RECURSIVE spine(day) AS (
      |  SELECT DATE '1996-01-01'
      |  UNION ALL
      |  SELECT day + 1 FROM spine WHERE day < DATE '1996-03-30'
      |)
      |SELECT strftime(day, '%Y-%m-%d') AS day, COUNT(o_orderkey) AS n_orders,
      |  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,2))),
      |                CAST(0 AS DECIMAL(12,2))) AS DOUBLE) AS day_value
      |FROM spine LEFT JOIN orders ON CAST(o_orderdate AS DATE) = day
      |GROUP BY day ORDER BY day""".stripMargin

  // ------------------------------------------------------------------
  // J1 (full outer): per-nation counts of a filtered customer slice vs a
  // filtered supplier slice — both sides pre-aggregate to one row per
  // nation BEFORE the join, so the full-outer join moves ~25 rows however
  // big the inputs are. COALESCE completes the missing sides.
  // ------------------------------------------------------------------
  def joinFullOuter(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").filter(col("c_mktsegment") === "MACHINERY")
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_cust"))
    val sup = t(s, dir, "supplier").filter(col("s_acctbal") > 5000)
      .groupBy(col("s_nationkey")).agg(count(lit(1)).as("n_supp"))
    c.join(sup, col("c_nationkey") === col("s_nationkey"), "full")
      .select(coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy(col("nationkey"))
  }

  val joinFullOuterSql: String =
    """SELECT COALESCE(c_nationkey, s_nationkey) AS nationkey,
      |  COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
      |FROM (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer
      |      WHERE c_mktsegment = 'MACHINERY' GROUP BY c_nationkey)
      |FULL JOIN (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier
      |           WHERE s_acctbal > 5000 GROUP BY s_nationkey)
      |  ON c_nationkey = s_nationkey
      |ORDER BY nationkey""".stripMargin

  // ------------------------------------------------------------------
  // Correlated subqueries through the SQL surface: a scalar COUNT subquery
  // and a correlated EXISTS. Catalyst DECORRELATES both (the scalar
  // subquery becomes a left-outer aggregate join, the EXISTS a left-semi
  // join) — no per-row re-execution, which is the difference between a
  // plan that survives 100 TB and one that doesn't. Integer-only
  // comparisons keep the oracle exact (no float-threshold flakiness).
  // ------------------------------------------------------------------
  def sqlCorrelated(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("cust_cs")
    t(s, dir, "orders").createOrReplaceTempView("ord_cs")
    t(s, dir, "lineitem").createOrReplaceTempView("li_cs")
    s.sql(
      """SELECT c_custkey, c_name,
        |  (SELECT count(*) FROM ord_cs WHERE o_custkey = c_custkey) AS n_orders
        |FROM cust_cs c
        |WHERE EXISTS (SELECT 1 FROM ord_cs o JOIN li_cs l ON l_orderkey = o_orderkey
        |              WHERE o.o_custkey = c.c_custkey AND l.l_returnflag = 'R')
        |ORDER BY c_custkey""".stripMargin)
  }

  val sqlCorrelatedSql: String =
    """SELECT c_custkey, c_name,
      |  (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o JOIN lineitem l ON l_orderkey = o_orderkey
      |              WHERE o.o_custkey = c.c_custkey AND l.l_returnflag = 'R')
      |ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------------------------
  // NOT IN with a NULLABLE subquery column — the three-valued-logic corner
  // that is NOT equivalent to the left-anti join above: one NULL in the
  // subquery makes every NOT IN predicate UNKNOWN (empty result), so the
  // engine must track null presence, not just key absence. Spark plans the
  // single-column case as a null-aware anti join (broadcast hash join with
  // isNullAware=true) — correct AND cheap while the subquery side fits a
  // broadcast. The 100 TB contract: NAAJ exists ONLY for broadcastable
  // build sides; an unbounded NOT IN subquery degenerates to a nested
  // loop, so at scale the query author (or a rewrite rule) must split it
  // into the null-existence probe (a 1-row aggregate) + a plain anti join
  // — which is exactly how the DuckDB twin evaluates it. The fixture
  // subquery is null-free, so the result equals the anti join and the
  // semantics corner is pinned by RelationalSpec injecting a NULL.
  // ------------------------------------------------------------------
  def joinNotIn(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("cust_ni")
    t(s, dir, "orders").createOrReplaceTempView("ord_ni")
    s.sql(
      """SELECT c_custkey, c_mktsegment FROM cust_ni
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM ord_ni WHERE o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin)
  }

  val joinNotInSql: String =
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
      |ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------------------------
  // X1 (higher-order array functions): transform/filter/aggregate/exists
  // over the tokenized part name — all codegen'd lambda expressions, zero
  // UDFs, one WholeStageCodegen span over the scan. Outputs are SCALARS
  // derived from the arrays (array rendering has no proven cross-engine
  // hash parity; scalar folds of arrays do).
  // ------------------------------------------------------------------
  def scalarArrays(s: SparkSession, dir: String): DataFrame = {
    val words = split(col("p_name"), " ")
    t(s, dir, "part").select(
      col("p_partkey"),
      aggregate(transform(words, w => length(w)), lit(0), (a, x) => a + x).as("total_chars"),
      size(filter(words, w => length(w) >= 6)).as("n_long_words"),
      exists(words, w => w === lit("green")).as("has_green"),
      array_join(transform(words, w => upper(substring(w, 1, 1))), "").as("initials"),
      element_at(sort_array(words, asc = false), 1).as("max_word"),
      size(array_distinct(words)).as("n_distinct"))
      .orderBy(col("p_partkey"))
  }

  val scalarArraysSql: String =
    """SELECT p_partkey,
      |  CAST(list_sum(list_transform(string_split(p_name, ' '), w -> length(w))) AS INTEGER) AS total_chars,
      |  CAST(len(list_filter(string_split(p_name, ' '), w -> length(w) >= 6)) AS INTEGER) AS n_long_words,
      |  list_contains(string_split(p_name, ' '), 'green') AS has_green,
      |  array_to_string(list_transform(string_split(p_name, ' '), w -> upper(w[1])), '') AS initials,
      |  list_sort(string_split(p_name, ' '))[-1] AS max_word,
      |  CAST(len(list_distinct(string_split(p_name, ' '))) AS INTEGER) AS n_distinct
      |FROM part ORDER BY p_partkey""".stripMargin

  // ------------------------------------------------------------------
  // Skew-salted join, driver-visible (operators.Skew): the probe side is
  // salted into 8 buckets and the build side replicated per salt, so a hot
  // key's rows spread over 8 reducers instead of one. The salt cancels out
  // of the RESULT (inner join, replicated side carries every salt value),
  // which is what makes this oracle-checkable against the plain join.
  // ------------------------------------------------------------------
  def joinSalted(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("event_id"), col("user_id"))
    val dim = ev.groupBy(col("user_id")).agg(count(lit(1)).as("user_events"))
    graft.operators.Skew.saltedJoin(ev, dim, "user_id", 8)
      .select(col("event_id"), col("user_id"), col("user_events"))
      .orderBy(col("event_id"))
  }

  val joinSaltedSql: String =
    """SELECT event_id, e.user_id AS user_id, user_events
      |FROM events e
      |JOIN (SELECT user_id, COUNT(*) AS user_events FROM events GROUP BY user_id) d
      |  ON e.user_id = d.user_id
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // CDC merge / upsert (SCD1 apply): a deterministic change set — updates
  // for custkey % 10 == 0, deletes for % 10 == 1, inserts above the key
  // domain for % 10 == 2 — applied to the customer base in ONE full-outer
  // join on the key: matched+update -> new values, matched+delete ->
  // dropped, unmatched change -> inserted, unmatched base -> carried.
  // This is the engine's MERGE INTO: at 100 TB both sides shuffle once on
  // the merge key (or zero times if the base is bucketed by it — see
  // join_bucketed), the apply itself is a projection, and the result is
  // written back partition-aligned. No per-row lookups, no driver state.
  // ------------------------------------------------------------------
  def mergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    val changes = t(s, dir, "customer")
      .filter(pmod(col("c_custkey"), lit(10)) < 3)
      .select(
        when(pmod(col("c_custkey"), lit(10)) === 2, col("c_custkey") + 1000000L)
          .otherwise(col("c_custkey")).as("k"),
        when(pmod(col("c_custkey"), lit(10)) === 0, lit("U"))
          .when(pmod(col("c_custkey"), lit(10)) === 1, lit("D"))
          .otherwise(lit("I")).as("op"),
        concat(lit("Customer#"), col("c_custkey")).as("new_name"),
        lit("MERGED").as("new_seg"))
    base.join(changes, col("c_custkey") === col("k"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(
        coalesce(col("c_custkey"), col("k")).as("c_custkey"),
        when(col("op").isNotNull, col("new_name")).otherwise(col("c_name")).as("c_name"),
        when(col("op").isNotNull, col("new_seg")).otherwise(col("c_mktsegment")).as("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val mergeUpsertSql: String =
    """WITH changes AS (
      |  SELECT CASE WHEN c_custkey % 10 = 2 THEN c_custkey + 1000000 ELSE c_custkey END AS k,
      |    CASE WHEN c_custkey % 10 = 0 THEN 'U'
      |         WHEN c_custkey % 10 = 1 THEN 'D' ELSE 'I' END AS op,
      |    'Customer#' || c_custkey AS new_name,
      |    'MERGED' AS new_seg
      |  FROM customer WHERE c_custkey % 10 < 3)
      |SELECT COALESCE(c_custkey, k) AS c_custkey,
      |  CASE WHEN op IS NOT NULL THEN new_name ELSE c_name END AS c_name,
      |  CASE WHEN op IS NOT NULL THEN new_seg ELSE c_mktsegment END AS c_mktsegment
      |FROM customer FULL OUTER JOIN changes ON c_custkey = k
      |WHERE op IS NULL OR op <> 'D'
      |ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q13 shape (customer distribution): orders per customer INCLUDING
  // zero-order customers (left join), then the count-of-counts histogram.
  // Two keyed exchanges (custkey, then the bounded n_orders domain);
  // zero-preservation is the part naive group-bys get wrong. The second
  // aggregation's key domain is bounded by max orders-per-customer, so the
  // final exchange is tiny at any scale.
  // ------------------------------------------------------------------
  def q13CustDist(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer").select(col("c_custkey"))
    val o = Tables.load(s, dir, "orders")
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select(col("o_custkey"))
    val perCust = c.join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_custkey")).as("n_orders"))
    perCust.groupBy(col("n_orders"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("n_customers").desc, col("n_orders").desc)
  }

  val q13CustDistSql: String =
    """SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS n_customers FROM (
      |  SELECT c.c_custkey, COUNT(o.o_custkey) AS n_orders
      |  FROM customer c LEFT JOIN (
      |    SELECT o_custkey FROM orders WHERE o_orderpriority <> '1-URGENT') o
      |    ON c.c_custkey = o.o_custkey
      |  GROUP BY c.c_custkey)
      |GROUP BY n_orders
      |ORDER BY n_customers DESC, n_orders DESC""".stripMargin

  // ------------------------------------------------------------------
  // RFM segmentation: per-customer recency (days since last order),
  // frequency (order count), monetary (exact-decimal spend), each scored
  // into quintiles with a deterministic custkey tiebreak. One custkey
  // aggregation; the quintiles are EXACT ntile(5) semantics but computed
  // distributed (round-7): value-derived rank buckets + broadcast prefix
  // offsets, then the tile from (global rank, n) with the SQL-standard
  // bucket rule — bit-identical to ntile(5) OVER (ORDER BY ...) (the
  // oracle below is unchanged) without the three single-partition sorts
  // that would straggle at 100 TB. recency/frequency have bounded
  // discrete domains -> counting-sort buckets with custkey tie-class
  // splitting (a modal frequency value fans out instead of landing on
  // one task); monetary is continuous -> percentile range buckets.
  // See Distributed.globalRowNumber for the design.
  // ------------------------------------------------------------------
  def rfm(s: SparkSession, dir: String): DataFrame = {
    // Materialize the per-customer grain ONCE (scratch-parquet lineage cut,
    // the DedupOps pattern): the three scoring passes and the final
    // assembly are FOUR consumers of this relation, and globalRowNumber
    // itself references its input twice (rows + bucket counts) — inline,
    // the round-7 chained form re-derived the orders aggregation per
    // consumer (3.0 s at sf0.1, ~3x this form).
    val perPath = graft.Scratch.dir("graft_rfm_per")
    Tables.load(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(
        datediff(lit("1998-12-31").cast("date"), max(col("o_orderdate")).cast("date"))
          .as("recency_days"),
        count(lit(1)).as("frequency"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("monetary"))
      .write.parquet(perPath)
    val per = s.read.parquet(perPath)
    // ONE construction job fetches every bucket boundary (custkey domain
    // endpoints + monetary quantiles). Fetching them per scoring pass
    // would cost a job each; with literals the query is one DAG plus this
    // single bounded collect. parts <= 1 (e.g. shuffle.partitions=1) must
    // skip the percentile term: percentile_approx rejects an empty
    // percentage array (mirrors the ByRange guard in Distributed).
    val parts = s.sessionState.conf.numShufflePartitions
    val levels = (1 until parts).map(_.toDouble / parts)
    val ckAggs = Seq(
      min(col("o_custkey")).cast("long"), max(col("o_custkey")).cast("long"))
    val aggs = if (levels.isEmpty) ckAggs
      else ckAggs :+ percentile_approx(col("monetary"), array(levels.map(lit): _*), lit(10000))
    val b = per.agg(aggs.head, aggs.tail: _*).head()
    val ckBounds = if (b.isNullAt(0)) Some((0L, 0L)) else Some((b.getLong(0), b.getLong(1)))
    val mBnds = if (levels.isEmpty || b.isNullAt(2)) Some(Seq.empty[Any])
      else Some(b.getSeq[Any](2))
    // Each score is an independent (custkey, tile) relation off the SAME
    // materialized grain — narrow two-column rank pipelines instead of the
    // chained wide passes — joined back on custkey (all three exchanges
    // plus the assembly share the custkey hash partitioning).
    def scoreOf(c: String, asc: Boolean, out: String,
                buckets: Distributed.Buckets): DataFrame =
      Distributed.globalRowNumber(per.select(col("o_custkey"), col(c)),
          Seq(c -> asc, "o_custkey" -> true), "__rnk", buckets, totalName = Some("__n"))
        .select(col("o_custkey").as(s"__ck_$out"),
          Distributed.ntileFromRank(col("__rnk"), col("__n"), 5).cast("int").as(out))
    val r = scoreOf("recency_days", asc = true, "r_score",
      Distributed.ByValue(col("recency_days"), "o_custkey", tieBounds = ckBounds))
    val f = scoreOf("frequency", asc = false, "f_score",
      Distributed.ByValue(-col("frequency"), "o_custkey", tieBounds = ckBounds))
    val m = scoreOf("monetary", asc = false, "m_score",
      Distributed.ByRange(boundaries = mBnds))
    per
      .join(r, col("o_custkey") === col("__ck_r_score"))
      .join(f, col("o_custkey") === col("__ck_f_score"))
      .join(m, col("o_custkey") === col("__ck_m_score"))
      .drop("__ck_r_score", "__ck_f_score", "__ck_m_score")
      .orderBy(col("o_custkey"))
  }

  val rfmSql: String =
    """WITH per AS (
      |  SELECT o_custkey,
      |    date_diff('day', CAST(MAX(o_orderdate) AS DATE), DATE '1998-12-31') AS recency_days,
      |    COUNT(*) AS frequency,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
      |  FROM orders GROUP BY o_custkey)
      |SELECT o_custkey, CAST(recency_days AS INT) AS recency_days,
      |  frequency, monetary,
      |  ntile(5) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS r_score,
      |  ntile(5) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f_score,
      |  ntile(5) OVER (ORDER BY monetary DESC, o_custkey ASC) AS m_score
      |FROM per ORDER BY o_custkey""".stripMargin

  // ------------------------------------------------------------------
  // Month-over-month revenue: exact-decimal monthly totals, then lag-based
  // deltas over the BOUNDED month domain (the window runs on one row per
  // month — never on the fact stream). Delta ratio is the single double
  // division at the output; absolute delta stays exact decimal -> double.
  // ------------------------------------------------------------------
  def momRevenue(s: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.load(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"),
        count(lit(1)).as("n_orders"))
    val w = Window.orderBy(col("ym"))
    monthly
      .withColumn("prev", lag(col("rev"), 1).over(w))
      .select(col("ym"), col("rev").cast("double").as("revenue"), col("n_orders"),
        (col("rev") - col("prev")).cast("double").as("mom_delta"),
        when(col("prev").isNotNull,
          (col("rev") - col("prev")).cast("double") / col("prev").cast("double"))
          .as("mom_pct"))
      .orderBy(col("ym"))
  }

  val momRevenueSql: String =
    """WITH m AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS ym,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
      |    COUNT(*) AS n_orders
      |  FROM orders GROUP BY strftime(o_orderdate, '%Y-%m'))
      |SELECT ym, CAST(rev AS DOUBLE) AS revenue, n_orders,
      |  CAST(rev - lag(rev) OVER (ORDER BY ym) AS DOUBLE) AS mom_delta,
      |  CASE WHEN lag(rev) OVER (ORDER BY ym) IS NOT NULL
      |    THEN CAST(rev - lag(rev) OVER (ORDER BY ym) AS DOUBLE)
      |         / CAST(lag(rev) OVER (ORDER BY ym) AS DOUBLE) END AS mom_pct
      |FROM m ORDER BY ym""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q18 shape (large-volume orders): orders whose total lineitem
  // quantity exceeds a threshold (HAVING over a keyed aggregate), joined
  // back to order/customer attributes, top-100 by value. The HAVING
  // aggregate is the semi-join REDUCER: at scale it shrinks the fact side
  // to the rare heavy keys BEFORE any wide join happens, and the top-K is
  // a TakeOrdered, never a global sort.
  // ------------------------------------------------------------------
  def q18LargeOrders(s: SparkSession, dir: String): DataFrame = {
    val heavy = Tables.load(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("total_qty"))
      .filter(col("total_qty") > 150)
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
    heavy.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_totalprice"), col("total_qty").cast("double").as("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  val q18LargeOrdersSql: String =
    """WITH heavy AS (
      |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
      |  FROM lineitem GROUP BY l_orderkey
      |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150)
      |SELECT o_orderkey, o_custkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
      |  o_totalprice, CAST(total_qty AS DOUBLE) AS total_qty
      |FROM heavy JOIN orders ON l_orderkey = o_orderkey
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q21 shape (suppliers who kept orders waiting): the composed
  // semi + anti SELF-JOIN on the fact table. A supplier's late line
  // counts only when the finished order is MULTI-supplier (EXISTS another
  // supplier's line: left-semi) and this supplier is SOLELY to blame
  // (NOT EXISTS another supplier's LATE line: left-anti). The fixture
  // lacks commit/receipt dates, so "late" = shipped more than 60 days
  // after the order date — same plan shape, same self-join semantics.
  // Scale: lateness filters the fact side BEFORE both self-joins; the
  // semi probes the full lineitem and the anti probes only the (already
  // filtered) late relation, all three legs shuffling once on
  // l_orderkey so AQE can plan them as co-partitioned sort-merge joins;
  // supplier attaches AFTER the count-defining joins and the top-100 is
  // a TakeOrdered, never a global sort.
  // ------------------------------------------------------------------
  def q21WaitingSuppliers(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val fOrders = Tables.load(s, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val late = li.join(fOrders, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate").cast("date") >
        date_add(col("o_orderdate").cast("date"), 60))
      .select(col("l_orderkey"), col("l_suppkey"))
    val l2 = li.select(col("l_orderkey").as("l2_orderkey"), col("l_suppkey").as("l2_suppkey"))
    val l3 = late.select(col("l_orderkey").as("l3_orderkey"), col("l_suppkey").as("l3_suppkey"))
    val blamed = late
      .join(l2, col("l2_orderkey") === col("l_orderkey") &&
        col("l2_suppkey") =!= col("l_suppkey"), "left_semi")
      .join(l3, col("l3_orderkey") === col("l_orderkey") &&
        col("l3_suppkey") =!= col("l_suppkey"), "left_anti")
    blamed
      .join(Tables.load(s, dir, "supplier").select(col("s_suppkey"), col("s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name")).agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  val q21WaitingSuppliersSql: String =
    """WITH late AS (
      |  SELECT l_orderkey, l_suppkey
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderstatus = 'F'
      |    AND CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 60),
      |blamed AS (
      |  SELECT * FROM late
      |  WHERE EXISTS (SELECT 1 FROM lineitem l2
      |                WHERE l2.l_orderkey = late.l_orderkey
      |                  AND l2.l_suppkey <> late.l_suppkey)
      |    AND NOT EXISTS (SELECT 1 FROM late l3
      |                    WHERE l3.l_orderkey = late.l_orderkey
      |                      AND l3.l_suppkey <> late.l_suppkey))
      |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
      |FROM blamed JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q4 shape (order-priority checking): orders in one quarter that
  // have at least one LATE lineitem (EXISTS -> left-semi join), counted
  // per priority. The fixture lacks commit/receipt dates, so "late"
  // reuses Q21's definition: shipped more than 60 days after the order
  // date. Scale: the quarter filter prunes orders FIRST (partition-
  // prunable at scale), the semi-join shuffles each side once on the
  // order key and emits at most one row per order regardless of how many
  // lines are late, and the 5-row result needs no sort machinery beyond
  // the final trivial orderBy.
  // ------------------------------------------------------------------
  def q4OrderPriority(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
        col("o_orderdate") < lit("1996-04-01").cast("date"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
    val late = o.join(li,
      col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate").cast("date") > date_add(col("o_orderdate").cast("date"), 60),
      "left_semi")
    late.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  val q4OrderPrioritySql: String =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
      |FROM orders
      |WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 60)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q15 shape (top supplier): quarterly revenue per supplier, then
  // the supplier(s) achieving the GLOBAL maximum — the classic
  // aggregate-then-join-on-scalar-subquery pattern. Revenue stays in
  // exact decimal so the max-equality join cannot be broken by float
  // summation order; the scalar max is a 1-row broadcast, so the "WHERE
  // total_revenue = (SELECT max ...)" costs no second shuffle of the
  // revenue relation at any scale.
  // ------------------------------------------------------------------
  def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.load(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
        col("l_shipdate") < lit("1996-04-01").cast("date"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
        (lit(1).cast("decimal(12,2)") - col("l_discount").cast("decimal(12,2)")))
        .as("total_revenue"))
    val top = rev.agg(max(col("total_revenue")).as("max_rev"))
    rev.join(broadcast(top), col("total_revenue") === col("max_rev"))
      .join(Tables.load(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_revenue").cast("double").as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  val q15TopSupplierSql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |        (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q17 shape (small-quantity-order revenue): lineitems of one
  // brand whose quantity is below 20% of that PART's average quantity —
  // the correlated scalar subquery decorrelated into a per-part
  // aggregate + equi-join. avg(l_quantity) is exact here (integer-valued
  // quantities sum exactly in doubles far below 2^53, so partial-agg
  // order cannot change the result) and the 0.2 * avg comparison
  // multiplies identical operands on both engines. Scale: the brand
  // filter broadcasts parts; the per-part avg shuffles lineitem once on
  // l_partkey and the semi-filtered revenue is a single scan-side sum —
  // no row explosion, no global sort.
  // ------------------------------------------------------------------
  def q17SmallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    val brandParts = Tables.load(s, dir, "part")
      .filter(col("p_brand") === "Brand#23")
      .select(col("p_partkey"))
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
    val avgQty = li.groupBy(col("l_partkey").as("a_partkey"))
      .agg(avg(col("l_quantity")).as("avg_qty"))
    li.join(avgQty, col("l_partkey") === col("a_partkey"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg((sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double") / 7.0)
        .as("avg_yearly"),
        count(lit(1)).as("n_lines"))
  }

  val q17SmallQtyRevenueSql: String =
    """WITH li AS (
      |  SELECT l_partkey, l_quantity, l_extendedprice
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_brand = 'Brand#23'),
      |pavg AS (SELECT l_partkey AS a_partkey, AVG(l_quantity) AS avg_qty
      |         FROM li GROUP BY l_partkey)
      |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly,
      |  CAST(COUNT(*) AS BIGINT) AS n_lines
      |FROM li JOIN pavg ON l_partkey = a_partkey
      |WHERE l_quantity < 0.2 * avg_qty""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q6 shape (forecast revenue change): pure scan-side conjunctive
  // range filter + one global decimal sum — the canonical "does the
  // filter reach the parquet reader" probe. Every predicate is on scan
  // columns, so the plan must show PushedFilters and a single partial-agg
  // exchange of ONE row; any join or window here is a bug.
  // ------------------------------------------------------------------
  def q6ForecastRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
        col("l_shipdate") < lit("1997-01-01").cast("date") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg((sum(dec2(col("l_extendedprice")) * dec2(col("l_discount"))))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))

  val q6ForecastRevenueSql: String =
    """SELECT
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
      |  CAST(COUNT(*) AS BIGINT) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q7 shape (volume shipping): bidirectional nation-pair trade —
  // lineitem x orders x customer x supplier with TWO independent nation
  // attachments and an OR over the (supplier-nation, customer-nation)
  // pair, grouped by pair x ship year. The two bounded nation dims
  // broadcast; the pair OR filters AFTER both attachments (it cannot
  // push into either side alone — the classic disjunctive-join shape);
  // fact-side joins shuffle once each on their keys.
  // ------------------------------------------------------------------
  def q7VolumeShipping(s: SparkSession, dir: String): DataFrame = {
    val n1 = t(s, dir, "nation").select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val n2 = t(s, dir, "nation").select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
        col("l_shipdate") < lit("1998-01-01").cast("date"))
      .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("sn_key"))
      .join(broadcast(n2), col("c_nationkey") === col("cn_key"))
      .filter((col("sn_key") === 1 && col("cn_key") === 2) ||
        (col("sn_key") === 2 && col("cn_key") === 1))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sum(revenue).cast("double").as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  val q7VolumeShippingSql: String =
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
      |  CAST(SUM($revenueSql) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1998-01-01'
      |  AND ((n1.n_nationkey = 1 AND n2.n_nationkey = 2)
      |    OR (n1.n_nationkey = 2 AND n2.n_nationkey = 1))
      |GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q10 shape (returned-item reporting): revenue lost to returns
  // per customer in a quarter, top 20. The returnflag filter shrinks the
  // fact side at the scan; customer/nation attach after the
  // orderkey-keyed join; top-20 is a TakeOrdered.
  // ------------------------------------------------------------------
  def q10ReturnedItems(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
        col("o_orderdate") < lit("1996-04-01").cast("date"))
      .select(col("o_orderkey"), col("o_custkey"))
    t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(sum(revenue).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q10ReturnedItemsSql: String =
    s"""SELECT c_custkey, c_name, c_acctbal, n_name,
      |  CAST(SUM($revenueSql) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q14 shape (promotion effect): promo share of monthly revenue —
  // a conditional-aggregate RATIO. Both sums stay exact decimal; the
  // ratio divides the two DOUBLE casts (identical operands both engines),
  // never decimal-by-decimal (quotient scale rules differ per engine).
  // part is broadcast; one l_partkey-keyed fact pass.
  // ------------------------------------------------------------------
  def q14PromoEffect(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part").select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ym"))
      .agg(
        sum(when(col("p_type") === "PROMO", revenue).otherwise(lit(0).cast("decimal(12,2)")))
          .cast("double").as("promo_revenue"),
        sum(revenue).cast("double").as("total_revenue"))
      .withColumn("promo_share",
        lit(100.0) * col("promo_revenue") / col("total_revenue"))
      .orderBy(col("ym"))

  val q14PromoEffectSql: String =
    s"""SELECT strftime(l_shipdate, '%Y-%m') AS ym,
      |  CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $revenueSql
      |                ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS promo_revenue,
      |  CAST(SUM($revenueSql) AS DOUBLE) AS total_revenue,
      |  100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $revenueSql
      |                        ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
      |    / CAST(SUM($revenueSql) AS DOUBLE) AS promo_share
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY strftime(l_shipdate, '%Y-%m')
      |ORDER BY ym""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q19 shape (discounted revenue): the three-branch DISJUNCTION of
  // conjunctive (brand, size-range, quantity-range) predicates spanning
  // BOTH join sides (p_size is missing p_container in the fixture — size
  // bands substitute, same shape). The optimizer can push only the
  // per-side disjunction residue (brand IN / quantity bounds) to the
  // scans; the cross-side conjunction must evaluate at the join — the
  // shape that breaks naive single-table pushdown. part broadcasts.
  // ------------------------------------------------------------------
  def q19DiscountedRevenue(s: SparkSession, dir: String): DataFrame = {
    val j = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part").select(col("p_partkey"), col("p_brand"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
    j.filter(
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30)))
      .agg(sum(revenue).cast("double").as("revenue"), count(lit(1)).as("n_lines"))
  }

  val q19DiscountedRevenueSql: String =
    s"""SELECT CAST(SUM($revenueSql) AS DOUBLE) AS revenue,
      |  CAST(COUNT(*) AS BIGINT) AS n_lines
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q22 shape (global sales opportunity): customers with
  // above-average balance and no 'P'-status order (every fixture customer
  // has SOME order, so the anti-join keys on the P subset — same
  // anti-join + scalar-subquery shape), grouped by nation. The
  // above-average predicate is the division-free multiply-through:
  // bal * n_pos > sum_pos in exact decimal — an engine-portable scalar
  // subquery with no avg() rounding anywhere. The 1-row stats relation
  // broadcasts; the anti join shuffles on custkey.
  // ------------------------------------------------------------------
  def q22GlobalSales(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val stats = c.filter(col("c_acctbal") > 0.0)
      .agg(count(lit(1)).as("n_pos"),
        sum(dec2(col("c_acctbal"))).as("sum_pos"))
    c.join(broadcast(stats), lit(true))
      .filter(dec2(col("c_acctbal")) * col("n_pos") > col("sum_pos"))
      .join(t(s, dir, "orders").filter(col("o_orderstatus") === "P")
        .select(col("o_custkey")), col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        sum(dec2(col("c_acctbal"))).cast("double").as("totacctbal"))
      .orderBy(col("c_nationkey"))
  }

  val q22GlobalSalesSql: String =
    """WITH stats AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pos,
      |    SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS sum_pos
      |  FROM customer WHERE c_acctbal > 0.0)
      |SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
      |FROM customer CROSS JOIN stats
      |WHERE CAST(c_acctbal AS DECIMAL(12,2)) * n_pos > sum_pos
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q2 shape (minimum-cost supplier): for each qualifying part,
  // the EUROPE supplier(s) whose cost equals the part's MINIMUM cost
  // among EUROPE suppliers — the correlated scalar-min subquery
  // (cost = (SELECT MIN(..) WHERE part = outer.part)) decorrelated into
  // a per-part min aggregate joined back on (partkey, cost). The fixture
  // has no partsupp; lineitem is the (part, supplier) cost relation with
  // cost = MIN(l_extendedprice) per pair — exact decimal, so the
  // min-equality join-back cannot be broken by float rounding (the same
  // reason Q15's max-equality join is decimal). Scale: part filter and
  // the bounded region->nation->supplier dim chain broadcast; the fact
  // aggregates shuffle once on (partkey, suppkey) and the per-part min
  // reuses the partkey side; the top-100 is a TakeOrdered, never a
  // global sort. s_suppkey rides along for a total output order.
  // ------------------------------------------------------------------
  def q2MinCostSupp(s: SparkSession, dir: String): DataFrame = {
    val euroSupp = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")
          .join(broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val qualParts = t(s, dir, "part")
      .filter(col("p_size") <= 10 && col("p_type") === "LARGE")
      .select(col("p_partkey"), col("p_name"))
    val cost = t(s, dir, "lineitem")
      .join(broadcast(qualParts.select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(euroSupp.select(col("s_suppkey").as("es_suppkey"))),
        col("l_suppkey") === col("es_suppkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(dec2(col("l_extendedprice"))).as("supply_cost"))
    val minCost = cost.groupBy(col("l_partkey").as("m_partkey"))
      .agg(min(col("supply_cost")).as("min_cost"))
    cost
      .join(minCost, col("l_partkey") === col("m_partkey") &&
        col("supply_cost") === col("min_cost"))
      .join(broadcast(euroSupp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(qualParts), col("l_partkey") === col("p_partkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_name"), col("s_suppkey"),
        col("supply_cost").cast("double").as("supply_cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"), col("s_suppkey"))
      .limit(100)
  }

  val q2MinCostSuppSql: String =
    """WITH euro_supp AS (
      |  SELECT s_suppkey, s_name, s_acctbal, n_name
      |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'EUROPE'),
      |qual_parts AS (
      |  SELECT p_partkey, p_name FROM part
      |  WHERE p_size <= 10 AND p_type = 'LARGE'),
      |cost AS (
      |  SELECT l_partkey, l_suppkey,
      |    MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS supply_cost
      |  FROM lineitem
      |  JOIN qual_parts ON l_partkey = p_partkey
      |  JOIN euro_supp ON l_suppkey = s_suppkey
      |  GROUP BY l_partkey, l_suppkey)
      |SELECT s_acctbal, s_name, n_name, p_partkey, p_name, s_suppkey,
      |  CAST(supply_cost AS DOUBLE) AS supply_cost
      |FROM cost
      |JOIN euro_supp ON l_suppkey = s_suppkey
      |JOIN qual_parts ON l_partkey = p_partkey
      |WHERE supply_cost = (SELECT MIN(c2.supply_cost) FROM cost c2
      |                     WHERE c2.l_partkey = cost.l_partkey)
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, s_suppkey
      |LIMIT 100""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q20 shape (potential part promotion): suppliers of one nation
  // who, for some qualifying part, shipped MORE THAN 20% of that part's
  // total 1995 volume — the nested-IN (part-name prefix) plus a
  // correlated scalar aggregate at a DIFFERENT granularity than the
  // outer aggregate ((part) vs (part, supplier)), decorrelated into two
  // keyed aggregates joined on the part key, a share filter in exact
  // decimal (multiply-through, no division), and a semi-join into the
  // supplier dim. Scale: the name-filtered part list broadcasts into the
  // fact scan; both aggregates shuffle the SAME filtered fact once on
  // l_partkey(+suppkey) so AQE co-plans them; the distinct supplier set
  // is bounded by the dim and semi-joins without row explosion.
  // ------------------------------------------------------------------
  def q20PotentialPromo(s: SparkSession, dir: String): DataFrame = {
    val promoParts = t(s, dir, "part")
      .filter(col("p_name").startsWith("small"))
      .select(col("p_partkey"))
    val li95 = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("date") &&
        col("l_shipdate") < lit("1996-01-01").cast("date"))
      .join(broadcast(promoParts), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
    val perSuppPart = li95.groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("supp_qty"))
    val perPart = li95.groupBy(col("l_partkey").as("pp_partkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("part_qty"))
    val qualSupp = perSuppPart
      .join(perPart, col("l_partkey") === col("pp_partkey"))
      .filter(col("supp_qty") * 5 > col("part_qty"))
      .select(col("l_suppkey")).distinct()
    t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation").filter(col("n_name") === "NATION_3")
          .select(col("n_nationkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .join(qualSupp, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"),
        col("s_acctbal").cast("double").as("s_acctbal"))
      .orderBy(col("s_suppkey"))
  }

  val q20PotentialPromoSql: String =
    """WITH li95 AS (
      |  SELECT l_partkey, l_suppkey, l_quantity
      |  FROM lineitem
      |  WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1996-01-01'
      |    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')),
      |per_supp_part AS (
      |  SELECT l_partkey, l_suppkey,
      |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS supp_qty
      |  FROM li95 GROUP BY l_partkey, l_suppkey)
      |SELECT s_suppkey, s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |WHERE n_name = 'NATION_3'
      |  AND s_suppkey IN (
      |    SELECT l_suppkey FROM per_supp_part p
      |    WHERE supp_qty * 5 > (SELECT SUM(CAST(l_quantity AS DECIMAL(18,2)))
      |                          FROM li95 l2 WHERE l2.l_partkey = p.l_partkey))
      |ORDER BY s_suppkey""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q11 shape (important stock): per-part value held by ONE
  // nation's suppliers, kept only where it exceeds a fraction of the
  // GLOBAL total — the global-scalar-threshold subquery. The threshold
  // compare is the division-free multiply-through in exact decimal
  // (value * 10000 > total), so no engine-specific fraction rounding
  // exists anywhere. Scale: the nation's supplier list broadcasts into
  // the fact scan; one shuffle on l_partkey; the 1-row global total
  // broadcasts back over the bounded per-part relation.
  // ------------------------------------------------------------------
  def q11ImportantStock(s: SparkSession, dir: String): DataFrame = {
    val supp7 = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation").filter(col("n_name") === "NATION_7")
          .select(col("n_nationkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val vals = t(s, dir, "lineitem")
      .join(broadcast(supp7), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(dec2(col("l_extendedprice"))).as("value"))
    val total = vals.agg(sum(col("value")).as("total_value"))
    vals.join(broadcast(total), lit(true))
      .filter(col("value") * 10000 > col("total_value"))
      .select(col("l_partkey").as("p_partkey"),
        col("value").cast("double").as("value"))
      .orderBy(col("value").desc, col("p_partkey"))
  }

  val q11ImportantStockSql: String =
    """WITH vals AS (
      |  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS value
      |  FROM lineitem
      |  WHERE l_suppkey IN (
      |    SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |    WHERE n_name = 'NATION_7')
      |  GROUP BY l_partkey)
      |SELECT l_partkey AS p_partkey, CAST(value AS DOUBLE) AS value
      |FROM vals
      |WHERE value * 10000 > (SELECT SUM(value) FROM vals)
      |ORDER BY value DESC, p_partkey""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q12 shape (shipping priority by mode): orders x lineitem with
  // a lateness predicate, counted into high/low priority per category.
  // The fixture lacks l_shipmode and commit/receipt dates: l_linestatus
  // stands in as the mode and Q21's lateness (shipped > 60 days after
  // the order date) as the late-receipt predicate — same join + dual
  // conditional-count shape. Scale: the year filter prunes the fact
  // scan; one shuffle each side on the order key; the output is bounded
  // by the status domain.
  // ------------------------------------------------------------------
  def q12ShipPriority(s: SparkSession, dir: String): DataFrame = {
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .join(t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
            col("l_shipdate") < lit("1997-01-01").cast("date"))
          .select(col("l_orderkey"), col("l_shipdate"), col("l_linestatus")),
        col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate").cast("date") >
        date_add(col("o_orderdate").cast("date"), 60))
      .groupBy(col("l_linestatus"))
      .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_linestatus"))
  }

  val q12ShipPrioritySql: String =
    """SELECT l_linestatus,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |           THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      |  AND CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 60
      |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q16 shape (supplier count by part attributes): distinct
  // suppliers per (brand, type, size) over non-excluded parts, minus the
  // "complaints" suppliers — NOT IN over a subquery. The fixture lacks
  // s_comment; a negative account balance stands in for the complaints
  // predicate. s_suppkey is non-null by schema, so the NOT IN is planned
  // as a plain left-anti join (the scale-safe form — NAAJ-with-broadcast
  // is demonstrated separately by join_not_in; see NOTES.md). Scale: the
  // part filter broadcasts; the anti side is a bounded dim subset; one
  // fact shuffle on the grouping key with partial distinct aggregation.
  // ------------------------------------------------------------------
  def q16SupplierCnt(s: SparkSession, dir: String): DataFrame = {
    val badSupp = t(s, dir, "supplier")
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    val parts = t(s, dir, "part")
      .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    t(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(badSupp, col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  val q16SupplierCntSql: String =
    """SELECT p_brand, p_type, p_size,
      |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
      |  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q8 shape (national market share): one nation's share of the
  // region's revenue for a part type, per order year — dimensions attach
  // on BOTH fact sides (supplier nation = the share subject, customer
  // nation -> region = the market), and the share is a conditional
  // aggregate ratio per group. Sums stay exact decimal; the one double
  // division happens at the output boundary with identical operands on
  // both engines. Scale: part/customer/supplier dims broadcast; lineitem
  // shuffles once on l_orderkey to meet orders; the per-year rollup is
  // bounded by the calendar.
  // ------------------------------------------------------------------
  def q8MarketShare(s: SparkSession, dir: String): DataFrame = {
    val americaCust = t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")
          .join(broadcast(t(s, dir, "region").filter(col("r_name") === "AMERICA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val suppNation = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("sn_nationkey"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_nationkey"))
      .select(col("s_suppkey"), col("supp_nation"))
    val stdParts = t(s, dir, "part")
      .filter(col("p_type") === "STANDARD").select(col("p_partkey"))
    val vol = t(s, dir, "lineitem")
      .join(broadcast(stdParts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
            col("o_orderdate") < lit("1998-01-01").cast("date"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(americaCust, col("o_custkey") === col("c_custkey"), "left_semi")
      .select(year(col("o_orderdate")).as("o_year"), revenue.as("volume"),
        col("supp_nation"))
    vol.groupBy(col("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_5", col("volume"))
          .otherwise(lit(0).cast("decimal(12,2)"))).as("nation_volume"),
        sum(col("volume")).as("total_volume"))
      .select(col("o_year"),
        (col("nation_volume").cast("double") / col("total_volume").cast("double"))
          .as("mkt_share"),
        col("total_volume").cast("double").as("total_volume"))
      .orderBy(col("o_year"))
  }

  val q8MarketShareSql: String =
    s"""WITH vol AS (
      |  SELECT year(o_orderdate) AS o_year, $revenueSql AS volume,
      |    (SELECT n_name FROM nation WHERE n_nationkey = s_nationkey) AS supp_nation
      |  FROM lineitem
      |  JOIN part ON l_partkey = p_partkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  WHERE p_type = 'STANDARD'
      |    AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1998-01-01'
      |    AND o_custkey IN (
      |      SELECT c_custkey FROM customer JOIN nation ON c_nationkey = n_nationkey
      |      JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'AMERICA'))
      |SELECT o_year,
      |  CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN volume
      |                ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
      |    / CAST(SUM(volume) AS DOUBLE) AS mkt_share,
      |  CAST(SUM(volume) AS DOUBLE) AS total_volume
      |FROM vol GROUP BY o_year ORDER BY o_year""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q9 shape (product-type profit): per supplier-nation x order
  // year, the profit over parts matching a name pattern. The fixture has
  // no partsupp.ps_supplycost; the per-line cost term keeps the shape
  // (profit = revenue - cost*qty, a second decimal product inside the
  // same sum) using l_tax as the unit-cost stand-in. Scale: the
  // name-filtered part list and the supplier-nation dim broadcast; the
  // fact meets orders on l_orderkey once; output bounded by nation x
  // year.
  // ------------------------------------------------------------------
  def q9ProductProfit(s: SparkSession, dir: String): DataFrame = {
    val widgetParts = t(s, dir, "part")
      .filter(col("p_name").contains("widget")).select(col("p_partkey"))
    val suppNation = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("sn_nationkey"), col("n_name").as("nation"))),
        col("s_nationkey") === col("sn_nationkey"))
      .select(col("s_suppkey"), col("nation"))
    t(s, dir, "lineitem")
      .join(broadcast(widgetParts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(sum(revenue - dec2(col("l_tax")) * dec2(col("l_quantity")))
        .cast("double").as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  val q9ProductProfitSql: String =
    s"""SELECT n_name AS nation, year(o_orderdate) AS o_year,
      |  CAST(SUM($revenueSql
      |    - CAST(l_tax AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)))
      |    AS DOUBLE) AS sum_profit
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |WHERE p_name LIKE '%widget%'
      |GROUP BY n_name, year(o_orderdate)
      |ORDER BY nation, o_year DESC""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q18 shape (large-volume customers): orders whose TOTAL line
  // quantity exceeds a threshold — the IN-(grouped-HAVING-subquery)
  // shape, decorrelated to a per-order aggregate semi-joined back, then
  // customer attachment and a top-100 by order value. Scale: the
  // per-order aggregate shuffles lineitem once on l_orderkey (partial
  // aggs map-side); the qualifying-order set is small and semi-joins
  // orders without expansion; TakeOrdered caps the output — no global
  // sort of the join.
  // ------------------------------------------------------------------
  def q18LargeVolumeCust(s: SparkSession, dir: String): DataFrame = {
    val bigOrders = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"))
      .filter(col("sum_qty") > 280)
    t(s, dir, "orders")
      .join(bigOrders, col("o_orderkey") === col("l_orderkey"))
      .join(t(s, dir, "customer").select(col("c_custkey"), col("c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice").cast("double").as("o_totalprice"),
        col("sum_qty").cast("double").as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
      .limit(100)
  }

  val q18LargeVolumeCustSql: String =
    """SELECT c_name, c_custkey, o_orderkey, o_orderdate,
      |  CAST(o_totalprice AS DOUBLE) AS o_totalprice,
      |  CAST(sum_qty AS DOUBLE) AS sum_qty
      |FROM orders
      |JOIN (SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
      |      FROM lineitem GROUP BY l_orderkey
      |      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 280) big
      |  ON o_orderkey = l_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
      |LIMIT 100""".stripMargin

  // Registry -----------------------------------------------------------

  val queries: Map[String, Query] = Map(
    "q21_waiting_suppliers" -> Query(q21WaitingSuppliers _, q21WaitingSuppliersSql),
    "q4_order_priority" -> Query(q4OrderPriority _, q4OrderPrioritySql),
    "q6_forecast_revenue" -> Query(q6ForecastRevenue _, q6ForecastRevenueSql),
    "q7_volume_shipping" -> Query(q7VolumeShipping _, q7VolumeShippingSql),
    "q10_returned_items" -> Query(q10ReturnedItems _, q10ReturnedItemsSql),
    "q14_promo_effect" -> Query(q14PromoEffect _, q14PromoEffectSql),
    "q15_top_supplier" -> Query(q15TopSupplier _, q15TopSupplierSql),
    "q17_small_qty_revenue" -> Query(q17SmallQtyRevenue _, q17SmallQtyRevenueSql),
    "q19_discounted_revenue" -> Query(q19DiscountedRevenue _, q19DiscountedRevenueSql),
    "q22_global_sales" -> Query(q22GlobalSales _, q22GlobalSalesSql),
    "q2_min_cost_supp" -> Query(q2MinCostSupp _, q2MinCostSuppSql),
    "q20_potential_promo" -> Query(q20PotentialPromo _, q20PotentialPromoSql),
    "q11_important_stock" -> Query(q11ImportantStock _, q11ImportantStockSql),
    "q12_ship_priority" -> Query(q12ShipPriority _, q12ShipPrioritySql),
    "q16_supplier_cnt" -> Query(q16SupplierCnt _, q16SupplierCntSql),
    "q8_market_share" -> Query(q8MarketShare _, q8MarketShareSql),
    "q9_product_profit" -> Query(q9ProductProfit _, q9ProductProfitSql),
    "q18_large_volume_cust" -> Query(q18LargeVolumeCust _, q18LargeVolumeCustSql),
    "q13_custdist" -> Query(q13CustDist _, q13CustDistSql),
    "q18_large_orders" -> Query(q18LargeOrders _, q18LargeOrdersSql),
    "orders_rfm" -> Query(rfm _, rfmSql),
    "orders_mom" -> Query(momRevenue _, momRevenueSql),
    "merge_upsert" -> Query(mergeUpsert _, mergeUpsertSql),
    "agg_weighted_avg" -> Query(weightedAvg _, weightedAvgSql),
    "q1_agg" -> Query(q1Agg _, q1AggSql),
    "q3_join_topk" -> Query(q3JoinTopK _, q3JoinTopKSql),
    "q5_star_join" -> Query(q5StarJoin _, q5StarJoinSql),
    "join_left_outer" -> Query(joinLeftOuter _, joinLeftOuterSql),
    "join_full_outer" -> Query(joinFullOuter _, joinFullOuterSql),
    "join_salted" -> Query(joinSalted _, joinSaltedSql),
    "sql_correlated" -> Query(sqlCorrelated _, sqlCorrelatedSql),
    "scalar_arrays" -> Query(scalarArrays _, scalarArraysSql),
    "join_semi" -> Query(joinSemi _, joinSemiSql),
    "join_anti" -> Query(joinAnti _, joinAntiSql),
    "join_not_in" -> Query(joinNotIn _, joinNotInSql),
    "join_bloom_runtime" -> Query(joinBloomRuntime _, joinBloomRuntimeSql),
    "join_range" -> Query(joinRange _, joinRangeSql),
    "join_asof" -> Query(joinAsOf _, joinAsOfSql),
    "join_asof2" -> Query(joinAsOf2 _, joinAsOf2Sql),
    "agg_distinct" -> Query(aggDistinct _, aggDistinctSql),
    "agg_approx_distinct" -> Query(aggApproxDistinct _, aggApproxDistinctSql),
    "agg_sketch_union" -> Query(aggSketchUnion _, aggSketchUnionSql),
    "agg_rollup" -> Query(aggRollup _, aggRollupSql),
    "agg_cube" -> Query(aggCube _, aggCubeSql),
    "agg_pivot" -> Query(aggPivot _, aggPivotSql),
    "agg_unpivot" -> Query(aggUnpivot _, aggUnpivotSql),
    "scalar_safe" -> Query(scalarSafe _, scalarSafeSql),
    "agg_percentile" -> Query(aggPercentile _, aggPercentileSql),
    "agg_approx_percentile" -> Query(aggApproxPercentile _, aggApproxPercentileSql),
    "window_range_frame" -> Query(windowRangeFrame _, windowRangeFrameSql),
    "set_ops_all" -> Query(setOpsAll _, setOpsAllSql),
    "udf_scalar" -> Query(udfScalar _, udfScalarSql),
    "window_rank" -> Query(windowRank _, windowRankSql),
    "window_navigation" -> Query(windowNavigation _, windowNavigationSql),
    "window_running" -> Query(windowRunning _, windowRunningSql),
    "topk_per_group" -> Query(topKPerGroup _, topKPerGroupSql),
    "set_ops" -> Query(setOps _, setOpsSql),
    "scalar_funcs" -> Query(scalarFuncs _, scalarFuncsSql),
    "scalar_dates" -> Query(scalarDates _, scalarDatesSql),
    "scalar_maps" -> Query(scalarMaps _, scalarMapsSql),
    "sql_grouping_sets" -> Query(sqlGroupingSets _, sqlGroupingSetsSql),
    "sql_recursive_spine" -> Query(sqlRecursiveSpine _, sqlRecursiveSpineSql),
    "join_interval_overlap" -> Query(joinIntervalOverlap _, joinIntervalOverlapSql))
}
