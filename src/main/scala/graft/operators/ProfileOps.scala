package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** [EXT] Data profiling + declarative quality checks — the two inspection
  * operators every ingestion pipeline runs before trusting a table
  * (what Deequ/Great Expectations do, re-expressed as plain aggregates).
  *
  *  - `profile_lineitem`: per-column null count, exact distinct count, and
  *    min/max, computed in ONE scan. Multiple exact COUNT(DISTINCT)s in a
  *    single aggregate plan via Expand (one row per profiled column) —
  *    the standard Spark shape; every partial aggregates map-side. At
  *    100 TB the same query swaps `countDistinct` for
  *    `approx_count_distinct` when exactness isn't contractual.
  *  - `dq_checks`: constraint validation — null keys, referential
  *    integrity (orphan foreign keys via left-join null counts — the
  *    join-shaped checks AQE sizes), domain bounds. Output is one
  *    (check, n_violations) row per rule; a scheduler alerts on > 0.
  *
  * Scale notes: profiling is scan-bound with bounded agg state; each
  * integrity check shuffles only on its join key; nothing collects.
  */
object ProfileOps extends QueryModule {

  def profileLineitem(s: SparkSession, dir: String): DataFrame = {
    // loadParallel: the multi-distinct plan Expands every row x |cols|
    // before the partial aggregate, and the single-row-group fixture scan
    // is serial — round-robin first so the Expand+partial-agg runs wide
    // (on a real cluster the scan itself is parallel and this is a no-op
    // cost-wise: the exchange is one narrow pass)
    val li = Tables.loadParallel(s, dir, "lineitem")
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount",
      "l_returnflag", "l_shipdate")
    // Round 21 (guide §1.2 "per-task work"): nulls/min/max and the exact
    // distinct counts are SEPARATE aggregates, crossJoined at one row
    // each. Combined, the multi-countDistinct plan Expands every row x
    // (|cols|+1) AND drags the min(string)/max(string) buffers through
    // every stage — string-buffered aggregates are not hash-aggregable,
    // so the WHOLE Expand pipeline fell back to SortAggregate: a 6-key
    // sort of rows x 6 at 16 columns wide (the measured 2.3 s). Split,
    // the distinct pass is a pure group-by dedup + counts — all
    // HashAggregate, no sort anywhere — and the profile pass is a
    // grouping-less single-pass aggregate (SortAggregate with empty keys
    // sorts nothing). Same scan count: both passes prune to the same 5
    // columns, so the round-robin exchange they share is reused. Outputs
    // are identical column-for-column.
    val profAggs = cols.flatMap { c =>
      Seq(
        sum(col(c).isNull.cast("long")).as(s"${c}_nulls"),
        // strings unify numeric/string/timestamp min-max in one output
        // column (fixture timestamps are midnight-exact, so the rendered
        // form is engine-identical)
        min(col(c)).cast("string").as(s"${c}_min"),
        max(col(c)).cast("string").as(s"${c}_max"))
    }
    val distAggs = cols.map(c => countDistinct(col(c)).as(s"${c}_distinct"))
    val one = li.agg(profAggs.head, profAggs.tail: _*)
      .crossJoin(li.agg(distAggs.head, distAggs.tail: _*))
    val stacked = cols.map { c =>
      s"'$c', ${c}_nulls, ${c}_distinct, ${c}_min, ${c}_max"
    }.mkString(", ")
    one.selectExpr(
      s"stack(${cols.size}, $stacked) AS (column, n_nulls, n_distinct, min_s, max_s)")
      .orderBy(col("column"))
  }

  val profileLineitemSql: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount",
      "l_returnflag", "l_shipdate")
    cols.map { c =>
      s"""SELECT '$c' AS "column",
        |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
        |  CAST(MIN($c) AS VARCHAR) AS min_s,
        |  CAST(MAX($c) AS VARCHAR) AS max_s
        |FROM lineitem""".stripMargin
    }.mkString("\n", "\nUNION ALL\n", "\nORDER BY \"column\"")
  }

  def dqChecks(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
    val customer = Tables.load(s, dir, "customer")
    val lineitem = Tables.load(s, dir, "lineitem")
    val events = Tables.load(s, dir, "events")
    def check(name: String, n: DataFrame): DataFrame =
      n.select(lit(name).as("check"), col("n").cast("long").as("n_violations"))
    val nullKey = check("orders_null_custkey",
      orders.agg(sum(col("o_custkey").isNull.cast("long")).as("n")))
    // referential integrity via left join + parent-null count: the
    // join-shaped check — broadcast or shuffle as AQE sizes the dim
    val orphanOrders = check("orders_orphan_custkey",
      orders.join(customer, col("o_custkey") === col("c_custkey"), "left")
        .agg(sum(col("c_custkey").isNull.cast("long")).as("n")))
    val orphanLines = check("lineitem_orphan_orderkey",
      lineitem.select(col("l_orderkey"))
        .join(orders.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left")
        .agg(sum(col("o_orderkey").isNull.cast("long")).as("n")))
    val badDiscount = check("lineitem_discount_range",
      lineitem.agg(sum((col("l_discount") < 0 || col("l_discount") > 0.1)
        .cast("long")).as("n")))
    val bigValue = check("events_value_gt_500",
      events.agg(sum((col("value") > 500).cast("long")).as("n")))
    nullKey.unionByName(orphanOrders).unionByName(orphanLines)
      .unionByName(badDiscount).unionByName(bigValue)
      .orderBy(col("check"))
  }

  val dqChecksSql: String =
    """SELECT 'orders_null_custkey' AS "check",
      |  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
      |FROM orders
      |UNION ALL
      |SELECT 'orders_orphan_custkey',
      |  CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      |UNION ALL
      |SELECT 'lineitem_orphan_orderkey',
      |  CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      |UNION ALL
      |SELECT 'lineitem_discount_range',
      |  CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT)
      |FROM lineitem
      |UNION ALL
      |SELECT 'events_value_gt_500',
      |  CAST(SUM(CASE WHEN value > 500 THEN 1 ELSE 0 END) AS BIGINT)
      |FROM events
      |ORDER BY "check"""".stripMargin

  // ------------------------------------------------------------------
  // Snapshot reconciliation (table diff): classify every key across two
  // table versions as added / removed / changed / unchanged — the audit
  // step after any CDC apply or backfill. v2 is DERIVED deterministically
  // from the fixture (drop id%97, bump value on id%13, append id%101
  // clones under new ids) so the oracle reconstructs the identical pair.
  // One full-outer join on the key; change detection compares md5 of the
  // concatenated row image (cheap fixed-width compare at any row width —
  // the same trick a 100 TB reconciliation uses to avoid shipping wide
  // rows twice); output is the bounded per-status count.
  // ------------------------------------------------------------------
  def tableDiff(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val v1 = Tables.load(s, dir, "events").select(cols.map(col): _*)
    val changed = v1.filter(pmod(col("event_id"), lit(13)) === 0)
      .withColumn("value", col("value") + 1.0)
    val v2base = v1.filter(pmod(col("event_id"), lit(13)) =!= 0)
      .unionByName(changed)
      .filter(pmod(col("event_id"), lit(97)) =!= 0)
    val added = v1.filter(pmod(col("event_id"), lit(101)) === 0)
      .withColumn("event_id", col("event_id") + lit(10000000L))
    val v2 = v2base.unionByName(added)
    def img(df: DataFrame, name: String): DataFrame = df.select(
      col("event_id"),
      md5(concat_ws("|", col("ts").cast("string"), col("user_id"),
        col("event_type"), col("value").cast("string")).cast("binary")).as(name))
    img(v1, "h1").join(img(v2, "h2"), Seq("event_id"), "full_outer")
      .select(when(col("h1").isNull, "added")
        .when(col("h2").isNull, "removed")
        .when(col("h1") =!= col("h2"), "changed")
        .otherwise("unchanged").as("status"))
      .groupBy(col("status")).agg(count(lit(1)).as("n"))
      .orderBy(col("status"))
  }

  val tableDiffSql: String =
    """WITH v1 AS (
      |  SELECT event_id, ts, user_id, event_type, value FROM events),
      |changed AS (
      |  SELECT event_id, ts, user_id, event_type, value + 1.0 AS value
      |  FROM v1 WHERE event_id % 13 = 0),
      |v2 AS (
      |  SELECT * FROM (
      |    SELECT * FROM v1 WHERE event_id % 13 <> 0
      |    UNION ALL SELECT * FROM changed)
      |  WHERE event_id % 97 <> 0
      |  UNION ALL
      |  SELECT event_id + 10000000 AS event_id, ts, user_id, event_type, value
      |  FROM v1 WHERE event_id % 101 = 0),
      |i1 AS (SELECT event_id, md5(CAST(ts AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)
      |         || '|' || event_type || '|' || CAST(value AS VARCHAR)) AS h1 FROM v1),
      |i2 AS (SELECT event_id, md5(CAST(ts AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)
      |         || '|' || event_type || '|' || CAST(value AS VARCHAR)) AS h2 FROM v2)
      |SELECT status, CAST(COUNT(*) AS BIGINT) AS n FROM (
      |  SELECT CASE WHEN h1 IS NULL THEN 'added'
      |              WHEN h2 IS NULL THEN 'removed'
      |              WHEN h1 <> h2 THEN 'changed'
      |              ELSE 'unchanged' END AS status
      |  FROM i1 FULL OUTER JOIN i2 USING (event_id))
      |GROUP BY status ORDER BY status""".stripMargin

  val queries: Map[String, Query] = Map(
    "profile_lineitem" -> Query(profileLineitem _, profileLineitemSql),
    "dq_checks" -> Query(dqChecks _, dqChecksSql),
    "table_diff" -> Query(tableDiff _, tableDiffSql))
}
