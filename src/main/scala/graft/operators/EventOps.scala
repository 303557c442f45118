package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** [EXT] Event/time-series analytics over `events` — the downsample /
  * outlier / growth / histogram shapes a trading-data pipeline (the
  * reference ingests Trading212 order history, trading212.py:89-111) runs
  * downstream of ingestion. All four are single-purpose batch analytics:
  *
  *  - OHLC bars: the canonical market-data downsample (open/high/low/close
  *    per instrument per hour). One window sort + one hash agg on the SAME
  *    (event_type, hour) keys — the exchange is planned once and reused.
  *  - Anomaly flags: classic z-score outliers, but the |z| > 3 predicate is
  *    evaluated in EXACT integer-cent arithmetic ((n*v-S)^2 > 9(nQ-S^2) —
  *    the textbook one-pass form multiplied through by n^2) so the result
  *    set is bit-deterministic and DuckDB-checkable; no order-dependent FP
  *    stddev anywhere. Stats are one map-side-combined agg over a BOUNDED
  *    key domain (event_type) broadcast back at the filter.
  *  - User growth: first-activity day per user, then daily new/cumulative
  *    counts. The only global window runs over the DAY domain (bounded, a
  *    few thousand rows at any corpus size), after aggregation.
  *  - Value histogram: fixed-width bucketing via floor(value/width) (DuckDB
  *    has no width_bucket; the explicit floor is engine-identical IEEE
  *    arithmetic) — one hash agg, no second pass for bounds.
  *
  * 100 TB notes: every shuffle here is keyed by (event_type[, hour]) or
  * user_id; stats relations are bounded-domain (5 event types, day count)
  * so the broadcasts cannot OOM; nothing collects to the driver.
  */
object EventOps extends QueryModule {

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  // ------------------------------------------------------------------
  // OHLC bars: hourly open/high/low/close/volume per event_type. Open and
  // close are ORDER-DEFINED (first/last by (ts, event_id) — event_id breaks
  // ts ties deterministically); high/low/volume are order-free aggregates.
  // rn + per-partition count come from one window pass; the subsequent
  // group-by reuses the same hash partitioning on (event_type, hour).
  // ------------------------------------------------------------------
  def ohlcBars(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).select(col("event_type"), col("ts"), col("event_id"),
      col("value"), date_trunc("hour", col("ts")).as("hour"))
    val wOrd = Window.partitionBy(col("event_type"), col("hour"))
      .orderBy(col("ts"), col("event_id"))
    val wAll = Window.partitionBy(col("event_type"), col("hour"))
    e.withColumn("rn", row_number().over(wOrd))
      .withColumn("cnt", count(lit(1)).over(wAll))
      .groupBy(col("event_type"), col("hour"))
      .agg(
        max(when(col("rn") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rn") === col("cnt"), col("value"))).as("close"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("volume"))
      .orderBy(col("event_type"), col("hour"))
  }

  val ohlcBarsSql: String =
    """WITH seq AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour, value,
      |    row_number() OVER w AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type, date_trunc('hour', ts)) AS cnt
      |  FROM events
      |  WINDOW w AS (PARTITION BY event_type, date_trunc('hour', ts)
      |               ORDER BY ts, event_id))
      |SELECT event_type, hour,
      |  MAX(CASE WHEN rn = 1 THEN value END) AS open,
      |  MAX(value) AS high,
      |  MIN(value) AS low,
      |  MAX(CASE WHEN rn = cnt THEN value END) AS close,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS volume
      |FROM seq GROUP BY event_type, hour
      |ORDER BY event_type, hour""".stripMargin

  // ------------------------------------------------------------------
  // Z-score anomalies in exact arithmetic. value is 2dp by construction, so
  // cents (round(value*100) — the parity-established conversion, see
  // stream_user_state) are exact integers; every quantity below is integer
  // decimal(38,0) on the Spark side / HUGEINT on the DuckDB side.
  //   |v - mean| > 3*sigma_pop  <=>  (n*v - S)^2 > 9*(n*Q - S^2)
  // with S = sum(v), Q = sum(v^2) — the one-pass moments multiplied through
  // by n^2 so no division (and no FP) ever happens in the predicate.
  // OVERFLOW HEADROOM (the parity hazard if it ever tripped: non-ANSI
  // Spark yields NULL on decimal(38) overflow — silently UN-flagging
  // anomalies — while DuckDB's HUGEINT stays exact to ~1.7e38): every
  // term is bounded by n²·V² with V = max |cents|. n²V² < 1e38 holds for
  // n·V < 1e19, i.e. with $100k-max values (V=1e7) up to n = 1e12 events
  // PER EVENT TYPE — two orders of magnitude above the ~1e10 rows/group
  // a 100 TB events table implies for this fixture's 5-type domain. If a
  // deployment exceeds that, pre-aggregate moments per (type, value) or
  // run ANSI mode, where the overflow is an error instead of a NULL.
  // ------------------------------------------------------------------
  def anomalies(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).select(col("event_id"), col("event_type"), col("value"),
      round(col("value") * 100).cast("long").as("vc"))
    val stats = e.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      // vc <= ~1e7 for any plausible price, so vc*vc fits a long before the
      // widening cast; the SUMS are what need 128-bit headroom
      sum(col("vc").cast("decimal(38,0)")).as("s"),
      sum((col("vc") * col("vc")).cast("decimal(38,0)")).as("q"))
    val nD = col("n").cast("decimal(38,0)")
    val num = nD * col("vc").cast("decimal(38,0)") - col("s")
    val den2 = nD * col("q") - col("s") * col("s")
    // event_type is a bounded domain => stats is a handful of rows; the
    // broadcast can never OOM regardless of fact-table volume
    e.join(broadcast(stats), Seq("event_type"))
      .filter(num * num > lit(9) * den2)
      .select(col("event_id"), col("event_type"), col("value"),
        num.cast("long").as("ndev_cents"), col("n"))
      .orderBy(col("event_id"))
  }

  val anomaliesSql: String =
    """WITH e AS (
      |  SELECT event_id, event_type, value,
      |    CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT) AS vc
      |  FROM events),
      |stats AS (
      |  SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
      |    SUM(vc) AS s, SUM(vc * vc) AS q
      |  FROM e GROUP BY event_type)
      |SELECT e.event_id, e.event_type, e.value,
      |  CAST(st.n * e.vc - st.s AS BIGINT) AS ndev_cents,
      |  CAST(st.n AS BIGINT) AS n
      |FROM e JOIN stats st USING (event_type)
      |WHERE (st.n * e.vc - st.s) * (st.n * e.vc - st.s)
      |      > 9 * (st.n * st.q - st.s * st.s)
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // User growth: new users per first-activity day + running cumulative
  // total. The per-user min is a keyed one-exchange agg; the cumulative
  // window is global-ordered but runs AFTER aggregation over the bounded
  // day domain (#days rows), so the single-partition sort is trivial at
  // any fact volume.
  // ------------------------------------------------------------------
  def userGrowth(s: SparkSession, dir: String): DataFrame = {
    val firstDay = ev(s, dir)
      .groupBy(col("user_id"))
      .agg(min(col("ts").cast("date")).as("d"))
    val daily = firstDay.groupBy(col("d")).agg(count(lit(1)).as("new_users"))
    val wCum = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("cum_users", sum(col("new_users")).over(wCum))
      // string-rendered day: DATE columns render differently across the
      // driver's two readers (pandas date vs duckdb datetime64)
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("new_users"), col("cum_users"))
      .orderBy(col("day"))
  }

  val userGrowthSql: String =
    """WITH f AS (
      |  SELECT user_id, MIN(CAST(ts AS DATE)) AS d FROM events
      |  GROUP BY user_id),
      |d AS (SELECT d, COUNT(*) AS new_users FROM f GROUP BY d)
      |SELECT strftime(d, '%Y-%m-%d') AS day, new_users,
      |  CAST(SUM(new_users) OVER (ORDER BY d
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
      |FROM d ORDER BY day""".stripMargin

  // ------------------------------------------------------------------
  // Fixed-width value histogram per event_type: bucket = floor(value/25).
  // The explicit floor is IEEE-identical across engines (DuckDB has no
  // width_bucket); fixed literal bounds mean ONE pass — no min/max
  // pre-scan. bucket_lo is integer-derived, so every output column is
  // exact.
  // ------------------------------------------------------------------
  def valueHistogram(s: SparkSession, dir: String): DataFrame = {
    ev(s, dir)
      .select(col("event_type"),
        floor(col("value") / 25.0).cast("int").as("bucket"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("bucket_lo", (col("bucket") * 25).cast("double"))
      .orderBy(col("event_type"), col("bucket"))
  }

  val valueHistogramSql: String =
    """SELECT event_type, CAST(floor(value / 25.0) AS INT) AS bucket,
      |  COUNT(*) AS n,
      |  CAST(CAST(floor(value / 25.0) AS INT) * 25 AS DOUBLE) AS bucket_lo
      |FROM events
      |GROUP BY event_type, CAST(floor(value / 25.0) AS INT)
      |ORDER BY event_type, bucket""".stripMargin

  // ------------------------------------------------------------------
  // Last-touch attribution: each purchase is attributed to the user's most
  // recent preceding non-purchase event within a 3-day window (classic
  // marketing attribution). One ordered window per user carries the
  // last-seen candidate as a struct with IGNORE NULLS — a single keyed
  // sort, no self-join, no per-purchase lookup; purchases outside the
  // window attribute to NULL rather than dropping.
  // ------------------------------------------------------------------
  def attribution(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cand = when(col("event_type") =!= "purchase",
      struct(col("event_id").as("tid"), col("ts").as("tts"),
        col("event_type").as("ttype")))
    ev(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .withColumn("touch", last(cand, ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("in_window",
        col("touch").isNotNull &&
          col("touch.tts") >= col("ts") - expr("interval 3 days"))
      .select(col("event_id"), col("user_id"),
        when(col("in_window"), col("touch.tid")).as("touch_event_id"),
        when(col("in_window"), col("touch.ttype")).as("touch_type"))
      .orderBy(col("event_id"))
  }

  val attributionSql: String =
    """WITH tagged AS (
      |  SELECT event_id, ts, user_id, event_type,
      |    last_value(CASE WHEN event_type <> 'purchase'
      |        THEN struct_pack(tid := event_id, tts := ts, ttype := event_type)
      |      END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS touch
      |  FROM events)
      |SELECT event_id, user_id,
      |  CASE WHEN touch IS NOT NULL AND touch.tts >= ts - INTERVAL '3 days'
      |    THEN touch.tid END AS touch_event_id,
      |  CASE WHEN touch IS NOT NULL AND touch.tts >= ts - INTERVAL '3 days'
      |    THEN touch.ttype END AS touch_type
      |FROM tagged WHERE event_type = 'purchase'
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------
  // Longest consecutive-day streak per user (gaps-and-islands on the date
  // domain): distinct active days, island id = day_number - row_number
  // (constant within a consecutive run), longest run per user. Every
  // stage shuffles on user_id once; the distinct and both windows share
  // that partitioning. The day_number is an exact integer (datediff), so
  // the whole query is integer arithmetic.
  // ------------------------------------------------------------------
  def streaks(s: SparkSession, dir: String): DataFrame = {
    val days = ev(s, dir)
      .select(col("user_id"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).as("dnum"))
      // partition by user alone BEFORE the distinct: HashPartitioning(user)
      // satisfies the distinct's (user, dnum) clustering AND the window's
      // user clustering, so the whole query rides ONE exchange — letting
      // distinct() pick its own keys would shuffle twice
      .repartition(col("user_id"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("dnum"))
    days
      .withColumn("grp", col("dnum") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("streak"))
      .groupBy(col("user_id"))
      .agg(max(col("streak")).as("max_streak"), count(lit(1)).as("n_streaks"))
      .orderBy(col("user_id"))
  }

  val streaksSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id,
      |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS dnum
      |  FROM events),
      |isl AS (
      |  SELECT user_id,
      |    dnum - row_number() OVER (PARTITION BY user_id ORDER BY dnum) AS grp
      |  FROM days),
      |runs AS (
      |  SELECT user_id, grp, COUNT(*) AS streak FROM isl GROUP BY user_id, grp)
      |SELECT user_id, CAST(MAX(streak) AS BIGINT) AS max_streak,
      |  CAST(COUNT(*) AS BIGINT) AS n_streaks
      |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------------
  // 7-day rolling aggregates: per-user daily totals, then a RANGE frame
  // over the integer day index (6 preceding .. current) — the trailing
  // window is calendar-correct across gaps because the frame is RANGE on
  // dnum, not ROWS. Daily rollup and the window share the user_id
  // partitioning (one exchange); decimal accumulation, double output.
  // ------------------------------------------------------------------
  def rolling7(s: SparkSession, dir: String): DataFrame = {
    val daily = ev(s, dir)
      .filter(col("user_id") < 40)
      .groupBy(col("user_id"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).as("dnum"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).as("dtot"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("dnum"))
      .rangeBetween(-6, Window.currentRow)
    daily
      .withColumn("n_7d", sum(col("n_events")).over(w))
      .withColumn("total_7d", sum(col("dtot")).over(w).cast("double"))
      .select(col("user_id"), col("dnum"), col("n_events"),
        col("dtot").cast("double").as("day_total"), col("n_7d"), col("total_7d"))
      .orderBy(col("user_id"), col("dnum"))
  }

  val rolling7Sql: String =
    """WITH daily AS (
      |  SELECT user_id,
      |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS dnum,
      |    COUNT(*) AS n_events,
      |    SUM(CAST(value AS DECIMAL(18,4))) AS dtot
      |  FROM events WHERE user_id < 40
      |  GROUP BY user_id, date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)))
      |SELECT user_id, dnum, n_events,
      |  CAST(dtot AS DOUBLE) AS day_total,
      |  CAST(SUM(n_events) OVER w AS BIGINT) AS n_7d,
      |  CAST(SUM(dtot) OVER w AS DOUBLE) AS total_7d
      |FROM daily
      |WINDOW w AS (PARTITION BY user_id ORDER BY dnum
      |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, dnum""".stripMargin

  // ------------------------------------------------------------------
  // Per-user daily EWMA (alpha = 0.5), truncated at 16 terms: the
  // canonical activity-trend smoother, WITHOUT the sequential recursion
  // s_t = a*v_t + (1-a)*s_{t-1} that cannot parallelize. The closed form
  // s_t = sum_k 0.5^(k+1) * v_{t-k} truncates at k=16 (the dropped tail
  // is < 2^-17 of any observation — stated, not hidden), which turns the
  // recursion into a 16-way offset join: each daily total contributes to
  // its next 16 calendar days, grouped back per (user, day). Scale:
  // linear in daily rows x 16, all keyed by (user_id, day) — no window
  // over an unbounded partition, no order-dependence. Exactness: the
  // kernel is computed in units of 2^-16, where every weight is an
  // INTEGER — see the weight-table note below. Missing days contribute
  // nothing on either side (gaps handled by the calendar join, not
  // imputation).
  // ------------------------------------------------------------------
  // Weights in units of 2^-16: wt(k) = 2^(15-k) INTEGERS, so the kernel
  // sum stays a small-scale decimal and the only non-integer steps are
  // the final decimal->double cast (exact: |sacc|*10^4 << 2^53) and the
  // /65536.0 (a power-of-two exponent shift, exact in IEEE). A first cut
  // used DECIMAL(17,16) weights; the (38,20) accumulator then hit TWO
  // portability traps — Spark's precision-loss rounding on the product,
  // and a 1-ulp divergence in DuckDB's int128/10^20 -> double cast (it
  // double-rounds where Java's BigDecimal.doubleValue single-rounds).
  // Power-of-two scaling sidesteps both BY CONSTRUCTION.
  private val EWMA_TERMS = 16

  def ewma(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = ev(s, dir)
      .groupBy(col("user_id"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).as("dnum"))
      .agg(sum(col("value").cast("decimal(18,4)")).cast("decimal(18,4)").as("v"))
    val wDf = (0 until EWMA_TERMS).map(k => (k, 1L << (EWMA_TERMS - 1 - k))).toDF("k", "wt")
    val acc = daily.join(broadcast(wDf), lit(true))
      .select(col("user_id").as("au"), (col("dnum") + col("k")).as("tday"),
        (col("wt") * col("v")).as("c"))
      .groupBy(col("au"), col("tday"))
      .agg(sum(col("c")).as("sacc"))
    daily.join(acc, col("user_id") === col("au") && col("dnum") === col("tday"))
      .select(col("user_id"), col("dnum"), col("v").cast("double").as("day_value"),
        (col("sacc").cast("double") / 65536.0).as("ewma"))
      .orderBy(col("user_id"), col("dnum"))
  }

  val ewmaSql: String = {
    val values = (0 until EWMA_TERMS)
      .map(k => s"($k, ${1L << (EWMA_TERMS - 1 - k)})").mkString(", ")
    s"""WITH daily AS (
      |  SELECT user_id, date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS dnum,
      |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS v
      |  FROM events GROUP BY user_id, date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))),
      |w(k, wt) AS (VALUES $values),
      |acc AS (
      |  SELECT user_id AS au, dnum + k AS tday, SUM(wt * v) AS sacc
      |  FROM daily CROSS JOIN w GROUP BY user_id, dnum + k)
      |SELECT user_id, dnum, CAST(v AS DOUBLE) AS day_value,
      |  CAST(sacc AS DOUBLE) / 65536.0 AS ewma
      |FROM daily JOIN acc ON user_id = au AND dnum = tday
      |ORDER BY user_id, dnum""".stripMargin
  }

  // ------------------------------------------------------------------
  // Event-type transition matrix (first-order Markov counts): for each
  // user's time-ordered stream, count (current -> next) type pairs, then
  // the per-source transition probability. One user_id window (lead) and
  // one bounded (from, to) aggregation — 5x5 output regardless of volume;
  // probabilities are exact-count ratios, divided once at the output.
  // ------------------------------------------------------------------
  def transitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = ev(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val w2 = Window.partitionBy(col("from_type"))
    pairs
      .withColumn("p", col("n").cast("double") / sum(col("n")).over(w2))
      .orderBy(col("from_type"), col("to_type"))
  }

  val transitionsSql: String =
    """WITH pairs AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |counts AS (
      |  SELECT from_type, to_type, COUNT(*) AS n FROM pairs
      |  WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
      |SELECT from_type, to_type, n,
      |  CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type) AS p
      |FROM counts ORDER BY from_type, to_type""".stripMargin

  // ------------------------------------------------------------------
  // DAU / WAU: daily active users + trailing-7-day active users, both
  // EXACT. WAU uses the contribute-forward expansion: each (user, day)
  // activity row contributes to the 7 window-end days [day, day+6], so a
  // per-day COUNT(DISTINCT user) over the expanded relation is the exact
  // trailing-window distinct — a 7x row expansion instead of a quadratic
  // window-distinct (which Spark windows can't express exactly anyway).
  // At scale the expansion factor equals the window length — linear, keyed
  // on the day, map-side partial distinct.
  // ------------------------------------------------------------------
  def dauWau(s: SparkSession, dir: String): DataFrame = {
    val days = ev(s, dir)
      .select(col("user_id"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).as("dnum"))
      .distinct()
    val dau = days.groupBy(col("dnum")).agg(count(lit(1)).as("dau"))
    val wau = days
      .select(col("user_id"), explode(sequence(col("dnum"), col("dnum") + 6)).as("t"))
      .distinct()
      .groupBy(col("t")).agg(count(lit(1)).as("wau"))
    dau.join(wau, col("dnum") === col("t"))
      .select(col("dnum"), col("dau"), col("wau"))
      .orderBy(col("dnum"))
  }

  val dauWauSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id,
      |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS dnum
      |  FROM events),
      |dau AS (SELECT dnum, COUNT(*) AS dau FROM days GROUP BY dnum),
      |expanded AS (
      |  SELECT DISTINCT user_id, dnum + k AS t
      |  FROM days CROSS JOIN range(0, 7) g(k)),
      |wau AS (SELECT t, COUNT(*) AS wau FROM expanded GROUP BY t)
      |SELECT d.dnum, d.dau, w.wau
      |FROM dau d JOIN wau w ON d.dnum = w.t
      |ORDER BY d.dnum""".stripMargin

  // ------------------------------------------------------------------
  // Pareto / concentration analysis: users ranked by exact total spend
  // (cents), with each rank's cumulative share of the grand total — the
  // 80/20 curve. Ranks and cumulative sums run over the AGGREGATED
  // one-row-per-user relation; cents stay integers until the single
  // output division. Round-7: the rank AND the running sum are computed
  // distributed (percentile range buckets + per-bucket prefix sums +
  // broadcast offsets, see Distributed.globalRowNumber) — exact, so the
  // oracle's global-window SQL is unchanged — instead of the
  // single-partition Sort->Window that would funnel every user through
  // one task at scale.
  // ------------------------------------------------------------------
  def pareto(s: SparkSession, dir: String): DataFrame = {
    val per = ev(s, dir)
      .groupBy(col("user_id"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    val total = per.agg(sum(col("cents")).as("t"))
    Distributed.globalRowNumber(per,
        Seq("cents" -> false, "user_id" -> true), "__rnk",
        Distributed.ByRange(), cumsums = Seq("cents" -> "cum_cents"))
      .crossJoin(broadcast(total))
      .select(col("__rnk").cast("int").as("rnk"), col("user_id"),
        (col("cents").cast("double") / 100).as("total_value"),
        (col("cum_cents").cast("double") / col("t")).as("cum_share"))
      .orderBy(col("rnk"))
  }

  val paretoSql: String =
    """WITH per AS (
      |  SELECT user_id,
      |    SUM(CAST(round(value * 100) AS BIGINT)) AS cents
      |  FROM events GROUP BY user_id),
      |t AS (SELECT SUM(cents) AS t FROM per)
      |SELECT row_number() OVER w AS rnk, user_id,
      |  CAST(cents AS DOUBLE) / 100 AS total_value,
      |  CAST(SUM(cents) OVER (ORDER BY cents DESC, user_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / (SELECT t FROM t) AS cum_share
      |FROM per
      |WINDOW w AS (ORDER BY cents DESC, user_id)
      |ORDER BY rnk""".stripMargin

  // ------------------------------------------------------------------
  // Forward-fill over a dense hourly grid (EV4's sibling: events_gapfill
  // zero-fills COUNTS; this carries the LAST OBSERVED value forward — the
  // shape sensor/price/feature pipelines want, where absence means "no new
  // reading", not zero). Per (user, hour) the observation is the
  // order-defined last raw value (ts, event_id tiebreak — the OHLC close
  // rule); the dense grid comes from the user's own span (sequence +
  // explode, never a global calendar product); the fill is
  // last(ignoreNulls) over ROWS UNBOUNDED PRECEDING — Spark's IGNORE
  // NULLS navigation maps 1:1 to DuckDB's LAST_VALUE(x IGNORE NULLS).
  // gap_age (hours since the carried observation) rides the same window
  // pass. Parity: the filled value is a RAW fixture double carried
  // verbatim (no arithmetic), gap_age is an integer date_diff; the first
  // grid hour per user always holds a real observation (the span starts
  // at the min OBSERVED hour), so no leading nulls survive. Scale: every
  // stage shuffles once on user_id and the two windows share that one
  // exchange; grid size is bounded by genuine activity spans.
  // ------------------------------------------------------------------
  def ffill(s: SparkSession, dir: String): DataFrame = {
    val wObs = Window.partitionBy(col("user_id"), col("hour"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val hourly = ev(s, dir)
      .filter(col("user_id") < 40)
      .select(col("user_id"), date_trunc("hour", col("ts")).as("hour"),
        col("ts"), col("event_id"), col("value"))
      .withColumn("rn", row_number().over(wObs))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("hour"), col("value").as("obs"))
    val grid = hourly.groupBy(col("user_id"))
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("hour"))
    val wFill = Window.partitionBy(col("user_id")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("user_id", "hour"), "left")
      .withColumn("v_ffill", last(col("obs"), ignoreNulls = true).over(wFill))
      .withColumn("obs_hour",
        last(when(col("obs").isNotNull, col("hour")), ignoreNulls = true).over(wFill))
      .select(col("user_id"), col("hour"), col("v_ffill"),
        expr("timestampdiff(HOUR, obs_hour, hour)").cast("int").as("gap_age"),
        col("obs").isNull.cast("int").as("filled"))
      .orderBy(col("user_id"), col("hour"))
  }

  val ffillSql: String =
    """WITH obs AS (
      |  SELECT user_id, hour, value AS obs FROM (
      |    SELECT user_id, date_trunc('hour', ts) AS hour, ts, event_id, value,
      |      row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
      |        ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events WHERE user_id < 40)
      |  WHERE rn = 1),
      |spans AS (SELECT user_id, MIN(hour) AS h0, MAX(hour) AS h1 FROM obs GROUP BY user_id),
      |grid AS (
      |  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL '1 hour')) AS hour
      |  FROM spans),
      |joined AS (
      |  SELECT g.user_id, g.hour, o.obs
      |  FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.hour = o.hour)
      |SELECT user_id, hour,
      |  LAST_VALUE(obs IGNORE NULLS) OVER w AS v_ffill,
      |  CAST(date_diff('hour',
      |    LAST_VALUE(CASE WHEN obs IS NOT NULL THEN hour END IGNORE NULLS) OVER w,
      |    hour) AS INTEGER) AS gap_age,
      |  CASE WHEN obs IS NULL THEN 1 ELSE 0 END AS filled
      |FROM joined
      |WINDOW w AS (PARTITION BY user_id ORDER BY hour
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, hour""".stripMargin

  val queries: Map[String, Query] = Map(
    "events_ffill" -> Query(ffill _, ffillSql),
    "events_dau_wau" -> Query(dauWau _, dauWauSql),
    "events_ewma" -> Query(ewma _, ewmaSql),
    "events_pareto" -> Query(pareto _, paretoSql),
    "events_streaks" -> Query(streaks _, streaksSql),
    "events_transitions" -> Query(transitions _, transitionsSql),
    "events_rolling7" -> Query(rolling7 _, rolling7Sql),
    "events_ohlc" -> Query(ohlcBars _, ohlcBarsSql),
    "events_anomaly" -> Query(anomalies _, anomaliesSql),
    "events_user_growth" -> Query(userGrowth _, userGrowthSql),
    "events_attribution" -> Query(attribution _, attributionSql),
    "events_value_histogram" -> Query(valueHistogram _, valueHistogramSql))
}
