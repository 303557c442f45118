package graft
package sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** Every lane a predicate takes into a graftlog scan, pinned on one
  * bucketed catalog table with an added column and three commits:
  *  - data columns: claimed as `pushed=[…]`, evaluated per record, and
  *    bucket- and zone-map-pruned;
  *  - `_pub_stamp`: claimed as `stampPruned=[…]`, pruning whole files;
  *  - the added column: never claimed, a zone-map pruning hint only;
  *  - the broadcast join's runtime IN, dropped inside the reader;
  *  - a DELETE's command condition, pruning the rewrite to its buckets.
  * Each shape pins the scan text, the files the scan plans to open and
  * the rows, which must equal the same filter over a parquet copy of
  * the data. The spec lives in `graft.sources` to see the planned
  * partitions' file lists. */
class PredicateLaneSpec extends SparkTestBase with BeforeAndAfterAll {

  private val cols = Seq("event_id", "user_id", "value", "event_type", "score")

  /** Commit `k`'s 100 rows: event ids k*100 until k*100+100, 13 users over
    * the 4 buckets, and `score` in [k*1000, k*1000+99] with every tenth
    * row null, so each commit's files carry disjoint id and score bounds. */
  private def commitRows(k: Int): DataFrame =
    spark.range(k * 100L, k * 100L + 100).select(
      col("id").as("event_id"),
      (col("id") % 13).as("user_id"),
      ((col("id") % 40) * 1.5 - 12.0).as("value"),
      element_at(array(lit("buy"), lit("sell"), lit("deposit"), lit("withdraw")),
        (col("id") % 4 + 1).cast("int")).as("event_type"),
      when(col("id") % 10 === 0, lit(null))
        .otherwise(col("id") % 100 + k * 1000).cast("bigint").as("score"))

  /** The `_pub_stamp`s each commit's files carry, in commit order. */
  private var stamps: Seq[Seq[Long]] = Nil

  /** Creates `table` and lands the three commits; returns each commit's
    * file stamps. */
  private def build(table: String): Seq[Seq[Long]] = {
    spark.sql(s"DROP TABLE IF EXISTS gpl.$table")
    spark.sql(s"CREATE TABLE gpl.$table (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog " +
      "PARTITIONED BY (bucket(4, user_id))")
    spark.sql(s"ALTER TABLE gpl.$table ADD COLUMNS (score BIGINT)")
    var seen = Set.empty[Long]
    (0 until 3).map { k =>
      commitRows(k).writeTo(s"gpl.$table").append()
      val all = spark.sql(s"SELECT DISTINCT _pub_stamp FROM gpl.$table")
        .collect().map(_.getLong(0)).toSet
      val mine = (all -- seen).toSeq.sorted
      seen = all
      mine
    }
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.gpl", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gpl.warehouse",
      Scratch.dir("predicate_lane_spec"))
    stamps = build("lanes")
    val pq = Scratch.dir("predicate_lane_spec_pq")
    (0 until 3).map(k => commitRows(k).withColumn("commit", lit(k)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(pq)
    spark.read.parquet(pq).createOrReplaceTempView("lanes_pq")
  }

  /** Runs `df` itself (so its plan carries the scan metrics) and returns
    * its rows in event-id order. */
  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.getLong(0))
  private def parquet(where: String): Seq[Row] =
    sorted(spark.sql(s"SELECT ${cols.mkString(", ")} FROM lanes_pq WHERE $where"))

  /** Every BatchScan of an executed plan, through AQE stages and, with
    * `deep`, through subqueries. */
  private def scans(p: SparkPlan, deep: Boolean = false): Seq[BatchScanExec] =
    (if (deep) p.subqueries.flatMap(scans(_, deep)) else Nil) ++ (p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan, deep)
      case q: QueryStageExec => scans(q.plan, deep)
      case b: BatchScanExec => Seq(b)
      case other => other.children.flatMap(scans(_, deep))
    })

  /** Files a scan plans to open, over its planned partitions. */
  private def filesOf(b: BatchScanExec): Int = b.inputPartitions.map {
    case GraftLogBucketPartition(_, fs) => fs.size
    case GraftLogPartition(_) => 1
    case other => fail(s"unexpected planned partition $other")
  }.sum

  /** The scan line's predicate text: `[pushed…]` and, when present,
    * ` stampPruned=[…]`. */
  private def predicateText(b: BatchScanExec): String = {
    val d = b.scan.description()
    d.substring(d.indexOf("pushed=") + "pushed=".length, d.indexOf(" columns=["))
  }

  /** One predicate shape: its WHERE clause over the table and over the
    * parquet copy (which names the commit instead of `_pub_stamp`), the
    * scan text it must produce and the files it must open. */
  private case class Shape(name: String, where: String, text: String,
      files: Int, pqWhere: String = null)

  /** Checks every shape, then fails once listing each mismatch. */
  private def check(shapes: Shape*): Unit = {
    val wrong = shapes.flatMap { s =>
      val df = spark.sql(s"SELECT ${cols.mkString(", ")} FROM gpl.lanes WHERE ${s.where}")
      val got = sorted(df)
      val want = parquet(Option(s.pqWhere).getOrElse(s.where))
      val scan = scans(df.queryExecution.executedPlan)
      assert(scan.length == 1, s"${s.name}: expected one graftlog scan")
      val text = predicateText(scan.head)
      val files = filesOf(scan.head)
      Seq(
        (want.isEmpty || want.length == 300) -> "degenerate fixture",
        (got != want) -> s"rows differ from the parquet copy (${got.length} vs ${want.length})",
        (text != s.text) -> s"scan text $text, want ${s.text}",
        (files != s.files) -> s"planned $files files, want ${s.files}"
      ).collect { case (true, msg) => s"${s.name}: $msg" }
    }
    assert(wrong.isEmpty, wrong.mkString("\n", "\n", ""))
  }

  test("fixture: three commits of four bucket files each, with disjoint stamps") {
    assert(stamps.map(_.length) == Seq(4, 4, 4), s"commit stamps $stamps")
    assert(stamps(0).max < stamps(1).min && stamps(1).max < stamps(2).min)
    assert(spark.table("gpl.lanes").count() == 300)
  }

  test("data lane: comparisons, IN lists, boolean trees and string shapes are claimed exactly") {
    check(
      Shape("=", "event_id = 142", "[EqualTo(event_id,142)]", 4),
      Shape("<>", "user_id <> 3", "[Not(EqualTo(user_id,3))]", 12),
      Shape("IN", "user_id IN (1, 6)", "[In(user_id, [1,6])]", 6),
      Shape("NOT IN", "user_id NOT IN (1, 6)", "[Not(In(user_id, [1,6]))]", 12),
      Shape("OR of ANDs",
        "(event_type = 'buy' AND value > 30) OR (event_type = 'sell' AND value < 0)",
        "[Or(And(EqualTo(event_type,buy),GreaterThan(value,30.0))," +
          "And(EqualTo(event_type,sell),LessThan(value,0.0)))]", 12),
      Shape("STARTS_WITH", "event_type LIKE 'de%'",
        "[StringStartsWith(event_type,de)]", 12),
      Shape("ENDS_WITH", "event_type LIKE '%ll'",
        "[StringEndsWith(event_type,ll)]", 12),
      Shape("CONTAINS", "event_type LIKE '%ithd%'",
        "[StringContains(event_type,ithd)]", 12),
      Shape("flipped literal", "250 < event_id", "[GreaterThan(event_id,250)]", 4),
      // a NULL literal declines the whole subtree: residual, all files
      Shape("IN with a NULL", "event_type IN ('buy', NULL)", "[]", 12)
    )
  }

  test("stamp lane: pure _pub_stamp trees prune files; a stamp OR data tree stays residual") {
    val Seq(c0, c1, _) = stamps
    check(
      Shape(">", s"_pub_stamp > ${c0.max}",
        s"[] stampPruned=[IsNotNull(_pub_stamp), GreaterThan(_pub_stamp,${c0.max})]",
        8, "commit > 0"),
      Shape("IN", s"_pub_stamp IN (${c1.mkString(", ")})",
        s"[] stampPruned=[In(_pub_stamp, [${c1.mkString(",")}])]", 4, "commit = 1"),
      Shape("NOT", s"NOT (_pub_stamp IN (${c0.mkString(", ")}))",
        s"[] stampPruned=[Not(In(_pub_stamp, [${c0.mkString(",")}]))]", 8, "commit <> 0"),
      Shape("<>", c1.map(st => s"_pub_stamp <> $st").mkString(" AND "),
        "[] stampPruned=[IsNotNull(_pub_stamp), " +
          c1.map(st => s"Not(EqualTo(_pub_stamp,$st))").mkString(", ") + "]",
        8, "commit <> 1"),
      Shape("stamp OR data", s"_pub_stamp > ${c1.max} OR event_type = 'buy'", "[]",
        12, "commit > 1 OR event_type = 'buy'")
    )
    // Spark pushes a WHERE `<>` as NOT(=), the "<>" shape above; the V2
    // `<>` predicate itself (V2ExpressionBuilder's form of a leaf
    // Not(EqualTo)) is claimed on the stamp lane to the same filter
    import org.apache.spark.sql.connector.expressions.{Expression => V2Expr, Expressions}
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    val ne = new Predicate("<>", Array[V2Expr](Expressions.column("_pub_stamp"),
      Expressions.literal(java.lang.Long.valueOf(c1.head))))
    assert(GraftLog.v2ToV1(ne, GraftLog.STAMP_LANE) ==
      Some(org.apache.spark.sql.sources.Not(org.apache.spark.sql.sources.EqualTo("_pub_stamp", c1.head))))
  }

  test("hint lane: an added-column range prunes files through a partial AND, unclaimed") {
    check(Shape("added-column range",
      "(score > 2050 AND event_type = 'buy') OR (score > 2080 AND value < 0)",
      "[]", 4))
  }

  test("runtime lane: the broadcast join's IN-set is dropped inside the reader") {
    val dimDir = Scratch.dir("predicate_lane_spec_dim")
    spark.range(0, 13).select(col("id").as("k"),
      when(col("id").isin(2L, 9L), lit("vip")).otherwise(lit("std")).as("seg"))
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter(col("seg") === "vip").select("k")
    val joined = spark.table("gpl.lanes")
      .join(broadcast(dim), col("user_id") === col("k")).select(cols.map(col): _*)
    val got = sorted(joined)
    val want = parquet("user_id IN (2, 9)")
    assert(got == want && want.nonEmpty)
    val scan = scans(joined.queryExecution.executedPlan)
    assert(scan.length == 1)
    assert(scan.head.runtimeFilters.nonEmpty,
      s"no runtime filter on the graftlog scan:\n${joined.queryExecution.executedPlan}")
    assert(predicateText(scan.head) == "[]")
    assert(scan.head.metrics("numOutputRows").value == want.length,
      "the reader emitted rows the runtime IN-set excludes")
  }

  test("group lane: a bucketed DELETE rewrites only the buckets its IN list names") {
    val commits = build("lanes_del")
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.gpl.warehouse"), "lanes_del")
    def files(): Set[String] =
      dir.listFiles().map(_.getName).filter(_.endsWith(".graftlog")).toSet
    val before = files()
    val deleted = spark.sql(
      "DELETE FROM gpl.lanes_del WHERE user_id IN (1, 6) AND event_id < 100")
    val plan = deleted.queryExecution.executedPlan match {
      case c: org.apache.spark.sql.execution.CommandResultExec => c.commandPhysicalPlan
      case other => other
    }
    val planned = scans(plan, deep = true)
      .map(b => (b.scan.getClass.getSimpleName, filesOf(b)))
    // the rewrite scan plans the six files of buckets 1 and 2 (the command
    // condition's buckets); the matching-rows subquery's zone maps keep
    // commit 0's two of them
    assert(planned.sorted == Seq("GraftLogRewriteScan" -> 6, "GraftLogScan" -> 2),
      s"planned files per scan: $planned")
    // the runtime `_file` filter narrows the rewrite to those two files
    val rewritten = before -- files()
    assert(rewritten.map(GraftSnapshotTestHook.bucketOf) == Set(1, 2) &&
      rewritten.forall(n => commits(0).contains(GraftLog.stampOf(n))),
      s"rewrote $rewritten")
    assert(rewritten.size == 2, s"rewrote ${rewritten.size} files")
    assert(sorted(spark.table("gpl.lanes_del").select(cols.map(col): _*)) ==
      parquet("NOT (user_id IN (1, 6) AND event_id < 100)"))
  }
}
