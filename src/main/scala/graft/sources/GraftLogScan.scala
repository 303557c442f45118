package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Count => V2Count, Max => V2Max, Min => V2Min}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric}
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownLimit, SupportsPushDownOffset, SupportsPushDownRequiredColumns, SupportsPushDownTopN, SupportsPushDownV2Filters, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/* The scan half of the graftlog connector.
  *
  * Optimizer surfaces implemented (each the real Spark SPI, each with an
  * oracle-green registered query and a plan pin — see StorageOps):
  *  - SupportsPushDownV2Filters (round 15; the modern Predicate API):
  *    exact =, <>, <, <=, >, >=, IN, IS [NOT] NULL on all columns,
  *    STARTS_WITH/ENDS_WITH/CONTAINS on the string column, composed
  *    recursively through AND/OR/NOT — a whole disjunction is pushed as
  *    one exact predicate. Residuals (and only residuals) returned to
  *    Spark. At 100 TB this is the scan-volume lever: the source skips
  *    record-building for non-matching rows while streaming sequentially
  *    through each file. Every predicate that enters a scan — pushed,
  *    `_pub_stamp`, added-column hint, runtime and row-level group
  *    filters — arrives as a V2 Predicate and goes through ONE translator,
  *    [[GraftLogPredicates.v2ToV1]], in the lane of the columns it names.
  *  - SupportsPushDownRequiredColumns: decode only requested fields.
  *  - SupportsPushDownLimit (partial): per-file early stop, Spark keeps
  *    the global Limit.
  *  - SupportsPushDownOffset (round 15, FULL — the SPI has no partial
  *    variant): the scan collapses to one sequential partition chaining
  *    files in publish-name order (the format's deterministic global row
  *    order) and skips the first k passing records without building rows.
  *  - SupportsPushDownTopN (partial, round 14): ORDER BY k LIMIT n keeps
  *    only a size-n heap per file instead of every decoded record; Spark
  *    keeps the global TakeOrdered over the <= n*files survivors — the
  *    same partial contract as the limit (one task per file cannot claim
  *    a global property).
  *  - SupportsPushDownAggregates (partial, round 14): COUNT(*)/COUNT/
  *    MIN/MAX with simple-column GROUP BY are computed per file inside
  *    the sequential read, so a telemetry rollup ships O(files x groups)
  *    partial rows to Spark's merge aggregate instead of O(records) —
  *    the map-side combine pushed all the way into the source.
  *  - SupportsRuntimeV2Filtering (round 14): a selective broadcast-join
  *    dim side hands the scan its IN-set at execution time and the reader
  *    drops non-matching records before Spark ever sees them — the DPP /
  *    runtime-filter story extended from parquet (join_bloom_runtime) to
  *    the custom source. Runtime predicates the data lane cannot
  *    translate are dropped (they are a reduction, never a correctness
  *    surface — the join above still applies the condition).
  *  - SupportsReportStatistics: real on-disk sizes so a small graftlog
  *    dimension is broadcastable.
  */

private class GraftLogScanBuilder(path: String, bucket: Option[GraftLogBucketSpec],
    maxFiles: Option[Int], lagMs: Long,
    extra: Array[StructField] = Array.empty,
    asOf: Option[Long] = None,
    branch: Option[String] = None)
    extends ScanBuilder
    with SupportsPushDownV2Filters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit with SupportsPushDownOffset
    with SupportsPushDownTopN with SupportsPushDownAggregates {

  private var pushedV2: Array[V2Predicate] = Array.empty
  private var pushed: Array[Filter] = Array.empty
  private var stampPushed: Array[Filter] = Array.empty
  private var required: StructType = StructType(GraftLog.schema.fields ++ GraftLog.activeExtra(extra))

  // V2 Predicate pushdown (round 15): each conjunct arrives as a
  // connector Predicate tree and takes one of three lanes of
  // GraftLogPredicates.v2ToV1, tried in turn:
  //  - the data lane: claimed as pushed and evaluated by the reader during
  //    the sequential decode, recursively through AND/OR/NOT — so a whole
  //    disjunction like (type='a' AND v>x) OR (type='b' AND v<y) is ONE
  //    exact pushed predicate;
  //  - the stamp lane: a pure `_pub_stamp` tree, constant per file,
  //    claimed and pruning FILES exactly;
  //  - the hint lane (round 18, added columns): never claimed — the
  //    predicate stays residual and Spark re-evaluates it — but a file
  //    whose W bounds provably exclude it is never opened. The
  //    no-pushdown contract for extras is about row-filtering claims; a
  //    sound reduction needs no claim.
  // The lanes' columns are disjoint, so mixed trees fit none and stay
  // residual. Untranslatable predicates (and only those) are returned for
  // Spark's post-scan Filter — the claim stays EXACT.
  private var statsHints: Array[Filter] = Array.empty
  override def pushPredicates(predicates: Array[V2Predicate]): Array[V2Predicate] = {
    val trans = predicates.map(p =>
      (p, GraftLogPredicates.v2ToV1(p), GraftLogPredicates.v2ToV1(p, GraftLogPredicates.STAMP_LANE)))
    pushedV2 = trans.collect { case (p, d, s) if d.isDefined || s.isDefined => p }
    pushed = trans.collect { case (_, Some(f), _) => f }
    stampPushed = trans.collect { case (_, None, Some(f)) => f }
    val residual = trans.collect { case (p, None, None) => p }
    statsHints = residual.flatMap(GraftLogPredicates.v2ToV1(_, GraftLogPredicates.hintLane(extra)))
    residual
  }
  override def pushedPredicates(): Array[V2Predicate] = pushedV2

  override def pruneColumns(requiredSchema: StructType): Unit =
    // with an aggregation pushed, the scan's output IS the aggregate
    // schema — the pushed agg already names the minimal column set, so
    // later pruning (phrased in post-agg names) has nothing to prune
    if (agg.isEmpty) required = requiredSchema

  // LIMIT pushdown, PARTIALLY: each partition reader early-stops after
  // `limit` matching records (at 100 TB a LIMIT-k probe query stops
  // decoding after k matches per file instead of streaming every file to
  // the end), while isPartiallyPushed=true makes Spark keep its global
  // Limit over the <= k*files surviving rows — the source must not claim
  // a global property one task per file cannot enforce.
  private var limit: Int = -1
  override def pushLimit(l: Int): Boolean =
    if (agg.isDefined) false else { limit = l; true }
  // one override serves BOTH SupportsPushDownLimit and SupportsPushDownTopN
  // — the contract is identical: per-partition reduction, global op kept
  override def isPartiallyPushed(): Boolean = true

  // OFFSET pushdown (round 15), FULLY — the SPI has no partial variant,
  // and a per-file skip is NOT a global skip, so claiming this forces an
  // execution-model decision: a pushed-offset scan collapses to ONE
  // sequential InputPartition chaining the files in publish-name order
  // (stamped names sort in publish order by construction — the format
  // HAS a deterministic global row order, unlike a generic file source)
  // and skips the first k PASSING records of that stream. OFFSET is an
  // inherently sequential prefix operation — Spark's own alternative is
  // a single-partition global skip above the scan, after shipping every
  // row; here the skipped prefix never materializes rows at all. Declined
  // under TopN/agg (their per-file reductions change what "first k rows"
  // means before the offset could apply).
  private var offset: Int = -1
  override def pushOffset(o: Int): Boolean =
    // a bucketed scan plans one partition PER BUCKET — a global skip is
    // not enforceable across them, so the full-push claim must decline
    if (agg.isDefined || topN.isDefined || bucket.isDefined) false
    else { offset = o; true }

  // TopN pushdown (ORDER BY ... LIMIT k), PARTIALLY: the reader keeps a
  // size-k bounded heap per file — O(k) memory against an arbitrarily
  // large file — and Spark's global TakeOrdered merges the per-file
  // candidates. Only simple column sort keys are claimable; anything else
  // (expressions, unknown columns) is declined and Spark plans the full
  // Sort+Limit itself.
  private var topN: Option[GraftLogTopN] = None
  override def pushTopN(orders: Array[SortOrder], l: Int): Boolean = {
    // bucketed scans keep TopN/agg in Spark (scope: the bucketed layout's
    // win is the zero-exchange join; per-bucket chained heaps/partials are
    // future work, and declining is always-correct under both contracts)
    if (agg.isDefined || offset >= 0 || bucket.isDefined) return false
    val keys = orders.map { so =>
      so.expression() match {
        case nr: NamedReference if nr.fieldNames.length == 1 &&
            GraftLog.ordinal(nr.fieldNames()(0)) >= 0 =>
          (GraftLog.ordinal(nr.fieldNames()(0)),
            so.direction() == SortDirection.DESCENDING)
        case _ => return false
      }
    }
    topN = Some(GraftLogTopN(keys, l)); true
  }

  // Aggregate pushdown, PARTIALLY (supportCompletePushDown stays false —
  // one task per file yields per-file partials, never the global answer):
  // COUNT(*), COUNT(col), MIN(col), MAX(col) over simple columns, grouped
  // by simple columns. Spark plans its merge aggregate (SUM of counts,
  // MIN of mins, MAX of maxes) over the scan's O(files x groups) partial
  // rows; the positional contract is readSchema = groupBy columns ++ one
  // column per aggregate, in push order. SUM is deliberately NOT claimed:
  // the format's value column is a double, and a source-side partial sum
  // would commit to an addition order — the engine keeps floating-point
  // aggregation in Spark where its decimal-accumulate discipline applies.
  private var agg: Option[GraftLogAgg] = None
  override def supportCompletePushDown(a: Aggregation): Boolean = false
  override def pushAggregation(a: Aggregation): Boolean = {
    if (offset >= 0 || bucket.isDefined) return false
    def simpleCol(e: org.apache.spark.sql.connector.expressions.Expression): Int = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 => GraftLog.ordinal(nr.fieldNames()(0))
      case _ => -1
    }
    val groupBy = a.groupByExpressions().map(simpleCol)
    if (groupBy.exists(_ < 0)) return false
    val fns = a.aggregateExpressions().map {
      case _: CountStar => GraftLogAggFn(GraftLogAggFn.COUNT_STAR, -1)
      case c: V2Count if !c.isDistinct && simpleCol(c.column()) >= 0 =>
        GraftLogAggFn(GraftLogAggFn.COUNT, simpleCol(c.column()))
      case m: V2Min if simpleCol(m.column()) >= 0 =>
        GraftLogAggFn(GraftLogAggFn.MIN, simpleCol(m.column()))
      case m: V2Max if simpleCol(m.column()) >= 0 =>
        GraftLogAggFn(GraftLogAggFn.MAX, simpleCol(m.column()))
      case _ => return false
    }
    agg = Some(GraftLogAgg(groupBy, fns)); true
  }

  override def build(): Scan =
    new GraftLogScan(path, bucket, pushed, stampPushed, statsHints, required,
      limit, offset, topN, agg, maxFiles, lagMs, extra, asOf, branch)
}

/** Pushed ORDER BY keys as (column ordinal, descending) plus the limit. */
private case class GraftLogTopN(keys: Array[(Int, Boolean)], k: Int) {
  override def toString: String = keys.map { case (ord, desc) =>
    GraftLog.colName(ord) + (if (desc) " DESC" else " ASC")
  }.mkString("[", ", ", s"] limit=$k")
}

/** One pushed aggregate function: kind x column ordinal (-1 for COUNT(*)). */
private case class GraftLogAggFn(kind: Int, ord: Int) {
  import GraftLogAggFn._
  def resultField: StructField = kind match {
    case COUNT_STAR => StructField("count(*)", LongType, nullable = false)
    case COUNT => StructField(s"count(${GraftLog.colName(ord)})", LongType, nullable = false)
    case MIN => StructField(s"min(${GraftLog.colName(ord)})", GraftLog.colType(ord), nullable = true)
    case MAX => StructField(s"max(${GraftLog.colName(ord)})", GraftLog.colType(ord), nullable = true)
  }
  override def toString: String = kind match {
    case COUNT_STAR => "count(*)"
    case COUNT => s"count(${GraftLog.colName(ord)})"
    case MIN => s"min(${GraftLog.colName(ord)})"
    case MAX => s"max(${GraftLog.colName(ord)})"
  }
}
private object GraftLogAggFn {
  val COUNT_STAR = 0; val COUNT = 1; val MIN = 2; val MAX = 3
}

/** Pushed aggregation: group-by column ordinals + functions, in push
  * order. The schema is the positional contract with Spark's merge agg. */
private case class GraftLogAgg(groupBy: Array[Int], fns: Array[GraftLogAggFn]) {
  def schema: StructType = StructType(
    groupBy.map(ord => StructField(GraftLog.colName(ord), GraftLog.colType(ord), nullable = false)).toSeq ++
      fns.map(_.resultField).toSeq)
  override def toString: String =
    fns.mkString("[", ", ", "]") +
      (if (groupBy.nonEmpty) groupBy.map(GraftLog.colName).mkString(" groupBy=[", ", ", "]") else "")
}

private class GraftLogScan(path: String, bucket: Option[GraftLogBucketSpec],
    filters: Array[Filter], stampFilters: Array[Filter],
    statsHints: Array[Filter],
    required: StructType, limit: Int, offset: Int, topN: Option[GraftLogTopN],
    agg: Option[GraftLogAgg], maxFiles: Option[Int], lagMs: Long,
    extra: Array[StructField] = Array.empty,
    asOf: Option[Long] = None,
    branch: Option[String] = None)
    extends Scan with Batch
    with SupportsReportStatistics with SupportsReportPartitioning
    with SupportsRuntimeV2Filtering with Serializable {

  override def readSchema(): StructType = agg.map(_.schema).getOrElse(required)
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(asOf.isEmpty, "streaming from a time-travel (AS OF) snapshot " +
      "is unsupported — a pinned snapshot is a bounded batch; read it as one")
    require(branch.isEmpty, "streaming from a branch is unsupported — " +
      "branches are the staging half of write-audit-publish; stream main")
    new GraftLogMicroBatchStream(path, filters, required.fieldNames, maxFiles, lagMs, extra)
  }

  // Runtime filtering (round 14): at execution time Spark derives an
  // IN-set from the other (filtered, broadcast) side of a join and hands
  // it here BEFORE planInputPartitions/createReaderFactory run for the
  // batch — the reader then drops non-matching records during the
  // sequential decode, so join probe rows never materialize. This is the
  // row-level analog of parquet DPP: a reduction, not a correctness
  // surface (the join above still applies its condition), which is why
  // runtime predicates the data lane cannot translate are silently dropped.
  private var runtime: Array[Filter] = Array.empty
  // Only columns present in THIS scan's (pruned) output are offerable:
  // Spark resolves the references against the scan output and fails hard
  // on a miss. And none at all once a limit/topN/agg is pushed — a
  // runtime row filter under those would change WHICH rows the pushed
  // operator keeps, not just drop join-dead rows (Spark's own pruning
  // rule never matches through a Limit, but the source must not rely on
  // the caller for its own correctness envelope).
  override def filterAttributes(): Array[NamedReference] =
    // offset joins the exclusion list (round 15): a runtime row filter
    // under a pushed offset would change WHICH rows the skip drops —
    // same correctness envelope as limit/TopN/agg
    if (agg.isDefined || topN.isDefined || limit >= 0 || offset >= 0) Array.empty
    else {
      val out = readSchema().fieldNames.toSet
      Array("event_id", "user_id", "event_type")
        .filter(out.contains).map(Expressions.column)
    }
  override def filter(predicates: Array[V2Predicate]): Unit =
    runtime = predicates.flatMap(GraftLogPredicates.v2ToV1(_))
  private[sources] def allFilters: Array[Filter] = filters ++ runtime

  // ---- snapshot, resolved ONCE per Scan (r15 advice #3 + the round-16
  // manifest protocol): planned partitions, reported partitioning and
  // statistics all derive from this single resolution, so they can never
  // observe different landings (the r15-noted SPJ desync window), and a
  // Scan reads one atomic snapshot end to end.
  @transient private lazy val snapshot: GraftSnapshot = branch match {
    case Some(b) => GraftBranches.resolveBranch(path, b) // round 19
    case None => asOf match {
      case Some(s) => GraftSnapshotIO.resolveAsOf(path, s)
      case None => GraftSnapshotIO.resolve(path)
    }
  }
  // stamp pruning (time-travel/incremental slices) then zone-map pruning
  // (round 17): a pushed range/equality predicate on the numeric columns
  // drops every file whose manifest min/max provably excludes it — the
  // files are never opened, and estimateStatistics reports the skipped
  // slice so broadcast decisions see the post-skip size
  @transient private lazy val prunedFiles: Seq[GraftLiveFile] =
    GraftLogPredicates.statsPrune(
      GraftLogPredicates.stampPrune(snapshot.files, stampFilters),
      filters ++ statsHints, extra)
  private def pathOf(f: GraftLiveFile): String = GraftFs.child(path, f.name)

  /** Size statistics from the log files themselves — without this a V2
    * scan reports "unknown", Catalyst assumes it is huge, and a small
    * graftlog dimension can never be broadcast: the optimizer integration
    * that makes a custom source a first-class join citizen, not just
    * readable. Sizes are on-disk bytes (compression-free format, so
    * in-memory ~= on-disk); row count is estimated from an average-record
    * floor rather than decoded — statistics must stay O(files), never
    * O(records). */
  override def estimateStatistics(): Statistics = {
    // stamp-pruned, like the planned partitions: an incremental
    // `_pub_stamp > t` slice of a huge landing must report the SLICE's
    // size, or Catalyst can never broadcast it. For compacted files the
    // slice is per SEGMENT — the byte spans the cursor will actually emit.
    val bytes = prunedFiles.map { f =>
      val len = GraftFs.length(GraftFs.child(path, f.name))
      f.segs match {
        case None => len
        case Some(ss) =>
          val ends = ss.map(_.start).drop(1) :+ len
          ss.zip(ends).collect {
            case (seg, end) if stampFilters.forall(GraftLogPredicates.stampAccepts(_, seg.stamp)) =>
              end - seg.start
          }.sum
      }
    }.sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        // len(4) + fixed(26) + short etype: ~34 bytes/record floor
        java.util.OptionalLong.of(bytes / 34)
    }
  }
  override def description(): String =
    s"GraftLogScan path=$path pushed=[${filters.mkString(", ")}] " +
      (if (stampFilters.nonEmpty) s"stampPruned=[${stampFilters.mkString(", ")}] " else "") +
      s"columns=[${readSchema().fieldNames.mkString(", ")}]" +
      (if (limit >= 0) s" limit=$limit" else "") +
      (if (offset >= 0) s" offset=$offset" else "") +
      topN.map(t => s" topn=$t").getOrElse("") +
      agg.map(a => s" agg=$a").getOrElse("")

  // planned ONCE per Scan from the cached snapshot: Spark may consult
  // partitions repeatedly (stats probes, outputPartitioning, AQE) and
  // each call re-listing the directory could observe a different landing
  // mid-publish — the r15-noted numPartitions/SPJ desync (r15 advice #3)
  @transient private lazy val plannedPartitions: Array[InputPartition] = {
    // stamp pruning first, uniformly across the three planning shapes:
    // pushed `_pub_stamp` predicates hold for all of a file's rows or
    // none (per segment for compacted files — the cursor finishes the
    // segment-exact part), so dropping non-matching files here IS the
    // pushed filter
    val files = prunedFiles.map(pathOf).toArray
    // pushed OFFSET = one sequential partition over all files in publish
    // order: the only plan under which "skip the first k rows" is a global
    // statement a task can enforce (see pushOffset)
    if (offset >= 0) Array(GraftLogFilesPartition(files.toSeq))
    else bucket match {
      case Some(b) =>
        // one partition PER BUCKET (all its files, publish order) keyed by
        // the bucket number — the HasPartitionKey half of the SPJ contract;
        // files without a bucket token (foreign appends to a bucketed
        // landing) would silently break the co-partitioning claim, so they
        // fail loudly here instead
        val byBucket = files.groupBy { f =>
          val k = GraftLogNames.bucketOf(GraftFs.nameOf(f))
          require(k >= 0 && k < b.n,
            s"non-bucketed or out-of-range file in bucketed landing: $f")
          k
        }
        // BUCKET PRUNING (round 15): a pushed =/IN on the bucket column
        // names the only buckets that can match — the other buckets'
        // files are never opened, the layout's second scale lever after
        // the zero-exchange join (a point lookup on a 100 TB landing
        // touches 1/n of it). PUSHED filters only: runtime filters
        // arrive after outputPartitioning() has been consulted, and
        // pruning on them would desync the reported partitioning from
        // the planned partitions mid-SPJ.
        val allowed = GraftLogPredicates.prunedBuckets(b, filters)
        byBucket.toArray.sortBy(_._1)
          .filter { case (k, _) => allowed.forall(_.contains(k)) }
          .map { case (k, fs) =>
            GraftLogBucketPartition(k, fs.toSeq): InputPartition
          }
      case None =>
        agg match {
          case Some(a) if a.groupBy.isEmpty && filters.isEmpty =>
            // metadata aggregate (round 17): an ungrouped, unfiltered
            // COUNT/MIN/MAX over tracked columns reads NOTHING for files
            // whose zone maps answer it exactly — no covering position
            // deletes (they change the count), every stamp segment live
            // (a dead segment's rows are excluded from the query but not
            // from the stats), and every pushed function servable. A
            // landing where that holds for all files makes `SELECT
            // count(*)` a pure metadata query.
            val (served, opened) = prunedFiles.partition(f =>
              f.stats.isDefined &&
                snapshot.deletesFor(f.name).isEmpty &&
                f.stampedSegments.forall(seg =>
                  stampFilters.forall(GraftLogPredicates.stampAccepts(_, seg.stamp))) &&
                a.fns.forall(fn => fn.kind match {
                  case GraftLogAggFn.COUNT_STAR => true
                  case GraftLogAggFn.COUNT => fn.ord <= 3 // base cols: non-null
                  case _ => fn.ord <= 2 // MIN/MAX: numeric zone-map columns
                }))
            val statsRow: Option[InputPartition] =
              if (served.isEmpty) None
              else {
                val m = served.flatMap(_.stats).reduce(_.merge(_))
                val values: Seq[Any] = a.fns.toSeq.map { fn =>
                  fn.kind match {
                    case GraftLogAggFn.COUNT_STAR | GraftLogAggFn.COUNT => Long.box(m.n)
                    case GraftLogAggFn.MIN => fn.ord match {
                      case 0 => Long.box(m.eidMin)
                      case 1 => Long.box(m.uidMin)
                      case _ => Double.box(m.valMin)
                    }
                    case GraftLogAggFn.MAX => fn.ord match {
                      case 0 => Long.box(m.eidMax)
                      case 1 => Long.box(m.uidMax)
                      case _ => Double.box(m.valMax)
                    }
                  }
                }
                Some(GraftLogStatsAggPartition(values))
              }
            (opened.map(f => GraftLogPartition(pathOf(f)): InputPartition)
              ++ statsRow).toArray
          case _ => files.map(f => GraftLogPartition(f): InputPartition)
        }
    }
  }

  override def planInputPartitions(): Array[InputPartition] = plannedPartitions

  /** SPJ surface (round 15): a bucketed landing reports
    * KeyGroupedPartitioning over the SAME `bucket(n, col)` transform the
    * writer applied and [[GraftCatalog]] serves as a V2 ScalarFunction —
    * so a join of two such scans on the bucket column plans with ZERO
    * exchange (storage-partitioned join), the connector twin of
    * `join_bucketed`. numPartitions must be the count of partitions
    * actually planned, which is the count of non-empty buckets — both
    * derive from the one cached snapshot, so they cannot desync. */
  override def outputPartitioning(): Partitioning = bucket match {
    case Some(b) =>
      new KeyGroupedPartitioning(
        Array(Expressions.bucket(b.n, b.col)), plannedPartitions.length)
    case None => new UnknownPartitioning(plannedPartitions.length)
  }

  // the factory carries the scan itself: runtime filters arrive via
  // filter() after planning, and the scan's state is snapshotted at TASK
  // serialization time (post-filter) — so the readers see them regardless
  // of when Spark first touched the (lazily cached) factory
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftLogReaderFactory(() => allFilters,
      required.fieldNames, limit, offset, topN, agg,
      GraftLogCursorSpec.of(path, snapshot, stampFilters, extra))

  // Observability (round 14): the records the readers DROPPED via pushed
  // and runtime predicates, surfaced as a first-class SQL metric on the
  // BatchScan node — pushdown savings become a number in the UI/plan
  // metrics instead of an inference from row counts. Sum across tasks.
  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new GraftLogSkippedMetric)
}

private case class GraftLogPartition(file: String) extends InputPartition

/** A pushed ungrouped COUNT/MIN/MAX answered ENTIRELY from the manifest's
  * zone maps (round 17): the partition carries the pre-merged partial
  * values of every servable file — those files are never opened. Spark's
  * merge aggregation combines this row with the partials of files that
  * DID need opening (no stats, covering position deletes, partially-dead
  * stamp segments), so mixed landings stay exact. */
private case class GraftLogStatsAggPartition(values: Seq[Any]) extends InputPartition

/** Single sequential partition chaining `files` in publish order — the
  * pushed-OFFSET execution shape (see GraftLogScanBuilder.pushOffset). */
private case class GraftLogFilesPartition(files: Seq[String]) extends InputPartition

/** A streaming micro-batch read of a file whose segment map shows some
  * origins ALREADY delivered under the batch's start offset (a compaction
  * merged processed inputs with unprocessed ones mid-stream): segments
  * stamped in `deadStamps` are suppressed — byte-skipped wholesale when
  * nothing needs raw ordinals, decoded-and-dropped when position deletes
  * or `_pos` do (round 17; closes the r16 "streaming re-delivers across
  * compaction" gap). */
private case class GraftLogReplayPartition(file: String,
    deadStamps: Seq[Long]) extends InputPartition

/** One bucket of a bucketed landing: all its files, keyed by the bucket
  * number — HasPartitionKey is what lets Spark line partitions up across
  * the two sides of a storage-partitioned join. */
private case class GraftLogBucketPartition(bucket: Int, files: Seq[String])
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
}

private class GraftLogSkippedMetric extends CustomSumMetric {
  override def name(): String = "recordsSkipped"
  override def description(): String =
    "records dropped inside the source by pushed/runtime predicates"
}
