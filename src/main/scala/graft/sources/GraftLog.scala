package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsDeleteV2, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.expressions.filter.{AlwaysTrue, Predicate => V2Predicate}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, WriteBuilder}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** [EXT] Custom DataSource V2 connector over a length-prefixed binary log
  * (round 13, extended round 14): the engine consumed external data only
  * through built-in sources; this closes the SOURCE-API surface offline —
  * the same TableProvider / ScanBuilder / Batch machinery a Kafka- or
  * lake-format connector registers through, exercised end to end with a
  * DuckDB oracle (the zero-egress sandbox cannot host a broker, so the
  * unbounded half of that residual stays documented in SURVEY §6).
  *
  * This file holds the provider and the table (`GraftLogSource`,
  * `GraftLogTable`) and `object GraftLog`: the schema, the metadata and
  * added columns, the stamps, and the public entry points of the other
  * files. Each other concern of the connector has one file here:
  *  - GraftLogCodec: the record format, its encoder, the raw-record walk;
  *  - GraftLogWrite: the batch, streaming and row-level write paths and
  *    their commits;
  *  - GraftLogScan: the scan builder, its pushdown surfaces and the
  *    planned partitions;
  *  - GraftLogReaders: the cursor and the columnar, TopN and aggregate
  *    readers;
  *  - GraftLogStream: the micro-batch source, its offsets and the
  *    publish-name scheme;
  *  - GraftLogPredicates: the predicate lanes, the one V2 translator and
  *    the evaluators behind it;
  *  - GraftLogMaintenance: compact, cluster, expire, expire_snapshots;
  *  - GraftLogChanges: the changelog, batch and streaming;
  *  - GraftSnapshot (manifests and the commit protocol), GraftStats (the
  *    zone-map model), GraftBranches (tags and branches), GraftDeletes
  *    (delete files), GraftFs (every IO call) and GraftCatalog (tables
  *    and CALL procedures).
  *
  * One log file per writing partition; one InputPartition per
  * file — the distributed-scan shape (a 1000-executor cluster gets one
  * task per file, no driver-side row handling anywhere).
  */
class GraftLogSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graftlog"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val extra = Option(options.get("evolvedSchema"))
      .map(GraftLog.decodeExtraSchema).getOrElse(Array.empty[StructField])
    if (java.lang.Boolean.parseBoolean(options.get("readChanges")))
      GraftLogChanges.changesSchema(extra)
    else GraftLog.schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    // fail with a usable message, not a downstream NPE from java.io.File
    // when the load() call omitted the path (r13 advice)
    val path = properties.get("path")
    require(path != null, "graftlog requires a path: .load(<dir>) / .save(<dir>)")
    // `.option("evolvedSchema", "name:bigint,name:double,...")` (round 18)
    // lets a PATH read/write carry a catalog table's ADDED columns — the
    // cluster rewrite reads its own landing this way; catalog access
    // remains the public evolved surface
    val extra = Option(properties.get("evolvedSchema"))
      .map(GraftLog.decodeExtraSchema).getOrElse(Array.empty[StructField])
    // `.option("readChanges", "true")` (round 20): the typed change feed
    // as a native streaming source — see [[GraftLogChanges]]
    if (java.lang.Boolean.parseBoolean(properties.get("readChanges")))
      new GraftLogChangesTable(path, extra)
    else new GraftLogTable(path, extra = extra)
  }
}

/** Bucket layout of a graftlog landing (round 15, catalog tables only):
  * every record lands in file(s) tagged `-k<bucket>-` where bucket =
  * floorMod(<long column ord>, n) — the SAME function [[GraftCatalog]]
  * serves as its V2 `bucket` ScalarFunction, so the scan's reported
  * KeyGroupedPartitioning is backed by a catalog-resolvable transform and
  * two bucketed graftlog scans join storage-partitioned with ZERO
  * exchange. */
private[sources] case class GraftLogBucketSpec(ord: Int, n: Int) {
  require(ord == 0 || ord == 1, "bucketing supports the long columns (event_id, user_id)")
  require(n > 0, s"numBuckets must be > 0, got $n")
  def col: String = GraftLog.colName(ord)
  def bucketOf(v: Long): Int = java.lang.Math.floorMod(v, n.toLong).toInt
}

/** Per-command row-level execution modes ([[GraftCatalog]] properties
  * `delete.mode` / `update.mode` / `merge.mode`): copy-on-write file
  * rewrite (default) or merge-on-read deltas. */
private[sources] case class GraftLogModes(
    delete: String = GraftLog.COPY_ON_WRITE,
    update: String = GraftLog.COPY_ON_WRITE,
    merge: String = GraftLog.COPY_ON_WRITE) {
  def of(cmd: RowLevelOperation.Command): String = cmd match {
    case RowLevelOperation.Command.DELETE => delete
    case RowLevelOperation.Command.UPDATE => update
    case RowLevelOperation.Command.MERGE => merge
  }
}

private[sources] class GraftLogTable(path: String,
    bucket: Option[GraftLogBucketSpec] = None,
    modes: GraftLogModes = GraftLogModes(),
    extra: Array[StructField] = Array.empty,
    asOf: Option[Long] = None,
    ret: GraftRetention = GraftRetention.NONE,
    // a BRANCH-pinned table instance (round 20, the catalog's
    // `<table>.branch_<name>` identifier): scans read the branch view,
    // appends stage onto the branch, and merge-on-read row-level
    // commands land their delete files under branch manifests
    tableBranch: Option[String] = None) extends Table
    with SupportsRead with SupportsWrite with SupportsMetadataColumns
    with SupportsRowLevelOperations with SupportsDeleteV2 {
  // Time travel (round 16): a table pinned AS OF a stamp reads the
  // manifest that was current then ([[GraftSnapshotIO.resolveAsOf]]) and
  // is read-only — `VERSION AS OF '<stamp>'` / `TIMESTAMP AS OF` through
  // [[GraftCatalog.loadTable]] overloads, or `.option("asOfStamp", t)`
  // on a path read. The schema shown is the CURRENT schema (null-filled
  // where history predates an added column), matching Iceberg's choice.
  private def requireCurrent(op: String): Unit =
    require(asOf.isEmpty,
      s"$op is not allowed on a time-travel (AS OF ${asOf.getOrElse(0L)}) table")
  // Schema evolution (round 16): a catalog table may have APPENDED
  // columns (ALTER TABLE ADD COLUMN — [[GraftCatalog.alterTable]]), each
  // encoded after `event_type` as [present: byte][value]; records written
  // under an older schema are shorter and the reader NULL-FILLS their
  // missing trailing fields (the length prefix bounds each record, so
  // old and new records coexist in one file). Added columns are always
  // nullable and never claimable by any pushdown surface (ordinal()
  // returns -1 for them), so the fixed-offset hot path is untouched.
  override def name(): String =
    s"graftlog($path)" + asOf.map(s => s"@$s").getOrElse("") +
      tableBranch.map(b => s"#$b").getOrElse("")
  override def schema(): StructType =
    StructType(GraftLog.schema.fields ++ GraftLog.activeExtra(extra))
  override def metadataColumns(): Array[MetadataColumn] = GraftLog.metadataColumns

  // Conditional DELETE/UPDATE/MERGE go through the group-based rewrite
  // ([[GraftLogRewriteOperation]] — command-agnostic: the write always
  // lands the affected files' replacement rows, whatever transform the
  // rewrite plan applied) — or, when the command's `<cmd>.mode` table
  // property says merge-on-read, through row-level deltas
  // ([[GraftLogDeltaOperation]] — position deletes + appended
  // replacement rows, no original file moves). Metadata-only deletes
  // are claimed for the ALWAYS-TRUE case alone — whole-table truncate
  // by unlinking every log file, no job. Anything finer would need
  // per-file row statistics the format doesn't keep, and a wrong
  // canDeleteWhere=true silently deletes rows the predicate did not
  // cover — the one unrecoverable failure mode of this SPI — so the
  // claim stays minimal.
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    requireCurrent("a row-level command")
    // Branch row-level commands (round 20, r19 verdict #4): the audit
    // step of write-audit-publish FIXES rows before publishing —
    // merge-on-read only, because a copy-on-write rewrite would remove
    // fork-point files from the branch view and could never fast-forward
    tableBranch.foreach { b =>
      require(modes.of(info.command()) == GraftLog.MERGE_ON_READ,
        s"${info.command()} on branch '$b' needs merge-on-read mode " +
          s"(set ${info.command().toString.toLowerCase}.mode = " +
          "'merge-on-read'): a copy-on-write rewrite removes fork-point " +
          "files from the branch view and cannot fast-forward publish")
    }
    () =>
      if (modes.of(info.command()) == GraftLog.MERGE_ON_READ)
        new GraftLogDeltaOperation(path, bucket, extra, info.command(), ret, tableBranch)
      else new GraftLogRewriteOperation(path, bucket, info.command(), extra, ret)
  }
  override def canDeleteWhere(predicates: Array[V2Predicate]): Boolean =
    // a branch truncate would have to REMOVE fork-point files from the
    // branch view — route predicate-less deletes through the row-level
    // (merge-on-read) path instead of the metadata truncate
    tableBranch.isEmpty && predicates.forall(_.isInstanceOf[AlwaysTrue])
  override def deleteWhere(predicates: Array[V2Predicate]): Unit = {
    requireCurrent("truncate")
    require(tableBranch.isEmpty,
      "truncate is not allowed on a branch: publish or drop it instead")
    require(canDeleteWhere(predicates),
      s"metadata-only delete unsupported for [${predicates.mkString(", ")}]")
    // empty manifest FIRST (readers flip atomically to the empty table),
    // then physical unlink of exactly the files the final CAS base
    // referenced (round 18, r17 advice): a raw directory listing would
    // also catch a concurrent appender's published-but-not-yet-committed
    // files — its subsequent WINNING commit would then reference unlinked
    // bytes, leaving the table permanently unreadable instead of
    // last-wins. Stamped-but-unreferenced crash garbage is left to
    // expire/sweep (indistinguishable from an in-flight publish).
    // A snapshot-retaining table keeps the files: the pre-truncate
    // snapshot stays readable until expire's stamp-horizon GC.
    // Optimistic vs concurrent commits (round 17): truncate is last-wins
    // by definition, so the rebase is unconditional — whatever the final
    // CAS base holds is what gets emptied.
    val committed = GraftSnapshotIO.commit(path, force = true)(base =>
      GraftChange(removeData = base.fileNames))
    GraftSnapshotIO.retire(path, committed, ret)
  }
  override def partitioning(): Array[Transform] =
    bucket.map(b => Expressions.bucket(b.n, b.col): Transform).toArray
  override def capabilities(): java.util.Set[TableCapability] =
    if (asOf.isDefined) java.util.EnumSet.of(TableCapability.BATCH_READ)
    else java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftLogScanBuilder(path, bucket,
      Option(options.get("maxFilesPerTrigger")).map { raw =>
        val n = try raw.toInt catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"graftlog maxFilesPerTrigger must be a positive integer, got '$raw'")
        }
        require(n > 0, s"graftlog maxFilesPerTrigger must be > 0, got $raw")
        n
      },
      Option(options.get("publishLagMs")).map { raw =>
        val n = try raw.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"graftlog publishLagMs must be a non-negative integer, got '$raw'")
        }
        require(n >= 0, s"graftlog publishLagMs must be >= 0, got $raw")
        n
      }.getOrElse(GraftLogNames.DEFAULT_LAG_MS), extra,
      // path-read pin: .option("asOfStamp", t); a catalog AS OF pin wins
      asOf.orElse(Option(options.get("asOfStamp")).map { raw =>
        val s = try raw.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"graftlog asOfStamp must be an epoch-millis long, got '$raw'")
        }
        require(s >= 0, s"graftlog asOfStamp must be >= 0, got $raw")
        s
      }),
      // `.option("branch", name)` (round 19): read a branch's staged
      // snapshot — fork-point state plus the branch's append chain; a
      // branch-pinned table instance (round 20) reads its branch
      Option(options.get("branch")).orElse(tableBranch).map { b =>
        require(asOf.isEmpty && options.get("asOfStamp") == null,
          "a branch read cannot also pin AS OF: branches have exactly " +
            "one (current) state until published")
        b
      })
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    requireCurrent("a write")
    new GraftLogWriteBuilder(path, info, bucket, extra, ret, tableBranch)
  }
}

object GraftLog {
  /** `delete.mode` table-property values ([[GraftCatalog]]): how DELETE
    * executes — file rewrite vs position-delete files. */
  val COPY_ON_WRITE = "copy-on-write"
  val MERGE_ON_READ = "merge-on-read"

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("event_type", StringType, nullable = false)))

  private[sources] def ordinal(name: String): Int = name match {
    case "event_id" => 0; case "user_id" => 1; case "value" => 2
    case "event_type" => 3; case _ => -1
  }
  private[sources] def colName(ord: Int): String = schema.fields(ord).name
  private[sources] def colType(ord: Int) = schema.fields(ord).dataType

  // ---- metadata columns (round 15) -------------------------------------
  // File-level provenance, exposed through SupportsMetadataColumns the way
  // parquet exposes _metadata: `_file` (absolute path), `_bucket` (the
  // k-token of a bucketed landing file, null on plain landings/foreign
  // names) and `_pub_stamp` (publish millis from the stamped name, null
  // for unstamped legacy names). All three are CONSTANT PER FILE — the
  // readers surface them from the cursor without touching the record
  // decode loop. `ordinal()` keeps returning -1 for them, so TopN/agg
  // pushdown over metadata names is declined and Spark evaluates those
  // above the scan; of the predicates, only `_pub_stamp` trees are
  // claimed (the stamp lane of [[v2ToV1]]). `_file` is additionally the
  // GROUP identity of the row-level DELETE rewrite: runtime group
  // filtering collects matching `_file`s through a subquery scan and the
  // rewrite replaces exactly those files.
  val META_FILE = 4; val META_BUCKET = 5; val META_STAMP = 6; val META_POS = 7
  private[sources] def fieldOrdinal(name: String): Int = name match {
    case "_file" => META_FILE; case "_bucket" => META_BUCKET
    case "_pub_stamp" => META_STAMP; case "_pos" => META_POS
    case other => ordinal(other)
  }
  private[sources] def fieldType(ord: Int): DataType = ord match {
    case META_FILE => StringType; case META_BUCKET => IntegerType
    case META_STAMP => LongType; case META_POS => LongType; case d => colType(d)
  }
  private[sources] def fieldNullable(ord: Int): Boolean =
    ord == META_BUCKET || ord == META_STAMP

  /** First ordinal of a table's APPENDED (schema-evolution) columns —
    * extra column i is ordinal EXTRA_BASE + i, above the metadata range.
    * Per-table, resolved through [[GraftLogCursorSpec]]; the static
    * `ordinal()` keeps returning -1 for them, so every pushdown surface
    * declines extras wholesale and Spark evaluates above the scan. */
  val EXTRA_BASE = 8
  /** Column types ALTER TABLE may append: fixed 8-byte numerics and the
    * length-prefixed string — the encodings the record tail supports. */
  private[sources] def extraTypeSupported(dt: DataType): Boolean =
    dt == LongType || dt == DoubleType || dt == StringType

  /** Round-trip an ADDED-columns schema through the `evolvedSchema`
    * path-read option (round 18): `name:bigint,name:double,name:string`. */
  private[sources] def encodeExtraSchema(extra: Array[StructField]): String =
    extra.map { f =>
      val kind = f.dataType match {
        case LongType => "bigint"
        case DoubleType => "double"
        case StringType => "string"
        case other => throw new IllegalArgumentException(
          s"unsupported added-column type $other")
      }
      s"${f.name}:$kind" + (if (droppedCol(f)) ":d" else "")
    }.mkString(",")
  private[sources] def decodeExtraSchema(spec: String): Array[StructField] =
    spec.split(',').filter(_.nonEmpty).map { part =>
      val toks = part.split(':')
      require(toks.length == 2 || (toks.length == 3 && toks(2) == "d"),
        s"bad evolvedSchema entry '$part'")
      val dt = toks(1) match {
        case "bigint" => LongType
        case "double" => DoubleType
        case "string" => StringType
        case other => throw new IllegalArgumentException(
          s"bad evolvedSchema type '$other' in '$part'")
      }
      val f = StructField(toks(0), dt, nullable = true)
      if (toks.length == 3) f.copy(metadata = DROPPED_META) else f
    }

  // ---- schema evolution: column SLOTS vs ACTIVE columns (round 19) ----
  // The record tail and the manifest's W zone-map tokens are POSITIONAL
  // by slot: the slot index is the column's stable field id (slots are
  // append-only and never physically removed, so the id never moves).
  // RENAME is a metadata-only name change on a slot (history reads
  // through the new name; the slot-indexed W bounds keep pruning). DROP
  // tombstones the slot: its name becomes the reserved
  // `_dropped_<slot>` placeholder (user columns cannot take that
  // prefix), readers still walk its bytes in old records but never
  // project it, writers encode it as absent, and a later ADD — even of
  // the same name — is a NEW slot with a new id, all-null for history.
  private[sources] val DROPPED_META = new org.apache.spark.sql.types.MetadataBuilder()
    .putBoolean("graft.dropped", true).build()
  private[sources] def droppedCol(f: StructField): Boolean =
    f.metadata.contains("graft.dropped") && f.metadata.getBoolean("graft.dropped")
  /** The Spark-visible evolved columns: every non-tombstoned slot. */
  private[sources] def activeExtra(extra: Array[StructField]): Array[StructField] =
    if (extra.exists(droppedCol)) extra.filterNot(droppedCol) else extra

  private def metaCol(colName: String, tpe: DataType, nullable: Boolean,
      doc: String): MetadataColumn = new MetadataColumn {
    override def name(): String = colName
    override def dataType(): DataType = tpe
    override def isNullable: Boolean = nullable
    override def comment(): String = doc
  }
  private[sources] val metadataColumns: Array[MetadataColumn] = Array(
    metaCol("_file", StringType, nullable = false,
      "absolute path of the log file the row came from"),
    metaCol("_bucket", IntegerType, nullable = true,
      "bucket token of a bucketed-landing file; null on plain landings"),
    metaCol("_pub_stamp", LongType, nullable = true,
      "publish stamp (epoch millis) from the file name; null if unstamped"),
    metaCol("_pos", LongType, nullable = false,
      "raw record ordinal within the file (merge-on-read row identity)"))

  /** Publish stamp (epoch millis) of a graftlog file name, -1 if the name
    * is unstamped (legacy/foreign) — the value `_pub_stamp` carries, and
    * the bound an incremental `_pub_stamp > t` read takes. */
  def stampOf(name: String): Long = GraftLogNames.stamp(name)
  /** The landing's newest snapshot-manifest stamp, -1 if none — the
    * version handle `VERSION AS OF` / `asOfStamp` resolves against. */
  def latestSnapshotStamp(path: String): Long =
    GraftSnapshotIO.tipStamp(path)

  // ---- the public entry points of the other files --------------------

  /** See [[GraftLogMaintenance.compact]]. */
  def compact(spark: SparkSession, path: String, targetBytes: Long,
      ret: GraftRetention = GraftRetention.NONE): (Int, Int, Long) =
    GraftLogMaintenance.compact(spark, path, targetBytes, ret)
  /** See [[GraftLogMaintenance.cluster]]. */
  def cluster(spark: SparkSession, path: String, byCol: String,
      targetBytes: Long, extra: Array[StructField] = Array.empty,
      ret: GraftRetention = GraftRetention.NONE,
      maxOrigins: Int = 64): (Int, Int, Long) =
    GraftLogMaintenance.cluster(spark, path, byCol, targetBytes, extra, ret, maxOrigins)
  /** See [[GraftLogMaintenance.expire]]. */
  def expire(path: String, beforeStamp: Long,
      tmpGraceMs: Long = 60L * 60 * 1000): (Int, Long, Int) =
    GraftLogMaintenance.expire(path, beforeStamp, tmpGraceMs)
  /** See [[GraftLogMaintenance.expireSnapshots]]. */
  def expireSnapshots(path: String, beforeStamp: Long): (Int, Int, Long) =
    GraftLogMaintenance.expireSnapshots(path, beforeStamp)
  /** See [[GraftLogChanges.readChanges]]. */
  def readChanges(spark: SparkSession, path: String, fromStamp: Long,
      toStamp: Long, extra: Array[StructField] = Array.empty,
      updateImages: Boolean = false): DataFrame =
    GraftLogChanges.readChanges(spark, path, fromStamp, toStamp, extra, updateImages)
  /** See [[GraftLogPredicates.v2ToV1]]. */
  private[graft] def v2ToV1(p: V2Predicate,
      lane: GraftLane = GraftLogPredicates.DATA_LANE): Option[Filter] =
    GraftLogPredicates.v2ToV1(p, lane)
  private[sources] val STAMP_LANE: GraftLane = GraftLogPredicates.STAMP_LANE
}
