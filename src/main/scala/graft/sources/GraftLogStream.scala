package graft.sources

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReportsSourceMetrics, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructField

/* The streaming source of the graftlog connector and the publish-name
  * scheme its offsets read.
  *
  * PUBLISH-STAMPED NAMES AND THE COMPACTED OFFSET (round 14, closing the
  * r13 "offset grows without bound" residual): commit() names every
  * published file `pub-<millis13>-<seq>-<tag>.graftlog`, stamped AT RENAME
  * TIME — so lexicographic name order IS publish order (13-digit
  * zero-padded millis). A streaming offset is then (high-water name +
  * boundary tail) instead of the full name list: any stamped name older
  * than the high-water stamp minus a lag window is implicitly seen, and
  * the tail holds only (a) seen stamped names inside the lag window and
  * (b) seen UNSTAMPED (legacy/foreign) names, which never compact and are
  * bounded by the landing's pre-existing file count. Correctness
  * assumption, stated: a file becomes VISIBLE within `publishLagMs`
  * (default 10 s) of its stamp — true by construction here, where the
  * stamp is taken in the same driver commit pass that renames, and the
  * visibility delay is one rename loop. Checkpoint offset size is thereby
  * bounded by the publish rate inside one lag window, not by the
  * landing's lifetime file count (GraftLogSpec pins the compaction).
  */

/** Micro-batch (streaming) read of the log directory — the Kafka-shaped
  * half of the connector, offline: an OFFSET names the exact set of files
  * already visible, `latestOffset(start, limit)` discovers newly-published
  * files (optionally throttled by maxFilesPerTrigger — the same admission
  * control as Kafka's maxOffsetsPerTrigger), and
  * `planInputPartitions(start, end)` plans precisely the difference — so a
  * checkpointed query that restarts resumes from its committed offset and
  * processes every appended record EXACTLY ONCE (GraftLogSpec proves the
  * resume). Offsets are COMPACTED set arithmetic on publish-stamped names
  * (see the header): high-water + lag-window tail, never the lifetime
  * file list. Pushed filters and pruned columns ride into each
  * micro-batch reader unchanged. */
private class GraftLogMicroBatchStream(path: String, filters: Array[Filter],
    columns: Array[String], maxFiles: Option[Int], lagMs: Long,
    extra: Array[StructField] = Array.empty)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow with ReportsSourceMetrics {

  // snapshot-resolved (round 16): a published-but-uncommitted file (its
  // commit's manifest swap still pending, or crashed) must not be
  // admitted — streaming discovery sees exactly the batch-visible set
  private def listNames(): Array[String] =
    GraftSnapshotIO.resolve(path).files.map(_.name).sorted.toArray

  // Trigger.AvailableNow, natively (round 14; previously Spark's
  // compatibility wrapper supplied the semantics): prepare() snapshots the
  // visible file set, and every subsequent admission is clipped to it —
  // the query drains exactly the data that existed at start (in
  // maxFilesPerTrigger-sized batches) and terminates, files landing
  // mid-drain left for the next run. The snapshot is names, not an
  // offset: admission still goes through the same seen/admit arithmetic.
  @volatile private var availableNowCutoff: Option[Set[String]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCutoff = Some(listNames().toSet)

  override def initialOffset(): Offset = GraftLogOffset("", lagMs, Nil)
  // SupportsAdmissionControl routes all discovery through the 2-arg form;
  // the 0-arg form must not be silently different, so it refuses
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")
  override def deserializeOffset(json: String): Offset = GraftLogOffset.fromJson(json)
  override def commit(end: Offset): Unit = () // progress lives in the checkpoint log

  override def getDefaultReadLimit: ReadLimit =
    maxFiles.map(n => ReadLimit.maxFiles(n)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cur = start.asInstanceOf[GraftLogOffset]
    val snap = GraftSnapshotIO.resolve(path)
    val names = snap.files.map(_.name).sorted.toArray
    // sorted = publish order for stamped names: admission drains the
    // backlog oldest-first, which is what keeps the high-water honest
    // (everything still unadmitted sorts at or above the new high-water)
    val visible = availableNowCutoff match {
      case Some(cut) => names.filter(cut.contains)
      case None => names
    }
    val fresh = visible.filterNot(cur.seen)
    val admitted = limit match {
      case r: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
        fresh.take(r.maxFiles())
      case _ => fresh
    }
    // an admitted merged file delivers its UNSEEN segments; their origin
    // stamps ride the offset so a SECOND mid-stream compaction (the
    // merged file re-merged under yet another fresh name) cannot
    // re-deliver them — the name-level tail no longer identifies them
    val segsOf = snap.files.collect {
      case GraftLiveFile(n, Some(ss), _, _) => (n, ss)
    }.toMap
    val delivered = admitted.toSeq.flatMap(n => segsOf.get(n).toSeq.flatten
      .map(_.stamp).filter(st => st >= 0 && !cur.seenStamp(st)))
    cur.admit(admitted.toSeq, lagMs, delivered)
  }

  /** Backlog visibility in every StreamingQueryProgress: how many visible
    * files the latest committed offset has not consumed — the file-source
    * analog of Kafka's offsets-behind-latest, and the number an operator
    * alarms on. The committed offset arrives as whatever Offset impl the
    * engine holds (possibly a SerializedOffset read back from the
    * checkpoint log), so it is re-parsed through the one serde. */
  override def metrics(latestConsumed: java.util.Optional[Offset]): java.util.Map[String, String] = {
    val consumed: Option[GraftLogOffset] =
      if (latestConsumed.isPresent)
        Some(GraftLogOffset.fromJson(latestConsumed.get.json()))
      else None
    val names = listNames()
    val pending = consumed match {
      case Some(off) => names.count(n => !off.seen(n))
      case None => names.length
    }
    java.util.Map.of("visibleFiles", names.length.toString,
      "pendingFiles", pending.toString)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[GraftLogOffset]
    // every name this batch admitted is retained verbatim in end's tail
    // (admit() never compacts the batch it is admitting), so the
    // difference is enumerable from the two offsets alone — including
    // across a restart, where both come back from checkpoint JSON.
    // Exactly-once ACROSS COMPACTION (round 17): an admitted file whose
    // manifest segment map shows origins this reader already processed
    // (a mid-stream compaction merged drained inputs with backlog) plans
    // as a replay partition that suppresses the seen segments — and is
    // skipped entirely when every origin was processed. The suppression
    // derives from the CHECKPOINTED start offset plus the segment map,
    // so a restart re-plans the batch identically while the merged file
    // lives; a file re-compacted out from under an uncommitted batch
    // fails loudly on open (fail-stop, same as every resolved-then-
    // deleted window in this connector).
    val segsOf = GraftSnapshotIO.resolve(path).files.collect {
      case GraftLiveFile(n, Some(ss), _, _) => (n, ss)
    }.toMap
    end.asInstanceOf[GraftLogOffset].tail
      .filterNot(from.seen).sorted
      .flatMap { n =>
        segsOf.get(n) match {
          case Some(ss) =>
            val dead = ss.map(_.stamp).distinct.filter(from.seenStamp)
            if (dead.isEmpty) Some(GraftLogPartition(s"$path/$n"))
            else if (ss.forall(s => from.seenStamp(s.stamp))) None
            else Some(GraftLogReplayPartition(s"$path/$n", dead))
          case None => Some(GraftLogPartition(s"$path/$n"))
        }
      }.map(p => p: InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val fs = filters // no runtime filtering in streaming; snapshot, no scan capture
    // position deletes known NOW apply to the whole drain (a stream of a
    // merge-on-read landing must not emit taken-down rows); deletes
    // committed mid-stream take effect from the next factory (restart)
    new GraftLogReaderFactory(() => fs, columns, -1, -1, None, None,
      GraftLogCursorSpec.of(path, GraftSnapshotIO.resolve(path), Array.empty, extra))
  }

  override def stop(): Unit = ()
}

/** Publish-name scheme shared by the write commits and the offsets. */
private[sources] object GraftLogNames {
  /** Max tolerated publish-to-visibility skew: a file whose name stamp is
    * older than (high-water stamp - lag) may be compacted out of an offset
    * tail, so it must already be visible by then. The stamp is assigned in
    * the same driver pass that renames the file visible — the real skew is
    * one rename loop, and 10 s is ~4 orders of magnitude of headroom. */
  val DEFAULT_LAG_MS = 10000L

  /** `pub-<millis13>-<seq>-<tag>.graftlog`; 13-digit zero-padded millis
    * makes lexicographic name order publish order through year 2286.
    * Position-delete files (merge-on-read DELETE) share the scheme under
    * the `.graftdel` extension — same stamps, never data-listed. */
  def publish(millis: Long, seq: Int, tag: String, ext: String = ".graftlog"): String =
    f"pub-$millis%013d-$seq%04d-$tag$ext"

  /** Publish stamp of a name, or -1 for unstamped (legacy/foreign) names,
    * which never take part in watermark arithmetic. The FULL scheme shape
    * is required — `pub-<13 digits>-<digits>-` — not just the prefix: a
    * plausible foreign name like `pub-1690000000000.graftlog` must ride
    * the never-compacts legacy path, not be silently classified as seen
    * by the boundary (r14 review). */
  def stamp(name: String): Long = {
    if (name.length < 20 || !name.startsWith("pub-") ||
        !name.substring(4, 17).forall(c => c >= '0' && c <= '9') ||
        name.charAt(17) != '-') return -1L
    val seqEnd = name.indexOf('-', 18)
    if (seqEnd <= 18 ||
        !name.substring(18, seqEnd).forall(c => c >= '0' && c <= '9')) return -1L
    name.substring(4, 17).toLong
  }

  /** Monotone per-writer publish stamps (r14 advice): the wall clock is
    * not monotone — a backwards step larger than the lag window between
    * commits would stamp new files BELOW an already-advanced offset
    * boundary and a streaming reader would silently skip them. Each stamp
    * is max(lastStamp + 1, now), so within this driver JVM stamps only
    * ever advance (multi-writer skew across JVMs remains covered by the
    * lag window, as before). */
  private val lastStamp = new java.util.concurrent.atomic.AtomicLong(0L)
  private[sources] def nextStamp(): Long =
    lastStamp.updateAndGet(prev => math.max(prev + 1, System.currentTimeMillis()))

  /** The one publish step of every commit, driver-side: a zero-length
    * tmp publishes NOTHING — an empty file is semantically absent in this
    * format (no header/footer), it only costs listing at scale, and
    * Spark deliberately runs one empty task over an empty write just to
    * carry a commit message (e.g. a replace-data rewrite whose runtime
    * group filter matched no files). Any other tmp is renamed visible as
    * `pub-<stamp>-<seq>-[k<bucket>-]<tag>-<uuid><ext>`; the `k<bucket>`
    * token leads so bucketOf() can parse it back at scan-planning time.
    * The stamp is taken PER FILE, immediately before its own rename — the
    * stamp-to-visibility window is one syscall, so a GC pause or slow fs
    * mid-loop cannot strand a stale-stamped file below another writer's
    * advancing lag boundary (r14 review; a commit-wide stamp left the
    * whole rename loop inside the window). The sequence number plus a
    * fresh uuid keep names unique even across two commits inside the same
    * millisecond. Branch publish ([[GraftBranches.publishBranch]]) keeps
    * its own journaled rename: a retried publish must resume the renames a
    * crash left half done, and this step mints a fresh name on every call,
    * so it cannot.
    * @return the published name, None if the tmp was dropped. */
  def publishOrDrop(path: String, tmp: String, seq: Int, bucket: Int,
      tag: String, ext: String = ".graftlog"): Option[String] = {
    if (GraftFs.length(tmp) == 0L) {
      require(GraftFs.delete(tmp), s"failed to drop empty $tmp"); return None
    }
    val uuid = java.util.UUID.randomUUID().toString.take(8)
    val name = publish(nextStamp(), seq,
      (if (bucket >= 0) s"k$bucket-" else "") + s"$tag-$uuid", ext)
    require(GraftFs.rename(tmp, GraftFs.child(path, name)),
      s"commit failed to publish $tmp -> $name")
    Some(name)
  }

  /** Publish every part of the tasks' [[GraftLogCommit]]s, in message
    * order (the message index is the name's seq).
    * @return the published LIVE-FILE entries (name + task-recorded zone
    *         map) for the commit's manifest swap. */
  def publishAll(path: String, messages: Array[WriterCommitMessage],
      tag: Int => String): Seq[GraftLiveFile] =
    messages.toSeq.zipWithIndex.flatMap {
      case (GraftLogCommit(parts, pid), i) =>
        parts.flatMap { case (b, tmp, stats) =>
          publishOrDrop(path, tmp, i, b, tag(pid)).map(GraftLiveFile(_, None, stats))
        }
      case (other, _) =>
        throw new IllegalStateException(s"unexpected commit message $other")
    }

  /** Bucket number of a published bucketed-landing name, or -1: the token
    * after the stamp/seq prefix is `k<bucket>` exactly. */
  def bucketOf(name: String): Int = {
    val parts = name.split('-')
    if (parts.length < 4 || parts(3).length < 2 || parts(3).charAt(0) != 'k') return -1
    val digits = parts(3).substring(1)
    if (!digits.forall(c => c >= '0' && c <= '9')) return -1
    digits.toInt
  }

  /** Epoch marker (`-q<queryId>-e<epoch>-`) of a streaming publish name,
    * None for batch/rewrite names. The greedy first group makes
    * `-e<digits>-` bind to the LAST candidate before the task token, so
    * a queryId that itself contains a `-e<digits>-` shaped segment
    * cannot confuse the parse. */
  private val EpochMarkerRe = """^pub-\d{13}-\d+-q(.+)-e(\d+)-(?:p|eq)\d{5}-""".r
  private[sources] def epochMarkerOf(name: String): Option[String] =
    EpochMarkerRe.findFirstMatchIn(name).map(m => s"-q${m.group(1)}-e${m.group(2)}-")
}

/** Compacted streaming offset: `hw` is the highest publish-stamped name
  * ever admitted ("" before any), `tail` the seen names not implied by it
  * — stamped names inside the lag window plus all unstamped (legacy)
  * names. A stamped name below (hw's stamp - lag) is implicitly seen; see
  * the connector header for why that is sound. The lag the tail was
  * COMPACTED under rides in the offset itself: seen() must use it, not
  * the session's current `publishLagMs` — a restart with a raised lag
  * would otherwise re-classify already-compacted (implicitly seen) names
  * as fresh and re-process them (r14 review). Serialized as a flat JSON
  * object; names are uuid/stamp tokens, so no escaping beyond quotes is
  * ever needed, and fromJson rejects any name that would require it
  * rather than parse wrongly. */
private case class GraftLogOffset(hw: String, lagMs: Long, tail: Seq[String],
    segStamps: Seq[Long] = Nil) extends Offset {
  // commas are forbidden alongside quotes/backslashes: the tail parser
  // splits elements on commas, so a comma-bearing (foreign) file name
  // must fail HERE, loudly, not round-trip into a corrupted offset that
  // silently re-reads or skips files
  require((tail :+ hw).forall(f =>
      !f.contains("\"") && !f.contains("\\") && !f.contains(",")),
    s"unserializable file name among: hw=$hw tail=$tail")
  require(hw.isEmpty || GraftLogNames.stamp(hw) >= 0,
    s"offset high-water must be a publish-stamped name, got '$hw'")
  require(lagMs >= 0, s"offset lag must be >= 0, got $lagMs")
  require(segStamps.forall(_ >= 0),
    s"offset delivered-segment stamps must be >= 0: $segStamps")

  @transient private lazy val tailSet = tail.toSet
  @transient private lazy val tailStamps: Set[Long] =
    tail.map(GraftLogNames.stamp).filter(_ >= 0).toSet
  @transient private lazy val segSeen: Set[Long] = segStamps.toSet
  private def boundary: Long =
    if (hw.isEmpty) Long.MinValue else GraftLogNames.stamp(hw) - lagMs

  /** Has `name` already been processed under this offset? Uses the
    * offset's OWN compaction lag — the only basis consistent with what
    * its tail retained. */
  def seen(name: String): Boolean = {
    val s = GraftLogNames.stamp(name)
    (s >= 0 && s < boundary) || tailSet.contains(name)
  }

  /** Segment-level twin of [[seen]] (round 17): was the ORIGINAL file
    * published at `stamp` already processed under this offset? A
    * compacted file's manifest segment map carries its merged inputs'
    * original stamps, so an in-flight reader admits the merged file but
    * delivers ONLY the segments whose origin it has not processed —
    * compaction no longer re-delivers rows to streaming consumers.
    * Sound on both sides of the boundary: below it, oldest-first
    * admission guarantees every stamped name was admitted (the same
    * argument seen() rests on); at or above it, the tail holds the
    * admitted names verbatim and stamps identify them (stamps are unique
    * per publish within a writer; the residual is a cross-writer
    * same-millisecond tie inside the lag window COMBINED with a
    * compaction — the single-compactor contract). Origins delivered
    * through an earlier merged file ride `segStamps` — without them a
    * SECOND mid-stream compaction of that merged file would re-deliver
    * the segments its name no longer identifies. Unstamped origins
    * (stamp < 0, foreign files) are never claimed seen: their rows
    * re-deliver rather than silently vanish. */
  def seenStamp(stamp: Long): Boolean =
    stamp >= 0 && (stamp < boundary || tailStamps.contains(stamp) ||
      segSeen.contains(stamp))

  /** The offset after additionally processing `admitted`, compacted under
    * the session's lag (which the new offset then carries). Every
    * admitted name is retained verbatim in the new tail
    * (planInputPartitions enumerates the batch from it);
    * previously-retained names compact out once they age past the new
    * high-water's lag window. */
  def admit(admitted: Seq[String], sessionLagMs: Long,
      delivered: Seq[Long] = Nil): GraftLogOffset = {
    if (admitted.isEmpty) return this // identical offset => no empty batch
    val adm = admitted.toSet
    val newHw = (Seq(hw).filter(_.nonEmpty) ++ admitted.filter(GraftLogNames.stamp(_) >= 0))
      .maxOption.getOrElse("")
    // the implicit-seen boundary is clamped on BOTH sides of the carried
    // lag (r14 review + r14 advice):
    //  - it must be MONOTONE: names below the old boundary were compacted
    //    out of the tail, so a new boundary below it (a RAISED session lag
    //    on a barely-advanced high-water) would re-classify them as fresh
    //    and duplicate their rows — the carried lag is capped at
    //    stamp(newHw) - oldBoundary;
    //  - it must advance NO FASTER than the high-water: a LOWERED session
    //    lag would otherwise jump the boundary up to stamp(newHw) -
    //    sessionLag in one admit, silently classifying fresh-but-unadmitted
    //    stamped names below the high-water (late-visible files under
    //    multi-writer clock skew, held back by maxFilesPerTrigger) as
    //    already seen — row LOSS, the other half of exactly-once. The
    //    carried lag therefore never shrinks: newLag >= lagMs, so
    //    newBoundary - oldBoundary <= stamp(newHw) - stamp(oldHw).
    // Both clamps compose as min(max(sessionLag, lagMs), stamp(newHw) -
    // oldBoundary); the cap is >= lagMs whenever hw is nonEmpty (newHw >=
    // hw lexicographically and the 13-digit stamp orders with the name),
    // so the result is well-defined and >= lagMs. Cost of never-shrinking:
    // a landing that once ran with a huge lag keeps tails sized to it —
    // bounded by publish rate inside that window, same contract as before.
    val newLag =
      if (newHw.isEmpty || hw.isEmpty) sessionLagMs
      else math.min(math.max(sessionLagMs, lagMs),
        GraftLogNames.stamp(newHw) - boundary)
    val bnd = if (newHw.isEmpty) Long.MinValue else GraftLogNames.stamp(newHw) - newLag
    val keep = (tail ++ admitted).distinct.filter { n =>
      val s = GraftLogNames.stamp(n)
      s < 0 || s >= bnd || adm.contains(n)
    }
    // delivered ORIGIN stamps of admitted segment-mapped files compact
    // out on the same boundary as names (below it they are implicitly
    // seen); newly delivered ones are >= the admission-time boundary by
    // construction (a below-boundary segment is seen, hence not delivered)
    val keepSegs = (segStamps ++ delivered).distinct.filter(_ >= bnd)
    GraftLogOffset(newHw, newLag, keep.sorted, keepSegs.sorted)
  }

  override def json(): String =
    s"""{"hw":"$hw","lag":$lagMs,"tail":${tail.map(f => s""""$f"""").mkString("[", ",", "]")},""" +
      s""""segs":${segStamps.mkString("[", ",", "]")}}"""
}

private object GraftLogOffset {
  def fromJson(json: String): GraftLogOffset = {
    val t = json.trim
    require(t.startsWith("""{"hw":"""") && t.endsWith("]}"),
      s"bad graftlog offset: $json")
    val afterHw = t.stripPrefix("""{"hw":"""")
    val hwEnd = afterHw.indexOf('"')
    require(hwEnd >= 0, s"bad graftlog offset: $json")
    val hw = afterHw.substring(0, hwEnd)
    val rest = afterHw.substring(hwEnd + 1)
    require(rest.startsWith(""","lag":"""), s"bad graftlog offset: $json")
    val lagBody = rest.stripPrefix(""","lag":""")
    val lagEnd = lagBody.indexOf(',')
    require(lagEnd > 0 && lagBody.substring(0, lagEnd).forall(_.isDigit),
      s"bad graftlog offset lag: $json")
    val lagMs = lagBody.substring(0, lagEnd).toLong
    val restTail = lagBody.substring(lagEnd)
    require(restTail.startsWith(""","tail":["""), s"bad graftlog offset: $json")
    val afterTail = restTail.stripPrefix(""","tail":[""")
    // "segs" (round 17, delivered origin stamps) is OPTIONAL on read:
    // a checkpoint written before the field existed parses as empty.
    // Tail names cannot contain quotes/commas (enforced at construction),
    // so the literal separator cannot occur inside an element.
    val sep = """],"segs":["""
    val (body, segsBody) = afterTail.indexOf(sep) match {
      case -1 => (afterTail.stripSuffix("]}").trim, "")
      case i => (afterTail.substring(0, i).trim,
        afterTail.substring(i + sep.length).stripSuffix("]}").trim)
    }
    val tail =
      if (body.isEmpty) Nil
      else body.split(",").toSeq.map { s =>
        val q = s.trim
        require(q.length >= 2 && q.startsWith("\"") && q.endsWith("\""),
          s"bad graftlog offset element: $s")
        q.substring(1, q.length - 1)
      }
    val segs =
      if (segsBody.isEmpty) Nil
      else segsBody.split(",").toSeq.map { s =>
        val d = s.trim
        require(d.nonEmpty && d.forall(_.isDigit),
          s"bad graftlog offset segment stamp: $s")
        d.toLong
      }
    GraftLogOffset(hw, lagMs, tail, segs)
  }
}
