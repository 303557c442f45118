package graft.sources

/** Snapshot manifests for graftlog landings — round 16 introduced the
  * atomically-swapped manifest (readers flip at one rename, never at a
  * file publish or delete); round 17 closes the two scale gaps the r16
  * verdict ranked first:
  *
  *  1. **Optimistic concurrency.** The r16 protocol was resolve → write
  *     tmp → rename to a unique name: two concurrent committers both
  *     succeeded and the last manifest silently orphaned the first
  *     commit's files. Now every manifest is named by a SEQUENCE NUMBER
  *     (`snap-<seq13>.graftsnap`) and published with a compare-and-swap:
  *     the committer resolves base snapshot at seq S, builds its change,
  *     and claims `snap-<S+1>` via [[GraftFs.renameExclusive]] (atomic
  *     create-if-absent — hard link on POSIX, no-overwrite rename on
  *     HDFS). Two racers targeting the same parent collide on the ONE
  *     name; the loser re-resolves, re-VALIDATES its change against the
  *     new base (the conflict check each caller supplies — e.g. "the
  *     files I am rewriting are all still live"), and retries or fails
  *     loudly with [[GraftConflictException]]. This is Iceberg's
  *     optimistic commit / Delta's mvcc-on-the-log, reduced to one file
  *     system primitive.
  *
  *  2. **O(change) commits.** The r16 manifest re-listed every live file
  *     on every commit — at 10^5–10^6 files a 1-row MoR DELETE wrote a
  *     multi-MB manifest. Now a commit writes a DELTA manifest (only the
  *     files it added/removed) chained to its parent by the sequence
  *     number, and a full BASE manifest only when the chain would exceed
  *     [[GraftSnapshotIO.BASE_EVERY]] links or the base would be no
  *     larger than the delta (so truncate/overwrite naturally write
  *     bases). Resolution reads the newest manifest and walks back to
  *     the nearest base — O(chain) small reads, never O(commits) — and
  *     the seq-contiguity of the walk is REQUIRED, so a hole (a manually
  *     deleted chain link) fails loudly instead of resolving to a
  *     silently wrong table. Iceberg's manifest-list / Delta's
  *     checkpoint-plus-deltas, same shape.
  *
  * Commit stamps (epoch millis, for `TIMESTAMP/VERSION AS OF` and the
  * expire horizons) moved from the manifest NAME into its header — the
  * CAS target name must be fully determined by the parent seq, which a
  * wall-clock stamp is not. Stamps are clamped monotone along the chain
  * (`max(nextStamp, parent+1)`), so AS-OF stays order-consistent even
  * across committers with skewed clocks. Round-16 (`graftsnap 1`)
  * manifests remain readable: their name stamp doubles as their seq
  * (both 13-digit, and the first CAS commit continues at max+1), they
  * are always bases, and the first v2 commit on top of a legacy history
  * absorbs it exactly like a directory listing.
  *
  * Residual window on NON-retaining tables, stated not implied: after
  * the manifest swap the replaced files are physically deleted, so a
  * reader that resolved the OLD manifest and opens its files after the
  * delete pass fails LOUDLY (FileNotFound) — fail-stop, never wrong
  * results. `snapshot.retain = true` tables close it entirely (retired
  * files stay until `CALL system.expire_snapshots`). The same fail-stop
  * applies to a reader walking a manifest chain while `expire` prunes
  * it: pruning never breaks the anchor→tip chain (see [[prunable]]),
  * but a reader holding a strictly older tip can lose a link mid-walk.
  *
  * Manifest formats (text, one record per line):
  * {{{
  *   graftsnap 1                      // round-16 full manifest (read-only)
  *   F <dataFileName>[ <off>:<stamp>,...]
  *   D <deleteFileName> <coveredDataFile>[,<coveredDataFile>...]
  *
  *   graftsnap 2 <stamp13> base       // v2 full snapshot
  *   F ... / D ...                    //   same record lines as v1
  *
  *   graftsnap 2 <stamp13> delta      // v2 change relative to seq-1
  *   R <dataFileName>                 //   file removed from the live set
  *   X <deleteFileName>               //   delete file retired (round 18)
  *   F ... / D ...                    //   files/deletes added
  * }}}
  * `F` segment lists are written by compaction: byte offset where each
  * merged input starts and the input's ORIGINAL publish stamp (-1 =
  * unstamped origin) — what keeps `_pub_stamp` time-travel slices exact
  * across a compaction. `D` lines are position-delete files
  * (merge-on-read DELETE) with the data files they cover. A delta
  * applies as removeData(R) THEN addData(F) THEN addDeletes(D) — one
  * deterministic order shared by the commit and resolution sides, and
  * removeData drops delete files left covering nothing on BOTH sides.
  *
  * Resolution reconciles UNSTAMPED directory files into the live set:
  * stamped names are minted only by connector commits, so a stamped file
  * absent from the manifest is mid-commit or crash garbage and must stay
  * invisible — that invisibility IS the atomicity. Unstamped
  * (legacy/foreign) names have no commit protocol, so the listing
  * remains their source of truth. A landing with NO manifest resolves as
  * a plain directory listing (legacy landings stay readable; their first
  * connector commit absorbs them).
  */
private[sources] case class GraftSegment(start: Long, stamp: Long)


/** One live data file: its NAME (directory-relative) plus the optional
  * compaction segment map (None = the whole file carries its name stamp).
  * `coalesced` (round 19) marks a segment map whose origin-stamp spans
  * were COALESCED under the cluster command's `max_origins` cap: each
  * span is labeled with its NEWEST member stamp, so `_pub_stamp` is
  * coarsened UPWARD for the affected rows — conservative everywhere it
  * matters (incremental `> t` readers over-read and streaming consumers
  * re-deliver, never lose; expire's data-age max is unchanged) — but no
  * longer exact, so the changelog read refuses windows that add such a
  * file rather than emit a silently wrong diff. */
private[sources] case class GraftLiveFile(name: String,
    segs: Option[Vector[GraftSegment]],
    stats: Option[GraftStats] = None,
    coalesced: Boolean = false) {
  /** Publish stamp governing `_pub_stamp` semantics per row range: the
    * name stamp for plain files; per-segment original stamps for
    * compacted files. */
  def stampedSegments: Vector[GraftSegment] = segs.getOrElse(
    Vector(GraftSegment(0L, GraftLogNames.stamp(name))))
}

private[sources] case class GraftSnapshot(files: Vector[GraftLiveFile],
    deletes: Map[String, Vector[String]]) {

  @transient lazy val fileNames: Set[String] = files.map(_.name).toSet

  /** Delete files covering a given data file (name -> absolute paths are
    * resolved by the caller). The legacy "*" coverage key (a landing with
    * delete files but no manifest) means every delete file covers every
    * data file — correct because delete entries are (file, pos)-scoped in
    * their content; coverage is only the pruning index. */
  def deletesFor(dataName: String): Seq[String] =
    deletes.collect {
      case (del, covered) if covered.contains(dataName) || covered.contains("*") => del
    }.toSeq.sorted

  /** Names are the live set's identity, so adding is idempotent by name
    * (published wins). The case that NEEDS this: the first CAS commit on
    * a manifest-less landing resolves its base from the directory
    * listing — which already shows the committer's own just-published
    * stamped files (no manifest exists to make them invisible yet).
    * O(live + added): the live vector is name-sorted by construction
    * (manifests serialize sorted, listings sort, every mutation here
    * preserves it), so a small add MERGES instead of re-sorting the
    * whole set — at 10^6 live files a 1-file commit must not pay an
    * O(n log n) sort (round 18, the 10^6 manifest-probe decade). A
    * violated invariant (a hand-written foreign manifest) falls back to
    * the full sort, never a wrong order. */
  def addData(published: Seq[GraftLiveFile]): GraftSnapshot = {
    if (published.isEmpty) return this
    val names = published.map(_.name).toSet
    val kept = files.filterNot(f => names.contains(f.name))
    copy(files = GraftSnapshot.mergeByName(kept, published.sortBy(_.name).toVector))
  }

  /** Remove data files (by name) and prune their delete-file coverage;
    * returns the new snapshot plus the delete files left covering NOTHING
    * (dead — the caller unlinks them after its manifest swap). */
  def removeData(names: Set[String]): (GraftSnapshot, Seq[String]) = {
    if (names.isEmpty) return (this, Nil)
    val keptFiles = files.filterNot(f => names.contains(f.name))
    val pruned = deletes.map { case (del, covered) =>
      (del, covered.filterNot(names.contains))
    }
    val (dead, live) = pruned.partition { case (_, covered) => covered.isEmpty }
    (copy(files = keptFiles, deletes = live), dead.keys.toSeq.sorted)
  }

  def addDeletes(added: Seq[(String, Seq[String])]): GraftSnapshot =
    copy(deletes = deletes ++ added.map { case (d, c) => (d, c.toVector) })

  /** Apply a base-to-tip change chain in ONE pass over the file vector —
    * semantically identical to folding [[GraftChange.apply]] change by
    * change (GraftSnapshotSpec pins the equivalence on randomized
    * chains) but O(live + Σchange) instead of O(live × changes): at 10^6
    * live files a 15-delta resolve must not rebuild the million-entry
    * vector fifteen times (round 18). The (small) delete-file map still
    * folds sequentially — its coverage pruning is per-change exact. */
  def applyAll(changes: Seq[GraftChange]): GraftSnapshot = {
    if (changes.isEmpty) return this
    if (changes.sizeIs == 1) return changes.head.apply(this)._1
    var dels = deletes
    // per-name FINAL disposition of data files: null = removed
    val pending = new java.util.LinkedHashMap[String, GraftLiveFile]()
    changes.foreach { c =>
      if (c.removeDeletes.nonEmpty) dels = dels -- c.removeDeletes
      if (c.removeData.nonEmpty) {
        dels = dels.flatMap { case (d, cov) =>
          val kept = cov.filterNot(c.removeData.contains)
          if (kept.isEmpty) None else Some((d, kept))
        }
        c.removeData.foreach(n => pending.put(n, null))
      }
      c.addData.foreach(f => pending.put(f.name, f))
      dels = dels ++ c.addDeletes.map { case (d, cov) => (d, cov.toVector) }
    }
    // the kept pass CONSUMES pending entries for names present in the
    // base (replaced in place / removed); what remains is genuinely new —
    // no O(live) name-set materialization needed
    val kept = files.flatMap { f =>
      if (!pending.containsKey(f.name)) Some(f)
      else Option(pending.remove(f.name)) // replaced in place or removed
    }
    val fresh = Vector.newBuilder[GraftLiveFile]
    pending.forEach { (_, f) => if (f != null) { fresh += f; () } }
    GraftSnapshot(
      GraftSnapshot.mergeByName(kept, fresh.result().sortBy(_.name)), dels)
  }
}

private[sources] object GraftSnapshot {
  /** Merge two name-sorted live-file vectors (disjoint names) in O(n);
    * falls back to a full sort if either side violates the sortedness
    * invariant (e.g. a hand-written foreign manifest). */
  private[sources] def mergeByName(kept: Vector[GraftLiveFile],
      add: Vector[GraftLiveFile]): Vector[GraftLiveFile] = {
    if (add.isEmpty) return kept
    if (kept.isEmpty) return add
    val out = Vector.newBuilder[GraftLiveFile]
    out.sizeHint(kept.length + add.length)
    var i = 0; var j = 0
    var prev = ""
    while (i < kept.length || j < add.length) {
      val takeKept = j >= add.length ||
        (i < kept.length && kept(i).name <= add(j).name)
      val next = if (takeKept) { val f = kept(i); i += 1; f }
        else { val f = add(j); j += 1; f }
      if (next.name < prev) // invariant violated: re-sort, never mis-order
        return (kept ++ add).sortBy(_.name)
      prev = next.name
      out += next
    }
    out.result()
  }
}

/** One commit's change, the unit a delta manifest serializes. Applies as
  * removeDeletes THEN removeData THEN addData THEN addDeletes — the one
  * deterministic order shared by the commit and resolution sides.
  * `removeDeletes` (round 18) retires a delete FILE from the snapshot by
  * name — the streaming upsert sink's replayed-epoch cleanup, where the
  * first attempt's equality-delete file must be withdrawn together with
  * its data files. */
private[sources] final case class GraftChange(
    addData: Vector[GraftLiveFile] = Vector.empty,
    removeData: Set[String] = Set.empty,
    addDeletes: Seq[(String, Seq[String])] = Seq.empty,
    removeDeletes: Set[String] = Set.empty) {
  def isEmpty: Boolean =
    addData.isEmpty && removeData.isEmpty && addDeletes.isEmpty &&
      removeDeletes.isEmpty
  /** Record lines a delta manifest of this change costs. */
  def lineCount: Int =
    addData.length + removeData.size + addDeletes.length + removeDeletes.size
  /** @return the post-change snapshot plus the delete files the removals
    *         left covering nothing (the caller's unlink list). */
  def apply(base: GraftSnapshot): (GraftSnapshot, Seq[String]) = {
    val lessDels =
      if (removeDeletes.isEmpty) base
      else base.copy(deletes = base.deletes -- removeDeletes)
    val (kept, dead) = lessDels.removeData(removeData)
    (kept.addData(addData).addDeletes(addDeletes), dead)
  }
}

/** A concurrent commit invalidated this one's premise (e.g. a file this
  * commit rewrites or covers with position deletes is no longer live).
  * Thrown by a commit's validation against the freshly-resolved base —
  * LOUD, never silently merged; the caller retries the whole command or
  * gives up, exactly Iceberg's ValidationException contract. */
final class GraftConflictException(msg: String) extends RuntimeException(msg)

/** A table's file-retirement policy (what happens to files a commit
  * replaces, once the manifest swap has made them invisible):
  *
  *  - default: unlink immediately — a reader holding the OLD snapshot
  *    fails loudly (FileNotFound) if it opens them after the swap;
  *  - `snapshots` (`snapshot.retain = true`): keep until `CALL
  *    system.expire_snapshots` — full time travel;
  *  - `unlinkGraceMs` (`snapshot.unlink.grace.ms = N`, round 17): keep
  *    for N ms — long enough for any in-flight reader to finish — then
  *    let [[GraftSnapshotIO.sweepRetired]] unlink them lazily on later
  *    commits. Closes the r16 fail-stop window without retaining full
  *    history: grace-priced isolation instead of storage-priced.
  */
private[sources] final case class GraftRetention(snapshots: Boolean,
    unlinkGraceMs: Long) {
  /** Replaced files stay on disk at commit time under either policy. */
  def keepVictims: Boolean = snapshots || unlinkGraceMs > 0
  /** The lazy sweep runs only for the graced, non-retaining policy. */
  def sweeps: Boolean = unlinkGraceMs > 0 && !snapshots
}
private[sources] object GraftRetention {
  val NONE: GraftRetention = GraftRetention(snapshots = false, 0L)
}

/** The landing's snapshot resolved together with its commit coordinates:
  * `seq` the manifest sequence this state is (next commit claims seq+1),
  * `depth` the delta-chain length behind it (0 = sits on a base),
  * `stamp` its commit stamp (-1 for a manifest-less legacy landing). */
private[sources] final case class GraftResolved(snap: GraftSnapshot,
    seq: Long, depth: Int, stamp: Long)

/** What a rewrite read: each input file with the delete files covering
  * it at read time. The rewrite's output was computed from exactly these
  * bytes, so its commit re-checks the premise against every base it
  * resolves: an input a concurrent commit replaced, or one that gained a
  * delete since the read, fails the command LOUDLY — committing anyway
  * would resurrect taken-down rows or double a concurrent rewrite.
  * Concurrent APPENDS touch no input and rebase cleanly. Shared by the
  * copy-on-write rewrite, compact and cluster. */
private[sources] final case class GraftPremise(what: String,
    inputs: Map[String, Seq[String]]) {
  def check(path: String, base: GraftSnapshot): Unit =
    inputs.foreach { case (n, dels) =>
      if (!base.fileNames.contains(n))
        throw new GraftConflictException(
          s"concurrent commit replaced $what input $n on $path — retry the $what")
      if (base.deletesFor(n) != dels)
        throw new GraftConflictException(
          s"concurrent deletes landed on $what input $n of $path after it " +
            s"was read — retry the $what")
    }
}
private[sources] object GraftPremise {
  def of(what: String, snap: GraftSnapshot, names: Iterable[String]): GraftPremise =
    GraftPremise(what, names.map(n => n -> snap.deletesFor(n)).toMap)
}

/** A finished optimistic commit: the base it committed against, the
  * resulting snapshot (the base itself when the change was empty and
  * nothing swapped), the delete files the change retired, and the
  * premise it was validated under. */
private[sources] final case class GraftCommitted(
    base: GraftSnapshot, result: GraftSnapshot, deadDeletes: Seq[String],
    premise: Option[GraftPremise] = None)

private[sources] object GraftSnapshotIO {
  val EXT = ".graftsnap"

  /** A base manifest is forced once a delta chain would reach this many
    * links: resolution cost is O(BASE_EVERY) small reads worst-case, and
    * commit cost stays O(change) on the other BASE_EVERY-1 commits. */
  val BASE_EVERY = 16

  /** Seq of the first CAS manifest on a landing with no history. 13
    * digits like the legacy stamp-seqs so mixed sorts stay numeric; a
    * CONSTANT, not a clock read, so two racing first commits target the
    * same name and the CAS arbitrates them too. */
  private val SEQ0 = 1000000000000L

  /** Stamp of a LEGACY (v1) manifest name (`snap-<13 digits>-...`), -1
    * if not that shape. v1 stamps double as their seq. */
  private[sources] def legacyStamp(name: String): Long =
    if (name.length >= 19 && name.startsWith("snap-") &&
        name.substring(5, 18).forall(c => c >= '0' && c <= '9') &&
        name.charAt(18) == '-' && name.endsWith(EXT))
      name.substring(5, 18).toLong
    else -1L

  /** Seq of a v2 manifest name (`snap-<13 digits>.graftsnap`), -1 if
    * not that shape. */
  private[sources] def casSeq(name: String): Long =
    if (name.length == 5 + 13 + EXT.length && name.startsWith("snap-") &&
        name.substring(5, 18).forall(c => c >= '0' && c <= '9') &&
        name.endsWith(EXT))
      name.substring(5, 18).toLong
    else -1L

  /** Commit sequence of a manifest name, -1 for foreign/corrupt names. */
  private[sources] def seqOf(name: String): Long = {
    val v2 = casSeq(name)
    if (v2 >= 0) v2 else legacyStamp(name)
  }

  /** A name this connector's commits could have minted. Every
    * snapshot-pointer selection goes through this, so a foreign/corrupt
    * `.graftsnap` name (which may sort last, e.g. `zzz.graftsnap`) can
    * never shadow the real manifest (r16 advice). */
  private[sources] def isManifest(name: String): Boolean = seqOf(name) >= 0

  private def casName(seq: Long): String = f"snap-$seq%013d$EXT"

  /** The landing's manifests in COMMIT ORDER (ascending seq). */
  private[sources] def refs(names: Array[String]): Array[String] =
    names.filter(isManifest).sortBy(seqOf)

  /** Names a manifest can carry without escaping; anything else (exotic
    * foreign names) is left to the reconciliation path forever. */
  private def clean(name: String): Boolean =
    name.nonEmpty && !name.exists(c => c == ' ' || c == ',' || c == ':' ||
      c == '\t' || c == '\n' || c == '\r')

  // -------------------------------------------------------------------
  // Manifest bodies
  // -------------------------------------------------------------------

  private[sources] sealed trait Body { def stamp: Long; def isBase: Boolean }
  private[sources] final case class BaseBody(stamp: Long,
      snap: GraftSnapshot) extends Body { def isBase = true }
  private[sources] final case class DeltaBody(stamp: Long,
      change: GraftChange) extends Body { def isBase = false }

  /** (stamp, isBase) of a manifest without reading its record lines —
    * v1 from the name, v2 from the one-line header peek. Selection and
    * pruning walk many manifests; they must not pull multi-MB bases. */
  private[sources] def headOf(path: String, name: String): (Long, Boolean) = {
    val legacy = legacyStamp(name)
    if (legacy >= 0) return (legacy, true)
    val head = GraftFs.readHeadLine(GraftFs.child(path, name))
    head.split(' ') match {
      case Array("graftsnap", "2", stamp, kind)
          if stamp.forall(_.isDigit) && (kind == "base" || kind == "delta") =>
        (stamp.toLong, kind == "base")
      case _ => throw new IllegalStateException(
        s"bad manifest header in $path/$name: '$head'")
    }
  }

  private[sources] def readBody(path: String, name: String): Body = {
    val text = GraftFs.readString(GraftFs.child(path, name))
    val where = s"$path/$name"
    val nl = text.indexOf('\n')
    val header = (if (nl < 0) text else text.substring(0, nl)).trim
    require(header.nonEmpty, s"empty manifest $where")
    def body: Array[String] =
      if (nl < 0) Array.empty
      else text.substring(nl + 1).split('\n').filter(_.nonEmpty)
    header.split(' ') match {
      case Array("graftsnap", "1") =>
        val legacy = legacyStamp(name)
        require(legacy >= 0, s"v1 manifest with a non-legacy name: $where")
        BaseBody(legacy, parseSnapshotBody(text, nl + 1, where))
      case Array("graftsnap", "2", stamp, "base") if stamp.forall(_.isDigit) =>
        BaseBody(stamp.toLong, parseSnapshotBody(text, nl + 1, where))
      case Array("graftsnap", "2", stamp, "delta") if stamp.forall(_.isDigit) =>
        DeltaBody(stamp.toLong, parseChangeLines(body, where))
      case _ => throw new IllegalStateException(
        s"bad manifest header in $where: '$header'")
    }
  }

  /** Parse a base-manifest body, chunk-PARALLEL above 1 MiB (round 18):
    * record lines are independent and serialized in name order, so
    * newline-aligned chunks parse concurrently and concatenate in order —
    * the resolve-latency lever at 10^6 live files, where a 44 MB base
    * must not be a single-threaded line walk. */
  private def parseSnapshotBody(text: String, start: Int,
      where: String): GraftSnapshot = {
    val len = text.length
    if (start <= 0 || start >= len)
      return GraftSnapshot(Vector.empty, Map.empty)
    if (len - start < (1 << 20))
      return parseSnapshotRange(text, start, len, where)
    import scala.collection.parallel.CollectionConverters._
    val target = math.max(1 << 20,
      (len - start) / (Runtime.getRuntime.availableProcessors() * 2))
    val chunks = Vector.newBuilder[(Int, Int)]
    var p = start
    while (p < len) {
      var q = math.min(len.toLong, p.toLong + target).toInt
      val nlq = text.indexOf('\n', q)
      q = if (nlq < 0) len else nlq + 1
      chunks += ((p, q)); p = q
    }
    val parsed = chunks.result().par
      .map { case (a, b) => parseSnapshotRange(text, a, b, where) }.seq
    GraftSnapshot(parsed.iterator.map(_.files).reduce(_ ++ _),
      parsed.iterator.map(_.deletes).reduce(_ ++ _))
  }

  /** Index-scanning record parser over text[from, to): no per-chunk
    * substring, no per-line split on the dominant `F <name>` shape — the
    * only allocation per plain file line is its name. Tokened lines
    * (segments/stats/deletes) take the strict split path. */
  private def parseSnapshotRange(text: String, from: Int, to: Int,
      where: String): GraftSnapshot = {
    val files = Vector.newBuilder[GraftLiveFile]
    val dels = Map.newBuilder[String, Vector[String]]
    var p = from
    while (p < to) {
      var e = text.indexOf('\n', p)
      if (e < 0 || e > to) e = to
      if (e > p) {
        val fastF = text.charAt(p) == 'F' && p + 2 < e &&
          text.charAt(p + 1) == ' ' && {
            val sp = text.indexOf(' ', p + 2)
            sp < 0 || sp >= e
          }
        if (fastF) files += GraftLiveFile(text.substring(p + 2, e), None)
        else {
          val line = text.substring(p, e)
          line.split(' ') match {
            case Array("F", name, toks @ _*) =>
              files += parseF(name, toks, where)
            case Array("D", del, covSpec) =>
              dels += ((del, covSpec.split(',').toVector))
            case _ => throw new IllegalStateException(
              s"unreadable manifest line in $where: '$line'")
          }
        }
      }
      p = e + 1
    }
    GraftSnapshot(files.result(), dels.result())
  }

  /** Strict record parsers: manifests are written only by this object, so
    * an unreadable line is corruption and must fail loudly, not resolve
    * to a silently-smaller table. */
  /** F-line record: `F <name>[ <segs>][ C][ Z<stats>][ Y<etype>][ W<extra>...]`
    * — optional tokens, self-describing by first character (a stats token
    * starts with 'Z', string bounds 'Y', evolved-column bounds 'W', the
    * coalesced-segments flag is the bare 'C' (round 19), a segment spec
    * starts with a digit). */
  private def parseF(name: String, toks: Seq[String],
      where: String): GraftLiveFile = {
    var segs: Option[Vector[GraftSegment]] = None
    var stats: Option[GraftStats] = None
    var etype: Option[GraftBinBounds] = None
    var coalesced = false
    val extras = Map.newBuilder[Int, GraftColBounds]
    var anyExtra = false
    toks.foreach { tok =>
      if (tok == "C") coalesced = true
      else if (tok.startsWith("Z")) stats = Some(GraftStats.decode(tok, where))
      else if (tok.startsWith("Y"))
        etype = Some(GraftBinBounds.decode(tok.substring(1), where))
      else if (tok.startsWith("W")) {
        extras += GraftColBounds.decode(tok.substring(1), where)
        anyExtra = true
      } else {
        val ss = tok.split(',').toVector.map { s =>
          val i = s.indexOf(':')
          require(i > 0, s"bad segment '$s' in $where")
          GraftSegment(s.substring(0, i).toLong, s.substring(i + 1).toLong)
        }
        require(ss.nonEmpty && ss.head.start == 0L &&
          ss.map(_.start) == ss.map(_.start).sorted,
          s"bad segment map for $name in $where")
        segs = Some(ss)
      }
    }
    require(stats.isDefined || (etype.isEmpty && !anyExtra),
      s"Y/W bounds without a Z stats token for $name in $where")
    require(!coalesced || segs.isDefined,
      s"coalesced flag without a segment map for $name in $where")
    GraftLiveFile(name, segs,
      stats.map(_.copy(etype = etype, extras = extras.result())), coalesced)
  }

  private def parseChangeLines(lines: Array[String],
      where: String): GraftChange = {
    val files = Vector.newBuilder[GraftLiveFile]
    val removed = Set.newBuilder[String]
    val dels = Seq.newBuilder[(String, Seq[String])]
    val removedDels = Set.newBuilder[String]
    lines.foreach { line =>
      line.split(' ') match {
        case Array("R", name) => removed += name
        case Array("X", name) => removedDels += name // delete-file retire (r18)
        case Array("D", del, covSpec) => dels += ((del, covSpec.split(',').toSeq))
        case Array("F", name, toks @ _*) =>
          files += parseF(name, toks, where)
        case _ => throw new IllegalStateException(
          s"unreadable manifest line in $where: '$line'")
      }
    }
    GraftChange(files.result(), removed.result(), dels.result(),
      removedDels.result())
  }

  private def appendF(sb: StringBuilder, f: GraftLiveFile): Unit =
    if (clean(f.name)) {
      sb.append("F ").append(f.name)
      f.segs.foreach { ss =>
        sb.append(' ').append(ss.map(s => s"${s.start}:${s.stamp}").mkString(","))
      }
      if (f.coalesced && f.segs.isDefined) sb.append(" C")
      f.stats.foreach { st =>
        sb.append(' ').append(st.encode)
        st.etype.foreach(b => sb.append(" Y").append(b.encode))
        st.extras.toSeq.sortBy(_._1).foreach { case (i, cb) =>
          sb.append(" W").append(i).append(':').append(cb.encode)
        }
      }
      sb.append('\n')
      // unclean names are necessarily unstamped/foreign (publish names are
      // uuid/stamp tokens): the resolver's reconciliation keeps them live
    }

  private def appendD(sb: StringBuilder, del: String, covered: Seq[String]): Unit =
    if (clean(del) && covered.forall(clean))
      sb.append("D ").append(del).append(' ')
        .append(covered.mkString(",")).append('\n')

  /** Stream a base manifest to `tmp` without materializing the whole
    * multi-MB text (round 18): at 10^6 live files the old
    * StringBuilder-then-writeString path held a 44 MB builder plus a
    * 44 MB byte copy on the base-commit wall. The file vector is
    * name-sorted by invariant; a violated invariant (foreign manifest)
    * pays one sort, never a wrong serialization. */
  private def writeBaseFile(tmp: String, stamp: Long, snap: GraftSnapshot): Unit = {
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      GraftFs.createData(tmp), java.nio.charset.StandardCharsets.UTF_8), 1 << 16)
    try {
      w.write(s"graftsnap 2 $stamp base\n")
      val sorted = {
        var i = 1; var ok = true
        while (ok && i < snap.files.length) {
          ok = snap.files(i - 1).name <= snap.files(i).name; i += 1
        }
        ok
      }
      val fs = if (sorted) snap.files else snap.files.sortBy(_.name)
      val sb = new StringBuilder(192)
      fs.foreach { f => sb.setLength(0); appendF(sb, f); w.write(sb.toString) }
      snap.deletes.toSeq.sortBy(_._1).foreach { case (d, c) =>
        sb.setLength(0); appendD(sb, d, c); w.write(sb.toString)
      }
    } finally w.close()
  }

  private[sources] def serializeDelta(stamp: Long, change: GraftChange): String = {
    val sb = new StringBuilder(s"graftsnap 2 $stamp delta\n")
    // unclean removals cannot be carried (they are foreign names); their
    // committer unlinks them physically, and reconciliation — the one
    // source of truth for foreign names — stops re-adding them then
    change.removeData.toSeq.sorted.filter(clean)
      .foreach(n => sb.append("R ").append(n).append('\n'))
    change.removeDeletes.toSeq.sorted.filter(clean)
      .foreach(n => sb.append("X ").append(n).append('\n'))
    change.addData.sortBy(_.name).foreach(appendF(sb, _))
    change.addDeletes.sortBy(_._1).foreach { case (d, c) => appendD(sb, d, c) }
    sb.toString
  }

  // -------------------------------------------------------------------
  // Resolution
  // -------------------------------------------------------------------

  /** Resolve the snapshot at `upto` (a manifest name): walk back from it
    * to the nearest base, then fold the deltas forward. The walked seq
    * range must be CONTIGUOUS — a hole means a chain link was deleted out
    * from under us, and skipping a commit's change would resolve to a
    * silently wrong table, so it fails loudly instead. */
  private def resolveAt(path: String, ordered: Array[String],
      uptoIdx: Int): GraftResolved = {
    var i = uptoIdx
    var bodies = List.empty[Body]
    var base: Option[GraftSnapshot] = None
    while (base.isEmpty) {
      require(i >= 0,
        s"broken manifest chain in $path: no base manifest at or below " +
          s"${ordered(uptoIdx)} — a chain link was deleted outside the " +
          "expire protocol")
      if (i < uptoIdx)
        require(seqOf(ordered(i)) == seqOf(ordered(i + 1)) - 1,
          s"broken manifest chain in $path: ${ordered(i)} is not the " +
            s"parent of ${ordered(i + 1)} — a chain link is missing")
      val b = readBody(path, ordered(i))
      bodies ::= b
      b match {
        case BaseBody(_, s) => base = Some(s)
        case _: DeltaBody => i -= 1
      }
    }
    // one-pass chain application (round 18): O(live + Σchange), not
    // O(live × chain) — see GraftSnapshot.applyAll
    val snap = base.get.applyAll(bodies.tail.collect {
      case DeltaBody(_, c) => c // bases stop the walk: tail is all deltas
    })
    GraftResolved(snap, seqOf(ordered(uptoIdx)), uptoIdx - i,
      bodies.last.stamp)
  }

  /** The landing's manifest-less (legacy) state: the plain directory
    * listing, delete files covering everything. */
  private def legacySnapshot(names: Array[String]): GraftSnapshot = {
    val data = names.filter(_.endsWith(".graftlog")).sorted
    val dels = names.filter(_.endsWith(".graftdel")).sorted
    GraftSnapshot(data.map(GraftLiveFile(_, None)).toVector,
      dels.map(d => (d, Vector("*"))).toMap)
  }

  /** Unstamped directory files the manifest cannot know about (foreign
    * appends), reconciled into the live set. */
  private def reconcile(snap: GraftSnapshot,
      names: Array[String]): GraftSnapshot = {
    val foreign = names.filter(n => n.endsWith(".graftlog") &&
      GraftLogNames.stamp(n) < 0 && !snap.fileNames.contains(n))
    if (foreign.isEmpty) snap
    else snap.addData(foreign.sorted.map(GraftLiveFile(_, None)).toVector)
  }

  /** Resolve the landing's current snapshot with its commit coordinates:
    * newest manifest chain ∪ unstamped directory files, or the plain
    * listing for manifest-less (legacy) landings (seq = SEQ0-1, so the
    * first CAS commit lands on the deterministic SEQ0). */
  def resolveCurrent(path: String): GraftResolved = {
    val names = GraftFs.listNames(path)
    val ordered = refs(names)
    if (ordered.isEmpty)
      GraftResolved(legacySnapshot(names), SEQ0 - 1, 0, -1L)
    else {
      val r = resolveAt(path, ordered, ordered.length - 1)
      r.copy(snap = reconcile(r.snap, names))
    }
  }

  /** Resolve the landing's current snapshot. One directory list, then
    * O(chain) manifest reads. */
  def resolve(path: String): GraftSnapshot = resolveCurrent(path).snap

  /** Commit stamp of the newest manifest, -1 if none — the version
    * handle `VERSION AS OF` resolves against. */
  def tipStamp(path: String): Long = {
    val ordered = refs(GraftFs.listNames(path))
    if (ordered.isEmpty) -1L else headOf(path, ordered.last)._1
  }

  /** Time travel: resolve the snapshot that was current AS OF
    * `stampCeiling` — the newest manifest stamped at or below it (stamps
    * are clamped monotone along the chain, so newest-by-seq and
    * newest-by-stamp agree). Differences from [[resolve]], both
    * deliberate: no unstamped-file reconciliation (foreign files have no
    * position on the timeline), and a ceiling BELOW the oldest retained
    * manifest fails LOUDLY — it is indistinguishable from history that
    * `expire_snapshots` already GC'd, and resolving an expired version
    * to the empty table would be a silently wrong answer. Data files of
    * a historical snapshot may themselves have been unlinked (a
    * non-retaining table's replace/compact, or a passed expire horizon)
    * — such a read fails LOUDLY on open; `snapshot.retain = true` keeps
    * them until expire_snapshots. A landing with no manifest at all has
    * no history to travel. */
  def resolveAsOf(path: String, stampCeiling: Long): GraftSnapshot = {
    val ordered = refs(GraftFs.listNames(path))
    require(ordered.nonEmpty,
      s"no snapshot history in $path (manifest-less landing): time travel " +
        "needs at least one committed snapshot")
    // newest-first header peeks; stamps are monotone along the chain so
    // the first at-or-below the ceiling is THE snapshot
    val idx = Range.inclusive(ordered.length - 1, 0, -1)
      .find(i => headOf(path, ordered(i))._1 <= stampCeiling)
    idx match {
      case Some(i) => resolveAt(path, ordered, i).snap
      case None => throw new IllegalArgumentException(
        s"no snapshot of $path at or before stamp $stampCeiling " +
          "(older than the retained history, or before the table existed)")
    }
  }

  // -------------------------------------------------------------------
  // The optimistic commit
  // -------------------------------------------------------------------

  /** Commit a change with optimistic concurrency: resolve the current
    * base, check the `premise` and let `build` VALIDATE against it
    * (throwing [[GraftConflictException]] when a concurrent commit broke
    * its premise — that exception propagates, never retries) and produce
    * the change, then claim manifest seq+1 with the atomic
    * [[GraftFs.renameExclusive]] CAS. A lost CAS re-resolves and
    * re-validates — the loop a correct lake commit is, bounded by
    * `maxAttempts` against livelock.
    *
    * An empty change commits nothing (no-op commands stay
    * file-identical) unless `force` — table creation wants the empty
    * manifest as the "this landing is snapshot-managed" mark.
    *
    * The manifest is a DELTA unless the chain is due a base
    * ([[BASE_EVERY]]) or the base would be no bigger (truncate,
    * overwrite, tiny tables). */
  def commit(path: String, force: Boolean = false,
      premise: Option[GraftPremise] = None, maxAttempts: Int = 64)
      (build: GraftSnapshot => GraftChange): GraftCommitted = {
    // livelock bound, not a timeout: every lost CAS means another commit
    // SUCCEEDED (system-wide progress is guaranteed), so attempts are
    // bounded by the number of concurrently racing commits — 64 outlasts
    // any sane writer count while still failing a pathological storm loudly
    var attempt = 1
    while (true) {
      val resolved = resolveCurrent(path)
      premise.foreach(_.check(path, resolved.snap))
      val change = build(resolved.snap)
      if (change.isEmpty && !force)
        return GraftCommitted(resolved.snap, resolved.snap, Nil, premise)
      val (next, dead) = change.apply(resolved.snap)
      val stamp = math.max(GraftLogNames.nextStamp(), resolved.stamp + 1)
      val baseLines = next.files.length + next.deletes.size
      // the smaller-base shortcut AND the normal cadence yield to a
      // change carrying EXPLICIT delete-file retirements (X records,
      // round 19): a base manifest would erase the X records that
      // distinguish an all-rows-dead compaction from a truncate — which
      // the changelog read's net-zero classification depends on. Chains
      // stay bounded by the 2x hard cap (X-carrying commits are rare:
      // full absorbs and streaming replays), where an X-carrying commit
      // does write a base and a changelog window over it refuses loudly
      // — never silently wrong.
      val asBase = resolved.stamp < 0 ||
        resolved.depth + 1 >= 2 * BASE_EVERY ||
        (change.removeDeletes.isEmpty &&
          (resolved.depth + 1 >= BASE_EVERY || baseLines <= change.lineCount))
      val tmp = GraftFs.child(path,
        s".snap-${java.util.UUID.randomUUID().toString.take(16)}.tmp")
      if (asBase) writeBaseFile(tmp, stamp, next)
      else GraftFs.writeString(tmp, serializeDelta(stamp, change))
      val name = casName(resolved.seq + 1)
      if (GraftFs.renameExclusive(tmp, GraftFs.child(path, name)))
        return GraftCommitted(resolved.snap, next, dead, premise)
      // CAS lost: another committer claimed seq+1 first. Our files are
      // stamped-but-unreferenced (invisible); re-resolve and re-validate.
      GraftFs.delete(tmp)
      attempt += 1
      require(attempt <= maxAttempts,
        s"commit contention on $path: lost $maxAttempts CAS attempts")
      Thread.sleep(attempt.toLong) // linear backoff, single-digit ms
    }
    throw new IllegalStateException("unreachable")
  }

  /** The post-swap tail of every commit, the last step of publish ->
    * manifest swap -> unlink. Unless the table keeps victims (snapshot
    * retention or an unlink grace), it unlinks the data and delete files
    * the swap removed: replaced inputs, delete files left covering
    * nothing (the commit's `deadDeletes`), and explicitly retired ones.
    * Then a graced table sweeps
    * retirements past their grace. A crash before this tail leaves only
    * unreferenced files, which expire or the sweep collect.
    *
    * Strictness follows the premise: a commit validated under a
    * [[GraftPremise]] proved every removed data file live at the swap, so
    * a failed unlink is an error. A last-wins commit (truncate,
    * overwrite, a streaming epoch) may find its victims already unlinked
    * by a racing truncate, so its unlinks are lenient.
    *
    * Main-line commits only: a branch commit ([[GraftBranches.commitToBranch]]) swaps
    * no main manifest and removes nothing, so it has no tail; branch
    * files reach main through [[GraftBranches.publishBranch]]. */
  def retire(path: String, committed: GraftCommitted, ret: GraftRetention): Unit = {
    if (!ret.keepVictims) {
      (committed.base.fileNames -- committed.result.fileNames).foreach { n =>
        val gone = GraftFs.delete(GraftFs.child(path, n))
        require(gone || committed.premise.isEmpty,
          s"commit failed to delete $path/$n")
      }
      (committed.base.deletes.keySet -- committed.result.deletes.keySet)
        .foreach(d => GraftFs.delete(GraftFs.child(path, d)))
    }
    if (ret.sweeps) { sweepRetired(path, ret.unlinkGraceMs); () }
  }

  // -------------------------------------------------------------------
  // Manifest GC (chain-aware)
  // -------------------------------------------------------------------

  /** Manifests prunable under the stamp horizon WITHOUT breaking any
    * retained snapshot's delta chain: everything strictly below the
    * ANCHOR — the nearest base at or below the oldest manifest that must
    * survive (the first stamped at/above the horizon, or the tip).
    * Everything from the anchor to the tip stays contiguous, so every
    * retained manifest still resolves. Returns (victims, remaining),
    * both in commit order. */
  private[sources] def prunable(path: String,
      beforeStamp: Long): (Array[String], Array[String]) = {
    val ordered = refs(GraftFs.listNames(path))
    if (ordered.isEmpty) return (Array.empty, Array.empty)
    // tags pin their snapshots (round 18): the horizon is clamped to the
    // oldest tagged stamp, so the tagged manifest — and the contiguous
    // chain from its anchor base — survives any expire pass; stamps are
    // strictly monotone along the chain, so everything above the oldest
    // tag (later tags included) survives with it. DANGLING tags — a
    // stamp matching NO retained manifest, the residue of a tag that
    // lost its create/expire race before the post-CAS verify existed —
    // pin nothing (their chain is already gone) and are ignored, so a
    // stale tag file cannot freeze every future GC horizon (r18 advice).
    val heads = ordered.map(headOf(path, _)) // (stamp, isBase)
    val retainedStamps = heads.map(_._1).toSet
    // branches clamp like tags (round 19): the fork-point snapshot must
    // stay resolvable for the branch to read or fast-forward from
    val horizon = ((GraftBranches.tags(path).values ++ GraftBranches.branches(path).values)
      .filter(retainedStamps.contains).toSeq :+ beforeStamp).min
    val oldestRetained = heads.indexWhere(_._1 >= horizon) match {
      case -1 => ordered.length - 1 // the tip always survives
      case i => i
    }
    val anchor = Range.inclusive(oldestRetained, 0, -1).find(heads(_)._2)
      .getOrElse(
        // no base at or below the oldest retained manifest: the chain
        // below it is load-bearing in full, nothing is prunable
        0)
    (ordered.take(if (heads(anchor)._2) anchor else 0), ordered.drop(anchor))
  }

  /** Graced lazy GC (round 17; `snapshot.unlink.grace.ms` tables): unlink
    * stamped files that NO snapshot a reader could have resolved within
    * the last `graceMs` references. The protected manifests are exactly
    * those that were the TIP at some instant in the window — the newest
    * one stamped at-or-below the cutoff plus everything stamped after it
    * — so any reader that resolved within the window still opens every
    * file of its snapshot. Files stamped INSIDE the window are never
    * swept either: a stamped-but-unreferenced young file may be a
    * commit's publish awaiting its CAS, and grace (minutes) dwarfs any
    * commit. Runs piggybacked on later commits — retirement needs no
    * timer, just eventual traffic (expire remains the explicit horizon).
    * @return files unlinked. */
  def sweepRetired(path: String, graceMs: Long): Int = {
    val cutoff = System.currentTimeMillis() - graceMs
    val names = GraftFs.listNames(path)
    val ordered = refs(names)
    if (ordered.isEmpty) return 0
    val heads = ordered.map(headOf(path, _))
    val firstIn = heads.indexWhere(_._1 >= cutoff)
    val startIdx = if (firstIn < 0) ordered.length - 1 else math.max(0, firstIn - 1)
    val anchorIdx = Range.inclusive(startIdx, 0, -1).find(heads(_)._2) match {
      case Some(a) => a
      case None => return 0 // broken/foreign chain below: sweep nothing
    }
    // seq-contiguity of the fold, the same check resolveAt enforces
    // (round 18, r17 advice): a hole in the anchor→tip walk (a manifest
    // deleted outside the expire protocol) would silently misapply the
    // deltas, UNDERSTATE the referenced-file set, and unlink LIVE data —
    // where resolve() fails loudly on the same state. Sweeping nothing is
    // always safe; the hole surfaces loudly at the next resolve that
    // walks it.
    if (((anchorIdx + 1) until ordered.length).exists(i =>
        seqOf(ordered(i)) != seqOf(ordered(i - 1)) + 1)) return 0
    var state = GraftSnapshot(Vector.empty, Map.empty)
    val referenced = Set.newBuilder[String]
    (anchorIdx until ordered.length).foreach { i =>
      readBody(path, ordered(i)) match {
        case BaseBody(_, s) => state = s
        case DeltaBody(_, c) => state = c.apply(state)._1
      }
      if (i >= startIdx) {
        state.files.foreach(f => referenced += f.name)
        state.deletes.keys.foreach(referenced += _)
      }
    }
    // staged branch data is live (round 19): referenced by no main
    // snapshot yet, but the branch's publish will reference it
    val refd = referenced.result() ++ GraftBranches.branchReferences(path)
    val garbage = names.filter { n =>
      (n.endsWith(".graftlog") || n.endsWith(".graftdel")) && {
        val s = GraftLogNames.stamp(n)
        s >= 0 && s < cutoff && !refd.contains(n)
      }
    }
    // no existence require: concurrent committers sweep the same garbage
    garbage.foreach(n => GraftFs.delete(GraftFs.child(path, n)))
    garbage.length
  }

  /** The landing's retained snapshot HISTORY, oldest first — the
    * introspection surface behind `CALL system.snapshots` (round 17;
    * Iceberg's snapshots metadata table): one entry per retained
    * manifest with its commit stamp, kind, and the state/change sizes a
    * user audits a table by. Folds the chain once; empty for
    * manifest-less landings. */
  final case class GraftSnapshotInfo(version: Int, stamp: Long,
      kind: String, liveFiles: Int, deleteFiles: Int,
      addedFiles: Int, removedFiles: Int)
  def history(path: String): Seq[GraftSnapshotInfo] = {
    val ordered = refs(GraftFs.listNames(path))
    if (ordered.isEmpty) return Nil
    require(headOf(path, ordered.head)._2,
      s"manifest chain in $path does not start at a base manifest — " +
        "history cannot be folded")
    require(!(1 until ordered.length).exists(i =>
        seqOf(ordered(i)) != seqOf(ordered(i - 1)) + 1),
      s"manifest chain in $path has a seq hole — history cannot be folded")
    var state = GraftSnapshot(Vector.empty, Map.empty)
    ordered.toSeq.zipWithIndex.map { case (m, i) =>
      val before = state.fileNames
      val (stamp, kind) = readBody(path, m) match {
        case BaseBody(st, snap) => state = snap; (st, "base")
        case DeltaBody(st, c) => state = c.apply(state)._1; (st, "delta")
      }
      val after = state.fileNames
      GraftSnapshotInfo(i + 1, stamp, kind, state.files.length,
        state.deletes.size, (after -- before).size, (before -- after).size)
    }
  }

  /** Every data/delete file name referenced by ANY of the `remaining`
    * manifests' snapshots (the anchor-to-tip states) — the live universe
    * `expire_snapshots` must not touch. Folds the chain once. */
  private[sources] def referencedBy(path: String,
      remaining: Array[String]): Set[String] = {
    // a chain that does not start at a base — or one with a SEQ HOLE
    // (round 18; a link deleted outside the expire protocol) — cannot be
    // folded: UNDERSTATING the referenced set deletes live files, so
    // fail loudly, exactly like resolveAt on the same state
    require(remaining.isEmpty || headOf(path, remaining.head)._2,
      s"manifest chain in $path does not start at a base manifest — " +
        "refusing to compute the referenced-file universe")
    require(!(1 until remaining.length).exists(i =>
        seqOf(remaining(i)) != seqOf(remaining(i - 1)) + 1),
      s"manifest chain in $path has a seq hole — a chain link was " +
        "deleted outside the expire protocol; refusing to compute the " +
        "referenced-file universe")
    val out = Set.newBuilder[String]
    var state = GraftSnapshot(Vector.empty, Map.empty)
    remaining.foreach { m =>
      readBody(path, m) match {
        case BaseBody(_, s) => state = s
        case DeltaBody(_, c) => state = c.apply(state)._1
      }
      state.files.foreach(f => out += f.name)
      state.deletes.keys.foreach(out += _)
    }
    out.result()
  }
}
