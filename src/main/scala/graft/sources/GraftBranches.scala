package graft.sources

/** Snapshot refs of a landing: named tags (read-only) and writable
  * branches (write-audit-publish). Both live as files in the landing
  * beside the manifests of [[GraftSnapshotIO]], whose chain they read
  * and whose GC horizons they pin. */
private[sources] object GraftBranches {
  import GraftSnapshotIO.{BaseBody, DeltaBody, EXT, headOf, prunable, readBody,
    referencedBy, refs, resolve, resolveAsOf, resolveCurrent, serializeDelta, tipStamp}

  // -------------------------------------------------------------------
  // Snapshot refs: named tags (round 18, r17 verdict #5)
  // -------------------------------------------------------------------

  /** Tags name retained snapshots (`CALL system.tag` / `VERSION AS OF
    * '<tag>'` — Iceberg's tag refs): one `tag-<name>.grafttag` file per
    * tag holding the EXACT stamp of a retained manifest. Tagged stamps
    * are exempt from the GC horizons — [[GraftSnapshotIO.prunable]] clamps its horizon to
    * the oldest tag, so the tagged manifest's whole delta chain stays
    * anchor-contiguous and `expire_snapshots` keeps every data file the
    * retained chain references. Tags are immutable (CAS-created; re-tag
    * = drop + tag) and live in the landing, so they travel with a table
    * RENAME and die with DROP. */
  val TAG_EXT = ".grafttag"
  private[sources] def tagNameOf(fileName: String): Option[String] =
    if (fileName.length > 4 + TAG_EXT.length && fileName.startsWith("tag-") &&
        fileName.endsWith(TAG_EXT))
      Some(fileName.substring(4, fileName.length - TAG_EXT.length))
    else None

  /** The landing's tags: name -> tagged manifest stamp. */
  def tags(path: String): Map[String, Long] =
    GraftFs.listNames(path).flatMap { n =>
      tagNameOf(n).map { t =>
        val head = GraftFs.readHeadLine(GraftFs.child(path, n)).trim
        require(head.nonEmpty && head.forall(_.isDigit),
          s"corrupt tag file $path/$n: '$head'")
        (t, head.toLong)
      }
    }.toMap

  /** Create tag `name` at manifest stamp `stamp` — which must be an
    * EXACT retained manifest stamp (the handle AS OF resolves and the
    * prune clamp anchors on); a ceiling would silently drift to an older
    * snapshot than the caller named. CAS-created: a duplicate tag fails
    * loudly rather than repointing. */
  def createTag(path: String, name: String, stamp: Long): Unit = {
    require(name.matches("[A-Za-z0-9_][A-Za-z0-9_.-]*"),
      s"tag names are [A-Za-z0-9_][A-Za-z0-9_.-]*: got '$name'")
    val ordered = refs(GraftFs.listNames(path))
    require(ordered.nonEmpty,
      s"no snapshot history in $path: nothing to tag")
    require(ordered.exists(m => headOf(path, m)._1 == stamp),
      s"no retained snapshot of $path is stamped exactly $stamp " +
        s"(CALL system.snapshots lists the retained stamps)")
    val tmp = GraftFs.child(path,
      s".tag-${java.util.UUID.randomUUID().toString.take(16)}.tmp")
    GraftFs.writeString(tmp, s"$stamp\n")
    if (!GraftFs.renameExclusive(tmp, GraftFs.child(path, s"tag-$name$TAG_EXT"))) {
      GraftFs.delete(tmp)
      throw new IllegalStateException(
        s"tag '$name' already exists on $path (tags are immutable; " +
          "drop_tag it first to repoint)")
    }
    // r18 advice (low): tag creation races a concurrent expire pass — the
    // stamp was validated above, but expire/expire_snapshots read tags()
    // BEFORE deleting, so a tag landing in that window can point at a
    // chain the pass already pruned. Re-verify AFTER the CAS made the tag
    // visible: a stamp no longer retained means the race was lost — drop
    // the tag and fail loudly (a dangling tag's VERSION AS OF would fail
    // forever; prunable() additionally ignores dangling tags so one that
    // slips through cannot clamp every future GC horizon either).
    if (!refs(GraftFs.listNames(path)).exists(m => headOf(path, m)._1 == stamp)) {
      GraftFs.delete(GraftFs.child(path, s"tag-$name$TAG_EXT"))
      throw new IllegalStateException(
        s"tag '$name' lost a race with a concurrent expire on $path: " +
          s"snapshot stamped $stamp is no longer retained — the tag was " +
          "dropped; re-resolve a retained stamp and re-tag")
    }
  }

  /** Drop tag `name`; @return whether it existed. The tagged history
    * becomes GC-eligible at the next expire pass. */
  def dropTag(path: String, name: String): Boolean =
    GraftFs.delete(GraftFs.child(path, s"tag-$name$TAG_EXT"))

  // -------------------------------------------------------------------
  // Writable branches (round 19, r18 verdict #7): write-audit-publish
  // -------------------------------------------------------------------

  /** Branches are the WRITABLE ref type tags are the read-only half of
    * (Iceberg's branch refs / the write-audit-publish pattern): a
    * `branch-<name>.graftbranch` file pins the MAIN stamp the branch
    * forked at, and the branch's own commits chain as delta manifests
    * named `snap-<name>.<seq13>.graftsnap` — a shape [[GraftSnapshotIO.seqOf]] can never
    * classify as a main manifest, so branch state is INVISIBLE to main
    * readers by construction (that invisibility IS the audit isolation).
    * Branch commits are APPEND-ONLY (the fast-forward publish below is a
    * pure addData rebase; rewrites on a branch would need branch-scoped
    * premise validation nothing consumes yet — refused loudly).
    * PUBLISH is one main CAS commit that applies the branch's
    * accumulated change, with the true fast-forward premise — the main
    * snapshot is still EXACTLY the fork-point snapshot — validated
    * against the freshly-resolved base inside the optimistic loop; a
    * main commit since the fork fails the publish loudly
    * ([[GraftConflictException]] — re-branch and re-stage), it never
    * silently merges. The branch's base stamp clamps every GC horizon
    * (like tags) and branch-referenced files are folded into every
    * sweep/expire live-universe, so staged data survives maintenance
    * until the branch is published or dropped. */
  val BRANCH_EXT = ".graftbranch"
  private[sources] def branchNameOf(fileName: String): Option[String] =
    if (fileName.length > 7 + BRANCH_EXT.length && fileName.startsWith("branch-") &&
        fileName.endsWith(BRANCH_EXT))
      Some(fileName.substring(7, fileName.length - BRANCH_EXT.length))
    else None

  /** The landing's branches: name -> fork-point main stamp. */
  def branches(path: String): Map[String, Long] =
    GraftFs.listNames(path).flatMap { n =>
      branchNameOf(n).map { b =>
        val head = GraftFs.readHeadLine(GraftFs.child(path, n)).trim
        require(head.nonEmpty && head.forall(_.isDigit),
          s"corrupt branch file $path/$n: '$head'")
        (b, head.toLong)
      }
    }.toMap

  /** Seq of a BRANCH manifest name (`snap-<branch>.<seq13>.graftsnap`),
    * -1 if not that branch's shape. Parsed against a KNOWN branch name,
    * so the name charset needs no delimiter discipline; the exact LENGTH
    * check runs first — a branch named like a 13-digit main seq (e.g.
    * '1000000000000', which every table's first manifest carries) must
    * parse the main manifest to -1, not crash on a negative substring
    * range (round-19 review). */
  private[sources] def branchSeqOf(branch: String, name: String): Long = {
    val prefix = s"snap-$branch."
    if (name.length == prefix.length + 13 + EXT.length &&
        name.startsWith(prefix) && name.endsWith(EXT)) {
      val mid = name.substring(prefix.length, name.length - EXT.length)
      if (mid.forall(c => c >= '0' && c <= '9')) mid.toLong
      else -1L
    } else -1L
  }
  private def branchManifestName(branch: String, seq: Long): String =
    f"snap-$branch.$seq%013d$EXT"
  private def branchRefs(path: String, branch: String): Array[String] =
    GraftFs.listNames(path).filter(branchSeqOf(branch, _) >= 0)
      .sortBy(branchSeqOf(branch, _))

  /** Create branch `name` at the CURRENT main tip; CAS-created like tags
    * (a duplicate fails loudly). @return the fork-point stamp. */
  def createBranch(path: String, name: String): Long = {
    require(name.matches("[A-Za-z0-9_]+"),
      s"branch names are [A-Za-z0-9_]+: got '$name'")
    require(!GraftFs.listNames(path).contains(publishJournalName(name)),
      s"a publish of branch '$name' on $path is in flight or crashed " +
        "mid-protocol — run publish_branch to complete it first")
    val stamp = tipStamp(path)
    require(stamp >= 0,
      s"no snapshot history in $path: commit once before branching")
    // A DEAD same-named branch (publish/drop crashed mid-cleanup) may
    // have left chain manifests behind; they are swept BEFORE the ref
    // CAS (round 20, r19 advice): once the ref is visible, a concurrent
    // commitToBranch can resolve the branch and land snap-<name>.<seq>
    // in the window before a post-CAS sweep's listing — and the sweep
    // would delete a freshly COMMITTED manifest. With no live ref, no
    // writer can target the name, so every listed chain manifest is a
    // remnant. Order matters: list FIRST, then re-check the ref is still
    // absent — a ref live at the re-check means the listing may already
    // contain a concurrently created branch's commits, so skip the sweep
    // and let the CAS below fail loudly; a manifest landing AFTER the
    // listing cannot be in the captured set.
    val remnants = branchRefs(path, name)
    if (remnants.nonEmpty &&
        !GraftFs.listNames(path).contains(s"branch-$name$BRANCH_EXT")) {
      remnants.foreach(m => GraftFs.delete(GraftFs.child(path, m)))
      // r20 advice: a dead predecessor chain that committed faster than
      // 1/ms can leave tail seqs ABOVE this generation's nextStamp(), so
      // a same-millisecond create/commit/drop/create race could mint a
      // reusable manifest name even after the stamp-derived fresh-chain
      // start. If any such remnant SURVIVED the sweep (delete failure),
      // refuse to create over it — with the ref still absent these
      // cannot be a live branch's commits, and proceeding would let a
      // fresh commit collide with (or be shadowed by) the leftover name.
      if (!GraftFs.listNames(path).contains(s"branch-$name$BRANCH_EXT")) {
        val floor = GraftLogNames.nextStamp()
        val survivors = branchRefs(path, name)
          .filter(m => branchSeqOf(name, m) >= floor)
        require(survivors.isEmpty,
          s"branch '$name' on $path has undeletable dead-chain manifests at " +
            s"or above the fresh seq floor $floor (${survivors.mkString(", ")}) " +
            "— remove them before re-creating the branch")
      }
    }
    val tmp = GraftFs.child(path,
      s".branch-${java.util.UUID.randomUUID().toString.take(16)}.tmp")
    GraftFs.writeString(tmp, s"$stamp\n")
    if (!GraftFs.renameExclusive(tmp,
        GraftFs.child(path, s"branch-$name$BRANCH_EXT"))) {
      GraftFs.delete(tmp)
      throw new IllegalStateException(
        s"branch '$name' already exists on $path (publish or drop it first)")
    }
    // same post-CAS verify as createTag (r18 advice class): a concurrent
    // expire pass reads branches() BEFORE deleting, so a branch landing
    // in that window could fork a chain the pass already pruned — drop
    // it and fail loudly (prunable() also ignores dangling fork stamps,
    // so a survivor cannot freeze GC either)
    if (!refs(GraftFs.listNames(path)).exists(m => headOf(path, m)._1 == stamp)) {
      GraftFs.delete(GraftFs.child(path, s"branch-$name$BRANCH_EXT"))
      throw new IllegalStateException(
        s"branch '$name' lost a race with a concurrent expire on $path: " +
          s"the fork snapshot stamped $stamp is no longer retained — re-branch")
    }
    stamp
  }

  /** Resolve a branch's snapshot: main-at-fork plus the branch's delta
    * chain, seq-contiguous or loudly broken — the same discipline as
    * [[GraftSnapshotIO.resolveAt]]. */
  def resolveBranch(path: String, name: String): GraftSnapshot = {
    val base = branches(path).getOrElse(name,
      throw new IllegalArgumentException(s"no branch '$name' on $path"))
    val refs = branchRefs(path, name)
    require(!(1 until refs.length).exists(i =>
        branchSeqOf(name, refs(i)) != branchSeqOf(name, refs(i - 1)) + 1),
      s"branch '$name' manifest chain in $path has a seq hole")
    val baseSnap = resolveAsOf(path, base)
    baseSnap.applyAll(refs.toSeq.map(m => readBody(path, m) match {
      case DeltaBody(_, c) => c
      case _: BaseBody => throw new IllegalStateException(
        s"branch manifest $path/$m is not a delta — corrupt branch chain")
    }))
  }

  /** Optimistic append-only commit onto a branch: same CAS discipline as
    * [[GraftSnapshotIO.commit]], on the branch's own seq namespace. */
  def commitToBranch(path: String, name: String, maxAttempts: Int = 64)
      (build: GraftSnapshot => GraftChange): Unit = {
    var attempt = 1
    while (true) {
      val change = build(resolveBranch(path, name))
      // Round 20 (r19 verdict #4): branch commits may ADD data and ADD
      // merge-on-read delete files (the write-audit-publish flow's audit
      // step fixes rows with MoR DELETE/UPDATE/MERGE before publishing);
      // publish remaps staged-file references inside delete files and
      // coverage to the publish-stamped names. Removing files stays
      // refused: a rewrite of fork-point files could not fast-forward.
      require(change.removeData.isEmpty && change.removeDeletes.isEmpty,
        s"branch '$name' commits cannot REMOVE files (a branch rewrite " +
          "of fork-point state cannot fast-forward publish); compactions " +
          "and copy-on-write commands belong on main")
      if (change.isEmpty) return
      val refs = branchRefs(path, name)
      // a FRESH chain starts at a stamp-derived seq, NOT a fixed SEQ0
      // (round-20 review): branch manifest names must never be reusable
      // across branch generations — with a deterministic start, a
      // re-created branch's first commit could mint the exact name a
      // dead predecessor left behind, and a concurrent createBranch's
      // captured remnant list (names!) could then delete the freshly
      // committed manifest. nextStamp() is monotone epoch-millis and
      // fits the 13-digit name format; chain contiguity only needs
      // consecutive seqs, not a fixed origin. (A dead chain's tail
      // seqs are start + k synthetic increments, so a predecessor that
      // committed faster than 1/ms could still shadow near-future
      // stamps — that corner needs a same-millisecond create/commit/
      // drop/create race on top, vs. the CERTAIN collision a fixed
      // origin gave any re-create.)
      val seq = if (refs.isEmpty) GraftLogNames.nextStamp()
        else branchSeqOf(name, refs.last) + 1
      val tmp = GraftFs.child(path,
        s".snap-${java.util.UUID.randomUUID().toString.take(16)}.tmp")
      GraftFs.writeString(tmp,
        serializeDelta(GraftLogNames.nextStamp(), change))
      if (GraftFs.renameExclusive(tmp,
          GraftFs.child(path, branchManifestName(name, seq)))) return
      GraftFs.delete(tmp)
      attempt += 1
      require(attempt <= maxAttempts,
        s"commit contention on branch '$name' of $path: lost $maxAttempts CAS attempts")
      Thread.sleep(attempt.toLong)
    }
  }

  /** Atomic fast-forward publish — a small crash-safe protocol (round-19
    * review), because the naive swap had two real holes: (a) staged
    * files carry STAGING-time name stamps, and a streaming reader of
    * main whose offset high-water has advanced past them would silently
    * never admit the published rows (`_pub_stamp > t` incremental
    * readers miss them the same way), so publish must re-stamp; (b) a
    * crash between the main CAS and the ref cleanup must make a RETRY
    * complete the publish, never tell the user to re-stage
    * already-published rows.
    *
    *  1. CAS-claim a PUBLISH JOURNAL (`publish-<name>.graftpub`: fork
    *     stamp + old->new name mapping, publish-stamped fresh names) —
    *     concurrent publishes collide here; a cheap pre-validation
    *     refuses an already-moved main before anything renames.
    *  2. Rename staged files to their fresh names (idempotent per entry:
    *     old absent + new present = already done).
    *  3. ONE main CAS commit adds the fresh names, with the fast-forward
    *     premise validated against the freshly-resolved base: main still
    *     EXACTLY the fork-point snapshot (stamped view — unstamped
    *     foreign arrivals rebase like any append), OR every fresh name
    *     already live (a resumed retry after the CAS) which commits the
    *     empty no-op. A genuine conflict ROLLS BACK the renames, drops
    *     the journal, and throws loudly — the branch stays readable.
    *  4. Cleanup: branch manifests, the branch ref, the journal LAST.
    *     Any crash re-enters at the journal and runs forward; a journal
    *     without its branch ref means cleanup already passed the CAS —
    *     finish the cleanup and return.
    *
    * @return the fresh file names published to main. */
  private[sources] def publishJournalName(name: String): String =
    s"publish-$name.graftpub"
  def publishBranch(path: String, name: String): Seq[String] = {
    val jName = publishJournalName(name)
    val jPath = GraftFs.child(path, jName)
    def cleanup(mapping: Seq[(String, String)]): Unit = {
      // REF first (round-19 review #2): journal-present + ref-absent is
      // the unambiguous 'post-CAS, finish the cleanup' state — deleting
      // manifests first could crash into a truncated-chain state the
      // resume path cannot rebuild entries from
      GraftFs.delete(GraftFs.child(path, s"branch-$name$BRANCH_EXT"))
      branchRefs(path, name).foreach(m => GraftFs.delete(GraftFs.child(path, m)))
      // staged DELETE files were COPIED (content-remapped) to their
      // publish names, not renamed — the originals are post-CAS garbage
      mapping.foreach { case (o, _) =>
        if (o.endsWith(".graftdel")) { GraftFs.delete(GraftFs.child(path, o)); () }
      }
      GraftFs.delete(jPath)
      ()
    }
    val hasJournal = GraftFs.listNames(path).contains(jName)
    if (hasJournal && !branches(path).contains(name)) {
      // the ref is deleted before the journal, so this state is
      // strictly post-CAS: the publish succeeded — finish the cleanup
      val mapping = readPublishJournal(jPath)._2
      cleanup(mapping)
      return mapping.map(_._2)
    }
    val (forkStamp, mapping, snapOpt) =
      if (hasJournal) {
        val (fs, m) = readPublishJournal(jPath)
        (fs, m, None)
      } else {
        val fs = branches(path).getOrElse(name,
          throw new IllegalArgumentException(s"no branch '$name' on $path"))
        val forkSnap = resolveAsOf(path, fs)
        val branchSnap = resolveBranch(path, name)
        // cheap pre-validation: an already-moved main renames nothing
        if (stampedFiles(resolveCurrent(path).snap) != stampedFiles(forkSnap))
          throw new GraftConflictException(
            s"fast-forward publish of branch '$name' on $path: main " +
              s"moved since the fork at $fs — re-branch from the new " +
              "tip and re-stage")
        val added = branchSnap.files
          .filterNot(f => forkSnap.fileNames.contains(f.name))
        // staged merge-on-read DELETE files publish too (round 20, r19
        // verdict #4): fresh publish-stamped names; their content and
        // coverage remap staged data names at the rename step below
        val addedDels =
          (branchSnap.deletes.keySet -- forkSnap.deletes.keySet).toSeq.sorted
        val m = added.zipWithIndex.map { case (f, i) =>
          val uuid = java.util.UUID.randomUUID().toString.take(8)
          (f.name,
            GraftLogNames.publish(GraftLogNames.nextStamp(), i, s"pb$name-$uuid"))
        } ++ addedDels.zipWithIndex.map { case (o, i) =>
          val uuid = java.util.UUID.randomUUID().toString.take(8)
          (o, GraftLogNames.publish(GraftLogNames.nextStamp(), added.size + i,
            s"pb$name-$uuid", ext = ".graftdel"))
        }
        val tmp = GraftFs.child(path,
          s".pub-${java.util.UUID.randomUUID().toString.take(16)}.tmp")
        GraftFs.writeString(tmp,
          (s"$fs" +: m.map { case (o, n) => s"$o\t$n" }).mkString("", "\n", "\n"))
        if (!GraftFs.renameExclusive(tmp, jPath)) {
          GraftFs.delete(tmp)
          throw new IllegalStateException(
            s"a concurrent publish of branch '$name' on $path is in flight")
        }
        (fs, m, Some(branchSnap))
      }
    // ALREADY PUBLISHED detector (round-19 review #1): the fresh names
    // are unique to this journal, so ANY retained main manifest
    // referencing one proves the CAS happened — a retry after a
    // post-CAS crash (even one followed by a main rewrite that moved
    // the names out of the CURRENT live set) must finish the cleanup,
    // never fall through to a spurious conflict whose rollback would
    // rename main-referenced files away.
    val mainRefs = refs(GraftFs.listNames(path))
    val retainedUniverse =
      if (mainRefs.isEmpty) Set.empty[String]
      else referencedBy(path, prunable(path, 0L)._2)
    if (mapping.exists { case (_, n) => retainedUniverse.contains(n) }) {
      cleanup(mapping)
      return mapping.map(_._2)
    }
    // stats/coalesced/coverage ride from the branch entries (resolvable
    // through cleanup, which deletes the chain only after the CAS)
    val branchState = snapOpt.getOrElse(resolveBranch(path, name))
    val entryOf = branchState.files.map(f => (f.name, f)).toMap
    val (delMapping, dataMapping) = mapping.partition(_._1.endsWith(".graftdel"))
    val dataMap = dataMapping.toMap
    dataMapping.foreach { case (o, n) =>
      val oAbs = GraftFs.child(path, o); val nAbs = GraftFs.child(path, n)
      if (GraftFs.exists(oAbs)) require(GraftFs.rename(oAbs, nAbs),
        s"publish failed to rename $o -> $n")
      else require(GraftFs.exists(nAbs),
        s"publish resume on $path: neither $o nor $n exists")
    }
    // staged DELETE files are COPIED with their position-delete lines
    // remapped to the staged data files' publish names (fork-file
    // references are untouched); the original stays until cleanup, so a
    // conflict rollback just deletes the copy. Idempotent on resume:
    // copy-present = done (content is deterministic).
    delMapping.foreach { case (o, n) =>
      val oAbs = GraftFs.child(path, o); val nAbs = GraftFs.child(path, n)
      if (!GraftFs.exists(nAbs)) {
        require(GraftFs.exists(oAbs),
          s"publish resume on $path: neither $o nor $n exists")
        val remapped = GraftFs.readString(oAbs).split('\n').map { line =>
          val t = line.indexOf('\t')
          if (t <= 0) line // eq headers/keys carry no file references
          else dataMap.get(line.substring(0, t))
            .map(_ + line.substring(t)).getOrElse(line)
        }.mkString("\n")
        val tmp = GraftFs.child(path,
          s".pubdel-${java.util.UUID.randomUUID().toString.take(16)}.tmp")
        GraftFs.writeString(tmp, remapped)
        require(GraftFs.rename(tmp, nAbs),
          s"publish failed to write remapped delete file $n")
      }
    }
    val addedNew = dataMapping.map { case (o, n) =>
      val f = entryOf.getOrElse(o,
        throw new IllegalStateException(
          s"publish journal names $o, which branch '$name' does not carry"))
      GraftLiveFile(n, f.segs, f.stats, f.coalesced)
    }
    val addedDelNew = delMapping.map { case (o, n) =>
      val cov = branchState.deletes.getOrElse(o,
        throw new IllegalStateException(
          s"publish journal names $o, which branch '$name' does not carry"))
      (n, cov.map(c => dataMap.getOrElse(c, c)))
    }
    val forkSnap = resolveAsOf(path, forkStamp)
    try {
      GraftSnapshotIO.commit(path) { base =>
        if (mapping.nonEmpty && mapping.forall { case (_, n) =>
            if (n.endsWith(".graftdel")) base.deletes.keySet.contains(n)
            else base.fileNames.contains(n) })
          GraftChange() // already published: the retry's no-op
        else if (stampedFiles(base) != stampedFiles(forkSnap))
          throw new GraftConflictException(
            s"fast-forward publish of branch '$name' on $path: main moved " +
              s"since the fork at $forkStamp — re-branch from the new tip " +
              "and re-stage")
        else GraftChange(addData = addedNew.toVector,
          addDeletes = addedDelNew)
      }
      ()
    } catch {
      case e: GraftConflictException =>
        // restore the stage names (the branch stays readable) and
        // withdraw the journal before surfacing the conflict. The
        // already-published detector above means no fresh name is
        // referenced by retained main history here; the live-set check
        // is belt and braces against a publish racing this rollback.
        val liveState = resolve(path)
        dataMapping.foreach { case (o, n) =>
          val nAbs = GraftFs.child(path, n)
          if (!liveState.fileNames.contains(n) && GraftFs.exists(nAbs)) {
            GraftFs.rename(nAbs, GraftFs.child(path, o)); ()
          }
        }
        delMapping.foreach { case (_, n) =>
          if (!liveState.deletes.keySet.contains(n)) {
            GraftFs.delete(GraftFs.child(path, n)); ()
          }
        }
        GraftFs.delete(jPath)
        throw e
    }
    cleanup(mapping)
    mapping.map(_._2)
  }

  /** The stamped (commit-protocol) file view a fast-forward premise
    * compares: unstamped foreign arrivals are not main movement. */
  private def stampedFiles(s: GraftSnapshot): (Vector[GraftLiveFile], Map[String, Vector[String]]) =
    (s.files.filter(f => GraftLogNames.stamp(f.name) >= 0), s.deletes)

  private def readPublishJournal(jPath: String): (Long, Vector[(String, String)]) = {
    val lines = GraftFs.readString(jPath).split('\n').filter(_.nonEmpty)
    require(lines.nonEmpty && lines(0).forall(_.isDigit),
      s"corrupt publish journal $jPath")
    (lines(0).toLong, lines.drop(1).toVector.map { l =>
      val i = l.indexOf('\t')
      require(i > 0, s"corrupt publish journal line in $jPath: '$l'")
      (l.substring(0, i), l.substring(i + 1))
    })
  }

  /** Abandon a branch: unlink its STAGED files — what the branch chain
    * itself ADDED (never the fork-point state: diffing against the
    * CURRENT main would unlink fork files that retained history still
    * references after a main rewrite — round-19 review), minus anything
    * ANY retained main manifest references (a crashed publish's
    * survivors stay). Tolerates a dangling fork (the create/expire race
    * residue): the staged set needs only the branch chain, no resolve.
    * @return whether it existed. */
  def dropBranch(path: String, name: String): Boolean = {
    require(!GraftFs.listNames(path).contains(publishJournalName(name)),
      s"a publish of branch '$name' on $path is in flight or crashed " +
        "mid-protocol — run publish_branch to complete it, then drop")
    if (!branches(path).contains(name)) return false
    val staged = branchAddedNames(path, name)
    val ordered = refs(GraftFs.listNames(path))
    val protectedNames =
      if (ordered.isEmpty) Set.empty[String]
      else referencedBy(path, prunable(path, 0L)._2)
    GraftFs.delete(GraftFs.child(path, s"branch-$name$BRANCH_EXT"))
    branchRefs(path, name).foreach(m => GraftFs.delete(GraftFs.child(path, m)))
    (staged -- protectedNames).foreach(n => GraftFs.delete(GraftFs.child(path, n)))
    true
  }

  /** File names a branch's own delta chain ADDED — no fork resolve, so
    * a dangling branch cannot wedge callers (round-19 review). */
  private def branchAddedNames(path: String, name: String): Set[String] =
    branchRefs(path, name).flatMap { m =>
      readBody(path, m) match {
        case DeltaBody(_, c) => c.addData.map(_.name) ++ c.addDeletes.map(_._1)
        case _: BaseBody => Nil // corrupt chain: claim nothing
      }
    }.toSet

  /** Every file any live branch (or in-flight publish) references —
    * folded into sweep/expire live-universes so maintenance never
    * unlinks staged branch data. Three sources, each load-bearing
    * (round-19 review):
    *  - the branch chains' own added names (no fork resolve, so a
    *    DANGLING branch protects its staged data instead of wedging
    *    every sweeping commit);
    *  - each live branch's FORK-POINT snapshot (best-effort: a main
    *    rewrite retires those files from every in-window main snapshot,
    *    but the branch still reads them), tolerating a dangling fork;
    *  - publish journals' old AND new names (a crashed pre-CAS publish
    *    leaves the only copy of the staged rows under fresh names no
    *    manifest references yet). */
  private[sources] def branchReferences(path: String): Set[String] = {
    val names = GraftFs.listNames(path)
    val out = Set.newBuilder[String]
    names.flatMap(branchNameOf).foreach { b =>
      out ++= branchAddedNames(path, b)
      branches(path).get(b).foreach { fork =>
        try {
          val snap = resolveAsOf(path, fork)
          snap.files.foreach(f => out += f.name)
          snap.deletes.keys.foreach(out += _)
        } catch { case _: Exception => () } // dangling fork: chain gone
      }
    }
    names.filter(n => n.startsWith("publish-") && n.endsWith(".graftpub"))
      .foreach { j =>
        try readPublishJournal(GraftFs.child(path, j))._2.foreach { case (o, n) =>
          out += o; out += n
        } catch { case _: Exception => () } // corrupt journal: claim nothing
      }
    out.result()
  }

}
