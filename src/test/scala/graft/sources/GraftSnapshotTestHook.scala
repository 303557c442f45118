package graft.sources

/** Spec hook: the manifest protocol is private to the connector, but the
  * atomic-visibility claim (readers flip at the manifest swap, never at a
  * file publish or delete) and the round-17 CAS/chain protocol are THE
  * correctness surfaces — GraftLogSpec drives the swap windows and the
  * commit races through this door. */
private[graft] object GraftSnapshotTestHook {
  def liveNames(path: String): Seq[String] =
    GraftSnapshotIO.resolve(path).files.map(_.name).sorted
  def addData(path: String, name: String): Unit = {
    GraftSnapshotIO.commit(path)(_ =>
      GraftChange(addData = Vector(GraftLiveFile(name, None))))
    ()
  }
  def removeData(path: String, name: String): Unit = {
    GraftSnapshotIO.commit(path)(_ => GraftChange(removeData = Set(name)))
    ()
  }
  /** (startOffset, originStamp) segments of a live file, None = unmapped. */
  def segmentsOf(path: String, name: String): Option[Seq[(Long, Long)]] =
    GraftSnapshotIO.resolve(path).files.find(_.name == name)
      .flatMap(_.segs).map(_.map(s => (s.start, s.stamp)))
  /** Whether a live file's segment map was coalesced (round 19 cap). */
  def coalescedOf(path: String, name: String): Boolean =
    GraftSnapshotIO.resolve(path).files.find(_.name == name)
      .exists(_.coalesced)
  def deleteFiles(path: String): Seq[String] =
    GraftSnapshotIO.resolve(path).deletes.keys.toSeq.sorted
  /** Delete-file coverage index (name -> covered data files) — the r18
    * zone-narrowed upsert coverage pin. */
  def deleteCoverage(path: String): Map[String, Seq[String]] =
    GraftSnapshotIO.resolve(path).deletes.map { case (d, c) => (d, c.toSeq) }
  /** Bucket token of a published name, -1 if none (GraftLogNames). */
  def bucketOf(name: String): Int = GraftLogNames.bucketOf(name)
  /** Live-file count of the snapshot AS OF `stamp` — the round-17
    * chain-GC specs probe time travel without a SparkSession. */
  def resolveAsOfCount(path: String, stamp: Long): Int =
    GraftSnapshotIO.resolveAsOf(path, stamp).files.length
  def publishedName(tag: String): String =
    GraftLogNames.publish(GraftLogNames.nextStamp(), 0, tag)
  /** Graced lazy-GC passthrough — the r18 chain-hole guard is a sweep
    * correctness surface (a hole must sweep NOTHING, not unlink live
    * data). */
  def sweepRetired(path: String, graceMs: Long): Int =
    GraftSnapshotIO.sweepRetired(path, graceMs)
  /** Randomized equivalence pin for the r18 one-pass resolve: applyAll
    * over a change chain must equal the sequential GraftChange.apply
    * fold on every (snapshot, chain) — throws with the diverging case
    * otherwise. Runs in-package because the snapshot types are private. */
  def checkApplyAllEquivalence(seed: Long, rounds: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val universe = (0 until 40).map(i =>
      GraftLiveFile(f"f$i%04d", None,
        if (i % 3 == 0) Some(GraftStats(i.toLong + 1, 0, i, 0, i, 0.0, i)) else None))
    (0 until rounds).foreach { r =>
      var base = GraftSnapshot(
        rnd.shuffle(universe.toList).take(rnd.nextInt(30)).toVector.sortBy(_.name),
        Map.empty)
      base = base.addDeletes((0 until rnd.nextInt(4)).map { d =>
        (f"d$d%02d", rnd.shuffle(universe.map(_.name).toList).take(1 + rnd.nextInt(4)))
      })
      val changes = (0 until 1 + rnd.nextInt(6)).map { ci =>
        GraftChange(
          addData = rnd.shuffle(universe.toList).take(rnd.nextInt(5)).toVector,
          removeData = rnd.shuffle(universe.map(_.name).toList)
            .take(rnd.nextInt(5)).toSet,
          addDeletes = (0 until rnd.nextInt(2)).map { k =>
            (f"d$ci%02d-$k", rnd.shuffle(universe.map(_.name).toList)
              .take(1 + rnd.nextInt(3)))
          },
          removeDeletes =
            if (rnd.nextBoolean()) Set(f"d${rnd.nextInt(4)}%02d") else Set.empty)
      }
      val sequential = changes.foldLeft(base)((s, c) => c.apply(s)._1)
      val onePass = base.applyAll(changes)
      require(sequential == onePass,
        s"applyAll divergence at round $r (seed $seed):\n" +
          s"sequential=$sequential\nonePass=$onePass\nbase=$base\nchanges=$changes")
    }
  }
  /** All retained manifest stamps, oldest first — the version handles a
    * spec can AS-OF against (GraftLog.latestSnapshotStamp gives only the tip). */
  def manifestStamps(path: String): Seq[Long] = {
    val ordered = GraftSnapshotIO.refs(GraftFs.listNames(path))
    ordered.map(GraftSnapshotIO.headOf(path, _)._1).toSeq
  }
  /** Manifest names in commit order with (seq, isBase, byteLength) — the
    * round-17 chain-shape probe surface. */
  def manifestShapes(path: String): Seq[(String, Long, Boolean, Long)] = {
    val ordered = GraftSnapshotIO.refs(GraftFs.listNames(path))
    ordered.toSeq.map { m =>
      val (_, isBase) = GraftSnapshotIO.headOf(path, m)
      (m, GraftSnapshotIO.seqOf(m), isBase, GraftFs.length(GraftFs.child(path, m)))
    }
  }
  /** A commit that LOSES its first CAS to a rival interleaved between
    * resolve and swap — the optimistic loop's collision surface.
    * @return how many times the build ran (2 = one lost CAS + retry). */
  def contestedAdd(path: String, name: String, rival: String): Int = {
    var calls = 0
    GraftSnapshotIO.commit(path) { _ =>
      calls += 1
      if (calls == 1)
        GraftSnapshotIO.commit(path)(_ =>
          GraftChange(addData = Vector(GraftLiveFile(rival, None))))
      GraftChange(addData = Vector(GraftLiveFile(name, None)))
    }
    calls
  }
  /** A commit whose PREMISE (`name` is live) a rival breaks between
    * resolve and swap: the retry must re-validate and surface
    * [[GraftConflictException]] — the row-level commits' conflict shape. */
  def contestedRemove(path: String, name: String): Unit = {
    var first = true
    GraftSnapshotIO.commit(path) { base =>
      if (first) {
        first = false
        GraftSnapshotIO.commit(path)(_ => GraftChange(removeData = Set(name)))
      }
      if (!base.fileNames.contains(name))
        throw new GraftConflictException(
          s"premise lost: $name was removed by a concurrent commit")
      GraftChange(removeData = Set(name))
    }
    ()
  }
}
