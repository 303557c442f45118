package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** The catalog + storage-partitioned-join surface of the graftlog
  * connector (round 15): CREATE TABLE / writeTo / spark.table round-trips
  * through [[graft.sources.GraftCatalog]], bucketed layout invariants on
  * disk, and the SPJ claim itself — a join of two bucketed graftlog tables
  * on the bucket column must plan ZERO shuffle exchanges. */
class GraftCatalogSpec extends SparkTestBase with BeforeAndAfterAll {

  private lazy val events = sources.Tables.load(spark, sfDir, "events")
    .select(col("event_id"), col("user_id"), col("value"), col("event_type"))

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse",
      Scratch.dir("graft_catalog_spec"))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.sql("CREATE TABLE graft.ev_a (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog " +
      "PARTITIONED BY (bucket(8, user_id))")
    spark.sql("CREATE TABLE graft.ev_b (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog " +
      "PARTITIONED BY (bucket(8, user_id))")
    events.writeTo("graft.ev_a").append()
    events.filter(col("event_type") === "signup").writeTo("graft.ev_b").append()
  }

  test("catalog round-trip: create, list, load, exists, drop") {
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    import org.apache.spark.sql.connector.catalog.Identifier
    val names = cat.listTables(Array.empty).map(_.name()).toSet
    assert(names.contains("ev_a") && names.contains("ev_b"))
    assert(cat.tableExists(Identifier.of(Array.empty, "ev_a")))
    val t = cat.loadTable(Identifier.of(Array.empty, "ev_a"))
    assert(t.partitioning().map(_.describe()).toSeq == Seq("bucket(8, user_id)"))
    spark.sql("CREATE TABLE graft.tmp_drop (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog")
    assert(cat.tableExists(Identifier.of(Array.empty, "tmp_drop")))
    spark.sql("DROP TABLE graft.tmp_drop")
    assert(!cat.tableExists(Identifier.of(Array.empty, "tmp_drop")))
  }

  test("bucketed write: every file carries a k-token and holds ONLY its bucket's keys") {
    val warehouse = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val dir = new java.io.File(warehouse, "ev_a")
    val files = dir.listFiles().filter(_.getName.endsWith(".graftlog"))
    assert(files.nonEmpty)
    val buckets = files.map(f => graft.sources.GraftSnapshotTestHook.bucketOf(f.getName))
    assert(buckets.forall(b => b >= 0 && b < 8), s"untagged file among ${files.map(_.getName).toSeq}")
    assert(buckets.toSet.size == 8, "sf0.001 users should touch all 8 buckets")
    // per-bucket key purity, via the table scan path itself
    val withBucket = spark.table("graft.ev_a")
      .withColumn("b", pmod(col("user_id"), lit(8)))
      .withColumn("pid", org.apache.spark.sql.functions.spark_partition_id())
    val mixed = withBucket.groupBy("pid").agg(countDistinct(col("b")).as("nb"))
      .filter(col("nb") > 1).count()
    assert(mixed == 0, "a scan partition mixed rows from two buckets")
  }

  test("table scan round-trips the rows exactly") {
    val back = spark.table("graft.ev_a").orderBy("event_id").collect()
    val src = events.orderBy("event_id").collect()
    assert(back.length == src.length && back.sameElements(src))
  }

  test("bucket pruning: =/IN on the bucket column plans only the matching buckets") {
    // user 7 lives in bucket floorMod(7, 8) = 7: a pushed equality must
    // collapse the scan to ONE partition; the IN over two users in two
    // distinct buckets plans exactly those two. Answers come from the
    // pruned plan, so a wrongly-dropped bucket fails the value checks too.
    // (Users that EXIST in the fixture: since round 17 the per-file zone
    // maps prune on top of bucket pruning, so a user id outside the data's
    // range plans ZERO partitions — asserted below.)
    val eq = spark.table("graft.ev_a").filter(col("user_id") === 7L)
    assert(eq.rdd.getNumPartitions == 1,
      s"equality on the bucket column planned ${eq.rdd.getNumPartitions} partitions")
    assert(eq.count() == events.filter(col("user_id") === 7L).count())
    val in = spark.table("graft.ev_a")
      .filter(col("user_id").isin(7L, 8L))
    assert(in.rdd.getNumPartitions == 2,
      s"IN over two buckets planned ${in.rdd.getNumPartitions} partitions")
    assert(in.count() == events.filter(col("user_id").isin(7L, 8L)).count())
    // zone maps stack on bucket pruning: an id no file's min/max admits
    // opens NOTHING, even though its bucket exists
    val none = spark.table("graft.ev_a").filter(col("user_id") === 42L)
    assert(none.rdd.getNumPartitions == 0 && none.count() == 0,
      "an out-of-range user id must plan zero partitions under zone maps")
    // a bucket-agnostic predicate the zone maps cannot reject either
    // (every file's value range admits it) must not prune anything
    val np = spark.table("graft.ev_a").filter(col("value") > -1.0d)
    assert(np.rdd.getNumPartitions == 8,
      s"non-selective filter wrongly pruned to ${np.rdd.getNumPartitions}")
  }

  test("metadata columns on a bucketed table: _bucket = floorMod(user_id, 8) and agrees with the file's k-token") {
    val rows = spark.table("graft.ev_a")
      .select(col("user_id"), col("_bucket"), col("_file")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val want = java.lang.Math.floorMod(r.getLong(0), 8L).toInt
      assert(!r.isNullAt(1) && r.getInt(1) == want,
        s"_bucket ${r.get(1)} != floorMod(${r.getLong(0)}, 8) = $want")
      val tok = graft.sources.GraftSnapshotTestHook.bucketOf(new java.io.File(r.getString(2)).getName)
      assert(tok == r.getInt(1), s"_file k-token $tok != _bucket ${r.getInt(1)}")
    }
  }

  test("storage-partitioned join: bucketed graftlog x bucketed graftlog, ZERO exchanges") {
    // at fixture scale the optimizer would rightly broadcast the small
    // side; the claim under test is the SHUFFLE-FREE shuffle-join plan, so
    // broadcast is disabled for this test only (restored after)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plan = try {
      val a = spark.table("graft.ev_a")
      val b = spark.table("graft.ev_b").select(col("user_id"), col("event_id").as("signup_id"))
      val joined = a.join(b, "user_id")
        .groupBy("user_id").agg(count(lit(1)).as("n"))
      joined.collect()
      joined.queryExecution.executedPlan.toString
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(plan.contains("GraftLogScan"), s"no GraftLogScan in:\n$plan")
    assert(!plan.contains("Exchange"),
      s"storage-partitioned join still shuffled:\n$plan")
    // correctness against the parquet twin (broadcast may re-enable here;
    // the answer must match regardless of join strategy)
    val expect = events.join(
        events.filter(col("event_type") === "signup").select(col("user_id")),
        "user_id")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .orderBy("user_id").collect()
    val got = spark.table("graft.ev_a")
      .join(spark.table("graft.ev_b").select(col("user_id")), "user_id")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .orderBy("user_id").collect()
    assert(got.sameElements(expect))
  }

  test("row-level DELETE rewrites ONLY the affected bucket's files; the rest stay byte-identical") {
    spark.sql("DROP TABLE IF EXISTS graft.del_t")
    spark.sql("CREATE TABLE graft.del_t (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog " +
      "PARTITIONED BY (bucket(8, user_id))")
    events.writeTo("graft.del_t").append()
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), "del_t")
    def names() = dir.listFiles().filter(_.getName.endsWith(".graftlog"))
      .map(_.getName).toSet
    val before = names()
    assert(before.nonEmpty)
    // the files that actually CONTAIN user 10 (bucket floorMod(10,8)=2) —
    // runtime group filtering is row-accurate per file, so these (and
    // ONLY these) get replaced
    val affected = spark.table("graft.del_t").filter(col("user_id") === 10L)
      .select(col("_file")).distinct().collect()
      .map(r => new java.io.File(r.getString(0)).getName).toSet
    assert(affected.nonEmpty && affected.size < before.size,
      s"fixture degenerate: ${affected.size} of ${before.size} files affected")
    spark.sql("DELETE FROM graft.del_t WHERE user_id = 10")
    val after = names()
    val back = spark.table("graft.del_t").orderBy("event_id").collect()
    val expect = events.filter(col("user_id") =!= 10L).orderBy("event_id").collect()
    assert(back.length == expect.length && back.sameElements(expect))
    // group-level provenance: every file WITHOUT a matching row survives
    // with its NAME (never rewritten); every file with one is gone
    val untouched = before.diff(affected)
    assert(untouched.subsetOf(after),
      s"a file with no matching rows was rewritten: ${untouched.diff(after)}")
    assert(affected.intersect(after).isEmpty,
      s"an affected file survived the replace: ${affected.intersect(after)}")
    // the survivors' replacement files still carry the bucket layout
    // (user 42 lives in bucket floorMod(42, 8) = 2, so every affected
    // file was a k2 file and its replacement must be too)
    assert(after.diff(before).forall(n => graft.sources.GraftSnapshotTestHook.bucketOf(n) == 2))
  }

  test("row-level UPDATE rewrites ONLY the files with matching rows, applying the SET in place") {
    spark.sql("DROP TABLE IF EXISTS graft.upd_t")
    spark.sql("CREATE TABLE graft.upd_t (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog " +
      "PARTITIONED BY (bucket(8, user_id))")
    events.writeTo("graft.upd_t").append()
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), "upd_t")
    def names() = dir.listFiles().filter(_.getName.endsWith(".graftlog"))
      .map(_.getName).toSet
    val before = names()
    val affected = spark.table("graft.upd_t").filter(col("user_id") === 10L)
      .select(col("_file")).distinct().collect()
      .map(r => new java.io.File(r.getString(0)).getName).toSet
    assert(affected.nonEmpty && affected.size < before.size)
    spark.sql("UPDATE graft.upd_t SET value = value * 2 WHERE user_id = 10")
    val after = names()
    val back = spark.table("graft.upd_t").orderBy("event_id").collect()
    val expect = events.withColumn("value",
        when(col("user_id") === 10L, col("value") * 2).otherwise(col("value")))
      .orderBy("event_id").collect()
    assert(back.length == expect.length && back.sameElements(expect))
    assert(before.diff(affected).subsetOf(after),
      "a file with no matching rows was rewritten by UPDATE")
    assert(affected.intersect(after).isEmpty, "an affected file survived the UPDATE replace")
  }

  test("MERGE INTO upserts: matched rows update, unmatched source rows insert, provenance holds") {
    spark.sql("DROP TABLE IF EXISTS graft.mrg_t")
    spark.sql("CREATE TABLE graft.mrg_t (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog " +
      "PARTITIONED BY (bucket(8, user_id))")
    events.writeTo("graft.mrg_t").append()
    // source: corrections for user 10's events (value zeroed) plus brand-new
    // events beyond the fixture's event_id domain
    val src = events.filter(col("user_id") === 10L)
      .withColumn("value", lit(0.0))
      .unionByName(events.filter(col("event_id") < 5)
        .withColumn("event_id", col("event_id") + 1000000L)
        .withColumn("event_type", lit("merged")))
    src.createOrReplaceTempView("mrg_src")
    spark.sql("""MERGE INTO graft.mrg_t t USING mrg_src s ON t.event_id = s.event_id
      WHEN MATCHED THEN UPDATE SET t.value = s.value
      WHEN NOT MATCHED THEN INSERT *""")
    val back = spark.table("graft.mrg_t").orderBy("event_id").collect()
    val expect = events
      .withColumn("value", when(col("user_id") === 10L, lit(0.0)).otherwise(col("value")))
      .unionByName(events.filter(col("event_id") < 5)
        .withColumn("event_id", col("event_id") + 1000000L)
        .withColumn("event_type", lit("merged")))
      .orderBy("event_id").collect()
    assert(back.length == expect.length && back.sameElements(expect))
  }

  test("group-selection pushdown: with runtime group filtering OFF, the command condition still prunes the rewrite to the affected bucket") {
    spark.sql("DROP TABLE IF EXISTS graft.del_s")
    spark.sql("CREATE TABLE graft.del_s (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog " +
      "PARTITIONED BY (bucket(8, user_id))")
    events.writeTo("graft.del_s").append()
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), "del_s")
    def names() = dir.listFiles().filter(_.getName.endsWith(".graftlog"))
      .map(_.getName).toSet
    val before = names()
    val k2 = before.filter(n => graft.sources.GraftSnapshotTestHook.bucketOf(n) == 2)
    assert(k2.nonEmpty && k2.size < before.size)
    val key = "spark.sql.optimizer.runtime.rowLevelOperationGroupFilter.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try spark.sql("DELETE FROM graft.del_s WHERE user_id = 10")
    finally spark.conf.set(key, prev)
    val after = names()
    // bucket-granular static pruning: every non-bucket-2 file untouched,
    // every bucket-2 file replaced (no runtime filter to go file-accurate)
    assert(before.diff(k2).subsetOf(after),
      s"static pruning rewrote an unaffected bucket: ${before.diff(k2).diff(after)}")
    assert(k2.intersect(after).isEmpty,
      s"an affected-bucket file survived the static-pruned replace: ${k2.intersect(after)}")
    val back = spark.table("graft.del_s").orderBy("event_id").collect()
    val expect = events.filter(col("user_id") =!= 10L).orderBy("event_id").collect()
    assert(back.length == expect.length && back.sameElements(expect))
  }

  test("CALL graft.system.compact merges small files per bucket; rows, order and layout survive byte-identically") {
    spark.sql("DROP TABLE IF EXISTS graft.cmp_t")
    spark.sql("CREATE TABLE graft.cmp_t (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog " +
      "PARTITIONED BY (bucket(4, user_id))")
    // five small appends -> ~5 files per touched bucket
    (0 until 5).foreach { i =>
      events.filter(col("event_id") % 5 === i).writeTo("graft.cmp_t").append()
    }
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), "cmp_t")
    def files() = dir.listFiles().filter(_.getName.endsWith(".graftlog"))
    val before = files().length
    assert(before >= 10, s"fixture degenerate: only $before files before compaction")
    val preRows = spark.table("graft.cmp_t").orderBy("event_id").collect()
    // publish-order row stream (no ORDER BY; bucketed partitions chain
    // their files in publish order): pin it survives compaction
    val preStream = spark.table("graft.cmp_t").collect()
    val summary = spark.sql(
      "CALL graft.system.compact(table => 'cmp_t', target_mb => 64)").collect()
    assert(summary.length == 1)
    val after = files()
    assert(summary(0).getInt(0) == before && summary(0).getInt(1) == after.length)
    assert(after.length == 4, // one merged file per touched bucket at 64 MiB
      s"expected 4 compacted files (one per bucket), got ${after.length}")
    // layout survives: every file still k-tagged, per-bucket key purity
    after.foreach { f =>
      val tok = graft.sources.GraftSnapshotTestHook.bucketOf(f.getName)
      assert(tok >= 0 && tok < 4, s"compacted file lost its bucket token: ${f.getName}")
    }
    val back = spark.table("graft.cmp_t")
    assert(back.rdd.getNumPartitions == 4)
    assert(back.orderBy("event_id").collect().sameElements(preRows))
    // byte-concatenation in publish order preserves the global stream
    assert(spark.table("graft.cmp_t").collect().sameElements(preStream),
      "compaction changed the publish-order row stream")
    // idempotence: nothing left to merge -> no-op summary
    val again = spark.sql(
      "CALL graft.system.compact(table => 'cmp_t', target_mb => 64)").collect()
    assert(again(0).getInt(0) == 4 && again(0).getInt(1) == 4 && again(0).getLong(2) == 0L)
    assert(files().map(_.getName).toSet == after.map(_.getName).toSet,
      "a no-op compaction rewrote files")
  }

  test("CALL graft.system.expire enforces the stamp horizon: old publishes and aged tmps go, legacy names never do") {
    spark.sql("DROP TABLE IF EXISTS graft.exp_t")
    spark.sql("CREATE TABLE graft.exp_t (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog")
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), "exp_t")
    val a = events.filter(col("event_id") < 300)
    val b = events.filter(col("event_id") >= 300)
    a.writeTo("graft.exp_t").append()
    val t = dir.listFiles().filter(_.getName.endsWith(".graftlog"))
      .map(f => graft.sources.GraftLog.stampOf(f.getName)).max
    b.writeTo("graft.exp_t").append()
    // a legacy (unstamped) file and two orphan tmps: one aged, one fresh
    val legacy = new java.io.File(dir, "foreign-legacy.graftlog")
    java.nio.file.Files.copy(
      dir.listFiles().filter(_.getName.endsWith(".graftlog")).head.toPath, legacy.toPath)
    val legacyRows = spark.table("graft.exp_t").count() // includes the copy now
    val aged = new java.io.File(dir, "orphan-aged.tmp")
    val fresh = new java.io.File(dir, "orphan-fresh.tmp")
    java.nio.file.Files.writeString(aged.toPath, "x")
    java.nio.file.Files.writeString(fresh.toPath, "x")
    assert(aged.setLastModified(System.currentTimeMillis() - 2L * 3600 * 1000))
    val summary = spark.sql(
      s"CALL graft.system.expire(table => 'exp_t', before_stamp => ${t + 1}L)").collect()
    assert(summary.length == 1)
    // chunk A's stamped files are gone; chunk B's and the legacy file stay
    val names = dir.listFiles().map(_.getName).toSet
    assert(names.contains("foreign-legacy.graftlog"),
      "retention deleted a file of unknown age (legacy name)")
    assert(!names.contains("orphan-aged.tmp"), "aged orphan tmp survived")
    assert(names.contains("orphan-fresh.tmp"),
      "a tmp inside the grace window was deleted (would break in-flight writes)")
    names.filter(_.endsWith(".graftlog")).filterNot(_ == "foreign-legacy.graftlog")
      .foreach { n =>
        assert(graft.sources.GraftLog.stampOf(n) > t, s"expired-range file survived: $n")
      }
    assert(summary(0).getInt(2) == 1, "tmps_deleted must count only the aged orphan")
    // read-back: chunk B + the legacy copy's rows (legacy mirrors one A-file)
    val remaining = spark.table("graft.exp_t").count()
    assert(remaining == legacyRows - a.count(),
      s"expected chunk B + legacy rows, got $remaining")
    fresh.delete() // leave the fixture tidy for other tests
  }

  test("DELETE with no matching rows leaves the landing untouched; whole-table DELETE is a metadata truncate") {
    spark.sql("DROP TABLE IF EXISTS graft.del_u")
    spark.sql("CREATE TABLE graft.del_u (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog")
    events.writeTo("graft.del_u").append()
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), "del_u")
    def names() = dir.listFiles().filter(_.getName.endsWith(".graftlog"))
      .map(_.getName).toSet
    val before = names()
    spark.sql("DELETE FROM graft.del_u WHERE user_id = -1") // matches nothing
    assert(names() == before, "a no-op DELETE rewrote files")
    assert(spark.table("graft.del_u").count() == events.count())
    // no WHERE -> SupportsDeleteV2 truncate: all files unlinked, no job
    spark.sql("DELETE FROM graft.del_u")
    assert(names().isEmpty, "whole-table DELETE left files behind")
    assert(spark.table("graft.del_u").count() == 0)
  }

  test("merge-on-read DELETE: position-delete file published, NO data file rewritten, compact absorbs") {
    import graft.sources.GraftSnapshotTestHook
    spark.sql("DROP TABLE IF EXISTS graft.mor_t")
    spark.sql("CREATE TABLE graft.mor_t (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog " +
      "PARTITIONED BY (bucket(4, user_id)) " +
      "TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    events.writeTo("graft.mor_t").append()
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), "mor_t")
    def dataNames() = dir.listFiles().filter(_.getName.endsWith(".graftlog"))
      .map(_.getName).toSet
    def delNames() = dir.listFiles().filter(_.getName.endsWith(".graftdel"))
      .map(_.getName).toSet
    val before = dataNames()
    val victimId = events.orderBy("event_id").limit(1)
      .collect()(0).getLong(0)
    // 1-row DELETE: the r15 verdict's criterion verbatim — no rewritten
    // data file, one position-delete file
    spark.sql(s"DELETE FROM graft.mor_t WHERE event_id = $victimId")
    assert(dataNames() == before,
      "a merge-on-read point DELETE moved data files")
    assert(delNames().size == 1, s"expected 1 delete file, got ${delNames()}")
    assert(spark.table("graft.mor_t").count() == events.count() - 1)
    assert(spark.table("graft.mor_t")
      .filter(col("event_id") === victimId).count() == 0)
    // a broader second DELETE stacks more position deletes, still no
    // data-file motion; reads compose both delete files
    spark.sql("DELETE FROM graft.mor_t WHERE event_type = 'error'")
    assert(dataNames() == before,
      "a merge-on-read predicate DELETE moved data files")
    val expect = events.filter(col("event_id") =!= victimId &&
      col("event_type") =!= "error")
    assert(spark.table("graft.mor_t").orderBy("event_id").collect()
      .sameElements(expect.orderBy("event_id").collect()))
    // every read path sees the deletes: TopN and agg pushdown modes run
    // the same cursor
    assert(spark.table("graft.mor_t")
      .filter(col("event_type") === "error").count() == 0)
    val aggBack = spark.table("graft.mor_t")
      .agg(count(lit(1))).collect()(0).getLong(0)
    assert(aggBack == expect.count(), "agg pushdown path missed position deletes")
    // compaction ABSORBS: deletes applied, delete files retired, rows
    // unchanged, per-bucket layout intact
    spark.sql("CALL graft.system.compact(table => 'mor_t', target_mb => 64)").collect()
    assert(delNames().isEmpty, "compaction left absorbed delete files behind")
    assert(GraftSnapshotTestHook.deleteFiles(dir.getPath).isEmpty)
    assert(dataNames().size == 4, s"expected 4 compacted files, got ${dataNames()}")
    assert(spark.table("graft.mor_t").orderBy("event_id").collect()
      .sameElements(expect.orderBy("event_id").collect()),
      "compaction with delete absorption changed the row set")
    // whole-table DELETE still takes the metadata truncate, mode-agnostic
    spark.sql("DELETE FROM graft.mor_t")
    assert(dataNames().isEmpty && spark.table("graft.mor_t").count() == 0)
  }

  test("merge-on-read UPDATE/MERGE: originals untouched, replacements appended bucket-routed, one atomic swap") {
    spark.sql("DROP TABLE IF EXISTS graft.morw_t")
    spark.sql("CREATE TABLE graft.morw_t (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog " +
      "PARTITIONED BY (bucket(4, user_id)) " +
      "TBLPROPERTIES ('update.mode'='merge-on-read', 'merge.mode'='merge-on-read')")
    events.writeTo("graft.morw_t").append()
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), "morw_t")
    def dataNames() = dir.listFiles().filter(_.getName.endsWith(".graftlog"))
      .map(_.getName).toSet
    def delNames() = dir.listFiles().filter(_.getName.endsWith(".graftdel"))
      .map(_.getName).toSet
    val before = dataNames()
    // UPDATE: every original file survives byte-identical; replacements
    // land in NEW files; read-back composes deletes + replacements
    spark.sql("UPDATE graft.morw_t SET value = value + 1000 WHERE event_type = 'signup'")
    assert(before.subsetOf(dataNames()),
      "a merge-on-read UPDATE moved original data files")
    val added = dataNames() -- before
    assert(added.nonEmpty && delNames().nonEmpty,
      s"expected appended replacement files + delete files, got +$added ${delNames()}")
    // bucket routing: appended files carry k-tokens and key purity holds
    added.foreach { n =>
      val tok = graft.sources.GraftSnapshotTestHook.bucketOf(n)
      assert(tok >= 0 && tok < 4, s"replacement file lost its bucket token: $n")
    }
    val expect = events.withColumn("value",
      when(col("event_type") === "signup", col("value") + 1000).otherwise(col("value")))
    assert(spark.table("graft.morw_t").orderBy("event_id").collect()
      .sameElements(expect.orderBy("event_id").collect()))
    // metadata sanity: per-bucket purity via _bucket over everything
    assert(spark.table("graft.morw_t")
      .filter(col("_bucket") =!= pmod(col("user_id"), lit(4)).cast("int"))
      .count() == 0)
    // MERGE: matched rows delete+reinsert, unmatched insert; still no
    // original motion
    val preMerge = dataNames()
    events.limit(50).withColumn("event_id", col("event_id") + 5000000L)
      .withColumn("event_type", lit("upserted"))
      .createOrReplaceTempView("morw_src")
    spark.sql("""MERGE INTO graft.morw_t t USING morw_src s
      ON t.event_id = s.event_id
      WHEN NOT MATCHED THEN INSERT *""")
    assert(preMerge.subsetOf(dataNames()),
      "a merge-on-read MERGE moved original data files")
    assert(spark.table("graft.morw_t")
      .filter(col("event_type") === "upserted").count() == 50)
    // compaction absorbs the whole delta state
    spark.sql("CALL graft.system.compact(table => 'morw_t', target_mb => 64)").collect()
    assert(delNames().isEmpty, "compaction left absorbed delete files behind")
    assert(spark.table("graft.morw_t").count() == events.count() + 50)
    assert(spark.table("graft.morw_t")
      .filter(col("event_type") === "signup" && col("value") <= 1000).count() == 0,
      "compaction resurrected pre-update rows")
  }

  test("schema evolution: ADD COLUMN null-fills old records, carries new ones, declines unsafe changes") {
    spark.sql("DROP TABLE IF EXISTS graft.evo_t")
    spark.sql("CREATE TABLE graft.evo_t (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog")
    val oldChunk = events.filter(col("event_id") % 2 === 0)
    val newChunk = events.filter(col("event_id") % 2 =!= 0)
    oldChunk.writeTo("graft.evo_t").append()
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), "evo_t")
    val preFiles = dir.listFiles().filter(_.getName.endsWith(".graftlog"))
      .map(f => (f.getName, f.length())).toSet
    spark.sql("ALTER TABLE graft.evo_t ADD COLUMNS (score DOUBLE, tag STRING)")
    // evolution is METADATA-ONLY: no data file moved or rewritten
    assert(dir.listFiles().filter(_.getName.endsWith(".graftlog"))
      .map(f => (f.getName, f.length())).toSet == preFiles,
      "ALTER TABLE touched data files")
    assert(spark.table("graft.evo_t").schema.fieldNames.toSeq ==
      Seq("event_id", "user_id", "value", "event_type", "score", "tag"))
    // old records read back NULL-FILLED
    val olds = spark.table("graft.evo_t")
    assert(olds.count() == oldChunk.count())
    assert(olds.filter(col("score").isNotNull || col("tag").isNotNull).count() == 0,
      "pre-evolution records must null-fill added columns")
    // new-generation records carry values; both generations coexist
    newChunk.withColumn("score", col("value") * 2)
      .withColumn("tag", upper(col("event_type")))
      .writeTo("graft.evo_t").append()
    val back = spark.table("graft.evo_t")
    assert(back.count() == events.count())
    assert(back.filter(col("event_id") % 2 =!= 0 &&
      (col("score") =!= col("value") * 2 || col("tag") =!= upper(col("event_type"))))
      .count() == 0, "new-generation rows lost their added-column values")
    // nulls in the tail round-trip too (present-marker 0, not a crash)
    spark.sql("INSERT INTO graft.evo_t VALUES (9000001, 1, 1.0, 'probe', NULL, NULL)")
    val probe = spark.table("graft.evo_t").filter(col("event_id") === 9000001L).collect()
    assert(probe.length == 1 && probe(0).isNullAt(4) && probe(0).isNullAt(5))
    // a filter on an added column is NOT pushed (ordinal() declines) but
    // answers correctly above the scan — including over null-filled rows
    val hi = spark.table("graft.evo_t").filter(col("score") > 500.0)
    assert(hi.count() ==
      newChunk.filter(col("value") * 2 > 500.0).count())
    // row-level command on an evolved table: the rewrite carries the tail
    spark.sql("DELETE FROM graft.evo_t WHERE event_type = 'error'")
    val postDel = spark.table("graft.evo_t")
    assert(postDel.filter(col("event_type") === "error").count() == 0)
    assert(postDel.filter(col("event_id") % 2 =!= 0 && col("score").isNull &&
      col("event_id") < 9000000L).count() == 0,
      "rewrite dropped added-column values")
    // unsafe changes are rejected loudly (RENAME/DROP of EVOLVED columns
    // became supported in round 19 — see the slot-positional spec; base
    // columns and type changes stay refused)
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.evo_t ADD COLUMNS (bad TIMESTAMP)") }
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.evo_t ADD COLUMNS (score DOUBLE)") }
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.evo_t DROP COLUMN event_id") }
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.evo_t RENAME COLUMN value TO v2") }
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.evo_t ALTER COLUMN score TYPE STRING") }
  }

  test("time travel: VERSION/TIMESTAMP AS OF resolve the manifest history; pinned tables are read-only") {
    spark.sql("DROP TABLE IF EXISTS graft.tt_t")
    spark.sql("CREATE TABLE graft.tt_t (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog")
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), "tt_t").getPath
    val a = events.filter(col("event_id") < 300)
    val b = events.filter(col("event_id") >= 300)
    a.writeTo("graft.tt_t").append()
    val v1 = graft.sources.GraftLog.latestSnapshotStamp(dir)
    assert(v1 > 0)
    b.writeTo("graft.tt_t").append()
    val v2 = graft.sources.GraftLog.latestSnapshotStamp(dir)
    assert(v2 > v1)
    // current read: both chunks; AS OF v1: chunk A exactly; AS OF v2 = current
    assert(spark.table("graft.tt_t").count() == a.count() + b.count())
    val asofA = spark.sql(
      s"SELECT * FROM graft.tt_t VERSION AS OF '$v1' ORDER BY event_id").collect()
    assert(asofA.sameElements(a.orderBy("event_id").collect()),
      "VERSION AS OF v1 must return exactly the first ingest")
    assert(spark.sql(s"SELECT * FROM graft.tt_t VERSION AS OF '$v2'").count()
      == a.count() + b.count())
    // TIMESTAMP AS OF takes a timestamp; Spark hands the catalog MICROS.
    // v1 millis -> a timestamp strictly between v1 and v2 pins chunk A.
    val tsLit = new java.sql.Timestamp(v1).toInstant.toString
    val asofTs = spark.sql(
      s"SELECT * FROM graft.tt_t TIMESTAMP AS OF '$tsLit' ORDER BY event_id").collect()
    assert(asofTs.sameElements(asofA), "TIMESTAMP AS OF disagrees with VERSION AS OF")
    // the path-read option is the same resolution
    val viaOption = spark.read.format("graftlog")
      .option("asOfStamp", v1.toString).load(dir).orderBy("event_id").collect()
    assert(viaOption.sameElements(asofA))
    // below the oldest retained manifest: a LOUD error — an expired
    // version must never silently resolve to the empty table
    intercept[Exception] {
      spark.sql("SELECT * FROM graft.tt_t VERSION AS OF '1'").collect() }
    // a pinned table rejects writes and row-level commands loudly
    intercept[Exception] {
      spark.sql(s"INSERT INTO graft.tt_t VERSION AS OF '$v1' VALUES (1,1,1.0,'x')") }
    // a manifest-less landing has no history to travel
    val legacy = Scratch.dir("graft_tt_legacy")
    events.limit(5).write.format("graftlog").mode("append").save(legacy)
    new java.io.File(legacy).listFiles()
      .filter(_.getName.endsWith(".graftsnap")).foreach(_.delete())
    intercept[Exception] {
      spark.read.format("graftlog").option("asOfStamp", s"$v1")
        .load(legacy).collect() }
  }

  test("snapshot retention: history survives rewrites and compaction until expire's horizon GCs it") {
    spark.sql("DROP TABLE IF EXISTS graft.ret_t")
    spark.sql("CREATE TABLE graft.ret_t (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog " +
      "TBLPROPERTIES ('snapshot.retain'='true')")
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), "ret_t")
    def dataNames() = dir.listFiles().filter(_.getName.endsWith(".graftlog"))
      .map(_.getName).toSet
    events.writeTo("graft.ret_t").append()
    val v1 = graft.sources.GraftLog.latestSnapshotStamp(dir.getPath)
    val origFiles = dataNames()
    // CoW DELETE on a retaining table: replaced files stay ON DISK
    spark.sql("DELETE FROM graft.ret_t WHERE event_type = 'click'")
    assert(origFiles.subsetOf(dataNames()),
      "a retaining table's rewrite unlinked historical files")
    val survivors = events.filter(col("event_type") =!= "click")
    assert(spark.table("graft.ret_t").count() == survivors.count())
    // full history readable: deleted rows included
    assert(spark.sql(s"SELECT * FROM graft.ret_t VERSION AS OF '$v1'").count()
      == events.count(),
      "VERSION AS OF across a retained rewrite lost rows")
    // compaction also retains its inputs; history still reads the originals
    val v2 = graft.sources.GraftLog.latestSnapshotStamp(dir.getPath)
    spark.sql("CALL graft.system.compact(table => 'ret_t', target_mb => 64)").collect()
    assert(spark.sql(s"SELECT * FROM graft.ret_t VERSION AS OF '$v1'").count()
      == events.count())
    assert(spark.sql(s"SELECT * FROM graft.ret_t VERSION AS OF '$v2'").count()
      == survivors.count())
    assert(spark.table("graft.ret_t").orderBy("event_id").collect()
      .sameElements(survivors.orderBy("event_id").collect()))
    // expire_snapshots is the HISTORY GC (distinct from expire's DATA
    // horizon, which would also age out the current compacted file's
    // origin-stamped rows): superseded manifests below the horizon go,
    // then every stamped file referenced by no remaining manifest —
    // current data untouched by construction, and the historical read
    // then fails LOUDLY, never silently partial
    val horizon = graft.sources.GraftLog.latestSnapshotStamp(dir.getPath) + 1
    val summary = spark.sql(
      s"CALL graft.system.expire_snapshots(table => 'ret_t', before_stamp => ${horizon}L)").collect()
    assert(summary.length == 1 && summary(0).getInt(0) > 0 && summary(0).getInt(1) > 0,
      s"expected manifests + files GC'd, got ${summary.mkString}")
    assert(spark.table("graft.ret_t").orderBy("event_id").collect()
      .sameElements(survivors.orderBy("event_id").collect()),
      "expire_snapshots damaged the current snapshot")
    intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.ret_t VERSION AS OF '$v1'").collect() }
    // INSERT OVERWRITE on a retaining table also keeps its pre-overwrite
    // history readable (the batch truncate path honors retention too)
    val v3 = graft.sources.GraftLog.latestSnapshotStamp(dir.getPath)
    val filesBeforeOw = dataNames()
    events.limit(100).createOrReplaceTempView("ret_ow_src")
    spark.sql("INSERT OVERWRITE graft.ret_t SELECT * FROM ret_ow_src")
    assert(spark.table("graft.ret_t").count() == 100)
    assert(filesBeforeOw.subsetOf(dataNames()),
      "a retaining table's OVERWRITE unlinked historical files")
    assert(spark.sql(s"SELECT * FROM graft.ret_t VERSION AS OF '$v3'").count()
      == survivors.count(),
      "VERSION AS OF across a retained OVERWRITE lost the pre-overwrite table")
  }

  test("expire_snapshots on a manifest-less (legacy) landing is a NO-OP, never a table wipe") {
    // With zero manifests nothing is provably unreferenced — the r16
    // advice (high): before the guard, every stamped file was classified
    // as garbage and the first expire_snapshots deleted the entire table.
    val legacy = Scratch.dir("graft_es_legacy")
    events.limit(50).repartition(2).write.format("graftlog").mode("append").save(legacy)
    new java.io.File(legacy).listFiles()
      .filter(_.getName.endsWith(".graftsnap")).foreach(f => assert(f.delete()))
    val before = spark.read.format("graftlog").load(legacy).count()
    assert(before == 50)
    val (ms, fs, bytes) =
      graft.sources.GraftLog.expireSnapshots(legacy, Long.MaxValue)
    assert(ms == 0 && fs == 0 && bytes == 0L,
      s"manifest-less expire_snapshots must be a no-op, got ($ms, $fs, $bytes)")
    assert(spark.read.format("graftlog").load(legacy).count() == before,
      "expire_snapshots deleted data from a manifest-less landing")
  }

  test("a foreign .graftsnap name never shadows the snapshot pointer") {
    // manifestStamp = -1 names pass every AS-OF ceiling and can sort last
    // (r16 advice): selection is restricted to validly-stamped names, so
    // 'zzz.graftsnap' must be invisible to resolve/resolveAsOf/expire.
    val landing = Scratch.dir("graft_foreign_snap")
    events.limit(40).write.format("graftlog").mode("append").save(landing)
    val v1 = graft.sources.GraftLog.latestSnapshotStamp(landing)
    assert(v1 > 0)
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(landing, "zzz.graftsnap"), "not a manifest\n")
    assert(spark.read.format("graftlog").load(landing).count() == 40,
      "a foreign manifest name shadowed the live snapshot")
    assert(graft.sources.GraftLog.latestSnapshotStamp(landing) == v1,
      "the version handle moved on a foreign manifest name")
    assert(spark.read.format("graftlog").option("asOfStamp", v1.toString)
      .load(landing).count() == 40,
      "time travel resolved a foreign manifest name")
    // maintenance survives it too: expire at horizon 0 must not try to
    // parse (or delete) the foreign name, and the landing stays intact
    graft.sources.GraftLog.expire(landing, 0L)
    assert(spark.read.format("graftlog").load(landing).count() == 40)
  }

  test("STREAMING epoch commits honor snapshot retention: history survives Complete-mode truncates") {
    // The r16 advice (medium): the streaming write previously never
    // received the table's retain flag, so Complete-mode epochs — which
    // victim every data file — unconditionally unlinked them, leaving
    // retained manifests pointing at deleted files and breaking VERSION
    // AS OF across any streamed epoch.
    import org.apache.spark.sql.streaming.Trigger
    spark.sql("DROP TABLE IF EXISTS graft.sret_t")
    spark.sql("CREATE TABLE graft.sret_t (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog " +
      "TBLPROPERTIES ('snapshot.retain'='true')")
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), "sret_t").getPath
    val in = Scratch.dir("graft_sret_in")
    val slice = events.orderBy("event_id").limit(60)
    // two input files -> two Complete-mode epochs (maxFilesPerTrigger=1),
    // each truncating the table and publishing the full aggregate
    slice.filter(col("event_id") % 2 === 0).write.format("graftlog").mode("append").save(in)
    slice.filter(col("event_id") % 2 === 1).write.format("graftlog").mode("append").save(in)
    val q = spark.readStream.format("graftlog")
      .option("maxFilesPerTrigger", "1").load(in)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("event_id"), min(col("user_id")).as("user_id"),
        max(col("value")).as("value"))
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .writeStream
      .option("checkpointLocation", Scratch.streamCkptDir("graft_sret_ckpt"))
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .toTable("graft.sret_t")
    q.awaitTermination()
    val stamps = graft.sources.GraftSnapshotTestHook.manifestStamps(dir)
    assert(stamps.length >= 2, s"expected one manifest per epoch, got $stamps")
    // epoch 0 saw only the first input file: AS OF its manifest = the
    // aggregate of the even slice, still readable AFTER epoch 1's truncate
    val expectedE0 = slice.filter(col("event_id") % 2 === 0)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("event_id"), min(col("user_id")).as("user_id"),
        max(col("value")).as("value"))
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .orderBy("event_type").collect()
    val asOfE0 = spark.sql(
      s"SELECT * FROM graft.sret_t VERSION AS OF '${stamps.head}' ORDER BY event_type").collect()
    assert(asOfE0.sameElements(expectedE0),
      "VERSION AS OF the first streamed epoch is unreadable or wrong — " +
        "the epoch commit unlinked retained files")
    // the current table is epoch 1's full aggregate
    val expectedNow = slice.groupBy(col("event_type"))
      .agg(count(lit(1)).as("event_id"), min(col("user_id")).as("user_id"),
        max(col("value")).as("value"))
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .orderBy("event_type").collect()
    assert(spark.table("graft.sret_t").orderBy("event_type").collect()
      .sameElements(expectedNow))
  }

  // ----- round 18: CAS'd metadata swaps + snapshot tags -------------------

  test("two interleaved ADD COLUMNs both survive the metadata CAS; a duplicate conflicts loudly") {
    // r17 verdict #4: ALTER was a blind rename-over — the last writer's
    // metadata view clobbered a concurrent ALTER's column. Versioned
    // metadata + renameExclusive now arbitrate: distinct columns rebase
    // (both survive, in CAS order); the same name twice fails loudly.
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog, TableChange}
    import org.apache.spark.sql.types.{DoubleType, LongType}
    spark.sql("CREATE TABLE graft.alt_cas (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog")
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[TableCatalog]
    val ident = Identifier.of(Array.empty, "alt_cas")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq("cas_c1" -> LongType, "cas_c2" -> DoubleType).map {
      case (n, dt) => new Thread(() =>
        try { cat.alterTable(ident, TableChange.addColumn(Array(n), dt)); () }
        catch { case t: Throwable => errs.add(t); () })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent distinct ADD COLUMNs must both land: $errs")
    val cols = spark.table("graft.alt_cas").columns.toSet
    assert(cols.contains("cas_c1") && cols.contains("cas_c2"),
      s"a concurrent ALTER was lost: $cols")
    // duplicate name: loud conflict, not a silent no-op or overwrite
    intercept[graft.sources.GraftConflictException] {
      cat.alterTable(ident, TableChange.addColumn(Array("cas_c1"), LongType))
    }
    // the versioned metadata trail: v0 (create) + one per ALTER
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), "alt_cas")
    val metas = dir.listFiles().map(_.getName)
      .filter(n => n.startsWith("_graft_table.") && n.endsWith(".json")).sorted
    assert(metas.length == 3, s"expected metadata versions 0..2, got ${metas.toSeq}")
    // evolved writes/reads still work
    events.limit(2).withColumn("cas_c1", lit(7L)).withColumn("cas_c2", lit(0.5))
      .writeTo("graft.alt_cas").append()
    assert(spark.table("graft.alt_cas").filter(col("cas_c1") === 7L).count() == 2)
  }

  test("empty-string bounds on an evolved STRING column round-trip through the manifest") {
    // r18 advice (high): a file whose evolved STRING column holds only
    // empty strings encodes its W token as 's:<p>::' — Java's default
    // split drops the trailing empty tokens and every later resolve of
    // the table failed on its own committed manifest.
    spark.sql("CREATE TABLE graft.empty_s (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog")
    spark.sql("ALTER TABLE graft.empty_s ADD COLUMN tag_s STRING")
    events.limit(8).withColumn("tag_s", lit(""))
      .writeTo("graft.empty_s").append()
    // the read below re-resolves the manifest, i.e. re-parses the token
    assert(spark.table("graft.empty_s").count() == 8)
    assert(spark.table("graft.empty_s").filter(col("tag_s") === "").count() == 8)
    // mixed empty/non-empty bounds round-trip too (empty min, real max)
    events.limit(4).withColumn("tag_s",
        when(col("event_id") % 2 === 0, lit("")).otherwise(lit("zz")))
      .writeTo("graft.empty_s").append()
    assert(spark.table("graft.empty_s").count() == 12)
    assert(spark.table("graft.empty_s").filter(col("tag_s") === "zz").count() >= 1)
  }

  test("a NaN comparison literal prunes in Spark's NaN-greatest direction, never against it") {
    // r18 advice (low): under Spark's ordering NaN is GREATER than every
    // double, so `col < NaN` / `<=` holds for every non-NaN row — a
    // zone map that treated a NaN literal as prune-everything silently
    // emptied the query. =/>/>= stay prunable: bounds-bearing files
    // provably contain no NaN in that column.
    spark.sql("CREATE TABLE graft.nan_lit (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog")
    spark.sql("ALTER TABLE graft.nan_lit ADD COLUMN score DOUBLE")
    val rows = events.limit(64)
      .withColumn("score",
        when(col("event_id") % 7 === 0, lit(null).cast("double"))
          .otherwise(col("value")))
    rows.repartitionByRange(4, col("score")).sortWithinPartitions("score")
      .writeTo("graft.nan_lit").append()
    val nonNull = rows.filter(col("score").isNotNull).count()
    val t = spark.table("graft.nan_lit")
    val nan = lit(Double.NaN)
    // evolved column (hint-pruning path)
    assert(t.filter(col("score") < nan).count() == nonNull,
      "score < NaN must keep every non-null row")
    assert(t.filter(col("score") <= nan).count() == nonNull)
    assert(t.filter(col("score") > nan).count() == 0)
    assert(t.filter(col("score") >= nan).count() == 0)
    assert(t.filter(col("score") === nan).count() == 0)
    // base column (claimed-pushdown path): every row has a non-NaN value
    assert(t.filter(col("value") < nan).count() == 64,
      "value < NaN must keep every row")
    assert(t.filter(col("value") > nan).count() == 0)
  }

  test("CREATE TABLE on a directory holding LEGACY metadata fails loudly, never shadows it") {
    // r18 advice (medium): the versioned seq-0 claim does not collide
    // with a pre-r18 bare `_graft_table.json`; CREATE must detect the
    // legacy table and report TableAlreadyExists instead of silently
    // shadowing its layout.
    val warehouse = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val dir = new java.io.File(warehouse, "legacy_t")
    assert(dir.mkdirs())
    java.nio.file.Files.writeString(
      new java.io.File(dir, "_graft_table.json").toPath, "{}\n")
    intercept[org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException] {
      val cat = spark.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      cat.createTable(
        org.apache.spark.sql.connector.catalog.Identifier.of(Array.empty, "legacy_t"),
        new org.apache.spark.sql.types.StructType(),
        Array.empty[org.apache.spark.sql.connector.expressions.Transform],
        new java.util.HashMap[String, String]())
    }
    val metas = dir.listFiles().map(_.getName).filter(_.startsWith("_graft_table."))
    assert(metas.toSeq == Seq("_graft_table.json"),
      s"CREATE must not mint versioned metadata over a legacy table: ${metas.toSeq}")
  }

  test("writable branches: staged writes invisible, atomic fast-forward publish, loud conflicts") {
    // r18 verdict #7 (stretch): tags' writable sibling — the
    // write-audit-publish pattern. Staged appends land on a branch ref
    // main readers cannot see; publish fast-forwards the accumulated
    // change in ONE CAS commit; a main commit since the fork conflicts
    // loudly; maintenance never eats staged data.
    spark.sql("CREATE TABLE graft.br_t (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog")
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), "br_t").getPath
    val w1 = events.orderBy("event_id").limit(10)
    val w2 = events.orderBy("event_id").limit(15).except(w1)
    w1.writeTo("graft.br_t").append()
    spark.sql("CALL graft.system.branch(table => 'br_t', name => 'audit')").collect()
    w2.writeTo("graft.br_t").option("branch", "audit").append()
    // isolation: main unchanged, branch sees fork + staged
    assert(spark.table("graft.br_t").count() == 10,
      "a staged branch write leaked into main")
    def branchRead() = spark.read.format("graftlog")
      .option("branch", "audit").load(dir)
    assert(branchRead().count() == 15, "branch read must see fork + staged")
    // a second staged commit chains
    events.orderBy(desc("event_id")).limit(3)
      .writeTo("graft.br_t").option("branch", "audit").append()
    assert(branchRead().count() == 18)
    assert(spark.table("graft.br_t").count() == 10)
    // maintenance never unlinks staged data and the fork stays resolvable
    val tip = sources.GraftLog.latestSnapshotStamp(dir)
    spark.sql("CALL graft.system.expire_snapshots(table => 'br_t', " +
      s"before_stamp => ${tip + 1}L)").collect()
    assert(branchRead().count() == 18,
      "expire_snapshots unlinked staged branch data")
    // atomic fast-forward publish: main flips to the accumulated change
    val pub = spark.sql("CALL graft.system.publish_branch(" +
      "table => 'br_t', name => 'audit')").collect()(0)
    assert(pub.getInt(1) >= 2, s"expected staged files published, got $pub")
    assert(spark.table("graft.br_t").count() == 18,
      "publish must fast-forward the staged appends into main")
    intercept[Exception] { branchRead().collect() } // the ref is gone
    // a FOREIGN (unstamped) file arriving mid-branch is not main
    // movement in the manifest sense: publish must rebase over it like
    // any append, never conflict spuriously
    spark.sql("CALL graft.system.branch(table => 'br_t', name => 'b3')").collect()
    events.orderBy("event_id").limit(2)
      .writeTo("graft.br_t").option("branch", "b3").append()
    val donor = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".graftlog")).minBy(_.getName)
    java.nio.file.Files.copy(donor.toPath,
      new java.io.File(dir, "foreign-import.graftlog").toPath)
    spark.sql("CALL graft.system.publish_branch(table => 'br_t', name => 'b3')").collect()
    val postForeign = spark.table("graft.br_t").count()
    assert(postForeign > 18, s"foreign + staged rows must both land, got $postForeign")
    // conflict: main moves after the fork -> publish fails loudly
    spark.sql("CALL graft.system.branch(table => 'br_t', name => 'b2')").collect()
    events.orderBy("event_id").limit(2)
      .writeTo("graft.br_t").option("branch", "b2").append()
    events.orderBy(desc("event_id")).limit(1).writeTo("graft.br_t").append()
    val err = intercept[Exception] {
      spark.sql("CALL graft.system.publish_branch(table => 'br_t', name => 'b2')").collect()
    }
    assert(err.getMessage.contains("fast-forward") ||
      Option(err.getCause).exists(_.getMessage.contains("fast-forward")),
      s"expected the fast-forward conflict, got: ${err.getMessage}")
    assert(spark.table("graft.br_t").count() == postForeign + 1,
      "a failed publish must not change main")
    // the conflict path ROLLS BACK: the branch stays readable (staged
    // names restored, journal withdrawn) so drop/re-stage both work
    assert(spark.read.format("graftlog").option("branch", "b2").load(dir)
      .count() > 0, "a conflicted publish must leave the branch readable")
    // abandon: staged files go, main intact
    val dropped = spark.sql("CALL graft.system.drop_branch(" +
      "table => 'br_t', name => 'b2')").collect()(0)
    assert(dropped.getBoolean(1))
    assert(spark.table("graft.br_t").count() == postForeign + 1)
    // branch writes refuse the shapes the contract excludes
    intercept[Exception] {
      events.limit(1).writeTo("graft.br_t").option("branch", "nope")
        .overwritePartitions()
    }
  }

  test("re-creating a dead branch's name sweeps its remnant chain before the ref CAS") {
    // round 20 (r19 advice, low): a drop/publish that crashed after the
    // ref delete but before manifest cleanup leaves snap-<name>.<seq>
    // remnants. They must be swept BEFORE the new ref CAS — once the ref
    // is visible, a concurrent commitToBranch could land a fresh branch
    // manifest in the window before a post-CAS sweep's listing, and the
    // sweep would delete a freshly COMMITTED manifest. Functional
    // contract pinned here: the re-created branch starts at the fork
    // (dead chain swept from disk), and sweeping happens pre-CAS.
    spark.sql("CREATE TABLE graft.br_dead (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog")
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), "br_dead").getPath
    events.orderBy("event_id").limit(6).writeTo("graft.br_dead").append()
    spark.sql("CALL graft.system.branch(table => 'br_dead', name => 'wk')").collect()
    events.orderBy(desc("event_id")).limit(3)
      .writeTo("graft.br_dead").option("branch", "wk").append()
    val remnants = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("snap-wk.")).toSet
    assert(remnants.nonEmpty, "fixture: the staged write must land a branch manifest")
    // simulate the drop crash: ref gone, chain manifests left behind
    assert(new java.io.File(dir, "branch-wk.graftbranch").delete())
    spark.sql("CALL graft.system.branch(table => 'br_dead', name => 'wk')").collect()
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(remnants.forall(!names.contains(_)),
      s"dead-branch remnants survived the re-create: ${remnants.intersect(names)}")
    assert(spark.read.format("graftlog").option("branch", "wk").load(dir)
      .count() == 6, "the re-created branch must start at the fork, not " +
        "chain onto the dead branch's deltas")
  }

  test("branch row-level commands: MoR DELETE/UPDATE on a branch, isolated, published, changelog-derivable") {
    // round 20 (r19 verdict #4): write-audit-publish where the audit
    // FIXES rows. The `<table>.branch_<name>` identifier loads a
    // branch-pinned table: SQL DELETE/UPDATE (merge-on-read) stage
    // their position-delete files under branch manifests, main stays
    // untouched, publish remaps staged names inside the delete files
    // and coverage, and the changelog across the publish derives.
    spark.sql("CREATE TABLE graft.br_rl (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog " +
      "TBLPROPERTIES ('snapshot.retain'='true', " +
      "'delete.mode'='merge-on-read', 'update.mode'='merge-on-read')")
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), "br_rl").getPath
    val ev = events.orderBy("event_id").limit(16)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
    val ids = ev.select(col("event_id")).collect().map(_.getLong(0)).sorted
    ev.filter(col("event_id") % 2 === 0).writeTo("graft.br_rl").append()
    spark.sql("CALL graft.system.branch(table => 'br_rl', name => 'fix')").collect()
    // stage the odds THROUGH the branch identifier
    ev.filter(col("event_id") % 2 === 1)
      .writeTo("graft.br_rl.branch_fix").append()
    assert(spark.table("graft.br_rl.branch_fix").count() == 16,
      "the branch identifier must read fork + staged")
    val s1 = sources.GraftLog.latestSnapshotStamp(dir)
    // the audit: kill one FORK row and one STAGED row, update a staged one
    val evenKill = ids.filter(_ % 2 == 0).head
    val oddKill = ids.filter(_ % 2 == 1).head
    val updId = ids.filter(_ % 2 == 1).last
    spark.sql(s"DELETE FROM graft.br_rl.branch_fix " +
      s"WHERE event_id IN ($evenKill, $oddKill)")
    spark.sql(s"UPDATE graft.br_rl.branch_fix SET value = 123.5 " +
      s"WHERE event_id = $updId")
    // isolation: main unchanged, branch shows the audit
    assert(spark.table("graft.br_rl").count() == 8,
      "a branch row-level command leaked into main")
    assert(spark.table("graft.br_rl")
      .filter(col("event_id") === evenKill).count() == 1,
      "the fork row deleted ON THE BRANCH must stay live on main")
    val br = spark.table("graft.br_rl.branch_fix")
    assert(br.count() == 14, "branch must show 16 - 2 deletes")
    assert(br.filter(col("event_id") === updId)
      .select(col("value")).collect()(0).getDouble(0) == 123.5,
      "the branch UPDATE must be visible on the branch")
    // publish: main becomes the audited state
    spark.sql("CALL graft.system.publish_branch(table => 'br_rl', name => 'fix')").collect()
    val mainRows = spark.table("graft.br_rl")
      .select(col("event_id"), col("value")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(mainRows.size == 14, s"published main must have 14 rows, got ${mainRows.size}")
    assert(!mainRows.contains(evenKill) && !mainRows.contains(oddKill),
      "published main must not contain the audited-out rows")
    assert(mainRows(updId) == 123.5, "published main must carry the audit's update")
    // changelog across the publish derives: the fork row killed on the
    // branch is the delete side; the staged survivors are the inserts
    val s2 = sources.GraftLog.latestSnapshotStamp(dir)
    val ch = sources.GraftLog.readChanges(spark, dir, s1, s2)
    val dels = ch.filter(col("_change_type") === "delete")
      .select(col("event_id")).collect().map(_.getLong(0)).toSet
    assert(dels == Set(evenKill),
      s"changelog deletes must be exactly the audited-out FORK row: $dels")
    val ins = ch.filter(col("_change_type") === "insert")
      .select(col("event_id"), col("value")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val wantIns = ids.filter(i => i % 2 == 1 && i != oddKill).toSet
    assert(ins.keySet == wantIns,
      s"changelog inserts must be the surviving staged rows: " +
        s"spurious ${ins.keySet -- wantIns}, missing ${wantIns -- ins.keySet}")
    assert(ins(updId) == 123.5, "the published insert must carry the audited value")
    // copy-on-write mode on a branch refuses loudly
    spark.sql("CREATE TABLE graft.br_cow (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog")
    ev.limit(4).writeTo("graft.br_cow").append()
    spark.sql("CALL graft.system.branch(table => 'br_cow', name => 'b')").collect()
    val err = intercept[Exception] {
      spark.sql("DELETE FROM graft.br_cow.branch_b WHERE event_id = 0")
    }
    assert(err.getMessage.contains("merge-on-read") ||
      Option(err.getCause).exists(_.getMessage.contains("merge-on-read")),
      s"CoW-mode branch command must refuse with guidance: ${err.getMessage}")
  }

  test("publish re-stamps: published rows are visible to incremental readers of main") {
    // round-19 review (high): staged files carry STAGING-time name
    // stamps; entering main under them would sit below any advanced
    // streaming/incremental high-water and the published rows would be
    // silently skipped. Publish renames to stamps minted at PUBLISH
    // time, so `_pub_stamp > <pre-publish max>` catches exactly them.
    spark.sql("CREATE TABLE graft.br_st (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog")
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), "br_st").getPath
    events.orderBy("event_id").limit(8).writeTo("graft.br_st").append()
    spark.sql("CALL graft.system.branch(table => 'br_st', name => 'lag')").collect()
    events.orderBy(desc("event_id")).limit(4)
      .writeTo("graft.br_st").option("branch", "lag").append()
    Thread.sleep(5) // staging-time stamps are strictly below what follows
    val hw = spark.read.format("graftlog").load(dir)
      .agg(max(col("_pub_stamp"))).collect()(0).getLong(0)
    spark.sql("CALL graft.system.publish_branch(table => 'br_st', name => 'lag')").collect()
    val fresh = spark.read.format("graftlog").load(dir)
      .filter(col("_pub_stamp") > hw)
    assert(fresh.count() == 4,
      "published rows must carry publish-time stamps (incremental " +
        s"readers past the staging stamps would lose them); got ${fresh.count()}")
    assert(spark.table("graft.br_st").count() == 12)
  }

  test("drop_branch after a main rewrite never unlinks fork-point history") {
    // round-19 review (data-loss class): the staged set must be what the
    // branch chain ADDED — diffing against the CURRENT main would
    // classify fork-point files a main compaction replaced (but retained
    // history still references) as staged, and unlink them.
    spark.sql("CREATE TABLE graft.br_gc (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog " +
      "TBLPROPERTIES ('snapshot.retain'='true')")
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), "br_gc").getPath
    events.orderBy("event_id").limit(6).repartition(2)
      .writeTo("graft.br_gc").append()
    val s1 = sources.GraftLog.latestSnapshotStamp(dir)
    spark.sql("CALL graft.system.branch(table => 'br_gc', name => 'aud')").collect()
    events.orderBy(desc("event_id")).limit(3)
      .writeTo("graft.br_gc").option("branch", "aud").append()
    // main moves: compaction replaces the fork-point files (retained on
    // disk for time travel) — the branch is now unpublishable
    spark.sql("CALL graft.system.compact(table => 'br_gc')").collect()
    intercept[Exception] {
      spark.sql("CALL graft.system.publish_branch(table => 'br_gc', name => 'aud')").collect()
    }
    val dropped = spark.sql("CALL graft.system.drop_branch(" +
      "table => 'br_gc', name => 'aud')").collect()(0)
    assert(dropped.getBoolean(1))
    // the fork-point snapshot must still read: drop unlinked ONLY the
    // branch's own staged files
    assert(spark.sql(s"SELECT count(*) FROM graft.br_gc VERSION AS OF '$s1'")
      .collect()(0).getLong(0) == 6,
      "drop_branch unlinked fork-point files that retained history references")
    assert(spark.table("graft.br_gc").count() == 6)
  }

  test("a dangling or digit-named branch neither wedges maintenance nor breaks parsing") {
    // round-19 review: (a) a branch whose fork stamp is no longer
    // retained must not wedge sweep/expire (its staged names are still
    // protected, folded from the branch chain alone); (b) a branch named
    // like a 13-digit manifest seq must not crash manifest parsing.
    spark.sql("CREATE TABLE graft.br_edge (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog")
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), "br_edge").getPath
    events.orderBy("event_id").limit(5).writeTo("graft.br_edge").append()
    // (b) the first manifest on every table is seq 1000000000000 — a
    // branch of that NAME once crashed branchSeqOf on it
    spark.sql("CALL graft.system.branch(table => 'br_edge', name => '1000000000000')").collect()
    events.orderBy(desc("event_id")).limit(2)
      .writeTo("graft.br_edge").option("branch", "1000000000000").append()
    assert(spark.read.format("graftlog").option("branch", "1000000000000")
      .load(dir).count() == 7)
    spark.sql("CALL graft.system.publish_branch(table => 'br_edge', " +
      "name => '1000000000000')").collect()
    assert(spark.table("graft.br_edge").count() == 7)
    // (a) a hand-planted DANGLING branch (fork stamp retained nowhere)
    java.nio.file.Files.writeString(
      new java.io.File(dir, "branch-ghost.graftbranch").toPath, "1\n")
    val tip = sources.GraftLog.latestSnapshotStamp(dir)
    // maintenance still runs (no resolveAsOf wedge) and prunes history
    spark.sql("CALL graft.system.expire_snapshots(table => 'br_edge', " +
      s"before_stamp => ${tip + 1}L)").collect()
    assert(spark.table("graft.br_edge").count() == 7)
    // and the dangling ref is cleanly droppable
    assert(spark.sql("CALL graft.system.drop_branch(table => 'br_edge', " +
      "name => 'ghost')").collect()(0).getBoolean(1))
  }

  test("changelog sees through an all-rows-dead compaction (absorb, not truncate)") {
    // round-19 review: a compaction whose merged outputs are ALL empty
    // commits remove-only — previously indistinguishable from a truncate
    // and refused. Compact now X-retires the absorbed delete files and
    // the commit() base shortcut yields to X-carrying changes, so the
    // changelog classifies the commit as net-zero.
    spark.sql("CREATE TABLE graft.cdf_dead (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog " +
      "TBLPROPERTIES ('snapshot.retain'='true', 'delete.mode'='merge-on-read')")
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), "cdf_dead").getPath
    events.orderBy("event_id").limit(10).writeTo("graft.cdf_dead").append()
    val s1 = sources.GraftLog.latestSnapshotStamp(dir)
    // merge-on-read DELETE of every row (a real predicate, not truncate)
    spark.sql("DELETE FROM graft.cdf_dead WHERE event_id >= 0")
    assert(spark.table("graft.cdf_dead").count() == 0)
    // the absorb: every merged output is empty -> remove-only X commit
    spark.sql("CALL graft.system.compact(table => 'cdf_dead')").collect()
    val s2 = sources.GraftLog.latestSnapshotStamp(dir)
    val changes = sources.GraftLog.readChanges(spark, dir, s1, s2)
    assert(changes.filter(col("_change_type") === "delete").count() == 10,
      "the window must carry the 10 recorded deletions")
    assert(changes.filter(col("_change_type") === "insert").count() == 0)
  }

  test("RENAME/DROP evolved columns: slot-positional history, re-add is a new slot") {
    // r18 verdict #5: the slot index is the stable field id — the record
    // tail and the W zone-map tokens are slot-positional, so RENAME is
    // metadata-only (history reads through the new name), DROP tombstones
    // the slot (bytes skipped, never re-interpreted), and re-ADDing a
    // dropped name is a NEW slot that reads all-null for history even
    // under a different type.
    spark.sql("CREATE TABLE graft.evo2 (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog")
    spark.sql("ALTER TABLE graft.evo2 ADD COLUMN a BIGINT")
    spark.sql("ALTER TABLE graft.evo2 ADD COLUMN b STRING")
    val w1 = events.orderBy("event_id").limit(10)
      .withColumn("a", col("event_id") * 10L)
      .withColumn("b", col("event_type"))
    w1.writeTo("graft.evo2").append()
    val sumA = w1.agg(sum(col("a"))).collect()(0).getLong(0)
    // RENAME: pre-rename records read through the new name
    spark.sql("ALTER TABLE graft.evo2 RENAME COLUMN a TO a2")
    assert(spark.table("graft.evo2").agg(sum(col("a2"))).collect()(0).getLong(0) == sumA,
      "pre-rename records must read through the new name")
    assert(!spark.table("graft.evo2").columns.contains("a"))
    // the slot-indexed zone maps survive the rename: a range filter on
    // the NEW name over the OLD files answers exactly
    assert(spark.table("graft.evo2").filter(col("a2") > lit(sumA)).count() == 0)
    val loA = w1.agg(min(col("a"))).collect()(0).getLong(0)
    assert(spark.table("graft.evo2").filter(col("a2") === loA).count() == 1)
    // DROP: the column leaves the schema; data stays intact
    spark.sql("ALTER TABLE graft.evo2 DROP COLUMN b")
    assert(!spark.table("graft.evo2").columns.contains("b"))
    assert(spark.table("graft.evo2").count() == 10)
    // re-ADD the dropped name with a DIFFERENT type: a fresh slot — old
    // records read NULL, new records carry it
    spark.sql("ALTER TABLE graft.evo2 ADD COLUMN b DOUBLE")
    events.orderBy(desc("event_id")).limit(4)
      .withColumn("a2", lit(7L)).withColumn("b", lit(1.5))
      .writeTo("graft.evo2").append()
    val t = spark.table("graft.evo2")
    assert(t.count() == 14)
    assert(t.filter(col("b") === 1.5).count() == 4,
      "new-slot values must read back")
    assert(t.filter(col("b").isNull).count() == 10,
      "history must read the re-added slot as null")
    // writes after the drop round-trip through compaction (the tombstone
    // slot encodes as absent; the absorb/recode paths walk it)
    spark.sql("CALL graft.system.compact(table => 'evo2')").collect()
    assert(spark.table("graft.evo2").filter(col("b") === 1.5).count() == 4)
    assert(spark.table("graft.evo2").agg(sum(col("a2"))).collect()(0).getLong(0)
      == sumA + 4 * 7L)
    // contracts stay loud: base columns are the format
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.evo2 RENAME COLUMN event_id TO eid")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.evo2 DROP COLUMN value")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.evo2 RENAME COLUMN a2 TO event_id")
    }
  }

  test("changelog read: an incremental aggregate maintained from the change feed equals the full recompute") {
    // r18 verdict #2: TABLE CHANGES between two snapshots, derived from
    // the eq-delete records — an upsert is (delete old, insert new), a
    // mid-window compaction contributes nothing (its segment maps make
    // the rewrite net-zero), and sum(at s1) + sum(inserts) - sum(deletes)
    // must equal the full recompute at s2 exactly.
    import org.apache.spark.sql.streaming.Trigger
    spark.sql("CREATE TABLE graft.cdf_t (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog " +
      "TBLPROPERTIES ('snapshot.retain'='true')")
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), "cdf_t").getPath
    val src = Scratch.dir("graft_cdf_spec_src")
    val ckpt = Scratch.streamCkptDir("graft_cdf_spec_ckpt")
    def drain(): Unit = {
      val q = spark.readStream.format("graftlog")
        .option("maxFilesPerTrigger", 2).load(src)
        .writeStream.format("graftlog")
        .option("upsertKey", "event_id")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(dir)
      q.awaitTermination()
    }
    val base = events.orderBy("event_id").limit(30)
    base.repartition(2).write.format("graftlog").mode("append").save(src)
    drain() // baseline
    val s1 = sources.GraftLog.latestSnapshotStamp(dir)
    val sumAtS1 = spark.read.format("graftlog").load(dir)
      .agg(sum(col("value"))).collect()(0).getDouble(0)
    // window: corrections (upsert: delete+insert), fresh inserts, and a
    // mid-window compaction the changelog must see through
    base.filter(col("event_id") % 3 === 0)
      .withColumn("value", col("value") * 2)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .repartition(1).write.format("graftlog").mode("append").save(src)
    events.orderBy(desc("event_id")).limit(10)
      .repartition(1).write.format("graftlog").mode("append").save(src)
    drain()
    spark.sql("CALL graft.system.compact(table => 'cdf_t')").collect()
    val s2 = sources.GraftLog.latestSnapshotStamp(dir)
    val changes = sources.GraftLog.readChanges(spark, dir, s1, s2)
    val byType = changes.groupBy(col("_change_type"))
      .agg(sum(col("value")).as("v"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), (r.getDouble(1), r.getLong(2)))).toMap
    // 10 corrected keys (of 30, %3==0) + 10 fresh inserts; 10 deletes
    assert(byType("insert")._2 == 20,
      s"expected 20 insert changes, got ${byType("insert")._2}")
    assert(byType("delete")._2 == 10,
      s"expected 10 delete changes, got ${byType("delete")._2}")
    val incremental = sumAtS1 + byType("insert")._1 - byType("delete")._1
    val full = spark.read.format("graftlog").load(dir)
      .agg(sum(col("value"))).collect()(0).getDouble(0)
    assert(math.abs(incremental - full) < 1e-9,
      s"incremental $incremental != full recompute $full")
    // the change feed is net: a corrected key's delete carries the OLD
    // value, its insert the NEW one
    val k = base.filter(col("event_id") % 3 === 0)
      .select(col("event_id"), col("value")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).head
    val rows = changes.filter(col("event_id") === k._1)
      .select(col("_change_type"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(rows("delete") == k._2 && rows("insert") == k._2 * 2,
      s"key ${k._1}: expected delete@${k._2} + insert@${k._2 * 2}, got $rows")
    // an empty window yields an empty feed with the full schema
    val empty = sources.GraftLog.readChanges(spark, dir, s2, s2)
    assert(empty.isEmpty && empty.columns.takeRight(2).toSeq ==
      Seq("_change_type", "_change_stamp"))
  }

  test("changelog read: a compacted replay re-publication is still not an insert") {
    // round 20 (r19 advice, low): replay re-publications used to be
    // excluded from the insert side by file NAME — a mid-window compact
    // that merges a re-published file preserves the replay's in-window
    // origin stamps in its segment map under a NEW name, so those
    // pre-window rows passed both the stamp predicate and the name
    // filter and were misreported as inserts. The exclusion now rides
    // the replay's publish STAMPS, which rewrites carry forward.
    import org.apache.spark.sql.streaming.Trigger
    spark.sql("CREATE TABLE graft.cdf_replay (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog " +
      "TBLPROPERTIES ('snapshot.retain'='true')")
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), "cdf_replay").getPath
    val src = Scratch.dir("graft_cdf_replay_src")
    val ckpt = Scratch.streamCkptDir("graft_cdf_replay_ckpt")
    def drain(): Unit = {
      val q = spark.readStream.format("graftlog")
        .option("maxFilesPerTrigger", 8).load(src)
        .writeStream.format("graftlog")
        .option("upsertKey", "event_id")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(dir)
      q.awaitTermination()
    }
    val wave1 = events.orderBy("event_id").limit(10)
    wave1.repartition(1).write.format("graftlog").mode("append").save(src)
    drain() // the first attempt commits BEFORE the window
    val s1 = sources.GraftLog.latestSnapshotStamp(dir)
    // simulate a sink-side replay: drop the last commit marker and
    // re-drain — the replayed epoch re-publishes wave 1 IN-window
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    val sidecar = new java.io.File(commits.last.getParentFile,
      s".${commits.last.getName}.crc")
    if (sidecar.exists()) assert(sidecar.delete())
    assert(commits.last.delete(), "fixture: could not delete the commit marker")
    drain()
    // genuine in-window inserts on DISJOINT keys
    val wave2 = events.orderBy(desc("event_id")).limit(5)
    wave2.repartition(1).write.format("graftlog").mode("append").save(src)
    drain()
    // the mid-window compact merges replay re-publications with the
    // fresh files — the re-published names disappear into merged outputs
    spark.sql("CALL graft.system.compact(table => 'cdf_replay')").collect()
    val s2 = sources.GraftLog.latestSnapshotStamp(dir)
    val changes = sources.GraftLog.readChanges(spark, dir, s1, s2)
    val ins = changes.filter(col("_change_type") === "insert")
      .select(col("event_id")).collect().map(_.getLong(0)).toSet
    val want = wave2.select(col("event_id")).collect().map(_.getLong(0)).toSet
    assert(ins == want,
      s"inserts must be exactly the fresh wave: got ${ins.size} rows, " +
        s"spurious ${ins -- want}, missing ${want -- ins}")
    assert(changes.filter(col("_change_type") === "delete").count() == 0,
      "disjoint-key waves must produce no delete changes")
  }

  test("typed changelog: update images classify corrections; incremental agg equals recompute") {
    // round 20 (r19 verdict missing #1): with updateImages on, a keyed
    // correction is its two halves typed update_preimage/update_postimage,
    // a keyed removal without replacement stays delete, a fresh key stays
    // insert — and an aggregate maintained from the typed feed equals the
    // full recompute (the MERGE-consumer contract).
    import org.apache.spark.sql.streaming.Trigger
    spark.sql("CREATE TABLE graft.cdf_u (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog " +
      "TBLPROPERTIES ('snapshot.retain'='true', 'delete.mode'='merge-on-read')")
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), "cdf_u").getPath
    val src = Scratch.dir("graft_cdf_u_src")
    val ckpt = Scratch.streamCkptDir("graft_cdf_u_ckpt")
    def drain(): Unit = {
      val q = spark.readStream.format("graftlog")
        .option("maxFilesPerTrigger", 2).load(src)
        .writeStream.format("graftlog")
        .option("upsertKey", "event_id")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(dir)
      q.awaitTermination()
    }
    val base = events.orderBy("event_id").limit(30)
    base.repartition(2).write.format("graftlog").mode("append").save(src)
    drain()
    val s1 = sources.GraftLog.latestSnapshotStamp(dir)
    val sumS1 = spark.read.format("graftlog").load(dir)
      .agg(sum(col("value"))).collect()(0).getDouble(0)
    // corrections for %3 keys, fresh inserts on disjoint keys, and a
    // keyed MoR DELETE for %7 keys (replacement-less removals)
    base.filter(col("event_id") % 3 === 0)
      .withColumn("value", col("value") * 2)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .repartition(1).write.format("graftlog").mode("append").save(src)
    base.withColumn("event_id", col("event_id") + 500000L)
      .repartition(1).write.format("graftlog").mode("append").save(src)
    drain()
    spark.sql("DELETE FROM graft.cdf_u WHERE event_id % 7 = 1 AND event_id < 500000")
    val s2 = sources.GraftLog.latestSnapshotStamp(dir)
    val ch = sources.GraftLog.readChanges(spark, dir, s1, s2, updateImages = true)
    val byType = ch.groupBy(col("_change_type"))
      .agg(sum(col("value")).as("v"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), (r.getDouble(1), r.getLong(2)))).toMap
    val ids = base.select(col("event_id")).collect().map(_.getLong(0))
    val nUpd = ids.count(id => id % 3 == 0 && !(id % 7 == 1))
    val nDel = ids.count(id => id % 7 == 1)
    val nIns = ids.length // the fresh wave is untouched by the <500000 delete
    assert(byType("update_preimage")._2 == nUpd,
      s"expected $nUpd preimages, got ${byType.get("update_preimage")}")
    assert(byType("update_postimage")._2 == nUpd,
      s"expected $nUpd postimages, got ${byType.get("update_postimage")}")
    assert(byType("delete")._2 == nDel,
      s"expected $nDel deletes, got ${byType.get("delete")}")
    assert(byType("insert")._2 == nIns,
      s"expected $nIns inserts, got ${byType.get("insert")}")
    // pre/post pair exactness on one corrected key
    val k = ids.filter(id => id % 3 == 0 && id % 7 != 1).head
    val old = base.filter(col("event_id") === k)
      .select(col("value")).collect()(0).getDouble(0)
    val rows = ch.filter(col("event_id") === k)
      .select(col("_change_type"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(rows == Map("update_preimage" -> old, "update_postimage" -> old * 2),
      s"key $k: wrong typed pair $rows")
    // the MERGE-consumer invariant
    val incremental = sumS1 + byType("insert")._1 +
      byType("update_postimage")._1 - byType("update_preimage")._1 -
      byType("delete")._1
    val full = spark.read.format("graftlog").load(dir)
      .agg(sum(col("value"))).collect()(0).getDouble(0)
    assert(math.abs(incremental - full) < 1e-9,
      s"typed incremental $incremental != full recompute $full")
    // untyped read over the SAME window is unchanged: two-valued feed
    val plain = sources.GraftLog.readChanges(spark, dir, s1, s2)
      .select(col("_change_type")).distinct().collect().map(_.getString(0)).toSet
    assert(plain == Set("insert", "delete"),
      s"untyped feed must stay two-valued, got $plain")
  }

  test("changelog read over a composite-keyed upsert window, typed and untyped") {
    // round 20: the composite eq-delete files ("eq user_id,event_type"
    // headers, canonical ':'-joined tuple lines) must feed the
    // changelog — the FROM rows of corrected TUPLES as deletes (typed
    // update_preimage when the tuple reappears), nothing for tuples
    // sharing only one component with a correction.
    import org.apache.spark.sql.streaming.Trigger
    spark.sql("CREATE TABLE graft.cdf_ck (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog " +
      "TBLPROPERTIES ('snapshot.retain'='true')")
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), "cdf_ck").getPath
    val src = Scratch.dir("graft_cdf_ck_src")
    val ckpt = Scratch.streamCkptDir("graft_cdf_ck_ckpt")
    def drain(): Unit = {
      val q = spark.readStream.format("graftlog").load(src)
        .writeStream.format("graftlog")
        .option("upsertKey", "user_id,event_type")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(dir)
      q.awaitTermination()
    }
    val six = spark.range(6).select(
      col("id").as("event_id"), (col("id") % 3).as("user_id"),
      (col("id") * 10 + 10).cast("double").as("value"),
      when(col("id") < 3, lit("a")).otherwise(lit("b")).as("event_type"))
    six.repartition(1).write.format("graftlog").mode("append").save(src)
    drain()
    val s1 = sources.GraftLog.latestSnapshotStamp(dir)
    six.filter(col("event_type") === "a") // correct the 'a' tuples only
      .withColumn("value", col("value") * 3)
      .repartition(1).write.format("graftlog").mode("append").save(src)
    drain()
    val s2 = sources.GraftLog.latestSnapshotStamp(dir)
    val typed = sources.GraftLog.readChanges(spark, dir, s1, s2,
        updateImages = true)
      .select(col("user_id"), col("event_type"), col("value"),
        col("_change_type")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
    assert(typed.length == 6, s"expected 3 pre + 3 post images, got ${typed.length}")
    assert(typed.forall(_._2 == "a"), s"a 'b' tuple leaked into the window: $typed")
    val pre = typed.filter(_._4 == "update_preimage").map(t => (t._1, t._3)).toMap
    val post = typed.filter(_._4 == "update_postimage").map(t => (t._1, t._3)).toMap
    assert(pre.keySet == Set(0L, 1L, 2L) && post.keySet == Set(0L, 1L, 2L))
    pre.foreach { case (u, v) => assert(post(u) == v * 3,
      s"user $u: postimage ${post(u)} != preimage $v * 3") }
    // untyped stays two-valued over the same window
    val plain = sources.GraftLog.readChanges(spark, dir, s1, s2)
      .groupBy(col("_change_type")).count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(plain == Map("insert" -> 3L, "delete" -> 3L), s"untyped: $plain")
  }

  test("changes STREAM: AvailableNow drain equals batch readChanges; restart resumes exactly-once") {
    // round 20 (r19 verdict next #6): the changelog as a native
    // streaming source — offset = snapshot stamp, each micro-batch the
    // re-derived change window. A drain over a closed window must equal
    // the batch readChanges over the same stamps, and a SECOND drain
    // from the same checkpoint must deliver only the new window.
    import org.apache.spark.sql.streaming.Trigger
    spark.sql("CREATE TABLE graft.cdf_st (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog " +
      "TBLPROPERTIES ('snapshot.retain'='true')")
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), "cdf_st").getPath
    val src = Scratch.dir("graft_cdf_st_src")
    val ckpt = Scratch.streamCkptDir("graft_cdf_st_ckpt")
    def drainUpsert(): Unit = {
      val q = spark.readStream.format("graftlog").load(src)
        .writeStream.format("graftlog")
        .option("upsertKey", "event_id")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(dir)
      q.awaitTermination()
    }
    val base = events.orderBy("event_id").limit(40)
    base.repartition(2).write.format("graftlog").mode("append").save(src)
    drainUpsert()
    val s1 = sources.GraftLog.latestSnapshotStamp(dir)
    base.filter(col("event_id") % 4 === 0)
      .withColumn("value", col("value") * 2)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .repartition(1).write.format("graftlog").mode("append").save(src)
    drainUpsert() // window 1: corrections
    val s2 = sources.GraftLog.latestSnapshotStamp(dir)
    // the changes stream, drained into an exactly-once file sink
    val outDir = Scratch.dir("graft_cdf_st_out")
    val chCkpt = Scratch.streamCkptDir("graft_cdf_st_chckpt")
    def drainChanges(): Unit = {
      val q = spark.readStream.format("graftlog")
        .option("readChanges", "true").option("changesFrom", s1)
        .load(dir)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", chCkpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drainChanges()
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Double, String, Long)] =
      df.select(col("event_id"), col("value"), col("_change_type"),
        col("_change_stamp")).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getLong(3))).toSet
    val streamed1 = rows(spark.read.parquet(outDir))
    val batch1 = rows(sources.GraftLog.readChanges(spark, dir, s1, s2))
    assert(streamed1 == batch1,
      s"streamed window != batch readChanges: extra ${streamed1 -- batch1}, " +
        s"missing ${batch1 -- streamed1}")
    assert(streamed1.exists(_._3 == "delete") && streamed1.exists(_._3 == "insert"),
      "window 1 must carry both sides of the corrections")
    // window 2: disjoint fresh inserts; the SAME checkpoint resumes and
    // must deliver ONLY the new window (exactly-once, no re-delivery)
    base.withColumn("event_id", col("event_id") + 700000L)
      .repartition(1).write.format("graftlog").mode("append").save(src)
    drainUpsert()
    val s3 = sources.GraftLog.latestSnapshotStamp(dir)
    drainChanges()
    val streamedAll = rows(spark.read.parquet(outDir))
    val batchAll = batch1 ++ rows(sources.GraftLog.readChanges(spark, dir, s2, s3))
    assert(streamedAll == batchAll,
      s"resumed drain diverged: extra ${streamedAll -- batchAll}, " +
        s"missing ${batchAll -- streamedAll}")
    // an idle drain delivers nothing new
    drainChanges()
    assert(rows(spark.read.parquet(outDir)) == batchAll,
      "an idle drain re-delivered rows")
  }

  /** Upserts `wave1`, then `wave2`, into a new snapshot-retaining table
    * keyed on `key`, then drains the changes stream over the wave-2
    * window: it must equal the batch readChanges over the same stamps.
    * Returns the window's rows as (event_id, event_type, value,
    * _change_type). */
  private def drainEqualsBatch(table: String, key: String,
      wave1: org.apache.spark.sql.DataFrame,
      wave2: org.apache.spark.sql.DataFrame): Set[(Long, String, Double, String)] = {
    import org.apache.spark.sql.streaming.Trigger
    spark.sql(s"CREATE TABLE graft.$table (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog " +
      "TBLPROPERTIES ('snapshot.retain'='true')")
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), table).getPath
    val src = Scratch.dir(s"graft_${table}_src")
    val ckpt = Scratch.streamCkptDir(s"graft_${table}_ckpt")
    def drainUpsert(): Unit =
      spark.readStream.format("graftlog").load(src)
        .writeStream.format("graftlog")
        .option("upsertKey", key)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(dir)
        .awaitTermination()
    val cols = Seq("event_id", "user_id", "value", "event_type").map(col)
    wave1.select(cols: _*).repartition(2).write.format("graftlog").mode("append").save(src)
    drainUpsert()
    val s1 = sources.GraftLog.latestSnapshotStamp(dir)
    wave2.select(cols: _*).repartition(1).write.format("graftlog").mode("append").save(src)
    drainUpsert()
    val s2 = sources.GraftLog.latestSnapshotStamp(dir)
    val outDir = Scratch.dir(s"graft_${table}_out")
    spark.readStream.format("graftlog")
      .option("readChanges", "true").option("changesFrom", s1).load(dir)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", Scratch.streamCkptDir(s"graft_${table}_chckpt"))
      .trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_id"), col("event_type"), col("value"),
        col("_change_type"), col("_change_stamp")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3),
          r.getLong(4))).toSet
    val streamed = rows(spark.read.parquet(outDir))
    val batch = rows(sources.GraftLog.readChanges(spark, dir, s1, s2))
    assert(streamed == batch,
      s"streamed window != batch readChanges: extra ${streamed -- batch}, " +
        s"missing ${batch -- streamed}")
    streamed.map(r => (r._1, r._2, r._3, r._4))
  }

  test("changes STREAM drain equals batch readChanges on an event_type-keyed window with the empty key") {
    // the string kill probe: keys compared as UTF-8 bytes on both sides,
    // and the '.' marker line decodes to the empty key
    val base = events.orderBy("event_id").limit(10)
    val minId = base.agg(min("event_id")).collect()(0).getLong(0)
    val typed = base.withColumn("event_type",
      when(col("event_id") === minId, lit(""))
        .otherwise(concat(lit("t"), col("event_id").cast("string"))))
    val fix = typed.filter(col("event_id") % 2 === 0 || col("event_id") === minId)
      .withColumn("value", col("value") + 1000)
    val window = drainEqualsBatch("cdf_st_ety", "event_type", typed, fix)
    val fixed = fix.select(col("event_type")).collect().map(_.getString(0)).toSet
    val deleted = window.filter(_._4 == "delete").map(_._2)
    assert(deleted == fixed && deleted.contains(""),
      s"the window must delete exactly the corrected keys, the empty one included: $deleted")
  }

  test("changes STREAM drain equals batch readChanges on a (user_id,event_type)-keyed window") {
    // the composite kill probe: a correction of (u, 'a') must not touch
    // (u, 'b'), which shares its first component
    val six = spark.range(6).select(
      col("id").as("event_id"), (col("id") % 3).as("user_id"),
      (col("id") * 10 + 10).cast("double").as("value"),
      when(col("id") < 3, lit("a")).otherwise(lit("b")).as("event_type"))
    val fix = six.filter(col("event_type") === "a").withColumn("value", col("value") * 3)
    val window = drainEqualsBatch("cdf_st_ck", "user_id,event_type", six, fix)
    val deleted = window.filter(_._4 == "delete")
    assert(deleted.size == 3 && deleted.forall(_._2 == "a"),
      s"the window must delete exactly the three corrected 'a' tuples: $deleted")
  }

  test("changes stream excludes unstamped foreign segments, like the batch reader") {
    // round-20 self-review: a rewrite can merge a RECONCILED foreign
    // (unstamped) file with in-window stamped files — the merged file's
    // segment map then carries a -1-stamp segment. Foreign rows have no
    // timeline position: the batch insert side excludes them via
    // `_pub_stamp IS NOT NULL`, and the stream must match (the cursor's
    // dead-stamp machinery only suppresses STAMPED segments, so the
    // reader guards on the null publish stamp).
    import org.apache.spark.sql.streaming.Trigger
    spark.sql("CREATE TABLE graft.cdf_fx (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog " +
      "TBLPROPERTIES ('snapshot.retain'='true')")
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), "cdf_fx").getPath
    events.orderBy("event_id").limit(10).writeTo("graft.cdf_fx").append()
    val s1 = sources.GraftLog.latestSnapshotStamp(dir)
    // a foreign unstamped file lands mid-window (written elsewhere with
    // the same record codec, then dropped in under a legacy name)
    val donor = Scratch.dir("graft_cdf_fx_donor")
    events.orderBy(desc("event_id")).limit(4).repartition(1)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .write.format("graftlog").mode("append").save(donor)
    val donorFile = new java.io.File(donor).listFiles()
      .filter(_.getName.endsWith(".graftlog")).head
    java.nio.file.Files.copy(donorFile.toPath,
      new java.io.File(dir, "legacy-foreign.graftlog").toPath)
    // in-window stamped appends, then a compact that merges the foreign
    // file with them into segment-mapped outputs
    events.orderBy("event_id").limit(25).filter(col("event_id") >= 10)
      .writeTo("graft.cdf_fx").append()
    sources.GraftLog.compact(spark, dir, 1L << 30)
    val s2 = sources.GraftLog.latestSnapshotStamp(dir)
    val batchIns = sources.GraftLog.readChanges(spark, dir, s1, s2)
      .filter(col("_change_type") === "insert")
      .select(col("event_id")).collect().map(_.getLong(0)).toSet
    val wantIns = events.orderBy("event_id").limit(25)
      .filter(col("event_id") >= 10)
      .select(col("event_id")).collect().map(_.getLong(0)).toSet
    assert(batchIns == wantIns,
      s"fixture: batch must exclude foreign rows, got spurious ${batchIns -- wantIns}")
    val outDir = Scratch.dir("graft_cdf_fx_out")
    val q = spark.readStream.format("graftlog")
      .option("readChanges", "true").option("changesFrom", s1).load(dir)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", Scratch.streamCkptDir("graft_cdf_fx_ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.read.parquet(outDir)
      .filter(col("_change_type") === "insert")
      .select(col("event_id")).collect().map(_.getLong(0)).toSet
    assert(streamed == wantIns,
      s"stream leaked foreign-segment rows as inserts: spurious " +
        s"${streamed -- wantIns}, missing ${wantIns -- streamed}")
  }

  test("CoW diff stays NET when a later in-window epoch replaces a rewritten row") {
    // round-20 review (the top finding): window = CoW UPDATE at s_a,
    // then an upsert epoch at s_b replacing one of the rewritten keys.
    // NET must be: ONE delete of the pre-window image per touched key,
    // the upsert's replacement as the insert for the replaced key, and
    // the CoW's new image as the insert for the others — the old code
    // emitted the replaced key's pre-image TWICE (eq branch + CoW diff)
    // and its intermediate CoW image as a stale insert.
    import org.apache.spark.sql.streaming.Trigger
    spark.sql("CREATE TABLE graft.cdf_net (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog " +
      "TBLPROPERTIES ('snapshot.retain'='true')")
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), "cdf_net").getPath
    val src = Scratch.dir("graft_cdf_net_src")
    val ckpt = Scratch.streamCkptDir("graft_cdf_net_ckpt")
    def drain(): Unit = {
      val q = spark.readStream.format("graftlog").load(src)
        .writeStream.format("graftlog")
        .option("upsertKey", "event_id")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(dir)
      q.awaitTermination()
    }
    val base = events.orderBy("event_id").limit(10)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
    base.repartition(1).write.format("graftlog").mode("append").save(src)
    drain()
    val s1 = sources.GraftLog.latestSnapshotStamp(dir)
    val orig = base.select(col("event_id"), col("value")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val evens = orig.keySet.filter(_ % 2 == 0)
    val replacedKey = evens.min
    // CoW UPDATE rewrites the evens (v1 -> v2 = v1*2) ...
    spark.sql("UPDATE graft.cdf_net SET value = value * 2 WHERE event_id % 2 = 0")
    // ... then an upsert epoch replaces ONE rewritten key (v2 -> 777)
    base.filter(col("event_id") === replacedKey)
      .withColumn("value", lit(777.0))
      .repartition(1).write.format("graftlog").mode("append").save(src)
    drain()
    val s2 = sources.GraftLog.latestSnapshotStamp(dir)
    val ch = sources.GraftLog.readChanges(spark, dir, s1, s2)
      .select(col("event_id"), col("value"), col("_change_type")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    val dels = ch.filter(_._3 == "delete")
    assert(dels.length == evens.size,
      s"each touched key must delete its pre-window image ONCE: $dels")
    dels.foreach { case (k, v, _) =>
      assert(evens.contains(k) && v == orig(k),
        s"delete must carry key $k's pre-window image: $v vs ${orig(k)}")
    }
    val ins = ch.filter(_._3 == "insert").map(t => (t._1, t._2)).toMap
    assert(ins.size == evens.size, s"one net insert per touched key: $ins")
    evens.foreach { k =>
      val want = if (k == replacedKey) 777.0 else orig(k) * 2
      assert(ins(k) == want,
        s"key $k net insert must be $want (stale intermediate image?): ${ins(k)}")
    }
    // incremental-aggregate invariant over the mixed window
    val sumS1 = orig.values.sum
    val incremental = sumS1 +
      ch.filter(_._3 == "insert").map(_._2).sum -
      ch.filter(_._3 == "delete").map(_._2).sum
    val full = spark.read.format("graftlog").load(dir)
      .agg(sum(col("value"))).collect()(0).getDouble(0)
    assert(math.abs(incremental - full) < 1e-9,
      s"mixed CoW+upsert window: incremental $incremental != full $full")
  }

  test("changelog derives copy-on-write windows as row diffs; truncate still refuses") {
    // round 20 (r19 verdict #7, flipping the old refusal): a CoW DELETE
    // window derives — the pre-commit view of the removed files EXCEPT
    // ALL the survivors = the dropped rows; a CoW UPDATE's new images
    // surface as inserts. Shapes indistinguishable from retention
    // (survivor-less removal, base-manifest overwrite) still refuse.
    spark.sql("CREATE TABLE graft.cdf_bad (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog " +
      "TBLPROPERTIES ('snapshot.retain'='true')")
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), "cdf_bad").getPath
    events.orderBy("event_id").limit(10).writeTo("graft.cdf_bad").append()
    val s1 = sources.GraftLog.latestSnapshotStamp(dir)
    // a copy-on-write DELETE removes files and lands survivor files with
    // no segment maps — now derived as a row diff
    spark.sql("DELETE FROM graft.cdf_bad WHERE event_id % 2 = 0")
    val s2 = sources.GraftLog.latestSnapshotStamp(dir)
    val ch1 = sources.GraftLog.readChanges(spark, dir, s1, s2)
    val dels = ch1.filter(col("_change_type") === "delete")
      .select(col("event_id")).collect().map(_.getLong(0)).toSet
    val evens = events.orderBy("event_id").limit(10)
      .filter(col("event_id") % 2 === 0)
      .select(col("event_id")).collect().map(_.getLong(0)).toSet
    assert(dels == evens,
      s"CoW DELETE diff wrong: spurious ${dels -- evens}, missing ${evens -- dels}")
    assert(ch1.filter(col("_change_type") === "insert").count() == 0,
      "a pure CoW DELETE must introduce no inserts")
    // a CoW UPDATE window: old images as deletes, new images as inserts
    spark.sql("UPDATE graft.cdf_bad SET value = value * 2 WHERE event_id % 3 = 0")
    val s3 = sources.GraftLog.latestSnapshotStamp(dir)
    val ch2 = sources.GraftLog.readChanges(spark, dir, s2, s3)
      .select(col("event_id"), col("value"), col("_change_type")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    val touched = events.orderBy("event_id").limit(10)
      .filter(col("event_id") % 2 =!= 0 && col("event_id") % 3 === 0)
      .select(col("event_id"), col("value")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(ch2.count(_._3 == "delete") == touched.size &&
      ch2.count(_._3 == "insert") == touched.size,
      s"CoW UPDATE diff must pair old/new images: $ch2")
    ch2.foreach { case (id, v, t) =>
      if (t == "delete") assert(v == touched(id), s"old image of $id wrong: $v")
      else assert(v == touched(id) * 2, s"new image of $id wrong: $v")
    }
    // the changes STREAM refuses CoW windows, pointing at the batch reader
    val streamErr = intercept[Exception] {
      import org.apache.spark.sql.streaming.Trigger
      val q = spark.readStream.format("graftlog")
        .option("readChanges", "true").option("changesFrom", s1).load(dir)
        .writeStream.format("memory").queryName("cdf_bad_stream")
        .option("checkpointLocation", Scratch.streamCkptDir("cdf_bad_st_ckpt"))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(streamErr.getMessage.contains("copy-on-write") ||
      Option(streamErr.getCause).exists(_.getMessage.contains("copy-on-write")),
      s"stream must refuse CoW windows loudly: ${streamErr.getMessage}")
    // an OVERWRITE derives as replace-all: every old row a delete,
    // every new row an insert (the same row-diff machinery)
    val preOverwrite = spark.table("graft.cdf_bad").count()
    events.orderBy(desc("event_id")).limit(4)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .createOrReplaceTempView("cdf_bad_ow")
    spark.sql("INSERT OVERWRITE TABLE graft.cdf_bad SELECT * FROM cdf_bad_ow")
    val s4 = sources.GraftLog.latestSnapshotStamp(dir)
    val ch3 = sources.GraftLog.readChanges(spark, dir, s3, s4)
      .groupBy(col("_change_type")).count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(ch3 == Map("delete" -> preOverwrite, "insert" -> 4L),
      s"overwrite window must diff as replace-all: $ch3")
    // a SURVIVOR-LESS removal (truncate shape) still refuses loudly —
    // indistinguishable from expire's retention removals
    spark.sql("DELETE FROM graft.cdf_bad")
    val s5 = sources.GraftLog.latestSnapshotStamp(dir)
    val err = intercept[IllegalArgumentException] {
      sources.GraftLog.readChanges(spark, dir, s4, s5).collect()
    }
    assert(err.getMessage.contains("not derivable"),
      s"expected a loud underivable-window refusal, got: ${err.getMessage}")
    // pure appends after the truncate stay readable from the LATER anchor
    events.orderBy(desc("event_id")).limit(5).writeTo("graft.cdf_bad").append()
    val s6 = sources.GraftLog.latestSnapshotStamp(dir)
    val tail = sources.GraftLog.readChanges(spark, dir, s5, s6)
    assert(tail.filter(col("_change_type") === "insert").count() == 5)
    assert(tail.filter(col("_change_type") === "delete").count() == 0)
  }

  test("a dangling tag (stamp no longer retained) cannot freeze the GC horizon") {
    import graft.sources.{GraftSnapshotTestHook => Hook}
    spark.sql("CREATE TABLE graft.tag_gone (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog " +
      "TBLPROPERTIES ('snapshot.retain'='true')")
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), "tag_gone").getPath
    val a = events.orderBy("event_id").limit(10)
    a.writeTo("graft.tag_gone").append()                               // base
    events.orderBy("event_id").limit(20).writeTo("graft.tag_gone").append() // delta
    a.createOrReplaceTempView("tag_gone_src")
    spark.sql("INSERT OVERWRITE graft.tag_gone SELECT * FROM tag_gone_src") // base
    events.orderBy("event_id").limit(5).writeTo("graft.tag_gone").append() // delta
    // a hand-planted tag whose stamp matches NO retained manifest — the
    // residue the create/expire race could leave behind: it must neither
    // resolve nor pin history
    java.nio.file.Files.writeString(
      new java.io.File(dir, "tag-ghost.grafttag").toPath, "1\n")
    val tip = Hook.manifestStamps(dir).last
    val gone = spark.sql("CALL graft.system.expire_snapshots(" +
      s"table => 'tag_gone', before_stamp => ${tip + 1}L)").collect()(0)
    assert(gone.getInt(0) == 2,
      s"a dangling tag froze the GC horizon: pruned ${gone.getInt(0)} manifests, expected 2")
    assert(spark.table("graft.tag_gone").count() == 15)
  }

  test("a tagged snapshot survives expire_snapshots that GCs all untagged history around it") {
    import graft.sources.{GraftSnapshotTestHook => Hook}
    spark.sql("CREATE TABLE graft.tag_t (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog " +
      "TBLPROPERTIES ('snapshot.retain'='true')")
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), "tag_t").getPath
    val a = events.orderBy("event_id").limit(10)
    a.writeTo("graft.tag_t").append()                       // snap 1 (base)
    events.orderBy("event_id").limit(20).writeTo("graft.tag_t").append() // snap 2 (delta, 30 rows)
    val taggedStamp = Hook.manifestStamps(dir).last
    spark.sql(s"CALL graft.system.tag(table => 'tag_t', name => 'v_mid', " +
      s"version => ${taggedStamp}L)")
    a.createOrReplaceTempView("tag_src")
    spark.sql("INSERT OVERWRITE graft.tag_t SELECT * FROM tag_src") // snap 3 (base, 10 rows)
    events.orderBy("event_id").limit(5).writeTo("graft.tag_t").append() // snap 4 (delta, 15)
    assert(spark.table("graft.tag_t").count() == 15)
    assert(spark.sql("SELECT count(*) FROM graft.tag_t VERSION AS OF 'v_mid'")
      .collect()(0).getLong(0) == 30, "tag must resolve the pre-overwrite snapshot")
    // expire everything below the tip: WITHOUT the tag the anchor would
    // move to the overwrite base and snaps 1-2 would be GC'd
    val tip = Hook.manifestStamps(dir).last
    val gone = spark.sql("CALL graft.system.expire_snapshots(table => 'tag_t', " +
      s"before_stamp => ${tip + 1}L)").collect()(0)
    assert(gone.getInt(0) == 0,
      s"the tag must clamp the prune horizon; GC deleted ${gone.getInt(0)} manifests")
    assert(spark.sql("SELECT count(*) FROM graft.tag_t VERSION AS OF 'v_mid'")
      .collect()(0).getLong(0) == 30, "tagged snapshot unreadable after expire_snapshots")
    // drop the tag: the same horizon now sheds the untagged history...
    spark.sql("CALL graft.system.drop_tag(table => 'tag_t', name => 'v_mid')")
    val gone2 = spark.sql("CALL graft.system.expire_snapshots(table => 'tag_t', " +
      s"before_stamp => ${tip + 1}L)").collect()(0)
    assert(gone2.getInt(0) == 2,
      s"expected the 2 pre-overwrite manifests GC'd after drop_tag, got ${gone2.getInt(0)}")
    // ...and the history is GONE, loudly
    intercept[Exception] {
      spark.sql(s"SELECT count(*) FROM graft.tag_t VERSION AS OF '$taggedStamp'").collect()
    }
    // the live table is untouched by either pass
    assert(spark.table("graft.tag_t").count() == 15)
    // a tag must name an exact retained stamp; and duplicates are immutable
    intercept[Exception] {
      spark.sql("CALL graft.system.tag(table => 'tag_t', name => 'bad', version => 12345L)").collect()
    }
    spark.sql("CALL graft.system.tag(table => 'tag_t', name => 'tip')").collect()
    intercept[Exception] {
      spark.sql("CALL graft.system.tag(table => 'tag_t', name => 'tip')").collect()
    }
    // the listing surface: exactly the live tags, sorted by name
    val listed = spark.sql("CALL graft.system.tags(table => 'tag_t')").collect()
    assert(listed.map(_.getString(0)).toSeq == Seq("tip"),
      s"expected the one live tag, got ${listed.mkString(",")}")
    assert(listed(0).getLong(1) == sources.GraftLog.latestSnapshotStamp(
      new java.io.File(spark.conf.get("spark.sql.catalog.graft.warehouse"),
        "tag_t").getPath))
  }

  test("procedure table: every listed CALL name loads under that name; an unknown name lists exactly that set") {
    import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog}
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[ProcedureCatalog]
    val ns = Array("system")
    val names = cat.listProcedures(ns).map(_.name()).toSeq
    assert(names.size == 11 && names.distinct == names, s"listed ${names.mkString(", ")}")
    names.foreach { n =>
      val p = cat.loadProcedure(Identifier.of(ns, n))
      assert(p.name() == n, s"'$n' loads a procedure named '${p.name()}'")
      assert(p.description().nonEmpty, s"'$n' has no description")
    }
    val err = intercept[IllegalArgumentException](
      cat.loadProcedure(Identifier.of(ns, "no_such_procedure")))
    val available = """available: ([^)]*)\)""".r.findFirstMatchIn(err.getMessage)
      .map(_.group(1).split(", ").toSeq)
    assert(available.contains(names), s"unknown-name error: ${err.getMessage}")
  }
}
