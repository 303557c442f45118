package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll

import graft.sources.GraftSnapshotTestHook

/** The graftlog commit protocol seen from the filesystem. Every commit
  * publishes its new files, swaps the manifest, then unlinks what the swap
  * replaced. So on a non-retaining table the `.graftlog`/`.graftdel` names
  * on disk equal the resolved snapshot's files plus its delete files after
  * every commit: an orphan is a skipped unlink, a missing name a premature
  * one. A `snapshot.retain` table instead keeps every replaced file until
  * `expire_snapshots`. One table runs every commit kind in turn. */
class CommitProtocolSpec extends SparkTestBase with BeforeAndAfterAll {

  private lazy val events = sources.Tables.load(spark, sfDir, "events")
    .select(col("event_id"), col("user_id"), col("value"), col("event_type"))

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.gcp",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcp.warehouse",
      Scratch.dir("commit_protocol_spec"))
  }

  private def dirOf(table: String): String = new java.io.File(
    spark.conf.get("spark.sql.catalog.gcp.warehouse"), table).getPath
  private def listed(dir: String): Array[String] =
    new java.io.File(dir).listFiles().map(_.getName)
  private def onDisk(dir: String): Set[String] = listed(dir)
    .filter(n => n.endsWith(".graftlog") || n.endsWith(".graftdel")).toSet
  private def referenced(dir: String): Set[String] =
    (GraftSnapshotTestHook.liveNames(dir) ++
      GraftSnapshotTestHook.deleteFiles(dir)).toSet

  private def create(table: String, props: String): String = {
    spark.sql(s"DROP TABLE IF EXISTS gcp.$table")
    spark.sql(s"CREATE TABLE gcp.$table (event_id BIGINT, user_id BIGINT, " +
      s"value DOUBLE, event_type STRING) USING graftlog TBLPROPERTIES ($props)")
    dirOf(table)
  }

  /** Runs append, overwrite, truncate, an upsert streaming epoch, a
    * copy-on-write DELETE, a merge-on-read MERGE that deletes and updates,
    * compact and cluster on `table`; `check(step)` runs after each. A
    * bucketed table skips the upsert epoch and the cluster. The table must set `merge.mode = 'merge-on-read'` and
    * leave `delete.mode` at copy-on-write. */
  private def drive(table: String, bucketed: Boolean = false)(
      check: String => Unit): Unit = {
    val t = s"gcp.$table"
    val ordered = events.orderBy("event_id")
    ordered.repartition(3).writeTo(t).append()
    check("append")
    ordered.limit(200).repartition(2).createOrReplaceTempView(s"${table}_ow")
    spark.sql(s"INSERT OVERWRITE $t SELECT * FROM ${table}_ow")
    check("overwrite")
    spark.sql(s"DELETE FROM $t")
    check("truncate")
    ordered.repartition(3).writeTo(t).append()
    check("append after truncate")
    // one upsert epoch: 40 corrected keys replace their live rows (a
    // bucketed layout takes no streaming writes)
    val eqDeletes = if (bucketed) Set.empty[String] else {
      val src = Scratch.dir(s"${table}_upsert_src")
      ordered.limit(40).withColumn("value", col("value") + 1.0)
        .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
        .repartition(2).write.format("graftlog").mode("append").save(src)
      spark.readStream.format("graftlog").load(src)
        .writeStream
        .option("upsertKey", "event_id")
        .option("checkpointLocation", Scratch.streamCkptDir(s"${table}_ckpt"))
        .trigger(Trigger.AvailableNow())
        .toTable(t)
        .awaitTermination()
      assert(spark.table(t).count() == ordered.count(),
        "the upsert epoch appended its keys instead of replacing them")
      val eq = GraftSnapshotTestHook.deleteFiles(dirOf(table)).toSet
      assert(eq.nonEmpty, "the upsert epoch published no equality delete")
      check("upsert epoch")
      eq
    }
    spark.sql(s"DELETE FROM $t WHERE event_type = 'click'")
    check("copy-on-write DELETE")
    ordered.limit(120).createOrReplaceTempView(s"${table}_mrg")
    spark.sql(s"""MERGE INTO $t t USING ${table}_mrg s ON t.event_id = s.event_id
      WHEN MATCHED AND s.event_id % 2 = 0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET t.value = s.value * 2""")
    assert(!GraftSnapshotTestHook.deleteFiles(dirOf(table)).toSet.subsetOf(eqDeletes),
      "the merge-on-read MERGE published no position delete")
    check("merge-on-read DELETE")
    spark.sql(s"CALL gcp.system.compact(table => '$table', target_mb => 64)").collect()
    check("compact")
    if (!bucketed) { // a range rewrite would destroy the bucket layout
      spark.sql(s"CALL gcp.system.cluster(table => '$table', by => 'event_id', " +
        "target_mb => 1)").collect()
      check("cluster")
    }
  }

  /** The non-retaining check: disk equals the snapshot, and no tmp is left. */
  private def exact(dir: String)(step: String): Unit = {
    val disk = onDisk(dir)
    val refs = referenced(dir)
    assert(disk == refs,
      s"after $step: orphans ${(disk -- refs).toSeq.sorted}, " +
        s"missing ${(refs -- disk).toSeq.sorted}")
    val tmps = listed(dir).filter(_.endsWith(".tmp"))
    assert(tmps.isEmpty, s"after $step: leftover tmps ${tmps.toSeq.sorted}")
  }

  test("every commit kind leaves exactly the snapshot's data and delete files on disk") {
    val dir = create("cp_plain", "'merge.mode' = 'merge-on-read'")
    val steps = Seq.newBuilder[String]
    drive("cp_plain") { step => exact(dir)(step); steps += step }
    assert(steps.result().length == 9)
    assert(spark.table("gcp.cp_plain").count() > 0)
  }

  test("a bucketed table's commits leave exactly the snapshot's files on disk") {
    spark.sql("DROP TABLE IF EXISTS gcp.cp_bucketed")
    spark.sql("CREATE TABLE gcp.cp_bucketed (event_id BIGINT, user_id BIGINT, " +
      "value DOUBLE, event_type STRING) USING graftlog " +
      "PARTITIONED BY (bucket(4, user_id)) " +
      "TBLPROPERTIES ('merge.mode' = 'merge-on-read')")
    val dir = dirOf("cp_bucketed")
    val steps = Seq.newBuilder[String]
    drive("cp_bucketed", bucketed = true) { step => exact(dir)(step); steps += step }
    assert(steps.result().length == 7)
  }

  test("a merge-on-read DELETE past the unlink grace sweeps retired files, as an append does") {
    val dir = create("cp_grace",
      "'delete.mode' = 'merge-on-read', 'snapshot.unlink.grace.ms' = '400'")
    val t = "gcp.cp_grace"
    def compactThenAge(): Unit = {
      spark.sql("CALL gcp.system.compact(table => 'cp_grace', target_mb => 64)").collect()
      assert(onDisk(dir) != referenced(dir), "compact retired nothing within the grace")
      Thread.sleep(700) // age the retirements past the 400 ms grace
    }
    events.orderBy("event_id").repartition(3).writeTo(t).append()
    compactThenAge()
    spark.sql(s"DELETE FROM $t WHERE event_type = 'click'")
    assert(GraftSnapshotTestHook.deleteFiles(dir).nonEmpty,
      "the DELETE published no position delete")
    exact(dir)("merge-on-read DELETE")
    compactThenAge()
    events.orderBy("event_id").limit(5).writeTo(t).append()
    exact(dir)("append")
  }

  test("a retaining table keeps every replaced file on disk until expire_snapshots") {
    val dir = create("cp_retain",
      "'merge.mode' = 'merge-on-read', 'snapshot.retain' = 'true'")
    var everReferenced = Set.empty[String]
    drive("cp_retain") { step =>
      val disk = onDisk(dir)
      everReferenced ++= referenced(dir)
      assert(everReferenced.subsetOf(disk),
        s"after $step: retained files unlinked: " +
          s"${(everReferenced -- disk).toSeq.sorted}")
    }
    val live = referenced(dir)
    assert((everReferenced -- live).nonEmpty, "no step replaced a file")
    val horizon = GraftSnapshotTestHook.manifestStamps(dir).last + 1
    spark.sql(s"CALL gcp.system.expire_snapshots(table => 'cp_retain', " +
      s"before_stamp => ${horizon}L)").collect()
    assert(onDisk(dir) == referenced(dir) && referenced(dir) == live,
      s"after expire_snapshots: orphans ${(onDisk(dir) -- live).toSeq.sorted}, " +
        s"missing ${(live -- onDisk(dir)).toSeq.sorted}")
  }
}
