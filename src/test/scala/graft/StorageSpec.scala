package graft

import org.apache.spark.sql.functions._
import graft.operators.StorageOps
import graft.sources.Tables

/** Plan-shape guarantees for the storage-layout operators: the pruned scan
  * must actually prune, and the bucketed join must actually avoid the
  * exchange — result-correctness alone (the oracle) can't see either. */
class StorageSpec extends SparkTestBase {

  // ------------------------------------------------------------------
  // Round-9 hardening: the driver regenerated events.parquet from
  // TIMESTAMP(NANOS) to micros-NTZ between rounds 7 and 8 and broke every
  // query that hard-wired a physical ts type. Tables.load/normalizeTs now
  // own absorbing that drift; this test proves all three format roundtrips
  // produce IDENTICAL canonical-LTZ results whether the fixture ships ts
  // as NTZ or as instant-semantics LTZ — so the next writer-generation
  // change cannot crash a sink query again.
  // ------------------------------------------------------------------
  test("format roundtrips absorb fixture timestamp-type drift (NTZ vs LTZ)") {
    def mkFixture(ntz: Boolean): String = {
      val dir = Scratch.dir(s"graft_tsdrift_${if (ntz) "ntz" else "ltz"}")
      val base = spark.range(0, 3000).select(
        col("id").as("event_id"),
        timestamp_micros(lit(1700000000000000L) + col("id") * 61000000L).as("ts"),
        (col("id") % 97).as("user_id"),
        concat(lit("t"), col("id") % 5).as("event_type"),
        (col("id") * 1.5 + 0.25).as("value"),
        lit("{}").as("props"))
      val df = if (ntz) base.withColumn("ts", col("ts").cast("timestamp_ntz")) else base
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    val ntzDir = mkFixture(ntz = true)
    val ltzDir = mkFixture(ntz = false)
    val roundtrips = Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)](
      "csv" -> (graft.operators.ReferenceOps.csvRoundtrip _),
      "json" -> (StorageOps.jsonRoundtrip _),
      "orc" -> (StorageOps.orcRoundtrip _))
    for ((fmt, fn) <- roundtrips) {
      val a = fn(spark, ntzDir)
      val b = fn(spark, ltzDir)
      assert(a.schema("ts").dataType == org.apache.spark.sql.types.TimestampType,
        s"$fmt roundtrip must emit canonical TimestampType from an NTZ fixture")
      val ra = a.collect().map(_.toSeq).toSeq
      val rb = b.collect().map(_.toSeq).toSeq
      assert(ra.nonEmpty && ra == rb,
        s"$fmt roundtrip differs between NTZ and LTZ fixtures (${ra.take(2)} vs ${rb.take(2)})")
    }
    // streaming reader: same adaptivity (schema peek mirrors physical type)
    assert(Tables.eventsStream(spark, ntzDir).schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(Tables.eventsStream(spark, ltzDir).schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("partition-pruned scan reads only the matching partition") {
    // registered scratch: deleted by the Scratch shutdown hook when the
    // test JVM exits (a bare createTempDirectory would accumulate forever)
    val landing = Scratch.dir("graft_prune_spec")
    Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "user_id", "value", "event_type")
      .write.mode("overwrite").partitionBy("event_type").parquet(landing)
    val pruned = spark.read.parquet(landing).filter(col("event_type") === "purchase")
    pruned.collect()
    val plan = pruned.queryExecution.executedPlan.toString
    // the pushed partition predicate appears as a PartitionFilters entry,
    // and the files actually read all come from the one partition dir
    assert(plan.contains("PartitionFilters") && plan.contains("event_type"),
      s"no partition filter in plan:\n$plan")
    // files actually read == files in the one matching partition dir
    val purchaseFiles = {
      val d = java.nio.file.Paths.get(landing, "event_type=purchase")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(d).iterator().asScala.count(_.toString.endsWith(".parquet"))
    }
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.head
    assert(purchaseFiles > 0)
    assert(scan.metrics("numFiles").value == purchaseFiles,
      s"scan read ${scan.metrics("numFiles").value} files, partition has $purchaseFiles")
  }

  test("bucketed join plans with no exchange on either side") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val j = StorageOps.bucketedJoin(spark, sfDir)
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      val joinSection = plan.split("\n").dropWhile(!_.contains("SortMergeJoin"))
      assert(joinSection.nonEmpty, s"expected SortMergeJoin in:\n$plan")
      assert(!joinSection.exists(l => l.contains("Exchange hashpartitioning(c_custkey") ||
        l.contains("Exchange hashpartitioning(o_custkey")),
        s"bucketed join still shuffled:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("range-clustered files cover pairwise-disjoint ts intervals and the range filter is pushed") {
    val landing = StorageOps.writeRangeClustered(spark, sfDir)
    // the physical property that makes row-group skipping work: every file
    // owns a disjoint slice of the sort key, so min/max footer stats are
    // selective instead of all spanning the whole domain
    val intervals = spark.read.parquet(landing)
      .groupBy(input_file_name().as("f"))
      .agg(min("ts").as("lo"), max("ts").as("hi"))
      .collect()
      .map(r => (r.getTimestamp(1).getTime, r.getTimestamp(2).getTime))
      .sortBy(_._1)
    assert(intervals.length > 1, "expected multiple range files")
    intervals.sliding(2).foreach { case Array((_, hi), (lo2, _)) =>
      assert(hi <= lo2, s"file intervals overlap: hi=$hi lo2=$lo2")
    }
    // and the read side pushes both bounds to the scan
    val scanned = spark.read.parquet(landing)
      .filter(col("ts") >= lit("2024-01-10").cast("timestamp") &&
        col("ts") < lit("2024-01-11").cast("timestamp"))
    scanned.collect()
    val scanLine = scanned.queryExecution.executedPlan.toString.split("\n")
      .find(_.contains("PushedFilters"))
      .getOrElse(fail("no PushedFilters in scan"))
    assert(scanLine.contains("GreaterThanOrEqual(ts") && scanLine.contains("LessThan(ts"),
      s"ts bounds not pushed:\n$scanLine")
  }

  test("z-ordered files localize BOTH dimensions; a 2-D query box touches few files") {
    // sf0.01: user_id spans 8 bits vs hour's 10 — balanced enough for the
    // interleave to localize both dims (at sf0.001 the 4-bit user domain
    // degenerates z-order toward a plain time sort)
    // larger sibling of the suite fixture, derived (not hardcoded) so a
    // relocated testdata root moves both together
    val dir001 = new java.io.File(sfDir).toPath.resolveSibling("sf0.01").toString
    val landing = StorageOps.writeZOrdered(spark, dir001)
    val perFile = spark.read.parquet(landing)
      .groupBy(input_file_name().as("f"))
      .agg(min("user_id").as("ulo"), max("user_id").as("uhi"),
        min("ts").as("tlo"), max("ts").as("thi"))
      .collect()
    assert(perFile.length > 4, "expected a multi-file layout")
    // every file must localize the hour dimension (a user-sorted layout
    // would span the full month in every file)
    val hSpanFrac = perFile.map(r =>
      (r.getTimestamp(4).getTime - r.getTimestamp(3).getTime).toDouble)
      .sum / perFile.length / (30L * 24 * 3600 * 1000).toDouble
    assert(hSpanFrac < 0.5, s"avg ts-span fraction $hSpanFrac not localized")
    // and the 2-D query box (4 users x 4 days) must intersect a minority of
    // files — the both-dimension pruning a 1-D layout cannot give
    val boxLo = java.sql.Timestamp.valueOf("2024-01-08 00:00:00")
    val boxHi = java.sql.Timestamp.valueOf("2024-01-12 00:00:00")
    val hits = perFile.count { r =>
      val (ulo, uhi, tlo, thi) =
        (r.getLong(1), r.getLong(2), r.getTimestamp(3), r.getTimestamp(4))
      uhi >= 4 && ulo <= 7 && thi.compareTo(boxLo) >= 0 && tlo.compareTo(boxHi) < 0
    }
    assert(hits <= perFile.length / 2,
      s"query box intersects $hits of ${perFile.length} files — no 2-D locality")
    // both predicates reach the scan as pushed filters
    val scanned = spark.read.parquet(landing)
      .filter(col("user_id") >= 4 && col("user_id") <= 7 &&
        col("ts") >= lit("2024-01-08").cast("timestamp") &&
        col("ts") < lit("2024-01-12").cast("timestamp"))
    scanned.collect()
    val scanLine = scanned.queryExecution.executedPlan.toString.split("\n")
      .find(_.contains("PushedFilters"))
      .getOrElse(fail("no PushedFilters in scan"))
    assert(scanLine.contains("user_id") && scanLine.contains("ts"),
      s"both dims not pushed:\n$scanLine")
  }

  test("json roundtrip preserves microsecond timestamps and doubles exactly") {
    val out = StorageOps.jsonRoundtrip(spark, sfDir)
    val orig = Tables.load(spark, sfDir, "events")
      .filter(col("event_id") >= 1000 && col("event_id") < 2000)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("event_id")
    assert(out.exceptAll(orig).count() == 0 && orig.exceptAll(out).count() == 0)
  }

  test("date-partitioned layout prunes to exactly the queried window's directories") {
    import scala.jdk.CollectionConverters._
    val landing = StorageOps.writeDatePartitioned(spark, sfDir)
    val window = spark.read.parquet(landing)
      .filter(col("event_date") >= lit("2024-01-03").cast("date") &&
        col("event_date") < lit("2024-01-10").cast("date"))
    window.collect()
    val plan = window.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("event_date"),
      s"no partition filter on event_date in plan:\n$plan")
    def parquetFiles(d: java.nio.file.Path): Int =
      java.nio.file.Files.walk(d).iterator().asScala
        .count(_.toString.endsWith(".parquet"))
    val root = java.nio.file.Paths.get(landing)
    val total = parquetFiles(root)
    val matched = java.nio.file.Files.list(root).iterator().asScala
      .filter { d =>
        val n = d.getFileName.toString
        n >= "event_date=2024-01-03" && n < "event_date=2024-01-10"
      }
      .map(parquetFiles).sum
    val scan = window.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.head
    val read = scan.metrics("numFiles").value
    // the 100 TB property: the scan reads the 7 matched days' files and
    // NOTHING else — fewer files than the 30-day layout holds
    assert(matched > 0 && read == matched, s"read $read files, window holds $matched")
    assert(read < total, s"no pruning: read $read of $total files")
  }

  // ------------------------------------------------------------------
  // call_dsv2_expire times the expire itself, so every execution must
  // find chunk 1 to delete. A landing shared across executions would let
  // the first (untimed) run delete it and every later run expire nothing.
  // Each landing is a byte copy, so one the second execution creates
  // started as a directory present before it; its deleted files are the
  // ones that source still holds and it does not.
  // ------------------------------------------------------------------
  test("call_dsv2_expire deletes files again on a second execution in one session") {
    Scratch.purge(spark) // the first execution below builds the landing
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def landings: Map[String, Set[String]] = tmp.listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("graft_"))
      .map(d => d.getName -> d.list().filter(_.endsWith(".graftlog")).toSet)
      .filter(_._2.nonEmpty).toMap
    val preexisting = landings.keySet
    StorageOps.dsv2Expire(spark, sfDir).collect()
    val before = landings -- preexisting
    val second = StorageOps.dsv2Expire(spark, sfDir).collect()
    val after = landings -- preexisting
    val deletedInPlace = before.keySet.intersect(after.keySet).toSeq
      .map(d => (before(d) -- after(d)).size).sum
    val deletedInCopies = (after.keySet -- before.keySet).toSeq.map { d =>
      val sources = before.values.filter(src => after(d).subsetOf(src))
      if (sources.isEmpty) 0 else sources.map(_.size).max - after(d).size
    }.sum
    assert(deletedInPlace + deletedInCopies >= 1,
      s"second execution deleted no file: landings before $before, after $after")

    Tables.load(spark, sfDir, "events").createOrReplaceTempView("events")
    try {
      val oracle = spark.sql(StorageOps.dsv2ExpireSql).collect().map(_.toSeq).toSeq
      assert(oracle.nonEmpty && second.map(_.toSeq).toSeq == oracle,
        s"second execution differs from dsv2ExpireSql (${second.length} vs ${oracle.length} rows)")
    } finally spark.catalog.dropTempView("events")
  }
}
