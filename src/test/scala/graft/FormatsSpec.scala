package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.{Formats, Tables}

/** Source/sink round-trips (SURVEY.md §2.1/§2.2): CSV and JSON with
  * explicit schemas must be lossless; sheet reads are all-strings with
  * header promotion; partitioned parquet layouts must prune. */
class FormatsSpec extends SparkTestBase {

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  /** K1: full-refresh overwrite sink (the reference's replace-the-range
    * publish, trading212.py:136), with a date/key-partitioned layout so
    * readers prune partitions instead of scanning history (cf. the S6
    * 365-day windows). */
  private def writePartitioned(df: DataFrame, path: String, partitionCols: String*): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  lazy val events = Tables.load(spark, sfDir, "events").cache()

  test("CSV round-trip with explicit schema is lossless (incl. microsecond ts)") {
    val dir = tmp("csv-rt")
    Formats.writeCsv(events, dir)
    val back = Formats.readCsv(spark, dir, Tables.events)
    assert(back.schema == events.schema)
    assert(back.count() == events.count())
    assert(back.exceptAll(events).count() == 0)
    assert(events.exceptAll(back).count() == 0)
  }

  test("JSON round-trip with explicit schema is lossless") {
    val dir = tmp("json-rt")
    Formats.writeJson(events, dir)
    val back = Formats.readJson(spark, dir, Tables.events)
    assert(back.count() == events.count())
    assert(back.exceptAll(events).count() == 0)
  }

  test("sheet reader: header promotion, all columns string") {
    val dir = tmp("sheet")
    Formats.writeCsv(events.limit(10), dir)
    val sheet = Formats.readSheet(spark, dir)
    assert(sheet.columns.toSeq == events.columns.toSeq)
    assert(sheet.schema.fields.forall(_.dataType.typeName == "string"))
    assert(sheet.count() == 10)
  }

  test("dynamic partition pruning: joining a filtered dim prunes fact partitions") {
    val dir = tmp("dpp")
    writePartitioned(
      events.withColumn("dt", to_date(col("ts")).cast("string")), dir, "dt")
    val fact = spark.read.parquet(dir)
    // dim: one row per date, filtered to a single date at runtime
    val dim = events.select(to_date(col("ts")).cast("string").as("dt")).distinct()
      .withColumn("flag", col("dt") === "2024-01-07")
    val joined = fact.join(dim.filter(col("flag")), Seq("dt"))
    val expected = events.filter(to_date(col("ts")) === "2024-01-07").count()
    assert(joined.count() == expected && expected > 0)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("DynamicPruning") ||
      plan.contains("dynamicpruningexpression"),
      s"expected dynamic partition pruning in plan")
  }

  test("partitioned sink: layout prunes partitions at read time") {
    val dir = tmp("part")
    writePartitioned(
      events.withColumn("dt", to_date(col("ts")).cast("string")), dir, "dt")
    val pruned = spark.read.parquet(dir).filter(col("dt") === "2024-01-05")
    val expected = events.filter(to_date(col("ts")) === "2024-01-05").count()
    assert(pruned.count() == expected && expected > 0)
    // the partition filter must appear in the scan, not as a post-filter
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(dt"))
  }
}
