package graft

import java.nio.file.Files
import org.apache.spark.sql.types.{StructType, TimestampType}
import graft.sources.Tables

/** `Tables.load` reads each table's physical schema from one parquet
  * footer on the driver. The schema it hands the scan must be exactly the
  * one Spark's inference job gives, after the same timestamp
  * normalization, for the shipped fixture files and for a Spark-written
  * directory table. */
class TablesSpec extends SparkTestBase {

  /** The inferred-then-normalized schema: a plain `spark.read.parquet`. */
  private def inferred(dir: String, name: String): StructType = {
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    Tables.expected(name).fields
      .collect { case f if f.dataType == TimestampType && raw.columns.contains(f.name) => f.name }
      .foldLeft(raw)((d, c) => Tables.normalizeTs(d, c)).schema
  }

  test("footer schema equals the inferred schema for every fixture table") {
    val dirs = Seq("sf0.001", "sf0.01", "sf0.1").map(d => s"$testDataRoot/$d")
      .filter(d => new java.io.File(d).isDirectory)
    assert(dirs.contains(sfDir), s"no fixture dir at $sfDir")
    val off = for (dir <- dirs; name <- Tables.expected.keys.toSeq.sorted
        if Tables.load(spark, dir, name).schema != inferred(dir, name))
      yield s"$dir/$name: ${Tables.load(spark, dir, name).schema.simpleString} " +
        s"!= ${inferred(dir, name).simpleString}"
    assert(off.isEmpty, off.mkString("\n"))
  }

  test("footer schema equals the inferred schema for a Spark-written directory table") {
    val dir = Scratch.register(Files.createTempDirectory("tables-spark-written").toString)
    Seq("events", "documents", "embeddings").foreach { name =>
      Tables.load(spark, sfDir, name).repartition(3)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
      val files = new java.io.File(s"$dir/$name.parquet").list().toSeq
      assert(files.contains("_SUCCESS") && files.count(_.startsWith("part-")) >= 2,
        s"$name was not written as a multi-file Spark directory: $files")
      assert(Tables.load(spark, dir, name).schema == inferred(dir, name), name)
      assert(Tables.load(spark, dir, name).count() == Tables.load(spark, sfDir, name).count(), name)
    }
  }

  test("a missing table fails with an error naming it") {
    val dir = Scratch.register(Files.createTempDirectory("tables-missing").toString)
    val e = intercept[IllegalArgumentException](Tables.load(spark, dir, "orders"))
    assert(e.getMessage.contains("orders") && e.getMessage.contains(dir), e.getMessage)
  }
}
