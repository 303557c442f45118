package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one SparkSession per suite (lazy).
  * The test JVM shares one `CodeGenerator`, and the first session built
  * sizes its cache, so the builder sets the engine's cache size
  * (CodegenCacheSpec relies on it). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries", Sessions.CodegenCacheEntries.toString)
    .getOrCreate()

  /** Single source of truth for fixture locations (round-12 advice:
    * ScaleGateSpec previously hardcoded its own copy of the root). */
  val testDataRoot = "/root/testdata"
  val sfDir = s"$testDataRoot/sf0.001"
}
