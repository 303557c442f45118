package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one SparkSession per suite (lazy),
  * built by the engine's own recipe with 4 executor threads whatever
  * `SPARK_GRAFT_CPUS` says: the specs assume 4 shuffle partitions. The
  * test JVM shares one `CodeGenerator`, and the first session built sizes
  * its cache (CodegenCacheSpec relies on it). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local("4")

  /** Single source of truth for fixture locations (round-12 advice:
    * ScaleGateSpec previously hardcoded its own copy of the root). */
  val testDataRoot = "/root/testdata"
  val sfDir = s"$testDataRoot/sf0.001"
}
