package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates the per-module registries, one [[Query]] per name
  * (its run, its oracle and its declared staging); each module under
  * graft.operators owns one slice of the SURVEY.md §2 inventory.
  * `oracleSql` is the oracle view of the same values.
  */
object SparkEntry {

  /** Flagship query (SURVEY.md §3.3 pipeline) on sf0.001; driver
    * smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    Flagship.pipeline(spark, "/root/testdata/sf0.001")

  private val modules: Seq[QueryModule] = Seq(
    ReferenceOps, Relational, TextOps, DedupOps, VectorOps, Multimodal,
    StreamShapes, LshOps, Curation, StorageOps, CorpusOps, EventOps,
    ProfileOps)

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, Query] = modules.map(_.queries).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables: the oracle each registered value carries. */
  def oracleSql: Map[String, String] = queries.map { case (n, q) => n -> q.oracle }
}
