package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query, named once in its module's map.
  *
  *  - `run` builds the DataFrame from a fixture dir;
  *  - `oracle` is its DuckDB twin over the same parquet tables;
  *  - `prepare` stages the inputs `run` reads, through the same memoized
  *    [[graft.Scratch.staged]] / [[graft.Scratch.fresh]] helper `run`
  *    calls, so `run` stays self-sufficient and gets a memo hit. It does
  *    nothing by default.
  *
  * Calling the value is one execution: `run` alone, which stages what it
  * reads on its first call. Calling `prepare` too would count as a second
  * execution for a [[graft.Scratch.fresh]] input and restore its copy once
  * more. Bench calls the two apart: it times `prepare` once as setup and
  * `run` per measured run.
  */
final case class Query(run: (SparkSession, String) => DataFrame, oracle: String,
    prepare: (SparkSession, String) => Any = Query.nothing)
    extends ((SparkSession, String) => DataFrame) {
  def apply(s: SparkSession, dir: String): DataFrame = run(s, dir)
}

object Query {
  /** The default `prepare`: a query that reads only the fixture files. */
  val nothing: (SparkSession, String) => Any = (_, _) => ()
}

/** One slice of the SURVEY.md §2 operator inventory: its queries by name. */
trait QueryModule {
  def queries: Map[String, Query]
}
