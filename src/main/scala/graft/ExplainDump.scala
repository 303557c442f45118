package graft

/** Dev aid (round 21): write the `.explain("formatted")` output of one or
  * more registered queries to plans/<tag>/<query>_<suffix>.txt — the
  * optimization rounds' before/after plan evidence. Not part of the driver
  * contract.
  *
  * {{{ sbt "runMain graft.ExplainDump r21 before dedup_pagerank profile_lineitem" }}}
  *
  * Calling a query runs its `run`, which stages its inputs on first use
  * and builds the plan. For queries whose construction runs eager
  * jobs (iterative loops, PQ training collects), the formatted plan shows
  * the FINAL declared DataFrame only; the eager prefix is visible in the
  * bench telemetry (stages per run) instead.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"plans/$tag"))
    names.foreach { name =>
      val df = Bench.benchable(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"plans/$tag/${name}_$suffix.txt"), txt)
      println(s"EXPLAINDUMP wrote plans/$tag/${name}_$suffix.txt (${txt.length} chars)")
    }
    Scratch.purge(spark)
    spark.stop()
  }
}
