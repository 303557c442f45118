package graft

/** Human entry point (round-11 verdict #7): run the flagship SURVEY.md
  * §3.3 pipeline end-to-end on a fixture dir and print the 19-column head
  * — the engine demonstrated outside the driver harness contract.
  *
  * Usage: sbt "runMain graft.Demo [sfDir] [accountId]"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val account = if (args.length > 1) args(1) else "ACC-EQ-1"
    val spark = Sessions.local()
    val out = operators.Flagship.pipeline(spark, sfDir, account)
    println(s"flagship pipeline on $sfDir (account $account): " +
      s"${out.columns.length} columns, ${out.count()} rows")
    out.show(20, truncate = false)
    Scratch.purge(spark)
    spark.stop()
  }
}
