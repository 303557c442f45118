package graft
/** t1-style smoke: SparkEntry.entry must return rows on sf0.001. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    val n = SparkEntry.entry(spark).count()
    println(s"""{"smoke_rows":$n}""")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
