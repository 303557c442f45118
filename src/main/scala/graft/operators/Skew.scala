package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-handling join utility (SURVEY.md §4.2 / builder scale mandate).
  *
  * AQE's skew-join split handles most skew at runtime
  * (spark.sql.adaptive.skewJoin.enabled, on by default); this utility is the
  * explicit fallback for the cases AQE can't fix — e.g. a single hot key on
  * the BUILD side of a sort-merge join, or pre-AQE writers.
  *
  * Mechanism: the probe side gets a uniform random salt in [0, factor);
  * the build side is replicated `factor` times (one copy per salt value);
  * the join key becomes (key, salt), spreading one hot key's rows over
  * `factor` reducers. Cost: build side inflates by `factor` — pick the
  * smallest factor that caps the largest reducer, and salt ONLY the hot
  * keys (filter + union) when the build side is large.
  */
object Skew {

  /** Equi-join `left` with `right` on `key`, salting to `factor` buckets.
    * Inner join only (salting null-extends incorrectly for outer joins). */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String, factor: Int): DataFrame = {
    require(factor > 0, "salt factor must be positive")
    val salted = left.withColumn("__salt", (rand(seed = 42) * factor).cast("int"))
    val replicated = right
      .withColumn("__salt", explode(sequence(lit(0), lit(factor - 1))))
    salted.join(replicated, Seq(key, "__salt"), "inner").drop("__salt")
  }
}
