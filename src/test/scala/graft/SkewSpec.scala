package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Skew

/** Salted joins must be result-identical to plain joins — salting is a
  * physical redistribution, never a semantic change. */
class SkewSpec extends SparkTestBase {
  import spark.implicits._

  // skewed probe side: 90% of rows share key 1
  lazy val probe = spark.range(0, 10000)
    .select(when($"id" % 10 === 0, $"id" % 100).otherwise(lit(1L)).as("k"),
      $"id".as("v"))
  lazy val build = spark.range(0, 100).select($"id".as("k"), ($"id" * 10).as("w"))

  /** Salt only the listed hot keys; the rest join un-salted. The union of
    * the two joins is exactly the plain join. */
  private def saltedJoinHotKeys(left: DataFrame, right: DataFrame, key: String,
      hotKeys: Seq[Any], factor: Int): DataFrame = {
    val isHot: Column = col(key).isin(hotKeys: _*)
    val cold = left.filter(!isHot).join(right.filter(!isHot), Seq(key), "inner")
    val hot = Skew.saltedJoin(left.filter(isHot), right.filter(isHot), key, factor)
    cold.unionByName(hot)
  }

  test("saltedJoin == plain inner join (same multiset of rows)") {
    val plain = probe.join(build, Seq("k"), "inner").select("k", "v", "w")
    val salted = Skew.saltedJoin(probe, build, "k", 8).select("k", "v", "w")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
  }

  test("saltedJoinHotKeys == plain inner join, salting only the hot key") {
    val plain = probe.join(build, Seq("k"), "inner").select("k", "v", "w")
    val mixed = saltedJoinHotKeys(probe, build, "k", Seq(1L), 8).select("k", "v", "w")
    assert(mixed.count() == plain.count())
    assert(mixed.exceptAll(plain).count() == 0)
  }

  test("salting spreads the hot key across buckets") {
    val salted = probe.filter($"k" === 1)
      .withColumn("__salt", (rand(42) * 8).cast("int"))
    val buckets = salted.groupBy("__salt").count().collect()
    assert(buckets.length == 8)
    val counts = buckets.map(_.getLong(1))
    // roughly uniform: no bucket holds more than 2.5x the mean
    assert(counts.max < 2.5 * (counts.sum / counts.length))
  }
}
