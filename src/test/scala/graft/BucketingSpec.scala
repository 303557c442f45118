package graft

import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Bucketing = co-located joins (SURVEY §4 scale mandate): facts bucketed
  * on the join key at write time join WITHOUT a shuffle at read time. At
  * 100 TB this converts the dominant lineitem⋈orders exchange into a local
  * zip of pre-sorted buckets. */
class BucketingSpec extends SparkTestBase {

  test("bucketed fact tables join with zero Exchange in the plan") {
    // uses the default spark-warehouse dir (warehouse.dir is a static conf);
    // tables are dropped at the end and the dir is gitignored. The metastore
    // is per-JVM, so also remove any leftover table DIRECTORIES from
    // previous runs (DROP TABLE can't see them).
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    Seq("li_b", "ord_b").foreach { t =>
      val p = java.nio.file.Paths.get("spark-warehouse", t)
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    Tables.load(spark, sfDir, "lineitem")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_b")
    Tables.load(spark, sfDir, "orders")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("ord_b")

    // disable broadcast so the planner exercises the bucketed sort-merge
    // path (at real scale both sides exceed the broadcast threshold anyway)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val plan = try {
      val j = spark.table("li_b")
        .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
      j.collect()
      j.queryExecution.executedPlan.toString
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
    val joined = spark.table("li_b")
      .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))

    // the join itself must not shuffle either side: no Exchange between the
    // scans and the SortMergeJoin (the final small aggregation may exchange)
    val joinSection = plan.split("\n").dropWhile(!_.contains("SortMergeJoin"))
    assert(joinSection.nonEmpty, s"expected SortMergeJoin in:\n$plan")
    assert(!joinSection.exists(_.contains("Exchange hashpartitioning(l_orderkey")),
      "lineitem side was shuffled despite bucketing")
    assert(!joinSection.exists(_.contains("Exchange hashpartitioning(o_orderkey")),
      "orders side was shuffled despite bucketing")

    // and the result matches the plain parquet join
    val expected = Tables.load(spark, sfDir, "lineitem")
      .join(Tables.load(spark, sfDir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    assert(joined.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(joined).count() == 0)

    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
  }
}
