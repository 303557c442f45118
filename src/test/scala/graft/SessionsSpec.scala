package graft

import graft.sources.Tables

/** The session recipe: what every session the engine builds carries, and
  * what a reader does with a session that lacks it. */
class SessionsSpec extends SparkTestBase {

  test("a new session resolves the custom functions through the extension alone") {
    // newSession starts from the built-in registry plus the builder's
    // extensions; temp functions of the parent are not carried over
    val r = spark.newSession().sql(
      """SELECT cosine_fast(array(CAST(3 AS FLOAT), CAST(4 AS FLOAT)),
        |                   array(CAST(4 AS FLOAT), CAST(3 AS FLOAT))),
        |       hamming_dist(CAST(10 AS BIGINT), CAST(5 AS BIGINT)),
        |       l2sq_fast(array(1D, 2D), array(3D, 1D))""".stripMargin).head()
    // (3*4 + 4*3) / (5 * 5); popcount(1010 xor 0101); (1-3)^2 + (2-1)^2
    assert(r.getDouble(0) == 0.96)
    assert(r.getInt(1) == 4)
    assert(r.getDouble(2) == 5.0)
  }

  test("reading fixture timestamps requires nanosAsLong; the reader does not set it") {
    val bare = spark.newSession()
    bare.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val e = intercept[IllegalArgumentException](Tables.load(bare, sfDir, "events"))
    assert(e.getMessage.contains("spark.sql.legacy.parquet.nanosAsLong") &&
      e.getMessage.contains("graft.Sessions"), e.getMessage)
    assert(bare.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false")
  }
}
