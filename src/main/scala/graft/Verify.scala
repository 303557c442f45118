package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: run only the named queries (local iteration;
    // the driver's 2-arg invocation is unaffected)
    val only = args.drop(2).toSet
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    // Failed queries (no parquet written) are recorded in _failures.json so
    // the compare step has a positive signal even for oracle-less queries,
    // which would otherwise fail silently (ADVICE.md round 1).
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Exit stays 0 even on per-query failure: the driver must still run the
    // DuckDB compare for the queries that DID produce parquet — the manifest
    // (read by tools/compare.py) carries the failure signal.
    Files.writeString(Paths.get(s"$outDir/_failures.json"),
      failed.map(q).mkString("[", ",", "]"))
    Scratch.purge(spark)
    spark.stop()
  }
}
