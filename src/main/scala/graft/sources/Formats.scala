package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink surface beyond parquet (SURVEY.md §2.1 S1/S5, §2.2 K1).
  *
  * The reference ingests headered CSV exports (pd.read_csv,
  * trading212.py:108) and a headered spreadsheet range (trading212.py:
  * 122-125); its sink is a full-refresh overwrite (trading212.py:136).
  * Here: explicit-schema CSV/JSON readers (NEVER schema inference in
  * production — inference is an extra pass and nondeterministic under
  * drift), a header-promoting all-strings reader matching sheet semantics,
  * and overwrite/partitioned parquet sinks.
  *
  * Scale notes: timestampFormat carries microseconds so CSV/JSON round-trip
  * losslessly; partitioned writes lay data out for partition pruning
  * (the 100 TB layout the 365-day ingestion windows of S6 imply).
  */
object Formats {

  val tsFormat = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** S1: headered CSV scan with an explicit schema. */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema)
      .option("header", "true")
      .option("timestampFormat", tsFormat)
      .csv(path)

  /** S5: spreadsheet-style scan — header promotion, every cell a string
    * (pandas `mf.columns = mf.iloc[0]; mf = mf[1:]` semantics). */
  def readSheet(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("inferSchema", "false") // all strings, like get_all_values()
      .csv(path)

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("header", "true")
      .option("timestampFormat", tsFormat)
      .csv(path)

  /** S2/S4: JSON-lines scan with an explicit schema. */
  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema)
      .option("timestampFormat", tsFormat)
      .json(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("timestampFormat", tsFormat)
      .json(path)

  /** K1: full-refresh overwrite sink (the reference's replace-the-range
    * publish, trading212.py:136), with a date/key-partitioned layout so
    * readers prune partitions instead of scanning history (cf. the S6
    * 365-day windows). */
  def writePartitioned(df: DataFrame, path: String, partitionCols: String*): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
}
