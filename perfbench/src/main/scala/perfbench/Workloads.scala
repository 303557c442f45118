package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.functions.{StringFns, TextFns, VectorFns}
import graft.operators.{Curation, Flagship, TextOps, VectorOps}
import graft.sources.GraftLog

/** Output checks and file helpers shared by the workloads. */
object Out {

  /** Row count and an order-insensitive hash of a parquet output. */
  def parquetDigest(spark: SparkSession, path: String): (Long, String) = {
    val df = spark.read.parquet(path)
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*)
      .cast("decimal(38,0)"))).head()
    (r.getLong(0), String.valueOf(r.get(1)))
  }

  /** Order-insensitive hash of collected rows. */
  def rowsDigest(rows: Array[Row]): String =
    scala.util.hashing.MurmurHash3.unorderedHash(rows.toSeq.map(_.toString)).toString

  def delete(path: String): Unit = {
    val p = Path.of(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
  }

  /** name -> size of every file under `root`. */
  def files(root: String): Map[String, Long] = {
    val p = Path.of(root)
    if (!Files.exists(p)) Map.empty
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => p.relativize(f).toString -> Files.size(f)).toMap
  }

  /** Time `select(withFn)` into a noop sink minus the same select without
    * the function, median of three after one warm pair. */
  def fnCost(base: DataFrame, withFn: Column, without: Column): Double = {
    def t(c: Column): Double = {
      val t0 = System.nanoTime()
      base.select(c).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    t(withFn); t(without)
    val d = (0 until 3).map(_ => t(withFn) - t(without)).sorted
    d(1)
  }
}

/** Files under a directory, reporting those added since the last look. */
final class Watch(root: String) {
  var now: Map[String, Long] = Out.files(root)
  def added(): Map[String, Long] = {
    val before = now
    now = Out.files(root)
    now -- before.keySet
  }
}

object Plans extends AdaptiveSparkPlanHelper {
  /** Input partitions (one per graftlog file) planned by the scans of an
    * executed DataFrame. */
  def scannedFiles(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b.inputPartitions.size }.sum
}

/** The paper's own ETL job, published as parquet each iteration. */
final class FlagshipEtl(inputs: String, work: String, rows: Long) extends Workload {
  def inputRowsPerIteration: Long = rows

  def iterate(spark: SparkSession, index: Int, keep: Boolean, tr: Tracer): (Seq[Op], () => Seq[Op]) = {
    val out = s"$work/out/flagship-$index"
    val name = "operators.Flagship.pipeline"
    val t0 = System.nanoTime()
    tr(name, index) {
      val df = tr(s"$name.construct", index)(Flagship.pipeline(spark, inputs))
      tr(s"$name.execute", index)(df.write.parquet(out))
    }
    val secs = (System.nanoTime() - t0) / 1e9
    (Nil, () => {
      val (n, h) = Out.parquetDigest(spark, out)
      if (!keep) Out.delete(out)
      Seq(Op(name, secs, n, h, detail = if (keep) Map("output" -> out) else Map.empty))
    })
  }

  override def finish(spark: SparkSession, tr: Tracer): Map[String, Any] =
    if (!tr.enabled) Map.empty
    else Map("functions" -> Map("functions.StringFns.normalizeAction_s" -> Out.fnCost(
      Flagship.rawTransactions(spark, inputs),
      StringFns.normalizeAction(col("Action")), col("Action"))))
}

/** The LLM-curation operators, each result collected to the driver. */
final class LlmCuration(inputs: String, work: String, rows: Long) extends Workload {
  def inputRowsPerIteration: Long = rows

  private val calls: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "operators.Curation.curate" -> (Curation.curate _),
    "operators.TextOps.rrfFusion" -> (TextOps.rrfFusion _),
    "operators.VectorOps.embeddingNearDupBlocked" -> (VectorOps.embeddingNearDupBlocked _))

  def iterate(spark: SparkSession, index: Int, keep: Boolean, tr: Tracer): (Seq[Op], () => Seq[Op]) = {
    val done = calls.map { case (name, f) =>
      val t0 = System.nanoTime()
      val (df, rows) = tr(name, index) {
        val df = tr(s"$name.construct", index)(f(spark, inputs))
        (df, tr(s"$name.execute", index)(df.collect()))
      }
      (name, (System.nanoTime() - t0) / 1e9, df.schema, rows)
    }
    (Nil, () => done.map { case (name, secs, schema, rows) =>
      val detail: Map[String, Any] =
        if (!keep) Map.empty
        else {
          val out = s"$work/out/first-$name"
          spark.createDataFrame(rows.toList.asJava, schema).coalesce(1).write.parquet(out)
          Map("output" -> out)
        }
      Op(name, secs, rows.length.toLong, Out.rowsDigest(rows), detail = detail)
    })
  }

  override def finish(spark: SparkSession, tr: Tracer): Map[String, Any] =
    if (!tr.enabled) Map.empty
    else {
      graft.plans.GraftFunctions.ensureRegistered(spark)
      val docs = graft.sources.Tables.load(spark, inputs, "documents")
      val emb = graft.sources.Tables.load(spark, inputs, "embeddings").crossJoin(spark.range(100))
      val toks = TextFns.tokens(col("text"))
      Map("functions" -> Map(
        "functions.TextFns.shingles_s" -> Out.fnCost(docs, TextFns.shingles(toks), toks),
        "functions.VectorFns.cosine_s" -> Out.fnCost(emb,
          VectorFns.cosine(col("embedding"), col("embedding")), col("embedding")),
        "plans.cosine_fast_s" -> Out.fnCost(emb,
          expr("cosine_fast(embedding, embedding)"), col("embedding"))))
    }
}

/** Upserts into a graftlog table through its streaming sink, then a fixed
  * read mix; every `compactEvery`-th batch also compacts the table. Each
  * iteration lands the next pre-generated batch, so the table grows by the
  * batch's fresh keys per iteration, and the loop ends early once every
  * batch has been landed. */
final class LakeUpsert(inputs: String, work: String, rows: Long, compactEvery: Int) extends Workload {
  def inputRowsPerIteration: Long = rows
  // the generator's base key and user ranges (gen.py N_EVENTS, N_USERS)
  private val Users = 1500L
  private val BaseEvents = 100000L
  private var batch = 0
  private val batches = Option(new java.io.File(s"$inputs/batches").list()).map(_.length).getOrElse(0)
  override def exhausted: Boolean = batch >= batches
  private var landing, sink, ckpt = ""
  private var sinkFiles, landingFiles: Watch = null
  private val cols = Seq("event_id", "user_id", "value", "event_type").map(col)

  private def drain(spark: SparkSession): Unit =
    spark.readStream.format("graftlog").load(landing)
      .writeStream.format("graftlog")
      .option("upsertKey", "event_id")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start(sink)
      .awaitTermination()

  override def stage(spark: SparkSession): Unit = {
    val root = s"$work/lake"
    landing = s"$root/landing"; sink = s"$root/sink"; ckpt = s"$root/ckpt"
    spark.read.parquet(s"$inputs/events.parquet").select(cols: _*)
      .write.format("graftlog").mode("append").save(landing)
    drain(spark)
    sinkFiles = new Watch(sink)
    landingFiles = new Watch(landing)
  }

  private def table(spark: SparkSession): DataFrame = spark.read.format("graftlog").load(sink)

  def iterate(spark: SparkSession, index: Int, keep: Boolean, tr: Tracer): (Seq[Op], () => Seq[Op]) = {
    val b = batch
    batch += 1
    if (tr.enabled) { sinkFiles.added(); landingFiles.added() }
    val key = (b * 7919L) % BaseEvents
    val lo = (b * 37L) % (Users - 15)
    val hi = lo + 14
    def timed[T](name: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = tr(name, index)(body)
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val (_, writeS) = timed("sources.GraftLog.write") {
      tr("sources.GraftLog.land", index) {
        spark.read.parquet(f"$inputs/batches/batch-$b%03d.parquet")
          .repartition(1).sortWithinPartitions("seq").select(cols: _*)
          .write.format("graftlog").mode("append").save(landing)
      }
      tr("sources.GraftLog.stream", index)(drain(spark))
    }
    val written = if (tr.enabled) Some((sinkFiles.added(), landingFiles.added(), sinkFiles.now)) else None
    def read(name: String, df: DataFrame): (Array[Row], Double, Int) = {
      val (rows, s) = timed(s"sources.GraftLog.read.$name")(df.collect())
      (rows, s, if (tr.enabled) Plans.scannedFiles(df) else -1)
    }
    val point = read("point", table(spark).filter(col("event_id") === key))
    val range = read("range", table(spark).filter(col("user_id").between(lo, hi)))
    val agg = read("agg", table(spark).groupBy(col("event_type")).agg(
      count(lit(1)).as("n"), sum(round(col("value") * 100).cast("long")).as("cents"),
      min(col("value")).as("lo"), max(col("value")).as("hi")))
    val compaction =
      if ((b + 1) % compactEvery != 0) None
      else {
        val (r, s) = timed("sources.GraftLog.compact")(GraftLog.compact(spark, sink, 1L << 30))
        Some((r, s, if (tr.enabled) Some(sinkFiles.added()) else None))
      }
    (Nil, () => {
      def rows(rs: Array[Row]): Seq[Seq[Any]] = rs.toSeq.map(_.toSeq)
      val w = written.map { case (sinkAdded, landed, live) =>
        Map("bytes_written" -> sinkAdded.values.sum,
          "files_written" -> sinkAdded.keys.count(_.endsWith(".graftlog")),
          "delete_files_written" -> sinkAdded.keys.count(_.endsWith(".graftdel")),
          "bytes_landed" -> landed.values.sum,
          "live_files" -> live.keys.count(_.endsWith(".graftlog")))
      }.getOrElse(Map.empty)
      Seq(
        Op("sources.GraftLog.write", writeS, detail = Map("batch" -> b) ++ w),
        Op("sources.GraftLog.read.point", point._2, point._1.length.toLong,
          detail = Map("batch" -> b, "key" -> key, "result" -> rows(point._1), "files_scanned" -> point._3)),
        Op("sources.GraftLog.read.range", range._2, range._1.length.toLong,
          detail = Map("batch" -> b, "lo" -> lo, "hi" -> hi, "result" -> rows(range._1),
            "files_scanned" -> range._3)),
        Op("sources.GraftLog.read.agg", agg._2, agg._1.length.toLong,
          detail = Map("batch" -> b, "result" -> rows(agg._1), "files_scanned" -> agg._3))
      ) ++ compaction.map { case ((before, after, rewritten), s, nb) =>
        Op("sources.GraftLog.compact", s, detail = Map("batch" -> b, "files_before" -> before,
          "files_after" -> after, "bytes_rewritten" -> rewritten,
          "bytes_written" -> nb.map(_.values.sum).getOrElse(-1L)))
      }
    })
  }

  override def finish(spark: SparkSession, tr: Tracer): Map[String, Any] = {
    val out = s"$work/out/lake-final"
    table(spark).write.parquet(out)
    val liveRows = spark.read.parquet(out).count()
    val files = Out.files(sink)
    Map("lake" -> Map(
      "final" -> out,
      "batches" -> batch,
      "live_rows" -> liveRows,
      "sink_bytes" -> files.values.sum,
      "sink_files" -> files.keys.toSeq.sorted,
      "landed_bytes" -> Out.files(landing).values.sum))
  }
}
