package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One operation of an iteration: a call into the engine whose output was
  * materialized, with what the run needs to check that output later. */
final case class Op(name: String, seconds: Double, rows: Long = -1L, hash: String = "",
    error: String = "", detail: Map[String, Any] = Map.empty)

/** One closed-loop iteration. `phase` is "warm" for the cold-JVM iteration
  * and the warm-up after it, "timed" for the measured loop. */
final case class Iter(index: Int, phase: String, seconds: Double, cpuSeconds: Double, ops: Seq[Op])

/** A workload: staging done at set-up, and one iteration of engine calls.
  * `iterate` returns its ops plus checks to run after the iteration's
  * clock has stopped. */
trait Workload {
  def inputRowsPerIteration: Long
  def stage(spark: SparkSession): Unit = ()
  def iterate(spark: SparkSession, index: Int, keep: Boolean, tr: Tracer): (Seq[Op], () => Seq[Op])
  /** True once the workload has no input left for another iteration. */
  def exhausted: Boolean = false
  /** Called once after the loop; returns extra result fields. */
  def finish(spark: SparkSession, tr: Tracer): Map[String, Any] = Map.empty
}

/** The benchmark process: `--workload w --inputs dir --work dir --seconds s
  * --trace 0|1 --input-rows r --compact-every k --warmup n`. Builds the
  * session and stages the inputs once, timed from JVM start; runs one
  * iteration on the cold JVM and `n` untimed warm-up iterations after it
  * (iteration times fall for the first few iterations while the JIT
  * compiles the engine's hot paths); then the closed loop for `seconds` of
  * iteration time and at least [[MinTimed]] iterations, or until the
  * workload runs out of input. Writes `result.json` into the work dir. */
object Main {

  /** Timed iterations a run makes even when the first already fills
    * `seconds`: with one, the loop's median is a single sample, and with a
    * loop that sometimes fits a second one, the median depends on whether it
    * did. */
  val MinTimed = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workDir = opt("work")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val rt = ManagementFactory.getRuntimeMXBean
    val processStart = System.nanoTime() - (System.currentTimeMillis() - rt.getStartTime) * 1000000L
    val wl: Workload = opt("workload") match {
      case "flagship_etl" => new FlagshipEtl(opt("inputs"), workDir, opt("input-rows").toLong)
      case "llm_curation" => new LlmCuration(opt("inputs"), workDir, opt("input-rows").toLong)
      case "lake_upsert" =>
        new LakeUpsert(opt("inputs"), workDir, opt("input-rows").toLong, opt("compact-every").toInt)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    val iters = mutable.ArrayBuffer.empty[Iter]
    var checkS = 0.0
    var spark: SparkSession = null
    var tracer: Tracer = null
    var recorder: Recorder = null

    def runIteration(index: Int, phase: String): Unit = {
      val t0 = System.nanoTime()
      val c0 = Jvm.cpuSeconds()
      val (ops, checks) = tracer("iteration", index) {
        try wl.iterate(spark, index, keep = index == 0, tracer)
        catch { case e: Exception => (Seq(Op("iteration", 0.0, error = e.toString)), () => Nil) }
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val cpu = Jvm.cpuSeconds() - c0
      val k0 = System.nanoTime()
      val checked = try checks() catch { case e: Exception => Seq(Op("check", 0.0, error = e.toString)) }
      checkS += (System.nanoTime() - k0) / 1e9
      iters += Iter(index, phase, secs, cpu, ops ++ checked)
    }

    val b0 = System.nanoTime()
    spark = graft.Sessions.local(cores.toString)
    val buildS = (System.nanoTime() - b0) / 1e9
    wl.stage(spark)
    val setupS = (System.nanoTime() - processStart) / 1e9
    tracer = new Tracer(false, spark.sparkContext)
    (0 to opt("warmup").toInt).takeWhile(_ => !wl.exhausted).foreach(i => runIteration(i, "warm"))

    if (traced) {
      recorder = new Recorder
      spark.sparkContext.addSparkListener(recorder)
      spark.streams.addListener(recorder.streams)
      tracer = new Tracer(true, spark.sparkContext)
    }
    var loopS = 0.0
    var timed = 0
    while ((loopS < seconds || timed < MinTimed) && !wl.exhausted) {
      timed += 1
      runIteration(iters.size, "timed")
      loopS += iters.last.seconds
    }

    val extra = wl.finish(spark, tracer)
    val layers =
      if (traced) {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        Layers.compute(tracer.spans.toSeq, recorder, iters.count(_.phase == "timed"), cores)
      } else Map.empty[String, Double]
    graft.Scratch.purge(spark)
    spark.stop()

    val result = Map(
      "workload" -> opt("workload"),
      "cores" -> cores,
      "setup_s" -> setupS,
      "build_s" -> buildS,
      "loop_s" -> loopS,
      "check_s" -> checkS,
      "input_rows_per_iteration" -> wl.inputRowsPerIteration,
      "iterations" -> iters.toSeq.map(i => Map(
        "index" -> i.index, "phase" -> i.phase, "seconds" -> i.seconds, "cpu_seconds" -> i.cpuSeconds,
        "ops" -> i.ops.map(o => Map("name" -> o.name, "seconds" -> o.seconds, "rows" -> o.rows,
          "hash" -> o.hash, "error" -> o.error) ++ o.detail))),
      "jvm" -> Jvm.snapshot(),
      "oracle_sql" -> Map(
        "flagship" -> graft.operators.Flagship.oracleSql,
        "curate" -> graft.operators.Curation.curateSql,
        "rrf" -> graft.operators.TextOps.rrfFusionSql,
        "neardup" -> graft.operators.VectorOps.embeddingNearDupSql),
      "per_layer" -> layers) ++ extra
    java.nio.file.Files.writeString(java.nio.file.Path.of(workDir, "result.json"), Json(result))
  }
}

object Jvm {
  def snapshot(): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
    val jit = Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    Map("gc_s" -> gc, "jit_s" -> jit, "cpu_s" -> cpuSeconds(), "heap_peak_mb" -> heap)
  }

  /** CPU time of the whole process: task, driver, JIT and GC threads. */
  def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case n: java.lang.Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case x => apply(x.toString)
  }
}
