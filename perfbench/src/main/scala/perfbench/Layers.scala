package perfbench

/** Per-layer metrics of a traced run, as per-iteration means over the timed
  * loop. Spans come from the harness thread; jobs, stages, task and SQL
  * metrics and streaming progress come from the [[Recorder]]. */
object Layers {

  val operators: Seq[String] = Seq(
    "operators.Flagship.pipeline", "operators.Curation.curate",
    "operators.TextOps.rrfFusion", "operators.VectorOps.embeddingNearDupBlocked")

  def compute(spans: Seq[Span], rec: Recorder, iterations: Int, cores: Int): Map[String, Double] = {
    val n = math.max(iterations, 1).toDouble
    val (jobSpan, byTime) = Attribution.attribute(rec.jobs.values.toSeq, spans)
    val stageSpan: Map[Int, Int] = rec.stageSpan.toMap.flatMap { case (st, o) =>
      o.orElse(Spans.innermost(spans, rec.stageTime(st)).map(_.id)).map(st -> _)
    }
    val inSpan: Set[Int] = spans.map(_.id).toSet
    val timedStages = stageSpan.filter { case (_, s) => inSpan(s) }.keySet
    def named(name: String) = spans.filter(_.name == name)
    def meanDur(name: String) = named(name).map(_.dur).sum / 1e9 / n

    /** Summed task updates of an operator metric over `stages`, in seconds
      * for timing metrics and raw units otherwise. */
    def sqlMetric(stages: Set[Int], node: String => Boolean, metric: String => Boolean): Double =
      rec.taskAcc.iterator.collect {
        case ((st, acc), v) if stages(st) && {
          val (nd, m, _) = rec.accMeta(acc); node(nd) && metric(m)
        } => rec.accMeta(acc)._3 match {
          case "timing" => v / 1e3
          case "nsTiming" => v / 1e9
          case _ => v.toDouble
        }
      }.sum

    /** Span time not covered by any job attributed to the span's subtree. */
    def driverTime(root: Span): Long = {
      val ids = Spans.subtree(spans, root.id)
      val windows = rec.jobs.values.filter(j => jobSpan.get(j.id).exists(ids)).map(j => (j.start, j.end)).toSeq
      root.dur - Spans.covered(windows, root.start, root.end)
    }

    val opMetrics = operators.flatMap { op =>
      val roots = named(op)
      val ids = roots.flatMap(r => Spans.subtree(spans, r.id)).toSet
      val stages = stageSpan.collect { case (st, s) if ids(s) => st }.toSet
      val aggs = stages.toSeq.flatMap(rec.stages.get)
      val wall = roots.map(_.dur).sum / 1e9
      val run = aggs.map(_.runMs).sum / 1e3
      Seq(
        "construct_s" -> meanDur(s"$op.construct"),
        "execute_s" -> meanDur(s"$op.execute"),
        "driver_s" -> roots.map(driverTime).sum / 1e9 / n,
        "jobs" -> jobSpan.count { case (_, s) => ids(s) } / n,
        "stages" -> stages.size / n,
        "tasks" -> aggs.map(_.tasks).sum / n,
        "task_overhead_s" -> aggs.map(_.overheadMs).sum / 1e3 / n,
        "executor_run_s" -> run / n,
        "core_busy_frac" -> (if (wall > 0) run / (wall * cores) else 0.0),
        "shuffle_write_mb" -> aggs.map(_.shuffleWrite).sum / 1048576.0 / n,
        "fetch_wait_s" -> aggs.map(_.fetchWaitMs).sum / 1e3 / n,
        "spill_mb" -> aggs.map(_.spill).sum / 1048576.0 / n,
        "sort_s" -> sqlMetric(stages, _.startsWith("Sort"), _ == "sort time") / n,
        "agg_s" -> sqlMetric(stages, _.contains("HashAggregate"), _ == "time in aggregation build") / n
      ).map { case (k, v) => s"$op.$k" -> v }
    }

    val parquetScan: String => Boolean = _.startsWith("Scan parquet")
    val graftScan: String => Boolean = _.startsWith("BatchScan graftlog")
    val timedExecs = rec.execStart.collect {
      case (e, t) if Spans.innermost(spans, t).isDefined => e
    }.toSet
    val bytesRead = rec.driverAcc.collect {
      case (e, acc, v) if timedExecs(e) && rec.accMeta.get(acc).exists { case (nd, m, _) =>
        parquetScan(nd) && m == "size of files read" } => v
    }.sum

    val writes = named("sources.GraftLog.write")
    val progress = rec.progress.filter { case (t, _) =>
      Spans.innermost(spans, t).exists(_.name == "sources.GraftLog.stream") }
    def prog(k: String) = progress.map(_._2.getOrElse(k, 0L)).sum / 1e3 / n
    val compactions = named("sources.GraftLog.compact")

    val selfGap = spans.filter(_.parent == -1).map { root =>
      val tree = spans.filter(s => Spans.subtree(spans, root.id)(s.id))
      math.abs(Spans.selfTimes(tree).values.sum - root.dur) / 1e9
    }.maxOption.getOrElse(0.0)

    opMetrics.toMap ++ Map(
      "sources.Tables.scan_s" -> sqlMetric(timedStages, parquetScan, _ == "scan time") / n,
      "sources.Tables.rows_read" -> sqlMetric(timedStages, parquetScan, _ == "number of output rows") / n,
      "sources.Tables.bytes_read_mb" -> bytesRead / 1048576.0 / n,
      "sources.GraftLog.write_s" -> meanDur("sources.GraftLog.write"),
      "sources.GraftLog.commit_driver_s" -> writes.map(driverTime).sum / 1e9 / n,
      // records the scan emitted plus those its pushed predicates dropped
      "sources.GraftLog.rows_decoded" -> sqlMetric(timedStages, graftScan,
        m => m == "number of output rows" || m.startsWith("records dropped")) / n,
      "sources.GraftLog.compact_s" ->
        (if (compactions.isEmpty) 0.0 else compactions.map(_.dur).sum / 1e9 / compactions.size),
      "sources.GraftLog.stream.batches" -> progress.count(_._2.getOrElse("numInputRows", 0L) > 0) / n,
      "sources.GraftLog.stream.trigger_s" -> prog("triggerExecution"),
      "sources.GraftLog.stream.add_batch_s" -> prog("addBatch"),
      "sources.GraftLog.stream.wal_commit_s" -> prog("walCommit"),
      "sources.GraftLog.stream.plan_s" -> prog("queryPlanning"),
      "bench.unattributed_jobs" -> byTime / n,
      "bench.self_time_gap_s" -> selfGap)
  }
}
