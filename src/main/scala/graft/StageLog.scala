package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** The engine's one stage listener: one [[StageLog.Stage]] per stage
  * completed since the last [[reset]]. Bench derives a run's stage count
  * and spill from it; ScaleProbe and ScaleGateSpec look for stages that
  * move real data through one task.
  *
  * The listener bus is asynchronous, so a stage can be recorded a moment
  * after the job that ran it returns. Reads take the lock the listener
  * thread writes under, so a reader never sees a stale or half-built list. */
private[graft] final class StageLog extends SparkListener {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[StageLog.Stage]
  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
    val m = sc.stageInfo.taskMetrics
    buf += StageLog.Stage(sc.stageInfo.numTasks,
      m.inputMetrics.bytesRead + m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }
  def reset(): Unit = synchronized(buf.clear())
  def snapshot(): Seq[StageLog.Stage] = synchronized(buf.toSeq)
}

private[graft] object StageLog {
  /** @param bytesIn input plus shuffle-read bytes
    * @param spilledBytes memory plus disk spill */
  final case class Stage(tasks: Int, bytesIn: Long, spilledBytes: Long)
}
