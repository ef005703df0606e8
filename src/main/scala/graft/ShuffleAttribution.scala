package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Job-group-scoped shuffle attribution — the ONE rendering of the
  * measurement discipline shared by ByteBudgetSpec (the suite gate),
  * `graft.Dev bytes` (the calibration tool) and [[Bench]]'s per-query
  * byte columns, so the printed calibration rows, the asserted budgets
  * and the bench JSON can never drift apart on measurement mechanics.
  *
  * Discipline: suites share one SparkContext and may run concurrently,
  * so a global listener would co-count other workloads' stages. Each
  * measurement runs `body` under a unique job group; the listener
  * keeps the group's stage ids (from onJobStart, which carries the
  * submitting thread's properties — broadcast-exchange threads inherit
  * them via SQLExecution's captured locals) and sums shuffle writes
  * only for those stages, draining the listener bus before reading.
  */
object ShuffleAttribution {

  /** Shuffle bytes a measured body moved: written, and read (remote +
    * local).
    */
  final case class Bytes(write: Long, read: Long)

  def measure(spark: SparkSession, label: String)(body: => Unit): Bytes = {
    val sc = spark.sparkContext
    val group = s"$label-${java.util.UUID.randomUUID()}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val written = new java.util.concurrent.atomic.AtomicLong
    val read = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          j.stageIds.foreach(stages.add(_))
          ()
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (stages.contains(s.stageInfo.stageId)) {
          val m = s.stageInfo.taskMetrics
          if (m != null) {
            written.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            read.addAndGet(
              m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
            ()
          }
        }
    }
    sc.addSparkListener(listener)
    try {
      // the group wraps PLAN CONSTRUCTION too: model fits and stage-table
      // localCheckpoints inside the body shuffle on this thread's group
      sc.setJobGroup(group, label, interruptOnCancel = false)
      try body
      finally sc.clearJobGroup()
      org.apache.spark.graft.ListenerSync.drain(sc)
      Bytes(written.get, read.get)
    } finally sc.removeSparkListener(listener)
  }
}
