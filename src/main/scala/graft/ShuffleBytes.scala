package graft

/** Shuffle-byte meter (r15 verdict item 6): the multimodal exchange's
  * cluster cost was argued in single-box SECONDS with the network
  * caveat stated; what a cluster fabric actually pays is shuffle
  * BYTES. A SparkListener accumulates per-stage shuffle write/read
  * bytes over one run of a plan — deterministic for a fixed plan, so
  * one untimed run measures it without perturbing the timed reps. */
object ShuffleBytes {
  private final class Acc extends org.apache.spark.scheduler.SparkListener {
    val written = new java.util.concurrent.atomic.AtomicLong
    val read = new java.util.concurrent.atomic.AtomicLong
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        written.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      }
    }
  }

  /** (shuffleWriteBytes, shuffleReadBytes) across every stage `fn`
    * runs. The bus is drained BEFORE attaching too: a backlogged
    * AsyncEventQueue would otherwise deliver the preceding timed
    * runs' queued stage events into the fresh listener and inflate
    * the counts (review finding, r16). */
  def measure(spark: org.apache.spark.sql.SparkSession, fn: () => Unit): (Long, Long) = {
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
    val acc = new Acc
    spark.sparkContext.addSparkListener(acc)
    try {
      fn()
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      (acc.written.get(), acc.read.get())
    } finally spark.sparkContext.removeSparkListener(acc)
  }
}
