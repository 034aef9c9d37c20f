package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

/** One timed interval of the benchmark's own code: a pass, an operation,
  * or one phase of an operation. `layer` names the graft module the
  * interval is spent in; `opId` ties every span of one operation together. */
final case class Span(id: Long, parent: Long, opId: Long, name: String,
                      layer: String, startNs: Long, endNs: Long)

/** Records spans around the benchmark's calls into each layer. While a
  * span is open its id is the calling thread's Spark local property
  * [[Tracer.Key]], so every job started inside it, including the jobs
  * graft starts eagerly while building a DataFrame and the jobs of a
  * streaming query started inside it, carries the id to [[SpanListener]].
  * Spans stay in memory until the run writes them out. A disabled tracer
  * only runs the body. */
final class Tracer(val enabled: Boolean) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var nextId = 1L
  private var open: List[Long] = Nil

  def span[T](sc: SparkContext, name: String, layer: String, opId: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0L)
      val previous = sc.getLocalProperty(Tracer.Key)
      sc.setLocalProperty(Tracer.Key, id.toString)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(Tracer.Key, previous)
        spans += Span(id, parent, opId, name, layer, t0, t1)
      }
    }
}

object Tracer {
  val Key = "graft.perfbench.span"
}

/** Work Spark recorded for the jobs of one span, from the task and stage
  * metrics Spark already collects. Times are in ns, sizes in bytes. */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var taskNs, cpuNs, gcNs = 0L
  var shuffleWrite, shuffleRead, spill, peakExecMem = 0L
  var inBytes, inRows, outBytes, outRows, resultBytes = 0L

  def fields: Seq[(String, Long)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "task_ns" -> taskNs, "cpu_ns" -> cpuNs, "gc_ns" -> gcNs,
    "shuffle_write" -> shuffleWrite, "shuffle_read" -> shuffleRead, "spill" -> spill,
    "peak_exec_mem" -> peakExecMem, "in_bytes" -> inBytes, "in_rows" -> inRows,
    "out_bytes" -> outBytes, "out_rows" -> outRows, "result_bytes" -> resultBytes)
}

/** Attributes jobs, stages and tasks to the span whose id the launching
  * thread carried in [[Tracer.Key]]; work launched outside any span lands
  * under id 0. Reads only what Spark's scheduler events already carry. */
final class SpanListener extends SparkListener {
  private val bySpan = mutable.HashMap.empty[Long, Counters]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val resultStages = mutable.HashSet.empty[Int]

  private def acc(span: Long): Counters = bySpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .map(_.toLong).getOrElse(0L)
    acc(span).jobs += 1
    e.stageInfos.foreach(s => stageSpan(s.stageId) = span)
    // the result stage is created after its parents, so it has the job's highest id
    if (e.stageIds.nonEmpty) resultStages += e.stageIds.max
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc(stageSpan.getOrElse(e.stageInfo.stageId, 0L)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = acc(stageSpan.getOrElse(e.stageId, 0L))
    c.tasks += 1
    if (e.reason != org.apache.spark.Success) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskNs += m.executorRunTime * 1000000L
      c.cpuNs += m.executorCpuTime
      c.gcNs += m.jvmGCTime * 1000000L
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakExecMem = c.peakExecMem.max(m.peakExecutionMemory)
      c.inBytes += m.inputMetrics.bytesRead
      c.inRows += m.inputMetrics.recordsRead
      c.outBytes += m.outputMetrics.bytesWritten
      c.outRows += m.outputMetrics.recordsWritten
      if (resultStages.contains(e.stageId)) c.resultBytes += m.resultSize
    }
  }

  // Files written are a driver-side SQL metric of the write command: learn
  // the metric's accumulator ids from each plan, then sum its updates.
  private val fileMetricIds = mutable.HashSet.empty[Long]
  private var files = 0L

  private def learnFileMetrics(p: org.apache.spark.sql.execution.SparkPlanInfo): Unit = {
    p.metrics.filter(_.name == "number of written files").foreach(fileMetricIds += _.accumulatorId)
    p.children.foreach(learnFileMetrics)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    import org.apache.spark.sql.execution.ui._
    e match {
      case s: SparkListenerSQLExecutionStart => learnFileMetrics(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => learnFileMetrics(u.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        files += d.accumUpdates.collect { case (id, v) if fileMetricIds(id) => v }.sum
      case _ =>
    }
  }

  /** data files written by every write command so far */
  def filesWritten: Long = synchronized(files)

  /** a copy of every span's counters, keyed by span id */
  def snapshot(): Map[Long, Counters] = synchronized {
    bySpan.map { case (k, v) =>
      val c = new Counters
      c.jobs = v.jobs; c.stages = v.stages; c.tasks = v.tasks; c.failedTasks = v.failedTasks
      c.taskNs = v.taskNs; c.cpuNs = v.cpuNs; c.gcNs = v.gcNs
      c.shuffleWrite = v.shuffleWrite; c.shuffleRead = v.shuffleRead; c.spill = v.spill
      c.peakExecMem = v.peakExecMem; c.inBytes = v.inBytes; c.inRows = v.inRows
      c.outBytes = v.outBytes; c.outRows = v.outRows; c.resultBytes = v.resultBytes
      k -> c
    }.toMap
  }

  /** bytes written by tasks of every span so far */
  def bytesWritten: Long = synchronized(bySpan.valuesIterator.map(_.outBytes).sum)
}

/** Node counts over an executed physical plan, walking through adaptive
  * wrappers and subqueries. A reused exchange counts once as reused and
  * its subtree is not walked again. */
final case class PlanCounts(nodes: Int, exchanges: Int, reusedExchanges: Int, topk: Int)

object PlanCounts {
  def of(plan: SparkPlan): PlanCounts = {
    var nodes, exchanges, reused, topk = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _: ReusedExchangeExec => nodes += 1; reused += 1
        case other =>
          nodes += 1
          if (other.isInstanceOf[Exchange]) exchanges += 1
          if (other.getClass.getSimpleName == "TopKPerKeyExec") topk += 1
          other.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(plan)
    PlanCounts(nodes, exchanges, reused, topk)
  }
}
