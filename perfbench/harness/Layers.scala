package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine-layer counters for one op, filled from Spark's own events. */
final class LayerCounts {
  var jobs = 0L
  var buildJobs = 0L
  var stages = 0L
  var tasks = 0L
  var schedDelayMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var spillBytes = 0L
  var peakTaskMem = 0L
  var planMs = 0L
  var planNodes = 0L
  // job wall time split by the call site Spark records for the job
  val jobMsBySite = mutable.Map.empty[String, Long]

  def toMap: Map[String, Double] = Map(
    "catalyst.plan_s" -> planMs / 1e3,
    "catalyst.plan_nodes" -> planNodes.toDouble,
    "eager.jobs" -> buildJobs.toDouble,
    "scheduler.jobs" -> jobs.toDouble,
    "scheduler.stages" -> stages.toDouble,
    "scheduler.tasks" -> tasks.toDouble,
    "scheduler.delay_s" -> schedDelayMs / 1e3,
    "scan.input_bytes" -> inputBytes.toDouble,
    "exchange.shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "exchange.fetch_wait_s" -> fetchWaitMs / 1e3,
    "compute.task_cpu_s" -> cpuNs / 1e9,
    "compute.gc_s" -> gcMs / 1e3,
    "memory.spill_bytes" -> spillBytes.toDouble,
    "memory.peak_task_mem_bytes" -> peakTaskMem.toDouble)
}

/** Attributes Spark work to the op that caused it. The harness tags every
  * job it triggers with `setJobGroup("<op key>|<phase>")`; jobs, stages and
  * tasks are charged to the op named by that tag. Query-execution events
  * carry no tag, so they are charged to the op that is current when they
  * arrive — the harness drains the listener bus before moving to the next
  * op, which makes that exact for a single closed-loop client.
  */
final class LayerListener extends SparkListener with QueryExecutionListener {
  private val counts = mutable.Map.empty[String, LayerCounts]
  private val jobOwner = mutable.Map.empty[Int, (String, String, Long)]
  private val stageOwner = mutable.Map.empty[Int, String]
  @volatile var currentOp: String = null
  val jobSpans = mutable.ArrayBuffer.empty[Span]

  def countsFor(op: String): LayerCounts = synchronized(counts.getOrElseUpdate(op, new LayerCounts))
  def take(op: String): LayerCounts = synchronized(counts.remove(op).getOrElse(new LayerCounts))

  private def tag(props: java.util.Properties): Option[(String, String)] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .map(_.split('|')).collect { case Array(op, phase) => (op, phase) }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    tag(e.properties).foreach { case (op, phase) =>
      val site = e.stageInfos.sortBy(_.stageId).lastOption
        .map(_.name.takeWhile(_ != ' ')).getOrElse("?")
      jobOwner(e.jobId) = (op, s"$phase:$site", e.time)
      val c = countsFor(op)
      c.jobs += 1
      if (phase == "build") c.buildJobs += 1
      e.stageInfos.foreach(s => stageOwner(s.stageId) = op)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOwner.remove(e.jobId).foreach { case (op, site, start) =>
      val c = countsFor(op)
      c.jobMsBySite(site) = c.jobMsBySite.getOrElse(site, 0L) + (e.time - start)
      jobSpans += Span(s"job:$site", start * 1000000L, e.time * 1000000L, op, op)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOwner.remove(e.stageInfo.stageId).foreach(op => countsFor(op).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(e.stageId).foreach { op =>
      val c = countsFor(op)
      c.tasks += 1
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakTaskMem = math.max(c.peakTaskMem, m.peakExecutionMemory)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val op = currentOp
    if (op != null) {
      val phases = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      val nodes = qe.analyzed.collectWithSubqueries { case p => p }.size
      synchronized {
        val c = countsFor(op)
        c.planMs += ms
        c.planNodes += nodes
      }
    }
  }
}
