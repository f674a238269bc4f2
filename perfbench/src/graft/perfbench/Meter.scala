package graft.perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The modules a Spark job is charged to. A job belongs to the module of
  * the innermost `graft.*` frame of its call site (`StageInfo.details`);
  * `Lineage.cut` frames are skipped, so a checkpoint is charged to its
  * caller. Frames of the ledger (`graft.Queries` and other top-level
  * code) are `ledger`; the benchmark's own collect of a result is
  * `collect`. A job submitted from a thread with no `graft.*` frame (AQE
  * query stages, broadcast builds, micro-batches) takes the layer of the
  * call site that started its SQL execution, or `streaming` when a
  * streaming query ran it.
  */
object Layers {
  /** The layers whose jobs' work is counted; `other` has only times. */
  val counted = Seq("graph", "engine", "algos", "streaming", "ledger", "collect")
  val all = counted :+ "other"

  def ofFrames(details: String): Option[String] =
    details.split('\n').iterator.map(_.trim)
      .filter(f => f.startsWith("graft.") && !f.startsWith("graft.engine.Lineage"))
      .map { f =>
        if (f.startsWith("graft.graph.")) "graph"
        else if (f.startsWith("graft.engine.")) "engine"
        else if (f.startsWith("graft.algos.")) "algos"
        else if (f.startsWith("graft.streaming.")) "streaming"
        else if (f.startsWith("graft.perfbench.")) "collect"
        else "ledger"
      }
      .nextOption()
}

/** Counters of one stage, filled from its task ends. */
final class StageRec(val id: Int, val jobId: Int) {
  var start = 0L; var end = 0L
  var completed = false
  var tasks = 0L; var failedTasks = 0L
  var cpuNs = 0L; var runMs = 0L; var waitMs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var peakExec = 0L
}

final class JobRec(val id: Int, val start: Long, val frameLayer: Option[String],
                   val execId: Option[String], val streaming: Boolean,
                   val span: String) {
  var end = 0L
  var succeeded = false
  var layer = "other"
}

/** Listener state for one measurement window (a pass). Spark delivers
  * events on its listener-bus thread; the harness drains the bus
  * ([[org.apache.spark.perfbenchbridge.Bus]]) before it reads or resets a
  * window.
  */
final class Meter extends SparkListener {
  private val stageJob = mutable.Map[Int, Int]()
  private val execLayer = mutable.Map[String, String]()
  private var jobs = mutable.LinkedHashMap[Int, JobRec]()
  private var stages = mutable.LinkedHashMap[Int, StageRec]()
  private val blockSize = mutable.Map[String, Long]()
  private var windowBlocks = mutable.Set[String]()
  private var live = 0L
  private var peak = 0L
  private var batchMs = mutable.ArrayBuffer[Long]()

  def reset(): Unit = synchronized {
    jobs = mutable.LinkedHashMap(); stages = mutable.LinkedHashMap()
    windowBlocks = mutable.Set(); live = 0L; peak = 0L
    batchMs = mutable.ArrayBuffer()
  }

  private def prop(p: Properties, k: String): Option[String] =
    Option(p).flatMap(q => Option(q.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the result stage (highest id) carries the submitting thread's call
    // site; parent stages may have been created on other threads
    val details = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
    val exec = prop(e.properties, "spark.sql.execution.id")
    val rec = new JobRec(e.jobId, e.time, Layers.ofFrames(details), exec,
      prop(e.properties, "sql.streaming.queryId").isDefined,
      prop(e.properties, Harness.SpanKey).getOrElse(""))
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      Layers.ofFrames(x.details).foreach(execLayer(x.executionId.toString) = _)
    }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      j.succeeded = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val s = stages.getOrElseUpdate(e.stageInfo.stageId,
        new StageRec(e.stageInfo.stageId, stageJob.getOrElse(e.stageInfo.stageId, -1)))
      s.start = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages.get(e.stageInfo.stageId).foreach { s =>
        s.end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
        s.completed = e.stageInfo.failureReason.isEmpty
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      if (e.reason == Success) s.tasks += 1 else s.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.runMs += m.executorRunTime
        s.waitMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.peakExec = math.max(s.peakExec, m.peakExecutionMemory)
      }
    }
  }

  /** Live bytes of the blocks created inside the window: cached and
    * checkpointed partitions (the block manager reports those, not
    * broadcast pieces).
    */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val id = e.blockUpdatedInfo.blockId.name
    val bytes = e.blockUpdatedInfo.memSize + e.blockUpdatedInfo.diskSize
    val prev = blockSize.getOrElse(id, 0L)
    if (e.blockUpdatedInfo.storageLevel.isValid && bytes > 0) {
      blockSize(id) = bytes
      windowBlocks += id
    } else blockSize.remove(id)
    if (windowBlocks.contains(id)) {
      live += (if (blockSize.contains(id)) bytes else 0L) - prev
      peak = math.max(peak, live)
      if (!blockSize.contains(id)) windowBlocks -= id
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Meter.this.synchronized { batchMs += e.progress.batchDuration }
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** The window's jobs with their layers resolved, and its stages. */
  def snapshot(): (Seq[JobRec], Seq[StageRec], Long, Seq[Long]) = synchronized {
    jobs.values.foreach { j =>
      j.layer = j.frameLayer
        .orElse(j.execId.flatMap(execLayer.get))
        .orElse(if (j.streaming) Some("streaming") else None)
        .getOrElse("other")
    }
    (jobs.values.toSeq, stages.values.toSeq, peak, batchMs.toSeq)
  }
}
