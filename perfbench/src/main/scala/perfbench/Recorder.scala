package perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import scala.collection.mutable

object Recorder {
  /** Local properties the runner sets around each phase; Spark copies them
    * into every job the thread (or a broadcast/subquery thread it spawns)
    * starts, so the listener can attribute jobs to an execution. */
  val ExecKey = "perfbench.exec"
  val PhaseKey = "perfbench.phase"
}

/** Per-execution counters from the scheduler, shuffle and scan task
  * metrics. Attached only in traced runs. */
final class Recorder extends SparkListener {
  private final class Agg {
    var jobs, stages, tasks, taskFailures, buildJobs, execJobs = 0
    var taskMs, fetchWaitMs = 0L
    var shuffleWrite, shuffleRead, spill = 0L
    var scanBytes, scanRows = 0L
    val llmCosts = mutable.ArrayBuffer.empty[Double]
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val aggs = mutable.Map.empty[Int, Agg]
  private val stageExec = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, (Int, Long)]
  @volatile var unattributed = 0

  private def agg(exec: Int): Agg = aggs.getOrElseUpdate(exec, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Recorder.ExecKey))).map(_.toInt) match {
      case None => unattributed += 1
      case Some(exec) =>
        val a = agg(exec)
        a.jobs += 1
        if (props.flatMap(p => Option(p.getProperty(Recorder.PhaseKey))).contains("build"))
          a.buildJobs += 1
        // a job Exec.seal's eager localCheckpoint started has it on the
        // call stack its stages record
        if (e.stageInfos.exists(_.details.contains("graft.Exec$.seal"))) a.execJobs += 1
        e.stageIds.foreach(stageExec(_) = exec)
        jobStart(e.jobId) = (exec, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (exec, t0) => agg(exec).jobSpans += ((t0, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageExec.get(e.stageInfo.stageId).foreach(agg(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageExec.get(e.stageId).foreach { exec =>
      val a = agg(exec)
      a.tasks += 1
      if (e.reason != Success) a.taskFailures += 1
      e.taskInfo.accumulables.foreach { acc =>
        if (acc.name.exists(_.startsWith("llm_cost")))
          acc.update.foreach(u => a.llmCosts += u.toString.toDouble)
      }
      Option(e.taskMetrics).foreach { m =>
        a.taskMs += m.executorRunTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.diskBytesSpilled
        a.scanBytes += m.inputMetrics.bytesRead
        a.scanRows += m.inputMetrics.recordsRead
      }
    }
  }

  /** Remove and return one execution's counters; `job_busy_s` is the
    * union of its job spans, so wall minus it is the driver-side gap. */
  def take(exec: Int): Map[String, Any] = synchronized {
    val a = aggs.remove(exec).getOrElse(new Agg)
    var busyMs, cursor = 0L
    a.jobSpans.sortBy(_._1).foreach { case (s, t) =>
      val from = math.max(s, cursor)
      if (t > from) busyMs += t - from
      cursor = math.max(cursor, t)
    }
    Map("jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
      "task_failures" -> a.taskFailures, "build_jobs" -> a.buildJobs,
      "exec_jobs" -> a.execJobs, "job_busy_s" -> busyMs / 1e3,
      "task_s" -> a.taskMs / 1e3, "shuffle_write_bytes" -> a.shuffleWrite,
      "shuffle_read_bytes" -> a.shuffleRead, "spill_bytes" -> a.spill,
      "fetch_wait_s" -> a.fetchWaitMs / 1e3, "scan_bytes" -> a.scanBytes,
      "scan_rows" -> a.scanRows,
      // summed in a fixed order, so the total repeats exactly
      "llm_cost_usd" -> a.llmCosts.sorted.sum)
  }
}
