package perfbench

import scala.collection.mutable
import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Spark runtime counters for the traced run: the whole run's totals,
  * plus task metrics attributed to the job group (the benchmark's
  * operation id) that launched each stage. Registered only for the
  * traced pass.
  */
final class LayerListener extends SparkListener {

  final class Acc {
    var tasks, failures, recordsRead, bytesRead, shuffleWrite, shuffleRead, spill = 0L
    var cpuNs, runMs, gcMs, schedDelayMs = 0L

    def add(info: TaskInfo, m: org.apache.spark.executor.TaskMetrics,
        ok: Boolean, submittedMs: Long): Unit = {
      tasks += 1
      if (!ok) failures += 1
      schedDelayMs += math.max(0L, info.launchTime - submittedMs)
      if (m != null) {
        recordsRead += m.inputMetrics.recordsRead
        bytesRead += m.inputMetrics.bytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        spill += m.diskBytesSpilled + m.memoryBytesSpilled
        cpuNs += m.executorCpuTime
        runMs += m.executorRunTime
        gcMs += m.jvmGCTime
      }
    }
  }

  val total = new Acc
  private val groups = mutable.HashMap[String, Acc]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private val stageSubmitted = mutable.HashMap[(Int, Int), Long]()
  private val stageDurations = mutable.HashMap[(Int, Int), mutable.ArrayBuffer[Long]]()
  var jobs, stages = 0L
  /** Largest (max task duration / median task duration) over stages. */
  var maxTaskOverMedian = 0.0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach(id => e.stageIds.foreach(s => stageGroup(s) = id))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages += 1
    val si = e.stageInfo
    stageSubmitted((si.stageId, si.attemptNumber())) =
      si.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val key = (e.stageId, e.stageAttemptId)
    val submitted = stageSubmitted.getOrElse(key, e.taskInfo.launchTime)
    val ok = e.reason == Success
    total.add(e.taskInfo, e.taskMetrics, ok, submitted)
    stageGroup.get(e.stageId).foreach { g =>
      groups.getOrElseUpdate(g, new Acc).add(e.taskInfo, e.taskMetrics, ok, submitted)
    }
    stageDurations.getOrElseUpdate(key, mutable.ArrayBuffer()) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    stageDurations.remove(key).foreach { ds =>
      if (ds.size >= 2) {
        val med = Stats.median(ds.map(_.toDouble).toSeq)
        if (med > 0) maxTaskOverMedian = math.max(maxTaskOverMedian, ds.max / med)
      }
    }
    stageSubmitted.remove(key)
  }

  def group(opId: String): Acc = synchronized(groups.getOrElse(opId, new Acc))

  /** The `spark.*` per-layer figures of this listener's window. */
  def sparkLayers(into: mutable.Map[String, Metric]): Unit = synchronized {
    into("spark.jobs") = Metric(jobs.toDouble, "count")
    into("spark.stages") = Metric(stages.toDouble, "count")
    into("spark.tasks") = Metric(total.tasks.toDouble, "count")
    into("spark.shuffle_write_bytes") = Metric(total.shuffleWrite.toDouble, "bytes")
    into("spark.shuffle_read_bytes") = Metric(total.shuffleRead.toDouble, "bytes")
    into("spark.spill_bytes") = Metric(total.spill.toDouble, "bytes")
    into("spark.executor_cpu_s") = Metric(total.cpuNs / 1e9, "s")
    into("spark.executor_run_s") = Metric(total.runMs / 1e3, "s")
    into("spark.jvm_gc_s") = Metric(total.gcMs / 1e3, "s")
    into("spark.scheduler_delay_s") = Metric(total.schedDelayMs / 1e3, "s")
    into("spark.task_failures") = Metric(total.failures.toDouble, "count")
    into("spark.max_task_over_median") = Metric(maxTaskOverMedian, "ratio")
  }
}
