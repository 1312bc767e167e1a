package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** The one SparkListener of graft's mains: per job group (set with
  * `sparkContext.setJobGroup`), the summed task durations, the job
  * count and one row per completed stage. A stage belongs to the group
  * of the job that submitted it, resolved at job start; jobs without a
  * group count under "". Events arrive asynchronously, so read it after
  * `GraftSqlBridge.drainListenerBus`. */
final class JobGroupListener extends SparkListener {
  import JobGroupListener.StageRow

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val taskMs = new ConcurrentHashMap[String, LongAdder]()
  private val jobCount = new ConcurrentHashMap[String, LongAdder]()
  private val stageRows =
    new ConcurrentHashMap[String, ConcurrentLinkedQueue[StageRow]]()

  private def adder(m: ConcurrentHashMap[String, LongAdder], g: String) =
    m.computeIfAbsent(g, _ => new LongAdder)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val g = Option(js.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    js.stageIds.foreach(stageGroup.put(_, g))
    adder(jobCount, g).increment()
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(te.stageId)
    if (g != null && te.taskInfo != null) adder(taskMs, g).add(te.taskInfo.duration)
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    val g = stageGroup.get(si.stageId)
    if (g != null) {
      val m = si.taskMetrics
      stageRows.computeIfAbsent(g, _ => new ConcurrentLinkedQueue[StageRow])
        .add(StageRow(si.stageId, si.name.split("\n").head.take(90), si.numTasks,
          m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
          m.inputMetrics.bytesRead))
    }
  }

  /** Summed task durations (wall time per task, not CPU) of the group. */
  def taskSec(group: String): Double =
    Option(taskMs.get(group)).map(_.sum() / 1e3).getOrElse(0.0)

  def jobs(group: String): Long = Option(jobCount.get(group)).map(_.sum()).getOrElse(0L)

  /** The group's completed stages, in completion order. */
  def stages(group: String): Seq[StageRow] =
    Option(stageRows.get(group)).map(_.asScala.toSeq).getOrElse(Nil)
}

object JobGroupListener {
  /** One completed stage: times in ms, sizes in bytes. */
  final case class StageRow(stageId: Int, name: String, tasks: Int,
      runMs: Long, cpuMs: Long, gcMs: Long,
      shuffleReadBytes: Long,
      shuffleWriteBytes: Long, shuffleWriteRecords: Long, inputBytes: Long)
}
