package perfbench

import java.nio.file.{Files, Paths}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution

import Harness.jmap

/** Scheduler and task counters of one job group. */
final class Counters {
  var jobs, stages, tasks, taskMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, peakExecMem = 0L
  var inputBytes, outputBytes, outputRecords = 0L

  def add(o: Counters): Counters = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    outputRecords += o.outputRecords
    this
  }

  def toMap: JMap[String, Object] = jmap("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "task_ms" -> taskMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "peak_exec_mem_bytes" -> peakExecMem,
    "input_bytes" -> inputBytes, "output_bytes" -> outputBytes,
    "output_records" -> outputRecords)
}

/** One listener for every counter the benchmark reads, keyed by the
  * job group the benchmark sets around each call. A job's stages take
  * its group at job start. */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val byGroup = new ConcurrentHashMap[String, Counters]()

  private def of(g: String): Counters = byGroup.computeIfAbsent(g, _ => new Counters)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val g = Option(js.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    js.stageIds.foreach(stageGroup.put(_, g))
    val c = of(g)
    c.synchronized(c.jobs += 1)
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(sc.stageInfo.stageId)).foreach { g =>
      val c = of(g)
      c.synchronized(c.stages += 1)
    }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(te.stageId)).foreach { g =>
      val c = of(g)
      c.synchronized {
        c.tasks += 1
        if (te.taskInfo != null) c.taskMs += te.taskInfo.duration
        val m = te.taskMetrics
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.diskBytesSpilled
          c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
          c.inputBytes += m.inputMetrics.bytesRead
          c.outputBytes += m.outputMetrics.bytesWritten
          c.outputRecords += m.outputMetrics.recordsWritten
        }
      }
    }

  /** Sum over the groups matching `p`; call after draining the bus. */
  def sumWhere(p: String => Boolean): Counters =
    byGroup.asScala.filter { case (g, _) => p(g) }.values
      .foldLeft(new Counters)(_ add _)
}

/** Spans kept in memory and written out when the run ends. Plan phases
  * of the `QueryExecution`s a span finished are attached to it. */
final class Spans {
  final class Span(val id: Int, val parent: Int, val name: String,
      val layer: String, val group: String, val attrs: Seq[(String, Any)],
      val start: Long) {
    var end = 0L
    var analysisMs, optimizeMs, planningMs, exchanges, executions = 0L
    def dur: Double = (end - start) / 1e9
    def attr(k: String): Option[Any] = attrs.find(_._1 == k).map(_._2)
  }
  val all = ArrayBuffer[Span]()

  def open(name: String, layer: String, parent: Int, group: String,
      attrs: Seq[(String, Any)]): Int = {
    all += new Span(all.size, parent, name, layer, group, attrs, System.nanoTime())
    all.size - 1
  }

  def close(id: Int): Unit = all(id).end = System.nanoTime()

  // executions whose analysis phase is already counted
  private val analysed = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[QueryExecution, java.lang.Boolean]())

  private def phaseMs(qe: QueryExecution, k: String): Long =
    qe.tracker.phases.get(k).map(_.durationMs).getOrElse(0L)

  def addAnalysis(id: Int, qe: QueryExecution): Unit =
    if (analysed.add(qe)) all(id).analysisMs += phaseMs(qe, "analysis")

  def addPlan(id: Int, qe: QueryExecution): Unit = {
    val s = all(id)
    addAnalysis(id, qe)
    s.optimizeMs += phaseMs(qe, "optimization")
    s.planningMs += phaseMs(qe, "planning")
    s.exchanges += Harness.Exchanges.count(qe)
    s.executions += 1
  }

  /** The trace file: every span with its parent, and the counters of
    * every job group. */
  def write(path: String, counters: GroupListener): Unit = {
    val out = new JList[Object]()
    all.foreach { s =>
      val m = jmap("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "group" -> s.group, "start_ns" -> s.start,
        "end_ns" -> s.end, "analysis_ms" -> s.analysisMs,
        "optimize_ms" -> s.optimizeMs, "planning_ms" -> s.planningMs,
        "exchanges" -> s.exchanges, "executions" -> s.executions)
      s.attrs.foreach { case (k, v) => m.put(k, v.asInstanceOf[AnyRef]) }
      out.add(m)
    }
    val groups = new JMap[String, Object]()
    counters.byGroup.asScala.toSeq.sortBy(_._1).foreach { case (g, c) =>
      groups.put(g, c.toMap) }
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), new ObjectMapper()
      .writeValueAsBytes(jmap("spans" -> out, "counters" -> groups)))
  }
}

/** Per-layer metrics of each traced iteration, from its spans and the
  * counters of the job groups inside it. */
object Layers {
  private val MB = 1024.0 * 1024.0

  def perIteration(spans: Spans, counters: GroupListener, slots: Int,
      iterations: Seq[JMap[String, Object]]): JList[Object] = {
    val out = new JList[Object]()
    iterations.filter(_.get("traced") == java.lang.Boolean.TRUE).foreach { it =>
      val i = it.get("iteration").toString
      val mine = spans.all.filter(s => s.group == i || s.group.startsWith(s"$i|"))
      def named(n: String) = mine.filter(_.name == n)
      def dur(n: String) = named(n).map(_.dur).sum
      def groups(suffix: String) = counters.sumWhere(g =>
        g.startsWith(s"$i|") && g.endsWith(s"|$suffix"))
      val children = mine.groupBy(_.parent)
      val m = new JMap[String, Object]()
      def put(k: String, v: Double): Unit = m.put(k, Double.box(v))

      val ingest = counters.sumWhere(_.startsWith(s"$i|ingest|"))
      val action = groups("action")
      val merge = counters.sumWhere(_ == s"$i|merge")
      val all = counters.sumWhere(g => g == i || g.startsWith(s"$i|"))
      val sinkActions = named("action").filter(_.attr("sink").contains(true))
      put("sources.ingest_s", dur("ingest"))
      put("sources.ingest_rows", ingest.outputRecords.toDouble)
      put("sources.sink_s", sinkActions.map(_.dur).sum + dur("merge") + dur("snapshot"))
      put("sources.sink_merge_s", dur("merge"))
      put("sources.sink_mb_written", (action.outputBytes + merge.outputBytes) / MB)
      put("sources.sink_files", it.get("sink_files").toString.toDouble)
      put("sources.scan_mb", all.inputBytes / MB)

      val construct = groups("construct")
      put("operators.construct_s", dur("construct"))
      put("operators.construct_jobs", construct.jobs.toDouble)

      put("plans.analysis_s", mine.map(_.analysisMs).sum / 1e3)
      put("plans.optimize_s", mine.map(_.optimizeMs).sum / 1e3)
      put("plans.physical_s", mine.map(_.planningMs).sum / 1e3)
      put("plans.exchanges", named("action").map(_.exchanges).sum.toDouble)

      val actionS = dur("action")
      put("exec.action_s", actionS)
      put("exec.jobs", action.jobs.toDouble)
      put("exec.stages", action.stages.toDouble)
      put("exec.tasks", action.tasks.toDouble)
      put("exec.idle_slot_s", actionS * slots - action.taskMs / 1e3)
      put("exec.task_s", action.taskMs / 1e3)
      put("exec.cpu_s", action.cpuNs / 1e9)
      put("exec.gc_s", action.gcMs / 1e3)
      put("exec.shuffle_write_mb", action.shuffleWrite / MB)
      put("exec.shuffle_read_mb", action.shuffleRead / MB)
      put("exec.spill_mb", action.spill / MB)
      put("exec.peak_exec_mem_mb", action.peakExecMem / MB)

      Harness.families.map(_._1).foreach { f =>
        val fc = named("construct").filter(_.attr("family").contains(f))
        val fa = counters.sumWhere { g =>
          g.startsWith(s"$i|") && g.endsWith("|action") &&
            named("action").exists(s => s.group == g && s.attr("family").contains(f))
        }
        put(s"operators.$f.construct_s", fc.map(_.dur).sum)
        put(s"exec.$f.task_s", fa.taskMs / 1e3)
        put(s"exec.$f.shuffle_write_mb", fa.shuffleWrite / MB)
      }
      // self time: a span's duration less the part its children cover
      mine.groupBy(_.layer).foreach { case (layer, ss) =>
        put(s"self.$layer.s", ss.map(s =>
          s.dur - children.getOrElse(s.id, Nil).map(_.dur).sum).sum)
      }
      out.add(jmap("iteration" -> it.get("iteration"), "metrics" -> m))
    }
    out
  }
}
