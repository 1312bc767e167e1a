package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftExtensions, GraftSession, QueryDef}
import graft.operators._
import graft.sources.{Connectors, ParquetVersionedTable, Tables}

/** One benchmark run of one workload, in one JVM.
  *
  * Set-up, timed from process start: build a session, then run
  * `WarmupPasses` untimed iterations of the workload. Then closed-loop
  * timed iterations, one client, until `--seconds` have passed (at
  * least one). Each iteration records its JVM CPU and JIT seconds and
  * the share of the VM's CPU time the host stole while it ran, so a
  * slow run can be told apart from a slow engine. An iteration is
  *
  *  - with `--ingest` tables (a nightly load): ingest their raw CSV/JSON
  *    dumps through `Connectors` into staged parquet, run every query
  *    over the staged tables and `append` each result into its own
  *    `TableSink`, load the staged orders into a sink, apply one
  *    `mergeByKey` change batch, and read the merged snapshot back;
  *  - otherwise: run every query and `collect()` its result, which
  *    computes every output column (a `count()` would let Catalyst
  *    prune them).
  *
  * After timing, the outputs the last iteration produced are written
  * as parquet for the oracle check done by `run.py`. With `--trace 1`,
  * iterations alternate untraced and traced; traced ones record spans
  * at the calls into each layer plus the plan phases of each action's
  * own `QueryExecution`.
  */
object Harness {

  /** The family objects of `SparkEntry.allDefs`, by name. */
  val families: Seq[(String, Seq[(String, QueryDef)])] = Seq(
    "Relational" -> Relational.defs, "Etl" -> Etl.defs,
    "Temporal" -> Temporal.defs, "TextOps" -> TextOps.defs,
    "Dedup" -> Dedup.defs, "Similarity" -> Similarity.defs,
    "Graph" -> Graph.defs, "Training" -> Training.defs,
    "Pipeline" -> Pipeline.defs, "Sketches" -> Sketches.defs,
    "Multimodal" -> Multimodal.defs, "WebOps" -> WebOps.defs,
    "Skew" -> Skew.defs)

  /** Task slots: half the box, so that tasks, the driver thread, the
    * JIT compiler and GC threads do not queue for the four CPUs. */
  val Cpus = 2
  /** Untimed iterations before timing: every class loaded, every plan
    * and generated class compiled once. */
  val WarmupPasses = 1

  /** The timed materialization of a result on the non-writing
    * workloads: every row and column is computed and handed back. */
  def materialize(df: DataFrame): Array[Row] = df.collect()

  def buildSession(scratch: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.tune(spark)
  }

  /** Waits until the listener bus has delivered every posted event
    * (`LiveListenerBus.waitUntilEmpty` is not public API). */
  def drainBus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  private final case class Opts(data: String, raw: String, ingest: Seq[String],
      scratch: String, queries: Seq[String], seconds: Double,
      trace: Boolean, t0Nanos: Long, out: String, traceFile: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    Opts(m("data"), m.getOrElse("raw", ""),
      m.getOrElse("ingest", "").split(",").filter(_.nonEmpty).toSeq, m("scratch"),
      Files.readAllLines(Paths.get(m("queries"))).asScala.map(_.trim)
        .filter(_.nonEmpty).toSeq,
      m("seconds").toDouble, m("trace") == "1",
      m("t0-epoch-ns").toLong, m("out"), m.getOrElse("trace-file", ""))
  }

  private def epochNanos(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** CPU time of this JVM, all threads; the kernel does not count time
    * the VM's CPUs were held by other guests (steal). */
  def cpuNanos(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Time the JIT compiler threads have spent compiling, all threads. */
  def jitNanos(): Long =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime * 1000000L

  /** Ticks the VM's CPUs spent stolen by the host, from /proc/stat. */
  def stealTicks(): Long =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8).toLong

  /** The VM's CPUs, as /proc/stat counts them; its ticks are USER_HZ = 100/s. */
  lazy val vmCpus: Int =
    Files.readAllLines(Paths.get("/proc/stat")).asScala.count(_.matches("cpu\\d+ .*"))

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val byName: Map[String, (String, QueryDef)] =
      families.flatMap { case (f, ds) => ds.map { case (n, d) => n -> (f, d) } }.toMap
    val unknown = o.queries.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val etl = o.ingest.nonEmpty // a sink-loading workload

    // ---- set-up: process start -> session built -> warm-up done
    val b0 = epochNanos()
    val spark = buildSession(o.scratch)
    val b1 = epochNanos()
    val run = new Run(spark, o, byName, etl)
    (1 to WarmupPasses).foreach(k => run.iteration(-k))
    val w1 = epochNanos()
    val setup = jmap("setup_s" -> (w1 - o.t0Nanos) / 1e9,
      "setup_cpu_s" -> cpuNanos() / 1e9, "jvm_start_s" -> (b0 - o.t0Nanos) / 1e9,
      "build_s" -> (b1 - b0) / 1e9, "warmup_s" -> (w1 - b1) / 1e9)
    // ---- timed closed loop; a traced run alternates untraced and
    // traced iterations and runs at least untraced-traced-untraced, so
    // the overhead compares a traced iteration with its neighbours
    val t0 = System.nanoTime()
    val deadline = t0 + (o.seconds * 1e9).toLong
    var i = 0
    while (i == 0 || (o.trace && i < 3) || System.nanoTime() < deadline) {
      run.iteration(i)
      i += 1
    }
    val result = run.finish()
    result.put("setup", setup)
    result.put("peak_rss_mb", Double.box(peakRssMb()))
    Files.write(Paths.get(o.out),
      new ObjectMapper().writerWithDefaultPrettyPrinter()
        .writeValueAsBytes(result))
    spark.stop()
  }

  def jmap(kv: (String, Any)*): JMap[String, Object] = {
    val m = new JMap[String, Object]()
    kv.foreach { case (k, v) => m.put(k, v.asInstanceOf[AnyRef]) }
    m
  }

  /** Shuffle exchanges in an executed plan, looking through AQE stages. */
  object Exchanges extends AdaptiveSparkPlanHelper {
    def count(qe: QueryExecution): Int =
      collectWithSubqueries(qe.executedPlan) { case e: ShuffleExchangeLike => e }.size
  }

  /** The plan phases of every `QueryExecution` that finished since the
    * last `take()`. The harness makes its calls from one thread, so what arrives
    * between two takes belongs to the step in between. */
  final class PlanListener extends QueryExecutionListener {
    private val done = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = done.add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = done.add(qe)
    def take(): Seq[QueryExecution] =
      Iterator.continually(done.poll()).takeWhile(_ != null).toSeq
  }

  /** State of one run: the queries, the listener, spans and outputs. */
  final class Run(spark: SparkSession, o: Opts,
      byName: Map[String, (String, QueryDef)], etl: Boolean) {
    private val sc = spark.sparkContext
    val counters = new GroupListener
    sc.addSparkListener(counters)
    private val plans = new PlanListener
    if (o.trace) spark.listenerManager.register(plans)
    val spans = new Spans
    private var tracing = false
    private val iterations = new JList[Object]()
    private val queryLog = new JList[Object]()
    // outputs of the latest iteration, for the oracle check
    private val lastRows = scala.collection.mutable.Map[String, (StructType, Array[Row])]()
    private var lastIterDir: String = null
    private var lastStaged: String = null
    private val sinkRoot = s"${o.scratch}/sink"
    private val stagedRoot = s"${o.scratch}/staged"

    private def group(parts: Any*): String = parts.mkString("|")

    /** Runs `body` under a job group and, when tracing, a span (its id
      * is passed to `body`, -1 when untraced); a traced step also takes
      * the plan phases of the executions it finished. */
    private def step[T](g: String, name: String, layer: String,
        parent: Int, attrs: (String, Any)*)(body: Int => T): T = {
      sc.setJobGroup(g, g)
      val id = if (tracing) spans.open(name, layer, parent, g, attrs) else -1
      try body(id)
      finally {
        sc.clearJobGroup()
        if (tracing) {
          drainBus(spark)
          plans.take().foreach(qe => spans.addPlan(id, qe))
          spans.close(id)
        }
      }
    }

    /** Runs iteration `i` (< 0: a warm-up pass). */
    def iteration(i: Int): Unit = {
      tracing = o.trace && i >= 0 && i % 2 == 1
      val iterDir = s"$sinkRoot/it$i"
      val t0 = System.nanoTime()
      val (c0, s0, j0) = (cpuNanos(), stealTicks(), jitNanos())
      val root = if (tracing) spans.open("iteration", "workload", -1, group(i),
        Seq("iteration" -> i)) else -1
      val staged = if (etl) ingest(i, root) else o.data
      val failures = new JList[Object]()
      o.queries.foreach { q =>
        val (fam, d) = byName(q)
        val qt0 = System.nanoTime()
        val status = step(group(i, q), "query", "workload", root,
            "query" -> q, "family" -> fam) { qid =>
          try {
            val df = step(group(i, q, "construct"), "construct", "operators",
              qid, "family" -> fam) { id =>
              val df = d.fn(spark, staged)
              // analysis runs when the Dataset is built, not at the action
              if (tracing) spans.addAnalysis(id, df.queryExecution)
              df
            }
            step(group(i, q, "action"), "action", "exec", qid, "family" -> fam,
                "sink" -> etl) { _ =>
              if (etl) new ParquetVersionedTable(spark, s"$iterDir/$q").append(df)
              else lastRows(q) = (df.schema, materialize(df))
            }
            "ok"
          } catch {
            case e: Throwable =>
              lastRows.remove(q)
              failures.add(jmap("query" -> q,
                "error" -> s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"))
              "failed"
          }
        }
        val lat = (System.nanoTime() - qt0) / 1e9
        spark.catalog.clearCache()
        if (i >= 0)
          queryLog.add(jmap("iteration" -> i, "query" -> q, "family" -> fam,
            "latency_s" -> lat, "status" -> status))
      }
      if (etl) mergeAndReadBack(i, root, iterDir, staged)
      val wall = (System.nanoTime() - t0) / 1e9
      val (cpu, steal, jit) =
        ((cpuNanos() - c0) / 1e9, stealTicks() - s0, (jitNanos() - j0) / 1e9)
      val stolen = steal / (wall * vmCpus * 100)
      if (tracing) spans.close(root)
      val (files, bytes) = if (etl) dataFiles(new File(iterDir)) else (0, 0L)
      // the previous iteration's files go; this one's stay for the check
      if (lastIterDir != null) deleteTree(new File(lastIterDir))
      if (lastStaged != null) deleteTree(new File(lastStaged))
      lastIterDir = iterDir
      if (etl) lastStaged = staged
      if (i >= 0)
        iterations.add(jmap("iteration" -> i, "wall_s" -> wall, "cpu_s" -> cpu,
          "jit_s" -> jit, "steal_ticks" -> steal, "stolen_share" -> stolen,
          "traced" -> tracing, "failures" -> failures,
          "sink_files" -> files, "sink_bytes" -> bytes))
      else if (!failures.isEmpty)
        System.err.println(s"[perfbench] warm-up failures: $failures")
      tracing = false
    }

    private val schemaOf: Map[String, StructType] = Map(
      "region" -> Tables.regionSchema, "nation" -> Tables.nationSchema,
      "customer" -> Tables.customerSchema, "supplier" -> Tables.supplierSchema,
      "part" -> Tables.partSchema, "orders" -> Tables.ordersSchema,
      "lineitem" -> Tables.lineitemSchema,
      "events" -> Tables.eventsReadSchema(TimestampType),
      "documents" -> Tables.documentsSchema,
      "embeddings" -> Tables.embeddingsSchema)
    val changesSchema: StructType = StructType(Tables.ordersSchema.fields ++ Seq(
      StructField("op", StringType), StructField("seq", LongType)))

    /** Raw dumps → staged parquet through `Connectors`: each table of
      * `--ingest` from its CSV dump if there is one, else its JSON lines. */
    private def ingest(i: Int, root: Int): String = {
      val dir = s"$stagedRoot/it$i"
      o.ingest.foreach { t =>
        step(group(i, "ingest", t), "ingest", "sources", root, "table" -> t) { _ =>
          val csv = s"${o.raw}/$t.csv"
          val df =
            if (new File(csv).exists()) Connectors.readCsv(spark, csv, schemaOf(t))
            else Connectors.readJson(spark, s"${o.raw}/$t.json", schemaOf(t))
          Connectors.writeParquet(df, s"$dir/$t.parquet")
        }
      }
      dir
    }

    /** Orders into a sink, one upsert batch, then the snapshot read-back. */
    private def mergeAndReadBack(i: Int, root: Int, iterDir: String,
        staged: String): Unit = {
      val t = new ParquetVersionedTable(spark, s"$iterDir/_orders")
      step(group(i, "merge"), "merge", "sources", root) { _ =>
        t.append(Tables.orders(spark, staged))
        t.mergeByKey(
          Connectors.readJson(spark, s"${o.raw}/orders_changes.json", changesSchema),
          Seq("o_orderkey"), Seq("seq"), Some("op"))
      }
      step(group(i, "snapshot"), "snapshot", "sources", root) { _ =>
        t.current.get.write.format("noop").mode("overwrite").save()
      }
    }

    /** Writes the checked outputs and assembles the run's record. */
    def finish(): JMap[String, Object] = {
      drainBus(spark)
      val out = s"${o.scratch}/out"
      // four writers: each output is a small job with its own commit
      val pool = java.util.concurrent.Executors.newFixedThreadPool(Cpus)
      val written = o.queries.map { q =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = try {
            val df =
              if (etl) new ParquetVersionedTable(spark, s"$lastIterDir/$q").current.get
              else lastRows.get(q).map { case (schema, rows) =>
                spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
              }.get
            df.coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
            true
          } catch { case _: Throwable => false } // no output fails the check
        })
      }.map(_.get)
      pool.shutdown()
      if (etl) {
        new ParquetVersionedTable(spark, s"$lastIterDir/_orders").current.get
          .coalesce(1).write.mode("overwrite").parquet(s"${o.scratch}/checks/merged_orders")
        // the staged tables, for the equality check against the inputs
        val staged = lastStaged
        o.ingest.foreach { t =>
          spark.read.parquet(s"$staged/$t.parquet").coalesce(1).write
            .mode("overwrite").parquet(s"${o.scratch}/checks/staged/$t")
        }
      }
      val oracle = new JMap[String, Object]()
      o.queries.foreach(q => byName(q)._2.oracle.foreach(sql => oracle.put(q, sql)))
      Files.write(Paths.get(s"$out/oracle_sql.json"),
        new ObjectMapper().writeValueAsBytes(oracle))

      val res = jmap("iterations" -> iterations, "queries" -> queryLog,
        "outputs" -> written.count(identity), "out_dir" -> out)
      // end-to-end task time per timed iteration: CPU seconds, which
      // leave out time a task waited for a CPU the host held elsewhere
      iterations.asScala.foreach { it =>
        val m = it.asInstanceOf[JMap[String, Object]]
        val c = counters.sumWhere(_.startsWith(s"${m.get("iteration")}|"))
        m.put("task_s", Double.box(c.cpuNs / 1e9))
        m.put("task_wall_s", Double.box(c.taskMs / 1e3))
      }
      if (o.trace) {
        res.put("layers", Layers.perIteration(spans, counters, Cpus,
          iterations.asScala.toSeq.map(_.asInstanceOf[JMap[String, Object]])))
        if (o.traceFile.nonEmpty) spans.write(o.traceFile, counters)
      }
      res
    }
  }

  /** Parquet data files under a directory: (count, bytes). */
  def dataFiles(dir: File): (Int, Long) = {
    val fs = if (!dir.exists()) Nil else Files.walk(dir.toPath).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p)).toList
    (fs.size, fs.map(Files.size).sum)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
