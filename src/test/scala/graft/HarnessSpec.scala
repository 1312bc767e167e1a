package graft

import java.nio.file.{Files, Path, Paths}
import java.util.regex.Pattern

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {
  import SparkTestSession._

  test("the shared session carries GraftExtensions' injected functions") {
    val names = GraftExtensions.functions.map(_.name)
    assert(names.size == 18 && names.distinct == names)
    for (f <- names)
      assert(spark.catalog.functionExists(f), s"$f is not registered")
  }

  test("operators leave the session's experimental hooks empty") {
    for (q <- Seq("asof_join_native", "q29_levenshtein"))
      SparkEntry.queries(q)(spark, sf).collect()
    assert(spark.experimental.extraStrategies.isEmpty)
    assert(spark.experimental.extraOptimizations.isEmpty)
  }

  test("ThresholdLevenshtein runs only in the two Operator Optimization batches") {
    // RuleExecutor.batches and its Batch are protected: read by reflection
    val opt = spark.sessionState.optimizer
    def call(o: AnyRef, m: String): AnyRef = o.getClass.getMethod(m).invoke(o)
    val withRule = call(opt, "batches").asInstanceOf[Seq[AnyRef]]
      .filter(b => call(b, "rules").asInstanceOf[Seq[AnyRef]]
        .contains(graft.plans.ThresholdLevenshtein))
      .map(b => call(b, "name"))
    assert(withRule == Seq("Operator Optimization before Inferring Filters",
      "Operator Optimization after Inferring Filters"))
  }
}

class JobGroupListenerSpec extends AnyFunSuite {
  import SparkTestSession._

  private def underGroup[T](g: String)(f: => T): T = {
    spark.sparkContext.setJobGroup(g, g)
    try f finally spark.sparkContext.clearJobGroup()
  }

  private def withListener(f: JobGroupListener => Unit): Unit = {
    val l = new JobGroupListener
    spark.sparkContext.addSparkListener(l)
    try f(l) finally spark.sparkContext.removeSparkListener(l)
  }

  test("a 4-partition job is counted under its group after the drain") {
    withListener { l =>
      val g = "job-group-listener-spec"
      underGroup(g) {
        spark.sparkContext.parallelize(1 to 4, 4)
          .map { i => Thread.sleep(20); i }.count()
      }
      GraftSqlBridge.drainListenerBus(spark)
      assert(l.jobs(g) == 1)
      assert(l.stages(g).map(_.tasks).sum == 4)
      assert(l.taskSec(g) > 0.0)
      assert(l.stages(g).map(_.runMs).sum > 0L)
      assert(l.jobs("no-such-group") == 0)
      assert(l.stages("no-such-group").isEmpty)
      assert(l.taskSec("no-such-group") == 0.0)
    }
  }

  test("stage rows carry the group's shuffle traffic") {
    withListener { l =>
      val g = "job-group-listener-shuffle"
      underGroup(g) {
        spark.range(0, 10000, 1, 4).groupBy(col("id") % 10).count().collect()
      }
      GraftSqlBridge.drainListenerBus(spark)
      val rows = l.stages(g)
      assert(rows.map(_.shuffleWriteRecords).sum > 0L)
      assert(rows.map(_.shuffleWriteBytes).sum > 0L)
      assert(rows.map(_.shuffleReadBytes).sum > 0L)
    }
  }
}

/** Keeps the mains on one session factory, one listener and one bus
  * drain: fails when `src/main/scala` grows a second of any. */
class MainsGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  private def hits(pattern: String): Seq[(String, Int)] = {
    assert(Files.isRegularFile(root.resolve("graft/GraftSession.scala")),
      s"no graft sources under ${root.toAbsolutePath}")
    val re = pattern.r
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map((p: Path) => root.relativize(p).toString ->
        re.findAllIn(Files.readString(p)).size)
      .filter(_._2 > 0).sortBy(_._1)
    finally files.close()
  }

  test("GraftSession.local is the one SparkSession builder") {
    assert(hits("""SparkSession\s*\.\s*builder""") ==
      Seq("graft/GraftSession.scala" -> 1))
  }

  test("JobGroupListener is the one SparkListener") {
    assert(hits("""(extends|new)\s+(org\.apache\.spark\.scheduler\.)?SparkListener\b""") ==
      Seq("graft/JobGroupListener.scala" -> 1))
  }

  test("native functions, rules and strategies enter only through GraftExtensions") {
    assert(hits(Pattern.quote("createOrReplaceTempFunction")).isEmpty)
    assert(hits(Pattern.quote("experimental.extra")).isEmpty)
  }

  test("the listener bus is drained only through GraftSqlBridge") {
    assert(hits("""getMethod\(\s*"listenerBus"""").isEmpty)
  }

  test("the near-dup threshold is written once per engine, in Dedup") {
    val owner = Seq("graft/operators/Dedup.scala" -> 1)
    assert(hits(Pattern.quote("""(col("ntot") - col("ni")) >= 0.5""")) == owner)
    assert(hits(Pattern.quote(
      "/ len(list_distinct(list_concat(x.sh, y.sh))) >= 0.5)")) == owner)
  }

  test("temp dirs are made only through TempDirs") {
    assert(hits(Pattern.quote("Files.createTempDirectory")) ==
      Seq("graft/TempDirs.scala" -> 1))
  }

  test("the part-year price panel is written once per engine, in Etl") {
    val owner = Seq("graft/operators/Etl.scala" -> 1)
    assert(hits(Pattern.quote("""year(col("l_shipdate")).as("y")""")) == owner)
    assert(hits(Pattern.quote("year(l_shipdate) AS y,")) == owner)
  }

  test("top-k per group is written once") {
    // Skew.topK is the one caller of the native aggregate's helper, and
    // no salted two-phase window is left beside it
    assert(hits(Pattern.quote("Vectors.topkByKey(")) ==
      Seq("graft/operators/Skew.scala" -> 1))
    assert(hits(Pattern.quote("""call_function("graft_topk_by_key"""")) ==
      Seq("graft/functions/Vectors.scala" -> 1))
    assert(hits(Pattern.quote("""withColumn("rn0", row_number()""")).isEmpty)
    // bottom-k sampling is the same aggregate over a negated key
    assert(hits("graft_bottomk_sample|BottomKSample").isEmpty)
  }

  test("each vector kernel's loop is written once, in its kernel object") {
    // generated code calls the kernel's method: no generated Java holds
    // a loop (`for (int …` or a stripMargin `|while (` line)
    assert(hits("""for\s*\(\s*(int|long)\s|\|\s*while\s*\(""").isEmpty)
    // the float·double and float·float dots, and no third copy beside
    // them (TopCellsByCos calls the HyperplaneDot kernel)
    assert(hits(Pattern.quote("getFloat(i).toDouble *")) ==
      Seq("graft/plans/VectorExpressions.scala" -> 2))
  }

  test("the ANN probe scan and the oracle cosine are written once, in Similarity") {
    assert(hits(Pattern.quote("list_cosine_similarity(")) ==
      Seq("graft/operators/Similarity.scala" -> 1))
    // the probe-scan builder and ann_lsh's bucketed probe join
    assert(hits(Pattern.quote("broadcast(probes)")) ==
      Seq("graft/operators/Similarity.scala" -> 2))
  }

  test("the 2×12 moving-average chain is written once per engine, in Etl") {
    val owner = Seq("graft/operators/Etl.scala" -> 1)
    assert(hits(Pattern.quote("""lit(0.5) * lead(col("total"), 6)""")) == owner)
    assert(hits(Pattern.quote("0.5 * lead(total, 6) OVER o")) == owner)
  }
}

class PlanSnapSpec extends AnyFunSuite {
  import graft.tools.PlanSnap.normalize

  test("normalize masks temp-dir suffixes, lambda objects and lambda counters") {
    def plan(dir: String, lam: String, x: Int) =
      s"""Location: InMemoryFileIndex [file:/tmp/graft_csv$dir]
         |Arguments: graft.operators.Multimodal$$$$$$Lambda$lam, obj#2
         |Arguments: transform(toks#1, lambdafunction(lambda x_$x#3 + 1, lambda x_$x#3, false))
         |""".stripMargin
    val full = plan("13358259839027977668", "$5222/0x00007f98b15c1480@62d743a4", 283)
    val subset = plan("16265263558945975423", "$4730/0x00007f61bd2ffba0@5dd3841", 7)
    assert(normalize(full) == normalize(subset))
    assert(normalize(full).contains("/tmp/graft_csv0]"))
    assert(normalize(full).contains("Multimodal$$$Lambda0, obj#0"))
    assert(normalize(full).contains("lambdafunction(lambda x_0#"))
    // a different lambda object or temp dir within one plan stays distinct
    assert(normalize(full + subset).contains("/tmp/graft_csv1]"))
  }
}
