package graft.tools

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets
import scala.collection.mutable
import scala.util.matching.Regex

/** Dev utility: dump `.explain("formatted")` for named queries to
  * <outDir>/<query>_<tag>.txt — the before/after plan evidence the
  * optimization rounds commit under plans/rN/. Runs on the Bench
  * session (`GraftSession.local`, `SPARK_GRAFT_CPUS` cores) so the
  * snapshots match what the bench executes (the cache is cleared
  * between queries, as Bench does). Output is [[normalize]]d,
  * so "same plans" between two builds is a plain `diff -r` of their
  * output dirs.
  * Usage: runMain graft.tools.PlanSnap <q1,q2,...|ALL> <outDir> <tag> [sfDir]
  */
object PlanSnap {

  /** Rewrites group 2 of each match of `re` to the first-appearance
    * rank of its value; group 1 is kept. */
  private def renumber(text: String, re: Regex): String = {
    val ids = mutable.HashMap.empty[String, Int]
    re.replaceAllIn(text, m =>
      Regex.quoteReplacement(m.group(1) + ids.getOrElseUpdate(m.group(2), ids.size)))
  }

  /** Renumbers, each by first appearance, what differs between two runs
    * of the same plan, or between a run over some queries and a run over
    * all of them: expression ids (`#123`), plan ids (`plan_id=`,
    * `[id=#…]`), RDD ids, the AQE query-stage and codegen ids, whose
    * order follows stage completion, the random suffix of a
    * `TempDirs` directory (`graft_csv1335…` → `graft_csv0`),
    * a JVM lambda object's name (`Multimodal$$$Lambda$5222/0x…@62d7…`
    * → `Multimodal$$$Lambda0`), and the JVM-wide lambda-variable
    * counter (`lambda x_283` → `lambda x_0`); and drops the line number
    * of each RDD's call site (`MapPartitionsRDD[179] at localCheckpoint
    * at GraftSession.scala:138` → `MapPartitionsRDD[0] at
    * localCheckpoint at GraftSession.scala`). */
  private[graft] def normalize(plan: String): String =
    Seq("""((?<!=)#)(\d+)""", """(plan_id=|id=#)(\d+)""", """(RDD\[)(\d+)""",
      """(QueryStage\n(?:Output .*\n)?Arguments: )(\d+)""", """(\[codegen id : )(\d+)""",
      """(/graft_[a-z_]+)(\d+)""", """(\$Lambda)((?:\$\d+)?/0x[0-9a-f]+@[0-9a-f]+)""",
      """(lambda [A-Za-z]\w*?_)(\d+)""")
      .foldLeft(plan)((text, re) => renumber(text, re.r))
      .replaceAll("""(RDD\[\d+\] at \S+ at [^:\s]+):\d+""", "$1")

  def main(args: Array[String]): Unit = {
    val names =
      if (args(0) == "ALL") graft.SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").toSeq
    val outDir = Paths.get(args(1))
    val tag = args(2)
    val dir = if (args.length > 3) args(3) else
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()
    Files.createDirectories(outDir)
    for (name <- names) {
      try {
        val df = graft.SparkEntry.queries(name)(spark, dir)
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(outDir.resolve(s"${name}_$tag.txt"),
          normalize(formatted).getBytes(StandardCharsets.UTF_8))
        println(s"[plansnap] wrote $name ($tag)")
      } catch {
        case e: Throwable =>
          println(s"[plansnap] ERROR $name: ${e.getMessage.take(120)}")
      } finally spark.catalog.clearCache() // as Bench: no plan reads an earlier query's cache
    }
    spark.stop()
  }
}
