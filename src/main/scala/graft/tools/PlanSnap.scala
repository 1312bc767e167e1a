package graft.tools

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** Dev utility: dump `.explain("formatted")` for named queries to
  * <outDir>/<query>_<tag>.txt — the before/after plan evidence the
  * optimization rounds commit under plans/rN/. Runs on the Bench
  * session (`GraftSession.local`, `SPARK_GRAFT_CPUS` cores) so the
  * snapshots match what the bench executes.
  * Usage: runMain graft.tools.PlanSnap <q1,q2,...|ALL> <outDir> <tag> [sfDir]
  */
object PlanSnap {
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
          formatted.getBytes(StandardCharsets.UTF_8))
        println(s"[plansnap] wrote $name ($tag)")
      } catch {
        case e: Throwable =>
          println(s"[plansnap] ERROR $name: ${e.getMessage.take(120)}")
      }
    }
    spark.stop()
  }
}
