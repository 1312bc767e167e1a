package graft.tools

import org.apache.spark.sql.GraftSqlBridge

/** Dev utility: where a query's WARM time goes, on the Bench session
  * (`GraftSession.local`, `SPARK_GRAFT_CPUS` cores). For each named
  * query: a warmup pass (JIT + persists, like Bench), then one timed
  * pass under its own job group, split into
  *   construct = building the DataFrame (incl. any eager loop jobs)
  *   plan      = analysis + optimization + physical planning
  *               (executedPlan forced, nothing run)
  *   exec      = the count() action (AQE stage rounds + tasks)
  * with the pass's task time (Bench's `queries_task` definition), jobs,
  * stages and tasks, then its completed stages sorted by run time —
  * the "which operator is eating the task time" view.
  * Usage: runMain graft.tools.Profile <q1,q2,...|ALL> [sfDir]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val names =
      if (args(0) == "ALL") graft.SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").toSeq
    val dir = if (args.length > 1) args(1) else
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()
    // A/B measurement aid: semicolon-separated conf overrides applied
    // AFTER tune, e.g. SPARK_GRAFT_CONF="spark.sql.adaptive.enabled=false"
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v) })
    val listener = new graft.JobGroupListener
    spark.sparkContext.addSparkListener(listener)
    for ((name, i) <- names.zipWithIndex) {
      val fn = graft.SparkEntry.queries(name)
      try fn(spark, dir).count() catch { case _: Throwable => () } // warmup
      val group = s"$name#$i" // a repeated name gets a fresh group
      spark.sparkContext.setJobGroup(group, group)
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      val n = try df.count() finally spark.sparkContext.clearJobGroup()
      val t3 = System.nanoTime()
      GraftSqlBridge.drainListenerBus(spark)
      val rows = listener.stages(group)
      println(f"\n=== $name  rows=$n  construct=${(t1 - t0) / 1e9}%.3fs " +
        f"plan=${(t2 - t1) / 1e9}%.3fs exec=${(t3 - t2) / 1e9}%.3fs " +
        f"wall=${(t3 - t0) / 1e9}%.3fs task=${listener.taskSec(group)}%.3fs " +
        f"jobs=${listener.jobs(group)} stages=${rows.size} tasks=${rows.map(_.tasks).sum}")
      for (r <- rows.sortBy(-_.runMs).take(25))
        println(f"  stage=${r.stageId}%4d run=${r.runMs / 1e3}%7.2fs " +
          f"cpu=${r.cpuMs / 1e3}%7.2fs gc=${r.gcMs / 1e3}%5.2fs " +
          f"tasks=${r.tasks}%4d shR=${r.shuffleReadBytes / 1048576.0}%8.2fMB " +
          f"shW=${r.shuffleWriteBytes / 1048576.0}%8.2fMB " +
          f"in=${r.inputBytes / 1048576.0}%8.2fMB  ${r.name}")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
