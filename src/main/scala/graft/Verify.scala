package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — local iteration
    // only (the driver always passes two args = full run)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }.toSeq
    // Per-query wall-clock is dominated by fixed scheduling/plan cost
    // at the graded SF, so the dump runs WORKERS queries concurrently
    // (Spark's scheduler interleaves the jobs; every operator is
    // deterministic, so concurrent builds of a shared persisted
    // relation at worst double-compute — results are unaffected).
    // Cached relations are released every CLEAR_EVERY completions
    // instead of per-query: clearCache during a concurrent query only
    // costs a recompute, but doing it 350+ times serializes the run.
    val workers = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "4").toInt
    val clearEvery = 32
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]()
    selected.foreach(queue.add)
    // clearCache() from one worker while another worker's query is
    // mid-flight unpersists that query's shared intermediates under it
    // — observed once (r10 close) as a 0-row dump from a query that is
    // deterministic and passes solo. Queries hold the read lock;
    // clearCache takes the write lock, so the release only ever happens
    // at a quiescent point.
    val cacheLock = new java.util.concurrent.locks.ReentrantReadWriteLock()
    val suspect = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]()
    def dump(name: String,
             fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
    val threads = (0 until math.max(1, workers)).map { _ =>
      new Thread(() => {
        var next = queue.poll()
        while (next != null) {
          val (name, fn) = next
          cacheLock.readLock().lock()
          try {
            dump(name, fn)
            // no registered query legitimately returns 0 rows; an
            // empty dump marks a flake to re-run serially at the end
            if (spark.read.parquet(s"$outDir/$name").isEmpty) suspect.add(next)
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            suspect.add(next)
          } finally cacheLock.readLock().unlock()
          // operators persist() shared intermediates (IVF builds,
          // simhash tables, …) and return lazy plans, so they cannot
          // unpersist themselves; periodic release keeps 350+ queries
          // in one session from accumulating cached partitions
          if (done.incrementAndGet() % clearEvery == 0) {
            cacheLock.writeLock().lock()
            try spark.catalog.clearCache()
            finally cacheLock.writeLock().unlock()
          }
          next = queue.poll()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    spark.catalog.clearCache()
    // serial second chance: by now every worker is done, so a retry
    // runs with the session to itself
    suspect.forEach { case (name, fn) =>
      System.err.println(s"[verify] retrying $name serially (empty/failed dump)")
      try {
        dump(name, fn)
        val n = spark.read.parquet(s"$outDir/$name").count()
        System.err.println(s"[verify] retry of $name wrote $n rows")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] retry of $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
