package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}

/** Session factory for the graft engine.
  *
  * Local runs use `local[N]`; on a real cluster the same settings apply
  * except parallelism knobs, which scale with the executor count. AQE is
  * on so skewed shuffle partitions are split and small ones coalesced at
  * runtime — the local plan shape is then representative of the cluster
  * plan shape.
  */
object GraftSession {

  /** Tuning applied to any session graft runs on: sets runtime confs
    * only, so it is safe on a session that already exists. Throws
    * IllegalStateException when the session lacks the functions
    * [[GraftExtensions]] injects. */
  def tune(spark: SparkSession): SparkSession = {
    val missing = GraftExtensions.functions.map(_.name)
      .filterNot(spark.catalog.functionExists)
    if (missing.nonEmpty) throw new IllegalStateException(
      s"the session has no ${missing.mkString(", ")}: build it with " +
        "GraftSession.local, withExtensions(new GraftExtensions) or " +
        s"spark.sql.extensions=${classOf[GraftExtensions].getName}")
    val c = spark.conf
    c.set("spark.sql.session.timeZone", "UTC")
    c.set("spark.sql.adaptive.enabled", "true")
    c.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    c.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // r16 (guide §2.2/§6): let AQE also run INSIDE cached-plan
    // materialization. Off (the default), a persisted intermediate is
    // materialized with the static shuffle partition count and every
    // downstream stage over it inherits that task count forever — at
    // bench scale the r16 profile showed 9 stages × 32 tasks re-reading
    // a 20k-row cached pivot (etl_chained_index: 27 s of task time,
    // ~90% scheduler overhead); on a cluster the same mismatch strands
    // a small cached dimension across thousands of reducers. With AQE
    // allowed in the cached plan, partition count follows measured
    // bytes (advisoryPartitionSizeInBytes) at ANY scale — a 100 TB
    // intermediate keeps thousands of partitions, a bookkeeping
    // relation collapses to a few.
    c.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    // Allow a join to run exchange-free when BOTH children are
    // hash-partitioned on the same SUBSET of the join keys. Measured
    // with graft.tools.PlanSnap at sf0.01, every query, against a build
    // with the default (true): three queries depend on it, each joining
    // top-k aggregate outputs (hash-partitioned on probe_id) on
    // (probe_id, neighbor_id) — ann_filtered_topk 2 exchanges (5 with
    // the default), ann_recall_eval 10 (13), ann_nprobe_sweep 15 (17).
    // No graph-loop query's plan, nor its jobs, stages or tasks in
    // graft.tools.Profile, changed with it. The default exists to
    // protect organically-subset-partitioned joins from low
    // parallelism / skew; those joins read at most K rows per probe
    // on each side, and other joins get a fresh full-key exchange as
    // before.
    c.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    // 10 MB default is conservative; dims in a TPC-H-ratio schema are tiny
    // relative to facts — let Catalyst broadcast aggressively.
    c.set("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    // WITH RECURSIVE's default per-recursion row cap (1M) is a local-dev
    // guard, not a scale knob: q37's closure is |part| × log₄(keys) rows
    // and crosses 1M between sf0.1 and sf1d (found by the full sf1d
    // sweep, round 14). The LEVEL limit (100) stays as the runaway
    // guard — depth is the thing that diverges on a bad anchor; row
    // volume is just data size.
    c.set("spark.sql.cteRecursionRowLimit", Int.MaxValue.toString)
    spark
  }

  /** The session conf `key` as a positive int, `default` when unset.
    * A non-number or a value below 1 throws IllegalArgumentException
    * here, where the knob is read. */
  def positiveInt(s: SparkSession, key: String, default: Int): Int =
    s.conf.getOption(key).fold(default) { v =>
      val n = v.trim.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"$key must be a positive int, got '$v'"))
      require(n > 0, s"$key must be positive, got $n")
      n
    }

  private val CheckpointDirKey = "spark.graft.checkpoint.dir"

  // Conf value last handed to setCheckpointDir, per SparkContext. The
  // context's own getCheckpointDir is a fresh UUID child of that value,
  // so it cannot be compared against the conf directly.
  private val appliedDir =
    new java.util.WeakHashMap[org.apache.spark.SparkContext, String]()

  /** True when cuts are RELIABLE checkpoints: `spark.graft.checkpoint.dir`
    * is set (the cluster-availability convention — localCheckpoint
    * blocks die with their executor). Read on every call, so a changed
    * conf takes effect on the next cut. */
  def reliableCuts(s: SparkSession): Boolean =
    s.conf.getOption(CheckpointDirKey).isDefined

  /** Resolves the checkpoint mode for one cut and, in reliable mode,
    * re-points the SparkContext checkpoint dir when the conf moved. The
    * one setCheckpointDir call site in graft. */
  private def reliable(s: SparkSession): Boolean =
    s.conf.getOption(CheckpointDirKey) match {
      case Some(d) =>
        appliedDir.synchronized {
          if (appliedDir.get(s.sparkContext) != d) {
            s.sparkContext.setCheckpointDir(d)
            appliedDir.put(s.sparkContext, d)
          }
        }
        true
      case None => false
    }

  /** Lineage cut that PRESERVES the child's physical layout (r17):
    * reliable checkpoint when `spark.graft.checkpoint.dir` is set,
    * eager localCheckpoint otherwise.
    *
    * Layout: under AQE, a checkpoint captures the plan's partitioning
    * from the AdaptiveSparkPlanExec root, which reports
    * UnknownPartitioning, so EVERY downstream join/agg re-exchanges the
    * cut relation — measured: the Pregel loops were re-shuffling their
    * lineage-cut edge bases once per round even though the base was
    * built hash-partitioned on the join key. The cut therefore restates
    * the layout of the plan AQE actually ran, so the loop's joins/aggs
    * are satisfied exchange-free. The checkpoint runs with the
    * session's own conf (AQE on), and nothing is written to it. Call it
    * on a MATERIALIZED subtree (persist + count first, or a previous
    * cut): then the cut plan is a pure cache/RDD scan. */
  def cut(s: SparkSession, df: DataFrame): DataFrame =
    GraftSqlBridge.withExecutedLayout(df, roundCut(s, df))

  /** Per-round lineage cut for loop state: AQE stays on, so every
    * round's shuffle is sized at runtime, and the cut relation reports
    * no partitioning (see [[cut]]). With the dir unset it is a
    * localCheckpoint of the given eagerness (a lazy one is materialized
    * by the next action that reads it). With the dir set it is a
    * reliable checkpoint, always eager: a lazy reliable checkpoint
    * recomputes its input in a second job after the first action. */
  def roundCut(s: SparkSession, df: DataFrame, eager: Boolean = true): DataFrame =
    if (reliable(s)) df.checkpoint() else df.localCheckpoint(eager)

  /** Core count of a local session: `SPARK_GRAFT_CPUS`, default 4. Every
    * graft main reads it here, so the tools run the session the bench
    * runs. */
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  /** The session every graft main and the test fixture run on:
    * `local[cores]`, [[GraftExtensions]], one shuffle partition per core,
    * then [[tune]]. The one session builder in graft. */
  def local(cores: Int = cpus): SparkSession = {
    val spark = SparkSession.builder().master(s"local[$cores]")
      .withExtensions(new GraftExtensions)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tune(spark)
  }
}
