package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection}

/** The one sanctioned crossing into Spark's `private[sql]` and
  * `private[spark]` surface: constructing a DataFrame from a custom
  * [[LogicalPlan]] node (`Dataset.ofRows` has no public equivalent),
  * restating a checkpoint's layout and draining the listener bus.
  * Everything else in the graft library stays on public API; keeping
  * this file this small keeps the private-API blast radius auditable.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** `ck`, an EAGER checkpoint taken from this very `df` (so its job
    * ran `df.queryExecution`), with the partitioning and ordering of
    * the plan that produced it. Under AQE a checkpoint records those of
    * the AdaptiveSparkPlanExec root, which reports UnknownPartitioning;
    * after the checkpoint's job that root holds the final plan, whose
    * layout is concrete and matches the checkpointed RDD. */
  def withExecutedLayout(df: DataFrame, ck: DataFrame): DataFrame = {
    val ran = df.queryExecution.executedPlan match {
      case a: execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def firstLeaf(p: Partitioning): Partitioning = p match {
      case c: PartitioningCollection => firstLeaf(c.partitionings.head)
      case other => other
    }
    val rdd = ck.queryExecution.analyzed.asInstanceOf[execution.LogicalRDD]
    ofRows(ck.sparkSession, rdd.makeCopy(Array(rdd.output, rdd.rdd,
      firstLeaf(ran.outputPartitioning), ran.outputOrdering,
      Boolean.box(rdd.isStreaming), rdd.stream)))
  }

  /** Blocks until every event posted so far has reached every listener
    * (a listener reads stale totals otherwise); throws
    * `java.util.concurrent.TimeoutException` if the bus does not drain
    * within Spark's 10 s default. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
