package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** As-of join as a first-class operator — the tier-(c) extension path
  * (custom LogicalPlan + SparkStrategy + physical SparkPlan) for the
  * one relational operator Spark's batch planner genuinely lacks.
  *
  * Semantics: for every left row, attach the LAST right row with the
  * same key and `rightTime <= leftTime` (ties on time broken by
  * `rightTie` ascending — the latest-then-largest rule the window
  * formulation of `asof_join` implements), optionally within
  * `toleranceSec`; unmatched left rows keep nulls (left-outer).
  *
  * Why a physical operator: the composable formulations (union +
  * last-ignoreNulls window in operators/Temporal.scala:108, or a
  * range join + per-left argmax) materialize per-key window state or
  * candidate pairs. The merge join is the textbook answer: both sides
  * hash-partitioned by key and sorted (key, time), then ONE forward
  * pass per partition with O(1) carried state — no window buffer, no
  * candidate blowup, and the right side streams. At 100 TB that is
  * two keyed shuffles (what any correct plan pays) and nothing else.
  *
  * EnsureRequirements drives the layout from the declared contracts:
  * [[AsofJoinExec.requiredChildDistribution]] co-partitions the
  * children (same mechanism as SortMergeJoin) and
  * [[AsofJoinExec.requiredChildOrdering]] inserts the per-partition
  * sorts — so bucketed/pre-sorted inputs skip both exchanges for
  * free, exactly like a native join.
  */
case class AsofJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    rightTie: Expression,
    toleranceSec: Option[Long]) extends BinaryNode {
  // The merge pass reads time/tie values as Long (epoch seconds /
  // integral tie-breaker). Fail at ANALYSIS time with an actionable
  // message rather than letting execution die in an opaque
  // ClassCastException on e.g. a TimestampType column: `resolved`
  // gates on the type contract, so checkAnalysis reports this plan as
  // unresolved (with the message below logged via require) instead of
  // planning it.
  override lazy val resolved: Boolean = {
    val base = childrenResolved && expressions.forall(_.resolved)
    if (base) {
      def check(name: String, e: Expression): Unit = require(
        e.dataType == org.apache.spark.sql.types.LongType,
        s"asof_join: $name must be LongType (epoch seconds); got " +
          s"${e.dataType.simpleString} — cast first (e.g. " +
          "unix_timestamp(col) or col.cast(\"long\"))")
      check("leftTime", leftTime)
      check("rightTime", rightTime)
      check("rightTie", rightTie)
    }
    base
  }
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsofJoinPlan]] as [[AsofJoinExec]]; injected by
  * GraftExtensions. */
case class AsofJoinStrategy() extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: AsofJoinPlan =>
      AsofJoinExec(p.leftKey, p.rightKey, p.leftTime, p.rightTime,
        p.rightTie, p.toleranceSec, planLater(p.left), planLater(p.right)) :: Nil
    case _ => Nil
  }
}

/** Sort-merge as-of join: one forward pass per co-partition, carrying
  * only the latest eligible right row per key. Left rows stream out in
  * input order; the right iterator never rewinds. */
case class AsofJoinExec(
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    rightTie: Expression,
    toleranceSec: Option[Long],
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) ::
      ClusteredDistribution(rightKey :: Nil) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending),
      SortOrder(rightTie, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val tol = toleranceSec
    val lOut = left.output
    val rOut = right.output
    val lk = leftKey
    val lt = leftTime
    val rk = rightKey
    val rt = rightTime
    val keyOrd =
      TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val boundLK = BindReferences.bindReference(lk, lOut)
      val boundLT = BindReferences.bindReference(lt, lOut)
      val boundRK = BindReferences.bindReference(rk, rOut)
      val boundRT = BindReferences.bindReference(rt, rOut)
      val nullRight = new GenericInternalRow(rOut.length)
      val project = UnsafeProjection.create(
        outAttrs.asInstanceOf[Seq[Expression]], lOut ++ rOut)
      val joined = new JoinedRow
      val rBuf = rIter.buffered
      // carried state: the latest eligible right row seen so far —
      // copied out of the iterator (unsafe rows are reused), with its
      // key re-evaluated from the COPY so non-primitive keys can't
      // dangle into the recycled buffer
      var carried: InternalRow = null
      var carriedKey: Any = null
      var carriedTime: Long = 0L
      lIter.map { l =>
        val lkv = boundLK.eval(l)
        val ltv = boundLT.eval(l).asInstanceOf[java.lang.Long]
        if (lkv == null || ltv == null) {
          project(joined(l, nullRight))
        } else {
          var continue = true
          while (continue && rBuf.hasNext) {
            val peek = rBuf.head
            val rkv = boundRK.eval(peek)
            if (rkv == null) { rBuf.next() } // null keys never match
            else {
              val c = keyOrd.compare(rkv, lkv)
              if (c < 0) {
                // left is key-ascending: this right key can never
                // match any future left row either — drop forever
                rBuf.next()
              } else if (c == 0) {
                val rtv = boundRT.eval(peek)
                if (rtv != null &&
                    rtv.asInstanceOf[Long] <= ltv.longValue()) {
                  val r = rBuf.next().copy()
                  carried = r
                  carriedKey = boundRK.eval(r)
                  carriedTime = boundRT.eval(r).asInstanceOf[Long]
                } else if (rtv == null) { rBuf.next() }
                else continue = false // future-dated for this left row
              } else continue = false // right ahead of left key
            }
          }
          val matched = carried != null &&
            keyOrd.compare(carriedKey, lkv) == 0 &&
            tol.forall(t => ltv.longValue() - carriedTime <= t)
          if (matched) project(joined(l, carried))
          else project(joined(l, nullRight))
        }
      }
    }
  }
}
