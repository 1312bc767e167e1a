package graft

import graft.plans.{BottomKSample, CosineSimilarity, GramSketch, HeavyHittersSketch, HyperplaneDot, KllQuantileSketch, SortedLongIntersectCount}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Formal extension entry point: registers the graft native expressions
  * with any session built through `GraftSession.local`, a builder's
  * `withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`. (For sessions the
  * library doesn't own, [[graft.functions.Vectors.register]] installs
  * the same functions imperatively.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // bounded edit-distance predicates get the banded O(k·len)
    // algorithm automatically (see ThresholdLevenshtein)
    e.injectOptimizerRule(_ => graft.plans.ThresholdLevenshtein)
    // the as-of join whole-operator path: AsofJoinPlan logical nodes
    // plan to the sort-merge AsofJoinExec (see plans/AsofJoin.scala)
    e.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy())
    e.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      exprs => CosineSimilarity(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[HyperplaneDot].getName, "graft_dot"),
      exprs => HyperplaneDot(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("graft_sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedLongIntersectCount].getName,
        "graft_sorted_intersect_count"),
      exprs => SortedLongIntersectCount(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("graft_bottomk_sample"),
      new ExpressionInfo(classOf[BottomKSample].getName, "graft_bottomk_sample"),
      exprs => BottomKSample(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue()).toAggregateExpression()))
    e.injectFunction((
      FunctionIdentifier("graft_heavy_hitters"),
      new ExpressionInfo(classOf[HeavyHittersSketch].getName, "graft_heavy_hitters"),
      exprs => HeavyHittersSketch(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue(),
        exprs(2).eval().asInstanceOf[Number].intValue()).toAggregateExpression()))
    e.injectFunction((
      FunctionIdentifier("graft_kll_quantiles"),
      new ExpressionInfo(classOf[KllQuantileSketch].getName, "graft_kll_quantiles"),
      exprs => KllQuantileSketch(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue(),
        exprs(2).eval().asInstanceOf[ArrayData].toDoubleArray().toSeq)
        .toAggregateExpression()))
    e.injectFunction((
      FunctionIdentifier("graft_gram"),
      new ExpressionInfo(classOf[GramSketch].getName, "graft_gram"),
      exprs => GramSketch(exprs(0)).toAggregateExpression()))
    e.injectFunction((
      FunctionIdentifier("graft_topk_by_key"),
      new ExpressionInfo(classOf[graft.plans.TopKByKey].getName, "graft_topk_by_key"),
      exprs => graft.plans.TopKByKey(exprs(0), exprs(1),
        exprs(2).eval().asInstanceOf[Number].intValue()).toAggregateExpression()))
    e.injectFunction((
      FunctionIdentifier("graft_topk_by_skey"),
      new ExpressionInfo(classOf[graft.plans.TopKByKeyStr].getName, "graft_topk_by_skey"),
      exprs => graft.plans.TopKByKeyStr(exprs(0), exprs(1),
        exprs(2).eval().asInstanceOf[Number].intValue()).toAggregateExpression()))
    e.injectFunction((
      FunctionIdentifier("graft_l2"),
      new ExpressionInfo(classOf[graft.plans.L2Distance].getName, "graft_l2"),
      exprs => graft.plans.L2Distance(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("graft_fdot"),
      new ExpressionInfo(classOf[graft.plans.FloatDot].getName, "graft_fdot"),
      exprs => graft.plans.FloatDot(exprs(0), exprs(1))))
  }
}
