package graft

import scala.reflect.ClassTag

import graft.plans.{AdcDistance, AsofJoinStrategy, BloomMightContain, CdcChunks, GramSketch, HeavyHittersSketch, KllQuantileSketch, KmvDistinctSketch, NearestPqCode, TextRankTop3, ThresholdLevenshtein, TopCellsByCos, TopKByKey, TopPartners, VectorExpression, VectorKernel}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData

/** The one way graft enters a session: injects every native function of
  * [[GraftExtensions.functions]], the banded edit-distance rule and the
  * as-of join strategy, once, when the session is built. Sessions get it
  * through `GraftSession.local`, a builder's
  * `withExtensions(new GraftExtensions)`, or, for a session graft does
  * not build, `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // bounded edit-distance predicates get the banded O(k·len)
    // algorithm automatically (see ThresholdLevenshtein)
    e.injectOptimizerRule(_ => ThresholdLevenshtein)
    // the as-of join whole-operator path: AsofJoinPlan logical nodes
    // plan to the sort-merge AsofJoinExec (see plans/AsofJoin.scala)
    e.injectPlannerStrategy(_ => AsofJoinStrategy())
    for (f <- GraftExtensions.functions)
      e.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(f.className, f.name), f.build))
  }
}

object GraftExtensions {

  /** One native SQL function: its name, the class of the expression it
    * builds, and the builder over the call's argument expressions. */
  final case class NativeFunction(name: String, className: String,
      build: Seq[Expression] => Expression)

  /** The arguments of one call of the native function `fn`. */
  private final class Args(fn: String, exprs: Seq[Expression]) {
    def apply(i: Int): Expression = exprs(i)

    /** Argument `i`, which sizes the expression, as a foldable, non-null
      * literal: a column or a NULL there is rejected at analysis. */
    def literal(i: Int): Any = {
      val v = if (exprs(i).foldable) exprs(i).eval() else null
      if (v == null) throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be a non-null literal, not ${exprs(i).sql}")
      v
    }

    def int(i: Int): Int = literal(i).asInstanceOf[Number].intValue()
  }

  private def fn[T <: Expression: ClassTag](name: String)(build: Args => Expression) =
    NativeFunction(name, implicitly[ClassTag[T]].runtimeClass.getName,
      exprs => build(new Args(name, exprs)))

  /** Every graft native function, the table [[GraftExtensions]] injects. */
  val functions: Seq[NativeFunction] = VectorKernel.all.map(k =>
    fn[VectorExpression](k.name)(a => VectorExpression(k, a(0), a(1)))) ++ Seq(
    fn[BloomMightContain]("graft_bloom_might_contain")(a =>
      BloomMightContain(a(0), a(1))),
    fn[HeavyHittersSketch]("graft_heavy_hitters")(a =>
      HeavyHittersSketch(a(0), a.int(1), a.int(2)).toAggregateExpression()),
    fn[KmvDistinctSketch]("graft_kmv_minhashes")(a =>
      KmvDistinctSketch(a(0), a.int(1)).toAggregateExpression()),
    fn[KllQuantileSketch]("graft_kll_quantiles")(a =>
      KllQuantileSketch(a(0), a.int(1),
        a.literal(2).asInstanceOf[ArrayData].toDoubleArray().toSeq)
        .toAggregateExpression()),
    fn[GramSketch]("graft_gram")(a => GramSketch(a(0)).toAggregateExpression()),
    fn[TopKByKey]("graft_topk_by_key")(a =>
      TopKByKey(a(0), a(1), a.int(2)).toAggregateExpression()),
    fn[TopPartners]("graft_top_partners")(a =>
      TopPartners(a(0), a.int(1)).toAggregateExpression()),
    fn[CdcChunks]("graft_cdc_chunks")(a => CdcChunks(a(0))),
    fn[TextRankTop3]("graft_textrank_top3")(a => TextRankTop3(a(0))),
    fn[NearestPqCode]("graft_nearest_pq_code")(a =>
      NearestPqCode(a(0), a(1), a(2))),
    fn[AdcDistance]("graft_adc_distance")(a =>
      AdcDistance(a(0), a(1), a.int(2), a.int(3))),
    fn[TopCellsByCos]("graft_top_cells")(a =>
      TopCellsByCos(a(0), a(1), a(2), a.int(3))))
}
