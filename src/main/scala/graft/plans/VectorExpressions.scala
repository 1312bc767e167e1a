package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for one array kernel over two embedding
  * or id-set columns: `kernel` names the function, fixes its types and
  * computes it.
  *
  * Why not `zip_with`/`aggregate`: higher-order array functions build a
  * lambda interpreter per element and fall out of whole-stage codegen;
  * for 10^8+ cosine evaluations in a dedup/ANN pass that's the hot
  * path. The kernel is a primitive loop in one Scala method: the
  * interpreted path calls it, and `doGenCode` emits one static call to
  * it (as Spark's own codegen calls `DateTimeUtils`), so the expression
  * stays inside WholeStageCodegen with a single copy of the arithmetic.
  */
case class VectorExpression(kernel: VectorKernel, left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(l, _), ArrayType(r, _)) if l == kernel.leftElem && r == kernel.rightElem =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"${kernel.name} expects (array<${kernel.leftElem.catalogString}>, " +
          s"array<${kernel.rightElem.catalogString}>), got $l / $r")
    }
  override def dataType: DataType = kernel.dataType
  override def prettyName: String = kernel.name
  // plans print the call as `name(left, right)`, not the kernel object
  override protected def stringArgs: Iterator[Any] = Iterator(left, right)

  override def nullSafeEval(a: Any, b: Any): Any =
    kernel.eval(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${kernel.staticApply}($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** One array kernel: its SQL name, the element types of its two array
  * inputs and its result type. Each kernel is a top-level object whose
  * `apply` is the kernel's only implementation, with a primitive result;
  * generated code calls it through the object's static forwarder. */
sealed abstract class VectorKernel(val name: String, val leftElem: DataType,
    val rightElem: DataType, val dataType: DataType) extends Serializable {

  /** `apply`, boxed, for the interpreted path. */
  def eval(x: ArrayData, y: ArrayData): Any

  private[plans] def staticApply: String =
    getClass.getName.stripSuffix("$") + ".apply"
}

object VectorKernel {
  /** Every kernel, one native function each. */
  val all: Seq[VectorKernel] = Seq(CosineSimilarity, HyperplaneDot, L2Distance,
    FloatDot, SortedLongIntersectCount, QuantizedDot)
}

/** Cosine similarity of two `array<float>` vectors, accumulated in
  * double (matching DuckDB's `list_cosine_similarity` semantics, so
  * results are oracle-comparable bit-for-bit before rounding). */
object CosineSimilarity
    extends VectorKernel("graft_cosine", FloatType, FloatType, DoubleType) {
  def eval(x: ArrayData, y: ArrayData): Any = apply(x, y)

  def apply(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv: Double = x.getFloat(i)
      val yv: Double = y.getFloat(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / math.sqrt(na * nb)
  }
}

/** Dot product of a float embedding against a double-typed plane
  * (hyperplane LSH, IVF centroids); accumulates in double. */
object HyperplaneDot
    extends VectorKernel("graft_dot", FloatType, DoubleType, DoubleType) {
  def eval(x: ArrayData, y: ArrayData): Any = apply(x, y)

  def apply(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += x.getFloat(i).toDouble * y.getDouble(i)
      i += 1
    }
    dot
  }
}

/** Euclidean (L2) distance of two `array<float>` vectors, accumulated
  * in double — matches DuckDB's `list_distance` semantics, so results
  * are oracle-comparable bit-for-bit before rounding. */
object L2Distance
    extends VectorKernel("graft_l2", FloatType, FloatType, DoubleType) {
  def eval(x: ArrayData, y: ArrayData): Any = apply(x, y)

  def apply(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var ss = 0.0
    var i = 0
    while (i < n) {
      val d: Double = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      ss += d * d
      i += 1
    }
    math.sqrt(ss)
  }
}

/** Raw inner product of two `array<float>` vectors in a double
  * accumulator — the scoring primitive of maximum-inner-product search
  * (MIPS), where vectors are deliberately NOT normalized (recommender
  * retrieval: popularity lives in the norm). Left-to-right product
  * accumulation matches DuckDB's `list_inner_product`, so scores are
  * bit-identical across engines. */
object FloatDot
    extends VectorKernel("graft_fdot", FloatType, FloatType, DoubleType) {
  def eval(x: ArrayData, y: ArrayData): Any = apply(x, y)

  def apply(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    dot
  }
}

/** Intersection cardinality of two pre-sorted long arrays via a tight
  * merge loop — the hot inner op of shingle-set verification. Spark's
  * `array_intersect` builds a boxed hash set per row; for 10^5–10^8
  * candidate pairs the merge over sorted primitive arrays is
  * allocation-free. Inputs MUST be sorted ascending (produce them with
  * `array_sort`). */
object SortedLongIntersectCount extends VectorKernel(
    "graft_sorted_intersect_count", LongType, LongType, IntegerType) {
  def eval(x: ArrayData, y: ArrayData): Any = apply(x, y)

  def apply(x: ArrayData, y: ArrayData): Int = {
    var i = 0; var j = 0; var n = 0
    val nx = x.numElements(); val ny = y.numElements()
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { n += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    n
  }
}

/** Integer dot product of two int8-code arrays (stored as
  * array<bigint> after quantization): the hot inner op of the
  * quantized ANN scan tier. Exact long accumulation — the same value
  * any engine computes — so ann_quantized_topk stays fully oracled
  * while the loop runs allocation-free instead of through the
  * per-element `zip_with`/`aggregate` lambda interpreter (~30% on the
  * 1M-vector stress scan, whose remaining cost is pair
  * materialization, not the dot). */
object QuantizedDot
    extends VectorKernel("graft_quantized_dot", LongType, LongType, LongType) {
  def eval(x: ArrayData, y: ArrayData): Any = apply(x, y)

  def apply(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0L
    var i = 0
    while (i < n) { dot += x.getLong(i) * y.getLong(i); i += 1 }
    dot
  }
}
