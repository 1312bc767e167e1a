package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Top-`topN` IVF cells for one vector against the broadcast centroid
  * table, as `array<struct<neg: double, cell: int>>` sorted ascending
  * by (neg, cell) — i.e. (cosine DESC, cell ASC).
  *
  * Semantics are EXACTLY the declarative chain it replaces in
  * `Similarity.scoreCells`:
  * {{{
  *   slice(sort_array(transform(cents, c =>
  *     struct((-round(dot(emb, c.cvec) / sqrt(na * c.nb), 6)).as("neg"),
  *            c.cell))), 1, topN)
  * }}}
  * reproduced operation for operation so the DuckDB-oracled build is
  * bit-unchanged: the dot is the [[HyperplaneDot]] kernel, which
  * accumulates (double)float·double left to right from 0.0 (=
  * zip_with+aggregate); rounding is
  * Spark `Round(_, 6)`'s own double path (NaN/Inf pass through, else
  * `BigDecimal.valueOf(x).setScale(6, HALF_UP)`); the double ordering
  * is Spark's nan-safe array-sort ordering (NaN largest, -0.0 == 0.0);
  * a centroid whose `cvec` length differs from the vector's yields a
  * NULL `neg` that sorts FIRST among the cells (zip_with pads the
  * shorter array with nulls → null dot → null neg, and sort_array's
  * struct ordering puts the null field smallest ascending).
  *
  * Why native: the lambda-interpreter chain allocates and re-sorts a
  * cells-long struct array per row, which at N·cells scale IS the IVF
  * build cost (measured ~10 µs/cell·row at 160 cells). This loop keeps
  * a bounded topN scratch (callers use 1 or 2) and no per-cell
  * allocation, so the full-corpus assign pass — the one pass sampled
  * training cannot remove — stays linear with a small constant.
  */
case class TopCellsByCos(emb: Expression, na: Expression, cents: Expression,
    topN: Int) extends TernaryExpression with CodegenFallback {

  override def first: Expression = emb
  override def second: Expression = na
  override def third: Expression = cents
  override def prettyName: String = "graft_top_cells"

  private val cellStruct = StructType(Seq(
    StructField("cell", IntegerType), StructField("cvec", ArrayType(DoubleType)),
    StructField("nb", DoubleType)))

  override def checkInputDataTypes(): TypeCheckResult = {
    val embOk = emb.dataType match {
      case ArrayType(FloatType, _) => true; case _ => false
    }
    val centsOk = cents.dataType match {
      case ArrayType(StructType(fs), _) if fs.length == 3 =>
        fs(0).dataType == IntegerType &&
          (fs(1).dataType match {
            case ArrayType(DoubleType, _) => true; case _ => false
          }) && fs(2).dataType == DoubleType
      case _ => false
    }
    if (embOk && na.dataType == DoubleType && centsOk)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_top_cells expects (array<float>, double, array<$cellStruct>), " +
        s"got (${emb.dataType}, ${na.dataType}, ${cents.dataType})")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("neg", DoubleType), StructField("cell", IntegerType))))

  // Spark's nan-safe double ordering (NaN == NaN and NaN largest,
  // -0.0 == 0.0) — what sort_array applies to the struct's first field.
  private def nanSafeLt(x: Double, y: Double): Boolean = {
    val xn = java.lang.Double.isNaN(x); val yn = java.lang.Double.isNaN(y)
    if (xn) false else if (yn) true else x < y
  }
  private def nanSafeEq(x: Double, y: Double): Boolean = {
    val xn = java.lang.Double.isNaN(x); val yn = java.lang.Double.isNaN(y)
    (xn && yn) || (!xn && !yn && x == y)
  }

  override def nullSafeEval(embAny: Any, naAny: Any, centsAny: Any): Any = {
    val a = embAny.asInstanceOf[ArrayData]
    val naV = naAny.asInstanceOf[Double]
    val cs = centsAny.asInstanceOf[ArrayData]
    val nCells = cs.numElements()
    val k = math.min(topN, nCells)
    // bounded scratch, kept sorted ascending by (neg, cell); a null neg
    // (length-mismatched centroid — zip_with pads with nulls, so the
    // chain's dot and hence neg is null) sorts FIRST, exactly like
    // sort_array's struct ordering (null field smallest ascending)
    val negs = new Array[Double](k)
    val negNull = new Array[Boolean](k)
    val cells = new Array[Int](k)
    var filled = 0
    // (nullX, x) < (nullY, y) under Spark's struct ordering
    def lt(xNull: Boolean, x: Double, cx: Int,
        yNull: Boolean, y: Double, cy: Int): Boolean =
      if (xNull && yNull) cx < cy
      else if (xNull) true
      else if (yNull) false
      else nanSafeLt(x, y) || (nanSafeEq(x, y) && cx < cy)
    var j = 0
    while (j < nCells) {
      val st = cs.getStruct(j, 3)
      val cell = st.getInt(0)
      val cvec = st.getArray(1)
      val nb = st.getDouble(2)
      val mismatch = a.numElements() != cvec.numElements()
      var neg = 0.0
      if (!mismatch) {
        val cos = HyperplaneDot(a, cvec) / math.sqrt(naV * nb)
        // Spark Round(double, 6): NaN/Inf unchanged, else HALF_UP via the
        // decimal string representation (BigDecimal.valueOf)
        val rounded =
          if (java.lang.Double.isNaN(cos) || java.lang.Double.isInfinite(cos)) cos
          else java.math.BigDecimal.valueOf(cos)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        neg = -rounded
      }
      // insert into the sorted scratch if it beats the current worst
      val beats = filled < k ||
        lt(mismatch, neg, cell, negNull(filled - 1), negs(filled - 1),
          cells(filled - 1))
      if (beats) {
        var p = math.min(filled, k - 1) // insertion slot (worst drops off)
        while (p > 0 && lt(mismatch, neg, cell, negNull(p - 1), negs(p - 1),
            cells(p - 1))) {
          negs(p) = negs(p - 1); negNull(p) = negNull(p - 1)
          cells(p) = cells(p - 1); p -= 1
        }
        negs(p) = neg; negNull(p) = mismatch; cells(p) = cell
        if (filled < k) filled += 1
      }
      j += 1
    }
    val out = new Array[Any](filled)
    var r = 0
    while (r < filled) {
      out(r) = InternalRow(if (negNull(r)) null else negs(r), cells(r))
      r += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(emb = newFirst, na = newSecond, cents = newThird)
}

/** Nearest PQ code for one (vector, subspace) row against the
  * broadcast codebook, as `struct<dist: bigint, cell: int>`.
  *
  * Semantics are EXACTLY the declarative chain it replaces in
  * `Similarity.pqAssign`:
  * {{{
  *   array_min(transform(filter(cb, c => c.sub === sub),
  *     c => struct(sum((xfp-cfp)²).as("dist"), c.cell.as("cell"))))
  * }}}
  * — exact long L2 over the zip, minimum by (dist ASC, cell ASC), null
  * when the subspace has no codebook entry (array_min of an empty
  * array). A code whose `cfp` length differs from the vector's yields a
  * NULL dist (zip_with pads the shorter array with nulls → null sum)
  * which the struct ordering treats as SMALLEST — exactly what
  * array_min over the chain produces — so a mismatched-dim codebook
  * surfaces as `struct(null, min mismatched cell)`, never a silently
  * truncated distance.
  *
  * Why native: the chain runs an interpreted filter over all m×codes
  * codebook structs per (vector, subspace) row plus a lambda L2 per
  * surviving code; this is one tight loop, no per-row allocation
  * beyond the 2-field result.
  */
case class NearestPqCode(xfp: Expression, sub: Expression, cb: Expression)
    extends TernaryExpression with CodegenFallback {

  override def first: Expression = xfp
  override def second: Expression = sub
  override def third: Expression = cb
  override def prettyName: String = "graft_nearest_pq_code"

  override def checkInputDataTypes(): TypeCheckResult = {
    val xfpOk = xfp.dataType match {
      case ArrayType(LongType, _) => true; case _ => false
    }
    val cbOk = cb.dataType match {
      case ArrayType(StructType(fs), _) if fs.length == 3 =>
        fs(0).dataType == IntegerType && fs(1).dataType == IntegerType &&
          (fs(2).dataType match {
            case ArrayType(LongType, _) => true; case _ => false
          })
      case _ => false
    }
    if (xfpOk && sub.dataType == IntegerType && cbOk)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_nearest_pq_code expects (array<bigint>, int, " +
        s"array<struct<sub int, cell int, cfp array<bigint>>>), got " +
        s"(${xfp.dataType}, ${sub.dataType}, ${cb.dataType})")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("dist", LongType), StructField("cell", IntegerType)))

  override def nullable: Boolean = true

  override def nullSafeEval(xAny: Any, subAny: Any, cbAny: Any): Any = {
    val x = xAny.asInstanceOf[ArrayData]
    val mySub = subAny.asInstanceOf[Int]
    val codes = cbAny.asInstanceOf[ArrayData]
    var bestDist = Long.MaxValue; var bestCell = Int.MaxValue
    var bestIsNull = false // null dist sorts SMALLEST (struct ordering)
    var found = false
    var j = 0
    val nCodes = codes.numElements()
    while (j < nCodes) {
      val st = codes.getStruct(j, 3)
      if (st.getInt(0) == mySub) {
        val cfp = st.getArray(2)
        val cell = st.getInt(1)
        val mismatch = x.numElements() != cfp.numElements()
        var d = 0L
        if (!mismatch) {
          var i = 0
          val n = x.numElements()
          while (i < n) {
            val t = x.getLong(i) - cfp.getLong(i)
            d += t * t
            i += 1
          }
        }
        val beats =
          if (mismatch && bestIsNull) cell < bestCell
          else if (mismatch) true
          else if (bestIsNull) false
          else d < bestDist || (d == bestDist && cell < bestCell)
        if (!found || beats) {
          bestDist = d; bestCell = cell; bestIsNull = mismatch; found = true
        }
      }
      j += 1
    }
    if (!found) null
    else InternalRow(if (bestIsNull) null else bestDist, bestCell)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(xfp = newFirst, sub = newSecond, cb = newThird)
}

/** ADC (asymmetric distance computation) sum for one corpus vector
  * against one probe's distance table: `Σ_{s=0..m-1}
  * dtab[s·codes_per_sub + codes[s+1]]`, as BIGINT.
  *
  * Semantics are EXACTLY the declarative chain it replaces in the
  * `ann_pq_topk` ADC scan:
  * {{{
  *   aggregate(sequence(0, m-1), 0L, (acc, sN) =>
  *     acc + element_at(dtab, sN·codes + element_at(codes, sN+1)))
  * }}}
  * including null propagation: a missing map key makes element_at
  * null and the whole running sum null — this loop returns null on the
  * first missing key (once null, + keeps it null regardless of later
  * terms). Map lookup replicates ArrayBasedMapData's element_at: a
  * linear scan taking the FIRST matching key.
  *
  * Why native: the chain costs an interpreted lambda step plus an
  * O(|dtab|) linear map scan per subspace per (probe, corpus-vector)
  * pair — m·m·codes map-entry comparisons per scanned pair; this loop
  * is the same scans without the lambda interpreter between them.
  */
case class AdcDistance(codes: Expression, dtab: Expression, codesPerSub: Int,
    m: Int) extends BinaryExpression with CodegenFallback {

  override def left: Expression = codes
  override def right: Expression = dtab
  override def prettyName: String = "graft_adc_distance"

  override def checkInputDataTypes(): TypeCheckResult =
    (codes.dataType, dtab.dataType) match {
      case (ArrayType(IntegerType, _), MapType(IntegerType, LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_adc_distance expects (array<int>, map<int, bigint>), got $l / $r")
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(codesAny: Any, dtabAny: Any): Any = {
    val cs = codesAny.asInstanceOf[ArrayData]
    val m = dtabAny.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
    val keys = m.keyArray(); val vals = m.valueArray()
    val nKeys = m.numElements()
    // the chain iterates sequence(0, m-1) regardless of the array's
    // length; an out-of-range element_at(codes, s+1) is null there
    if (cs.numElements() < this.m) return null
    var acc = 0L
    var s = 0
    while (s < this.m) {
      val k = s * codesPerSub + cs.getInt(s)
      var j = 0
      var found = false
      while (j < nKeys && !found) {
        if (keys.getInt(j) == k) {
          acc += vals.getLong(j); found = true
        }
        j += 1
      }
      if (!found) return null // element_at null → the whole sum is null
      s += 1
    }
    acc
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(codes = newLeft, dtab = newRight)
}
