package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Four synchronous damped-TextRank rounds over ONE document's word
  * graph, returning the top-3 words, as
  * `array<struct<pos:int, word:string, rank_fp:bigint>>`.
  *
  * Input: `array<array<string>>` — the token lists of every row that
  * shares the document's id, any order. The graph is built here: each
  * pair of ADJACENT tokens within one list whose tokens both have ≥ 3
  * characters and differ is one undirected co-occurrence, counted in
  * both directions (pairs never span two lists).
  *
  * Semantics are EXACTLY the recurrence of the text_textrank oracle:
  *   cnt(s,d)   = co-occurrences of s and d
  *   deg(w)     = Σ_d cnt(w,d)
  *   r0(w)      = 2²⁰
  *   r_{i+1}(w) = (15·2²⁰ + 85·Σ_s cnt(s,w)·(r_i(s) div deg(s))) div 100
  * over the words with deg > 0, four rounds, then the top 3 words by
  * (r4 DESC, word ASC) with their 1-based position. cnt·q is added
  * here as cnt separate q's, one per co-occurrence; all arithmetic is
  * non-negative long division and long addition — order-invariant, so
  * the undefined collect order of the input cannot change the result,
  * and the expression is deterministic. A document with no qualifying
  * pair gives an empty array.
  *
  * Why native: each per-doc graph is bounded by the document's token
  * count, and 500k of them iterate SIMULTANEOUSLY. As a distributed
  * recurrence every round costs two corpus-scale joins + an
  * aggregation (~20 sequential AQE stage rounds of wall at sf0.1).
  * Building the graph as rows — one (doc, w1, w2) row per bigram,
  * mirrored, shuffled and counted by a three-string-key aggregate
  * before this loop — still cost 2.9 s of task time at sf0.1 against
  * 0.3-0.55 s for the whole query now (4 cores). So the query shuffles
  * each document's token lists ONCE, on doc_id, and this loop builds
  * the graph and runs the recurrence in O(tokens + 4·words) int/long
  * ops. Rank state never crosses the network.
  */
case class TextRankTop3(child: Expression)
    extends UnaryExpression with CodegenFallback {

  private val FP = 1048576L

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(ArrayType(StringType, _), _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_textrank_top3 expects array<array<string>>, got $other")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("word", StringType, nullable = false),
    StructField("rank_fp", LongType, nullable = false))))

  override def prettyName: String = "graft_textrank_top3"

  override def nullSafeEval(input: Any): Any = {
    val lists = input.asInstanceOf[ArrayData]
    var nTok = 0
    var l = 0
    while (l < lists.numElements()) {
      if (!lists.isNullAt(l)) nTok += lists.getArray(l).numElements()
      l += 1
    }
    // intern qualifying (≥ 3 chars) tokens to dense indices
    val idx = new java.util.HashMap[UTF8String, Integer](nTok * 2)
    val words = new java.util.ArrayList[UTF8String]()
    def intern(u: UTF8String): Int = {
      val got = idx.get(u)
      if (got != null) got.intValue()
      else {
        val u2 = u.clone() // detach from the (reused) input buffer
        val i = words.size()
        idx.put(u2, Integer.valueOf(i)); words.add(u2); i
      }
    }
    // one (a, b) per co-occurrence; both directions are implied
    val as = new Array[Int](nTok)
    val bs = new Array[Int](nTok)
    var n = 0
    l = 0
    while (l < lists.numElements()) {
      if (!lists.isNullAt(l)) {
        val toks = lists.getArray(l)
        var prev = -1
        var t = 0
        while (t < toks.numElements()) {
          val u = toks.getUTF8String(t)
          val cur = if (u != null && u.numChars() >= 3) intern(u) else -1
          if (prev >= 0 && cur >= 0 && prev != cur) { as(n) = prev; bs(n) = cur; n += 1 }
          prev = cur
          t += 1
        }
      }
      l += 1
    }
    val nw = words.size()
    val deg = new Array[Long](nw)
    var i = 0
    while (i < n) { deg(as(i)) += 1; deg(bs(i)) += 1; i += 1 }
    var r = new Array[Long](nw)
    java.util.Arrays.fill(r, FP)
    var snew = new Array[Long](nw)
    val q = new Array[Long](nw)
    var round = 0
    while (round < 4) {
      var w = 0
      while (w < nw) { // all quantities non-negative: / ≡ div
        q(w) = if (deg(w) > 0) r(w) / deg(w) else 0L
        snew(w) = 0L
        w += 1
      }
      var j = 0
      while (j < n) { snew(bs(j)) += q(as(j)); snew(as(j)) += q(bs(j)); j += 1 }
      w = 0
      while (w < nw) { snew(w) = (15L * FP + 85L * snew(w)) / 100L; w += 1 }
      val t = r; r = snew; snew = t // swap; old r is next round's scratch
      round += 1
    }
    // top-3 by (rank DESC, word ASC) over the graph's words — a strict
    // total order (words are distinct within a doc), same as the
    // oracle's row_number window; a bounded insertion, not a sort
    val rr = r
    def before(a: Int, b: Int): Boolean =
      rr(a) > rr(b) || (rr(a) == rr(b) && words.get(a).compareTo(words.get(b)) < 0)
    val top = new Array[Int](3)
    var k = 0
    var w = 0
    while (w < nw) {
      if (deg(w) > 0 && (k < 3 || before(w, top(2)))) {
        var p = math.min(k, 2)
        while (p > 0 && before(w, top(p - 1))) { top(p) = top(p - 1); p -= 1 }
        top(p) = w
        if (k < 3) k += 1
      }
      w += 1
    }
    val out = new Array[Any](k)
    var p = 0
    while (p < k) {
      out(p) = new GenericInternalRow(Array[Any](p + 1, words.get(top(p)), rr(top(p))))
      p += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
