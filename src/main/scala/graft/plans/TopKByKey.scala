package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.nio.ByteBuffer

/** Bounded top-k-per-group aggregate: keeps the k best (value, id)
  * pairs under the total order (value DESC, id ASC) — the window-free
  * formulation of "top k rows per group". A `row_number` window must
  * shuffle every raw row into its group's sort; this aggregate carries
  * at most k pairs per (group, partition) through the exchange and
  * merges associatively, so the raw stream never moves. Deterministic
  * total order (id breaks ties) → identical results under any
  * partitioning, retry, or merge order — fully DuckDB-oracle-able.
  *
  * The id is a bigint or a string (binary UTF-8 order, DuckDB's default
  * collation). Values compare the way Spark's sort does: NaN above
  * every number, −0.0 equal to 0.0, so the output is the `row_number()
  * <= k` rows of the same order. Rows with a null value or id are
  * skipped.
  *
  * Output: array<struct<id, value double>>, best first.
  */
case class TopKByKey(
    valueExpr: Expression,
    idExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKByKey.TopSet] {

  import TopKByKey._

  private def stringIds: Boolean = idExpr.dataType == StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (k < 1)
      TypeCheckResult.TypeCheckFailure(
        s"graft_topk_by_key expects k >= 1, got $k")
    else if (valueExpr.dataType == DoubleType &&
        (idExpr.dataType == LongType || stringIds))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_topk_by_key expects (double, bigint or string), got " +
        s"(${valueExpr.dataType}, ${idExpr.dataType})")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", idExpr.dataType, nullable = false),
    StructField("value", DoubleType, nullable = false))), containsNull = false)

  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(valueExpr, idExpr)
  override def prettyName: String = "graft_topk_by_key"

  override def createAggregationBuffer(): TopSet = new TopSet(k, stringIds)

  override def update(buf: TopSet, input: InternalRow): TopSet = {
    val v = valueExpr.eval(input)
    val id = idExpr.eval(input)
    if (v != null && id != null) buf.offer(v.asInstanceOf[Double], id.asInstanceOf[AnyRef])
    buf
  }

  override def merge(buf: TopSet, other: TopSet): TopSet = { buf.absorb(other); buf }

  override def eval(buf: TopSet): Any =
    new GenericArrayData(buf.toRows.asInstanceOf[Array[Any]])

  override def serialize(buf: TopSet): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): TopSet =
    TopSet.fromBytes(bytes, k, stringIds)

  override def withNewMutableAggBufferOffset(o: Int): TopKByKey =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKByKey =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(valueExpr = c(0), idExpr = c(1))
}

object TopKByKey {

  /** ≤k (value, id) pairs kept sorted best-first by (value DESC,
    * id ASC); parallel arrays, insertion-shift (k is small). Ids are
    * boxed longs or UTF8Strings; a string is cloned on entry, since
    * Spark reuses its backing buffer across input rows. */
  final class TopSet(k: Int, stringIds: Boolean) {
    private val vals = new Array[Double](k)
    private val ids = new Array[AnyRef](k)
    private var n = 0

    private def compareIds(a: AnyRef, b: AnyRef): Int =
      if (stringIds) a.asInstanceOf[UTF8String].binaryCompare(b.asInstanceOf[UTF8String])
      else java.lang.Long.compare(a.asInstanceOf[java.lang.Long], b.asInstanceOf[java.lang.Long])

    /** True when (v1, id1) outranks (v2, id2). Values compare as in
      * Spark's sort: equal when `==` holds (so −0.0 ties 0.0), else
      * `Double.compare` (so NaN is largest). */
    private def better(v1: Double, id1: AnyRef, v2: Double, id2: AnyRef): Boolean = {
      val c = if (v1 == v2) 0 else java.lang.Double.compare(v1, v2)
      c > 0 || (c == 0 && compareIds(id1, id2) < 0)
    }

    def offer(v: Double, id0: AnyRef): Unit = {
      if (n == k && !better(v, id0, vals(n - 1), ids(n - 1))) return
      val id = if (stringIds) id0.asInstanceOf[UTF8String].clone() else id0
      // find insert position (first slot this pair outranks)
      var idx = 0
      while (idx < n && !better(v, id, vals(idx), ids(idx))) idx += 1
      val last = math.min(n, k - 1) // drop current worst if full
      System.arraycopy(vals, idx, vals, idx + 1, last - idx)
      System.arraycopy(ids, idx, ids, idx + 1, last - idx)
      vals(idx) = v
      ids(idx) = id
      if (n < k) n += 1
    }

    def absorb(other: TopSet): Unit = {
      var i = 0
      while (i < other.n) { offer(other.vals(i), other.ids(i)); i += 1 }
    }

    def toRows: Array[InternalRow] =
      Array.tabulate(n)(i => InternalRow(ids(i), vals(i)))

    /** n, then per pair the value and the id: a long, or a length-
      * prefixed UTF-8 string. */
    def toBytes: Array[Byte] = {
      var size = 4 + 8 * n
      var i = 0
      while (i < n) {
        size += (if (stringIds) 4 + ids(i).asInstanceOf[UTF8String].numBytes() else 8)
        i += 1
      }
      val bb = ByteBuffer.allocate(size)
      bb.putInt(n)
      i = 0
      while (i < n) {
        bb.putDouble(vals(i))
        if (stringIds) {
          val b = ids(i).asInstanceOf[UTF8String].getBytes
          bb.putInt(b.length)
          bb.put(b)
        } else bb.putLong(ids(i).asInstanceOf[java.lang.Long])
        i += 1
      }
      bb.array()
    }
  }

  object TopSet {
    def fromBytes(bytes: Array[Byte], k: Int, stringIds: Boolean): TopSet = {
      val bb = ByteBuffer.wrap(bytes)
      val n = bb.getInt
      val s = new TopSet(k, stringIds)
      var i = 0
      while (i < n) {
        s.vals(i) = bb.getDouble
        s.ids(i) =
          if (stringIds) {
            val b = new Array[Byte](bb.getInt)
            bb.get(b)
            UTF8String.fromBytes(b)
          } else java.lang.Long.valueOf(bb.getLong)
        i += 1
      }
      s.n = n
      s
    }
  }
}
