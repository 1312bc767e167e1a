package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

import java.nio.ByteBuffer

/** KMV (k-minimum-values, "theta") distinct sketch: keeps the k
  * smallest DISTINCT values of a uniform 60-bit hash column and returns
  * them sorted ascending. From the kept array every theta-family
  * estimate is closed-form:
  *
  *   distinct(A)   = (k-1) · 2^60 / kth_min        (n ≥ k; else exact n)
  *   distinct(A∩B) = |minkA ∩ minkB| · 2^60 / θ,  θ = min(maxA, maxB)
  *
  * — the INTERSECTION estimate is what HLL fundamentally cannot do,
  * and it is why production systems keep theta sketches next to HLL.
  * Min-k over a deterministic hash is a semilattice: merge order,
  * partitioning and task retries can never change the kept set, so the
  * sketch is mergeable under the shuffle tree with O(k) state per
  * partial — and, because the hash is the cross-engine md5 formula,
  * the WHOLE sketch (not just a bound) is DuckDB-reproducible, making
  * sketch_kmv_distinct the only fully-oracled approximate-distinct
  * operator in the registry.
  *
  * Implementation: bounded sorted-unique long buffer (binary search
  * insert, O(k) worst-case shift — k is 256). It dedupes on insert,
  * which the bounded top-k-per-group aggregate `TopKByKey` does not, so
  * KMV keeps its own buffer.
  */
case class KmvDistinctSketch(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KmvDistinctSketch.MinSet] {

  import KmvDistinctSketch._

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_kmv_minhashes expects a bigint hash column, got ${child.dataType}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "graft_kmv_minhashes"

  override def createAggregationBuffer(): MinSet = new MinSet(k)

  override def update(buf: MinSet, input: InternalRow): MinSet = {
    val v = child.eval(input)
    if (v != null) buf.offer(v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: MinSet, other: MinSet): MinSet = { buf.absorb(other); buf }

  override def eval(buf: MinSet): Any = new GenericArrayData(buf.sorted)

  override def serialize(buf: MinSet): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): MinSet = MinSet.fromBytes(bytes, k)

  override def withNewMutableAggBufferOffset(o: Int): KmvDistinctSketch =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KmvDistinctSketch =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}

object KmvDistinctSketch {

  /** Sorted array of up to k distinct longs, smallest kept. */
  final class MinSet(k: Int) {
    private var vals = new Array[Long](math.min(k, 16))
    private var n = 0

    def offer(v: Long): Unit = {
      if (n == k && v >= vals(n - 1)) return
      var idx = java.util.Arrays.binarySearch(vals, 0, n, v)
      if (idx >= 0) return // duplicate
      idx = -idx - 1
      if (n == vals.length && n < k) // grow
        vals = java.util.Arrays.copyOf(vals, math.min(k, vals.length * 2))
      val last = math.min(n, k - 1) // drop current max if full
      System.arraycopy(vals, idx, vals, idx + 1, last - idx)
      vals(idx) = v
      if (n < k) n += 1
    }

    def absorb(other: MinSet): Unit = {
      var i = 0
      while (i < other.n) { offer(other.vals(i)); i += 1 }
    }

    def sorted: Array[Long] = java.util.Arrays.copyOf(vals, n)

    def toBytes: Array[Byte] = {
      val bb = ByteBuffer.allocate(4 + 8 * n)
      bb.putInt(n)
      var i = 0
      while (i < n) { bb.putLong(vals(i)); i += 1 }
      bb.array()
    }
  }

  object MinSet {
    def fromBytes(bytes: Array[Byte], k: Int): MinSet = {
      val bb = ByteBuffer.wrap(bytes)
      val n = bb.getInt
      val s = new MinSet(k)
      s.vals = new Array[Long](math.max(n, 1))
      var i = 0
      while (i < n) { s.vals(i) = bb.getLong; i += 1 }
      s.n = n
      s
    }
  }
}
