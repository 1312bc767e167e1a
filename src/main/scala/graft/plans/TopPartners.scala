package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import java.nio.ByteBuffer

/** Co-occurrence counter with a bounded top-k result: counts how many
  * input rows name each partner id (one `array<bigint>` of partners
  * per row), then returns the k most frequent partners under the total
  * order (weight DESC, part_b ASC). Grouped by the item the partner
  * lists were emitted for, this is the per-item half of a top-k pair
  * count: the (item, partner) relation is never materialized as rows,
  * so no pair ever passes through a hash aggregate or an exchange as
  * its own record — each partial buffer is one primitive count map.
  *
  * Buffer: a primitive open-addressing `long → long` map (a zero count
  * marks an empty slot; every stored count is ≥ 1). `merge` adds
  * counts; `serialize` writes (n, key, count, …) in varints. Counting is
  * associative and the output order is total, so results are identical
  * under any partitioning, merge order or retry.
  *
  * Output: array<struct<part_b bigint, weight bigint>>, best first.
  */
case class TopPartners(
    partners: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopPartners.Counts] {

  import TopPartners._

  override def checkInputDataTypes(): TypeCheckResult =
    if (k < 1)
      TypeCheckResult.TypeCheckFailure(
        s"graft_top_partners expects k >= 1, got $k")
    else partners.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_top_partners expects array<bigint>, got $t")
    }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("part_b", LongType, nullable = false),
    StructField("weight", LongType, nullable = false))), containsNull = false)

  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(partners)
  override def prettyName: String = "graft_top_partners"

  override def createAggregationBuffer(): Counts = new Counts

  override def update(buf: Counts, input: InternalRow): Counts = {
    val a = partners.eval(input).asInstanceOf[ArrayData]
    if (a != null) {
      var i = 0
      val n = a.numElements()
      buf.reserve(n)
      while (i < n) {
        if (!a.isNullAt(i)) buf.add(a.getLong(i), 1L)
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Counts, other: Counts): Counts = {
    buf.absorb(other); buf
  }

  override def eval(buf: Counts): Any =
    new GenericArrayData(buf.top(k).asInstanceOf[Array[Any]])

  override def serialize(buf: Counts): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): Counts = Counts.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(o: Int): TopPartners =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopPartners =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(partners = c.head)
}

object TopPartners {

  /** `long → long` count map. Hashed, it is an open-addressing table
    * (linear probing, power of two, at most half full). A deserialized
    * partial is first kept as a dense (key, count) list — its keys are
    * distinct — and only hashed when something is added to it, so a
    * final merge hashes each partial entry once, and a key seen in one
    * partition only is never hashed again. Both layouts mark an empty
    * slot with count 0, so every scan below reads them alike. */
  final class Counts private (
      private var keys: Array[Long],
      private var counts: Array[Long],
      private var n: Int,
      private var hashed: Boolean) {

    def this() = this(new Array[Long](16), new Array[Long](16), 0, true)

    private def slot(key: Long, mask: Int): Int = {
      // murmur3 fmix64: spreads sequential part keys over the table
      var h = key
      h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
      h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
      h ^= h >>> 33
      h.toInt & mask
    }

    def add(key: Long, c: Long): Unit = {
      if (!hashed) reserve(0)
      val mask = keys.length - 1
      var i = slot(key, mask)
      while (counts(i) != 0 && keys(i) != key) i = (i + 1) & mask
      if (counts(i) == 0) {
        keys(i) = key
        n += 1
        counts(i) = c
        if (2 * n > keys.length) rehash(keys.length * 2)
      } else counts(i) += c
    }

    /** Room for `extra` more keys in one rehash, instead of one per
      * doubling as the table fills; hashes a dense map. */
    def reserve(extra: Int): Unit = {
      val need = n + extra
      if (!hashed || 2 * need > keys.length)
        rehash(Integer.highestOneBit(math.max(need, 4)) * 4)
    }

    private def rehash(capacity: Int): Unit = {
      val ok = keys
      val oc = counts
      keys = new Array[Long](capacity)
      counts = new Array[Long](capacity)
      hashed = true
      val mask = capacity - 1
      var j = 0
      while (j < ok.length) {
        if (oc(j) != 0) {
          var i = slot(ok(j), mask)
          while (counts(i) != 0) i = (i + 1) & mask
          keys(i) = ok(j)
          counts(i) = oc(j)
        }
        j += 1
      }
    }

    def absorb(other: Counts): Unit = {
      if (n == 0) { // adopt `other`'s arrays (the caller drops `other`)
        keys = other.keys; counts = other.counts; n = other.n
        hashed = other.hashed
        return
      }
      reserve(other.n)
      var j = 0
      while (j < other.keys.length) {
        if (other.counts(j) != 0) add(other.keys(j), other.counts(j))
        j += 1
      }
    }

    /** The ≤k best (key, count) entries by (count DESC, key ASC), as
      * rows: a bounded insertion into parallel arrays (k is small), no
      * sort of the whole map. */
    def top(k: Int): Array[InternalRow] = {
      val tk = new Array[Long](k)
      val tc = new Array[Long](k)
      var m = 0
      var j = 0
      while (j < keys.length) {
        val c = counts(j)
        if (c != 0) {
          val key = keys(j)
          if (m < k || c > tc(m - 1) || (c == tc(m - 1) && key < tk(m - 1))) {
            var idx = math.min(m, k - 1)
            while (idx > 0 && (c > tc(idx - 1) ||
                (c == tc(idx - 1) && key < tk(idx - 1)))) {
              tk(idx) = tk(idx - 1); tc(idx) = tc(idx - 1); idx -= 1
            }
            tk(idx) = key; tc(idx) = c
            if (m < k) m += 1
          }
        }
        j += 1
      }
      Array.tabulate(m)(i => InternalRow(tk(i), tc(i)))
    }

    /** (n, key, count, …) with n as 4 bytes and each key (zigzag) and
      * count as a base-128 varint: most counts are 1 and part keys are
      * small, so an entry takes 3-4 bytes instead of 16. */
    def toBytes: Array[Byte] = {
      val out = new Array[Byte](4 + 20 * n)
      ByteBuffer.wrap(out).putInt(n)
      var pos = 4
      var j = 0
      while (j < keys.length) {
        if (counts(j) != 0) {
          pos = putVarLong(out, pos, (keys(j) << 1) ^ (keys(j) >> 63))
          pos = putVarLong(out, pos, counts(j))
        }
        j += 1
      }
      java.util.Arrays.copyOf(out, pos)
    }
  }

  private def putVarLong(out: Array[Byte], at: Int, v0: Long): Int = {
    var v = v0
    var pos = at
    while ((v & ~0x7fL) != 0) {
      out(pos) = ((v & 0x7f) | 0x80).toByte
      v >>>= 7
      pos += 1
    }
    out(pos) = v.toByte
    pos + 1
  }

  object Counts {
    /** The dense (unhashed) layout of a serialized map. */
    def fromBytes(bytes: Array[Byte]): Counts = {
      val n = ByteBuffer.wrap(bytes).getInt
      val keys = new Array[Long](n)
      val counts = new Array[Long](n)
      var pos = 4
      def varLong(): Long = {
        var v = 0L
        var shift = 0
        var b = 0x80
        while ((b & 0x80) != 0) {
          b = bytes(pos); pos += 1
          v |= (b & 0x7fL) << shift; shift += 7
        }
        v
      }
      var i = 0
      while (i < n) {
        val z = varLong()
        keys(i) = (z >>> 1) ^ -(z & 1)
        counts(i) = varLong()
        i += 1
      }
      new Counts(keys, counts, n, hashed = false)
    }
  }
}
