package graft.operators

import graft.QueryDef
import graft.functions.Vectors
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Skew mitigation utilities.
  *
  * `saltedJoin` is the classic rewrite for a shuffle join whose key is
  * heavily skewed: the big side gets a deterministic salt derived from a
  * high-cardinality column, the small side is replicated across all salt
  * values, and the join key becomes (key, salt) — splitting each hot key
  * across `nSalts` reducers. AQE's skew-join handles many cases at
  * runtime; explicit salting is for the pathological keys AQE can't
  * split (e.g. a single key holding >50% of rows, or skewed
  * aggregations). `topK` is the one top-k-per-group path.
  */
object Skew {

  /** Join `big ⋈ small` on `key` with the big side salted by
    * `hash(saltFrom) mod nSalts` and the small side replicated. Result
    * equals the unsalted inner join. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      saltFrom: Column, nSalts: Int): DataFrame = {
    val salted = big.withColumn("__salt", pmod(hash(saltFrom), lit(nSalts)))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(nSalts - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** The first `k` rows of each `part` group under (value DESC, id
    * ASC), as (part, id, value, rn) with `rn` = 1..k: the rows
    * `row_number() <= k` keeps. One bounded aggregate
    * (plans/TopKByKey.scala) carries at most k pairs per (group,
    * partition) through the exchange, so no task sorts a whole group
    * however few or skewed the groups are. The id is a bigint or a
    * string; the value travels as a double and comes back in its
    * column's type. Values order as in Spark's sort (NaN largest,
    * −0.0 = 0.0); rows with a null value or id are skipped. For an
    * ascending order, negate the value before and after. */
  def topK(df: DataFrame, part: String, value: String, id: String, k: Int): DataFrame = {
    val t = df.schema
    val idIn = if (t(id).dataType == StringType) col(id) else col(id).cast(LongType)
    df.groupBy(col(part))
      .agg(Vectors.topkByKey(col(value).cast(DoubleType), idIn, k).as("tk"))
      .select(col(part), posexplode(col("tk")).as(Seq("i", "e")))
      .select(col(part), col("e.id").cast(t(id).dataType).as(id),
        col("e.value").cast(t(value).dataType).as(value), (col("i") + 1).as("rn"))
  }

  private val dec4 = DecimalType(18, 4)

  val defs: Seq[(String, QueryDef)] = Seq(
    // Revenue per supplier: l_suppkey has ~10 distinct values across the
    // whole fact table — maximal skew. The salted join splits each
    // supplier across 16 reducers; the oracle is the plain join, proving
    // the rewrite is result-identical.
    "q27_salted_join" -> QueryDef.withOracle(
      """SELECT s.s_name,
        |  CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |GROUP BY s.s_name""".stripMargin) { (s, dir) =>
      val l = Tables.lineitem(s, dir)
        .select(col("l_suppkey").as("suppkey"), col("l_orderkey"),
          col("l_extendedprice"), col("l_discount"))
      val sup = Tables.supplier(s, dir)
        .select(col("s_suppkey").as("suppkey"), col("s_name"))
      Skew.saltedJoin(l, sup, "suppkey", col("l_orderkey"), 16)
        .groupBy(col("s_name"))
        .agg(
          // decimal sum internally (exact, order-independent); DOUBLE out
          sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec4))
            .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_lines"))
    }
  )
}
