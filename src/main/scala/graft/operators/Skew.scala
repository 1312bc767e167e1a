package graft.operators

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
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
  * aggregations). `saltedTopK` is the same idea for a top-k window.
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

  /** The first `k` rows of each `part` group in `order`, numbered
    * 1..k in column `rn`. A plain partitionBy(part) window sorts a
    * whole group in one task, and AQE cannot split a skewed window
    * partition the way it splits a join. So phase 1 ranks within
    * (part, salt) cells, salt = hash(saltFrom) mod 64, and keeps each
    * cell's local top-k; phase 2 ranks the ≤ 64×k survivors per group
    * with the same order. When `order` is a total order within a
    * group, `rn` equals the single-window row_number. */
  def saltedTopK(df: DataFrame, part: Column, order: Seq[Column], k: Int,
      saltFrom: Column): DataFrame = {
    val wLocal = Window.partitionBy(part, col("salt")).orderBy(order: _*)
    val wFinal = Window.partitionBy(part).orderBy(order: _*)
    df.withColumn("salt", pmod(hash(saltFrom), lit(64)))
      .withColumn("rn0", row_number().over(wLocal))
      .filter(col("rn0") <= k)
      .withColumn("rn", row_number().over(wFinal))
      .filter(col("rn") <= k)
      .drop("salt", "rn0")
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
