package graft.operators

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Core relational operator library (q1..q20).
  *
  * Conventions (see SURVEY.md §4):
  *  - money sums go through DECIMAL(18,2)/(18,4) casts so results are
  *    exact and order-independent (safe to hash-compare across engines
  *    and across partitionings);
  *  - DECIMAL stays INTERNAL: every final output column is cast to
  *    DOUBLE identically in the Spark code and the oracle SQL. The
  *    exact decimal (a multiple of 10^-s well below 2^53) converts to
  *    the same correctly-rounded double on both engines, whereas raw
  *    DECIMAL output diverges at the driver's value-hash layer
  *    (python Decimal repr vs DuckDB's float64 conversion);
  *  - every top-k / limit carries a deterministic tiebreak on a unique
  *    key;
  *  - every computed column is aliased identically here and in the
  *    oracle SQL.
  *
  * Scale notes: filters/projections sit directly on the schema'd scans
  * (parquet pushdown + pruning); dims join via broadcast; fact-fact
  * joins shuffle on the join key only; aggregations get map-side
  * partial aggregation from Catalyst automatically.
  */
object Relational {

  private val dec2 = DecimalType(18, 2)
  private val dec4 = DecimalType(18, 4)

  private def d2(c: Column): Column = c.cast(dec2)
  private def d4(c: Column): Column = c.cast(dec4)

  /** Uniform range-bucket id over [mn, mx] in `buckets` cells, with the
    * boundaries collected ONCE and inlined as literals. Literal
    * boundaries are deterministic across jobs AND task retries (a
    * RangePartitioner re-samples per execution, so two jobs over the
    * same lineage can disagree on cut points); that determinism is what
    * keeps the per-range counts and the per-range local ranks of the
    * distributed-rank queries (q28/q34) mutually consistent. Degenerate
    * range (mx == mn) collapses to one bucket — correct, just unsplit. */
  private[operators] def rangeBucket(v: Column, mn: Double, mx: Double, buckets: Int): Column =
    if (mx > mn)
      least(lit(buckets - 1),
        floor((v - mn) / ((mx - mn) / buckets)).cast(IntegerType))
    else lit(0)

  val defs: Seq[(String, QueryDef)] = Seq(

    // ------------------------------------------------------------------
    // Oracle decimal→DOUBLE goes through VARCHAR: DuckDB's direct
    // decimal→double converts the scaled integer first and divides
    // after (two roundings), which diverges from the correctly-rounded
    // conversion by one ulp once the scaled sum crosses 2^53 — caught
    // by the r12 sf1d sweep on sum_charge (scale 6, sum ≈ 2.8e10 →
    // scaled 2.8e16). The VARCHAR hop is exact (decimal prints fully,
    // string→double rounds correctly on both engines); Spark's
    // Decimal→Double is already correctly rounded and stays unchanged.
    "q1_agg" -> QueryDef.withOracle(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        |  CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_charge,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast(TimestampType))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(d2(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
          sum(d2(col("l_extendedprice"))).cast(DoubleType).as("sum_base_price"),
          sum(d4(col("l_extendedprice") * (lit(1) - col("l_discount")))).cast(DoubleType).as("sum_disc_price"),
          // 2-dec × 2-dec × 2-dec factors → up to 6 exact decimals; scale 6
          // avoids double→decimal rounding ties across engines.
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
            .cast(DecimalType(18, 6))).cast(DoubleType).as("sum_charge"),
          count(lit(1)).as("count_order"))
    },

    // ------------------------------------------------------------------
    "q2_filter_project" -> QueryDef.withOracle(
      """SELECT p_partkey, p_name, p_type, p_size
        |FROM part
        |WHERE p_size BETWEEN 10 AND 25 AND p_type IN ('PROMO', 'ECONOMY')""".stripMargin) { (s, dir) =>
      Tables.part(s, dir)
        .filter(col("p_size").between(10, 25) && col("p_type").isin("PROMO", "ECONOMY"))
        .select("p_partkey", "p_name", "p_type", "p_size")
    },

    // ------------------------------------------------------------------
    "q3_join_agg" -> QueryDef.withOracle(
      """SELECT o_orderkey, o_orderdate, CAST(revenue AS DOUBLE) AS revenue FROM (
        |  SELECT o.o_orderkey, o.o_orderdate,
        |    sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS revenue
        |  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderdate < TIMESTAMP '1998-01-01'
        |    AND l.l_shipdate > TIMESTAMP '1998-01-01'
        |  GROUP BY o.o_orderkey, o.o_orderdate
        |  ORDER BY revenue DESC, o_orderkey ASC
        |  LIMIT 10)""".stripMargin) { (s, dir) =>
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).filter(col("o_orderdate") < lit("1998-01-01").cast(TimestampType))
      val l = Tables.lineitem(s, dir).filter(col("l_shipdate") > lit("1998-01-01").cast(TimestampType))
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(sum(d4(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"))
        // top-k is decided on the exact decimal; only the OUTPUT is double
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_orderdate"),
          col("revenue").cast(DoubleType).as("revenue"))
    },

    // ------------------------------------------------------------------
    "q4_semijoin" -> QueryDef.withOracle(
      """SELECT c_custkey, c_name
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir).filter(col("o_orderstatus") === "F").select("o_custkey")
      Tables.customer(s, dir)
        .join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    },

    // ------------------------------------------------------------------
    "q5_antijoin" -> QueryDef.withOracle(
      """SELECT c_custkey, c_name
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir).filter(col("o_orderstatus") === "P").select("o_custkey")
      Tables.customer(s, dir)
        .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    },

    // ------------------------------------------------------------------
    // Star join: dims (supplier, nation, customer-side keys) broadcast;
    // the only big shuffle is orders⋈lineitem on the orderkey.
    "q6_multijoin" -> QueryDef.withOracle(
      """SELECT n.n_name,
        |  CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n.n_name""".stripMargin) { (s, dir) =>
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
          col("o_orderdate") < lit("1998-01-01").cast(TimestampType))
      val l = Tables.lineitem(s, dir)
      val sup = Tables.supplier(s, dir)
      val n = Tables.nation(s, dir)
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(d4(col("l_extendedprice") * (lit(1) - col("l_discount")))).cast(DoubleType).as("revenue"))
    },

    // ------------------------------------------------------------------
    "q7_window_topk" -> QueryDef.withOracle(
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin) { (s, dir) =>
      // o_orderpriority has 5 values, so a plain partitionBy window
      // funnels the whole fact table into ≤5 reducer tasks that each
      // sort everything. The bounded top-k aggregate moves ≤3 pairs per
      // (priority, partition) through the exchange and numbers them
      // like the oracle's single-window row_number.
      Skew.topK(Tables.orders(s, dir), "o_orderpriority", "o_totalprice",
        "o_orderkey", 3)
    },

    // ------------------------------------------------------------------
    "q8_window_running" -> QueryDef.withOracle(
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
        |  lag(o_totalprice) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_price
        |FROM orders""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      Tables.orders(s, dir)
        .withColumn("running_total",
          sum(d2(col("o_totalprice"))).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast(DoubleType))
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
        .select("o_custkey", "o_orderkey", "o_orderdate", "running_total", "prev_price")
    },

    // ------------------------------------------------------------------
    "q9_pivot" -> QueryDef.withOracle(
      """SELECT o_orderstatus,
        |  count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
        |  count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS n_high,
        |  count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS n_medium,
        |  count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS n_notspec,
        |  count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS n_low
        |FROM orders GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .withColumnRenamed("1-URGENT", "n_urgent")
        .withColumnRenamed("2-HIGH", "n_high")
        .withColumnRenamed("3-MEDIUM", "n_medium")
        .withColumnRenamed("4-NOT SPECIFIED", "n_notspec")
        .withColumnRenamed("5-LOW", "n_low")
    },

    // ------------------------------------------------------------------
    "q10_rollup" -> QueryDef.withOracle(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS INT) AS g_status,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping(col("l_returnflag")).cast(IntegerType).as("g_flag"),
          grouping(col("l_linestatus")).cast(IntegerType).as("g_status"),
          sum(d2(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
          count(lit(1)).as("n"))
    },

    // ------------------------------------------------------------------
    "q11_distinct" -> QueryDef.withOracle(
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(*) AS n_lines
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_lines"))
    },

    // ------------------------------------------------------------------
    // TPC-H Q14 shape: promo revenue share by ship month. The ratio is
    // computed in double from exact decimal sums, rounded to 4 places on
    // both sides.
    "q12_conditional_agg" -> QueryDef.withOracle(
      """SELECT year(l_shipdate) AS ship_year, month(l_shipdate) AS ship_month,
        |  CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo_rev,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_rev,
        |  round(CAST(sum(CASE WHEN p_type = 'PROMO'
        |        THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        |        ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) * 100 /
        |    CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 9)
        |    AS promo_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY year(l_shipdate), month(l_shipdate)""".stripMargin) { (s, dir) =>
      val disc = d4(col("l_extendedprice") * (lit(1) - col("l_discount")))
      val promo = sum(when(col("p_type") === "PROMO", disc).otherwise(lit(0).cast(dec4)))
      val total = sum(disc)
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
        .groupBy(
          year(col("l_shipdate")).as("ship_year"),
          month(col("l_shipdate")).as("ship_month"))
        .agg(
          promo.cast(DoubleType).as("promo_rev"),
          total.cast(DoubleType).as("total_rev"),
          round(promo.cast(DoubleType) * 100 / total.cast(DoubleType), 9).as("promo_pct"))
    },

    // ------------------------------------------------------------------
    // StatCan-style melt: wide measure columns → (metric, value) rows.
    "q13_unpivot" -> QueryDef.withOracle(
      """SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
        |UNION ALL
        |SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part""".stripMargin) { (s, dir) =>
      Tables.part(s, dir)
        .select(col("p_partkey"),
          col("p_size").cast(DoubleType).as("p_size"),
          col("p_retailprice"))
        .unpivot(Array(col("p_partkey")), Array(col("p_size"), col("p_retailprice")),
          "metric", "value")
    },

    // ------------------------------------------------------------------
    "q14_sort_limit" -> QueryDef.withOracle(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 20""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    },

    // ------------------------------------------------------------------
    "q15_union_dedup" -> QueryDef.withOracle(
      """SELECT DISTINCT custkey FROM (
        |  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
        |  UNION ALL
        |  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F')""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir)
      o.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("custkey"))
        .union(o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey")))
        .distinct()
    },

    // ------------------------------------------------------------------
    // Join fact rows against their own group aggregate: lines with
    // quantity > 1.5 × the part's average, phrased multiplicatively so
    // the comparison stays in exact integer/decimal arithmetic
    // (2·qty·n > 3·sum_qty  ⟺  qty > 1.5·avg).
    "q16_agg_join" -> QueryDef.withOracle(
      """SELECT l.l_orderkey, l.l_partkey, l.l_linenumber, l.l_quantity
        |FROM lineitem l
        |JOIN (SELECT l_partkey AS agg_partkey,
        |        sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
        |        count(*) AS n
        |      FROM lineitem GROUP BY l_partkey) a
        |  ON l.l_partkey = a.agg_partkey
        |WHERE CAST(l.l_quantity AS DECIMAL(18,2)) * 2 * a.n > a.sum_qty * 3""".stripMargin) { (s, dir) =>
      val l = Tables.lineitem(s, dir)
      val agg = l.groupBy(col("l_partkey").as("agg_partkey"))
        .agg(sum(d2(col("l_quantity"))).as("sum_qty"), count(lit(1)).as("n"))
      // pin a shuffled hash join: at 100 TB the per-key aggregate is
      // part-cardinality (~fact/4 rows) — NOT broadcastable — and the
      // stats-based planner here would broadcast whichever side's
      // estimate dips under the threshold at test SF (it picked the
      // FACT at sf0.1: an 11 MB parquet estimate → BuildLeft of 600k
      // rows). Hash-partitioning both sides on l_partkey lets AQE
      // reuse one exchange for probe and build.
      l.join(agg.hint("shuffle_hash"), col("l_partkey") === col("agg_partkey"))
        .filter(d2(col("l_quantity")) * 2 * col("n") > col("sum_qty") * 3)
        .select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")
    },

    // ------------------------------------------------------------------
    "q17_string_ops" -> QueryDef.withOracle(
      """SELECT c_custkey,
        |  upper(trim(c_name)) AS name_up,
        |  regexp_extract(c_name, '([0-9]+)', 1) AS cust_num,
        |  substring(c_mktsegment, 1, 3) AS seg_prefix,
        |  length(c_name) AS name_len
        |FROM customer""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir).select(
        col("c_custkey"),
        upper(trim(col("c_name"))).as("name_up"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).as("cust_num"),
        substring(col("c_mktsegment"), 1, 3).as("seg_prefix"),
        length(col("c_name")).as("name_len"))
    },

    // ------------------------------------------------------------------
    "q18_date_ops" -> QueryDef.withOracle(
      """SELECT year(o_orderdate) AS order_year,
        |  month(o_orderdate) AS order_month,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales
        |FROM orders
        |GROUP BY year(o_orderdate), month(o_orderdate)""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(
          year(col("o_orderdate")).as("order_year"),
          month(col("o_orderdate")).as("order_month"))
        .agg(count(lit(1)).as("n_orders"),
          sum(d2(col("o_totalprice"))).cast(DoubleType).as("total_sales"))
    },

    // ------------------------------------------------------------------
    "q19_null_handling" -> QueryDef.withOracle(
      """SELECT coalesce(nullif(o_orderstatus, 'P'), 'UNKNOWN') AS status_norm,
        |  count(*) AS n,
        |  count(nullif(o_orderstatus, 'P')) AS n_known,
        |  CAST(sum(CASE WHEN o_totalprice > 250000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big
        |FROM orders
        |GROUP BY coalesce(nullif(o_orderstatus, 'P'), 'UNKNOWN')""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(coalesce(nullif(col("o_orderstatus"), lit("P")), lit("UNKNOWN")).as("status_norm"))
        .agg(
          count(lit(1)).as("n"),
          count(nullif(col("o_orderstatus"), lit("P"))).as("n_known"),
          sum(when(col("o_totalprice") > 250000, 1).otherwise(0)).as("n_big"))
    },

    // ------------------------------------------------------------------
    "q20_json_extract" -> QueryDef.withOracle(
      """SELECT event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin) { (s, dir) =>
      val k = get_json_object(col("props"), "$.k").cast(LongType)
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(k).as("sum_k"),
          min(k).as("min_k"),
          max(k).as("max_k"))
    },

    // ------------------------------------------------------------------
    // Moments computed from exact decimal power sums, then combined in
    // double with an expression shape shared verbatim with the oracle —
    // engine-native stddev/variance implementations (Welford etc.) are
    // NOT cross-engine reproducible; this is.
    "q21_stats_manual" -> QueryDef.withOracle(
      """SELECT l_returnflag, n,
        |  CAST(sum_qty AS DOUBLE) AS sum_qty,
        |  CAST(sum_qty_sq AS DOUBLE) AS sum_qty_sq,
        |  round(CAST(sum_qty AS DOUBLE) / n, 9) AS mean_qty,
        |  round((CAST(sum_qty_sq AS DOUBLE) -
        |         CAST(sum_qty AS DOUBLE) * CAST(sum_qty AS DOUBLE) / n) / (n - 1), 9) AS var_qty
        |FROM (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
        |    sum(CAST(l_quantity * l_quantity AS DECIMAL(18,4))) AS sum_qty_sq
        |  FROM lineitem GROUP BY l_returnflag)""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(d2(col("l_quantity"))).as("sum_qty"),
          sum(d4(col("l_quantity") * col("l_quantity"))).as("sum_qty_sq"))
        .select(col("l_returnflag"), col("n"),
          col("sum_qty").cast(DoubleType).as("sum_qty"),
          col("sum_qty_sq").cast(DoubleType).as("sum_qty_sq"),
          round(col("sum_qty").cast(DoubleType) / col("n"), 9).as("mean_qty"),
          round((col("sum_qty_sq").cast(DoubleType) -
            col("sum_qty").cast(DoubleType) * col("sum_qty").cast(DoubleType) / col("n")) /
            (col("n") - 1), 9).as("var_qty"))
    },

    // ------------------------------------------------------------------
    // HLL sketch cardinality ATTESTED against the exact answer. The
    // sketch's register layout is engine-specific, so the cross-engine
    // contract is the estimate's error bound, not its value: Spark
    // computes both the sketch and the exact distinct count and
    // publishes the exact anchor plus the bound verdict; DuckDB
    // independently recomputes the anchor and asserts the verdict is
    // uniformly TRUE. The boolean is deterministic — HLL++ merges
    // registers by max, so the estimate is partitioning-invariant.
    // Default rsd = 0.05; observed ≤ 2.7% across sf0.001–0.1 →
    // attested at the 2σ bound (10%). Raw estimates: [[approxDistinctRaw]].
    "q22_approx_distinct" -> QueryDef.withOracle(
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  TRUE AS approx_within_10pct
        |FROM lineitem GROUP BY 1""".stripMargin) { (s, dir) =>
      approxDistinctRaw(s, dir)
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts"))
            <= col("exact_parts").cast(DoubleType) * lit(0.10))
            .as("approx_within_10pct"))
    },

    // ------------------------------------------------------------------
    // Deterministic hash sampling: same 10% sample on any engine — the
    // repeatable-experiment primitive for pipeline debugging.
    "q23_sample_hash" -> QueryDef.withOracle(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE (o_orderkey * 2654435761) % 100 < 10""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .filter((col("o_orderkey") * lit(2654435761L)) % 100 < 10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    },

    // ------------------------------------------------------------------
    // Outer join with null-side handling: every customer with their
    // pending-order stats, zero-filled where no pending orders exist.
    "q24_outer_join" -> QueryDef.withOracle(
      """SELECT c.c_custkey, c.c_name,
        |  coalesce(p.n_pending, 0) AS n_pending,
        |  CAST(coalesce(p.pending_total, CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS pending_total,
        |  p.n_pending IS NULL AS no_pending
        |FROM customer c
        |LEFT JOIN (
        |  SELECT o_custkey, count(*) AS n_pending,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS pending_total
        |  FROM orders WHERE o_orderstatus = 'P' GROUP BY o_custkey) p
        |ON c.c_custkey = p.o_custkey""".stripMargin) { (s, dir) =>
      val p = Tables.orders(s, dir)
        .filter(col("o_orderstatus") === "P")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_pending"),
          sum(d2(col("o_totalprice"))).as("pending_total"))
      Tables.customer(s, dir)
        .join(p, col("c_custkey") === col("o_custkey"), "left_outer")
        .select(
          col("c_custkey"), col("c_name"),
          coalesce(col("n_pending"), lit(0L)).as("n_pending"),
          coalesce(col("pending_total"), lit(0).cast(dec2)).cast(DoubleType).as("pending_total"),
          col("n_pending").isNull.as("no_pending"))
    },

    // ------------------------------------------------------------------
    "q25_cube" -> QueryDef.withOracle(
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
        |  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          grouping(col("o_orderstatus")).cast(IntegerType).as("g_status"),
          grouping(col("o_orderpriority")).cast(IntegerType).as("g_prio"),
          count(lit(1)).as("n"),
          sum(d2(col("o_totalprice"))).cast(DoubleType).as("total"))
    },

    // ------------------------------------------------------------------
    // Set operations: customers with open orders but no finished orders
    // (EXCEPT) and with both (INTERSECT).
    "q26_setops" -> QueryDef.withOracle(
      """SELECT custkey, 'open_only' AS tag FROM (
        |  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
        |  EXCEPT
        |  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F')
        |UNION ALL
        |SELECT custkey, 'open_and_finished' AS tag FROM (
        |  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
        |  INTERSECT
        |  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F')""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir)
      val open = o.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("custkey"))
      val fin = o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey"))
      open.except(fin).withColumn("tag", lit("open_only"))
        .union(open.intersect(fin).withColumn("tag", lit("open_and_finished")))
    },

    // ------------------------------------------------------------------
    // Group-concat with deterministic ordering: concat of the sorted
    // set, the portable formulation of string_agg/listagg.
    "q32_string_agg" -> QueryDef.withOracle(
      """SELECT o_orderstatus,
        |  string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities,
        |  count(DISTINCT o_orderpriority) AS n_priorities
        |FROM orders GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"))
        .agg(
          concat_ws(",", array_sort(collect_set(col("o_orderpriority")))).as("priorities"),
          countDistinct(col("o_orderpriority")).as("n_priorities"))
    },

    // ------------------------------------------------------------------
    // RANGE-framed moving aggregate (vs q8's ROWS frame): 30-day moving
    // spend per customer, frame keyed on epoch seconds.
    "q31_window_range" -> QueryDef.withOracle(
      """SELECT o_custkey, o_orderkey, ts_s,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY ts_s ASC
        |    RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_30d_total,
        |  count(*) OVER (
        |    PARTITION BY o_custkey ORDER BY ts_s ASC
        |    RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS moving_30d_orders
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        CAST(floor(epoch(o_orderdate)) AS BIGINT) AS ts_s
        |      FROM orders)""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("ts_s").asc)
        .rangeBetween(-2592000L, Window.currentRow)
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          unix_timestamp(col("o_orderdate")).as("ts_s"))
        .select(col("o_custkey"), col("o_orderkey"), col("ts_s"),
          sum(d2(col("o_totalprice"))).over(w).cast(DoubleType).as("moving_30d_total"),
          count(lit(1)).over(w).as("moving_30d_orders"))
    },

    // ------------------------------------------------------------------
    // Sketch-based quantiles ATTESTED by their rank windows: the
    // GK-summary merge is order-sensitive, so the cross-engine contract
    // is the sketch's rank guarantee, not its value. Spark publishes
    // the exact group size plus a rank-window verdict per estimate —
    // the value's cumulative-rank window [frac(<v), frac(≤v)] must
    // cover the target percentile to within ±0.005 (5× the sketch's
    // 1/accuracy = 0.001 guarantee; ties in the discrete quantity
    // domain widen the window, never the error). DuckDB independently
    // recomputes the anchor and asserts both verdicts are uniformly
    // TRUE. Raw estimates: [[approxPercentileRaw]].
    "q30_approx_percentile" -> QueryDef.withOracle(
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  TRUE AS p50_rank_ok, TRUE AS p95_rank_ok
        |FROM lineitem GROUP BY 1""".stripMargin) { (s, dir) =>
      val approx = approxPercentileRaw(s, dir)
        .select(col("l_returnflag"), col("p50_approx"), col("p95_price_approx"))
      Tables.lineitem(s, dir)
        .join(broadcast(approx), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_quantity") < col("p50_approx"), 1L).otherwise(0L))
            .as("q_lt"),
          sum(when(col("l_quantity") <= col("p50_approx"), 1L).otherwise(0L))
            .as("q_le"),
          sum(when(col("l_extendedprice") < col("p95_price_approx"), 1L)
            .otherwise(0L)).as("p_lt"),
          sum(when(col("l_extendedprice") <= col("p95_price_approx"), 1L)
            .otherwise(0L)).as("p_le"))
        .select(col("l_returnflag"), col("n"),
          (col("q_lt") <= col("n") * lit(0.505) &&
            col("q_le") >= col("n") * lit(0.495)).as("p50_rank_ok"),
          (col("p_lt") <= col("n") * lit(0.955) &&
            col("p_le") >= col("n") * lit(0.945)).as("p95_rank_ok"))
    },

    // ------------------------------------------------------------------
    // Fuzzy string matching: edit distance between natural keys — the
    // record-linkage primitive for dirty dimension loads.
    "q29_levenshtein" -> QueryDef.withOracle(
      """SELECT p_partkey, p_name, p_brand,
        |  levenshtein(p_name, p_brand) AS name_brand_dist,
        |  levenshtein(upper(p_type), 'PROMO') AS type_promo_dist,
        |  levenshtein(upper(p_type), 'PROMO') <= 2 AS near_promo
        |FROM part""".stripMargin) { (s, dir) =>
      Tables.part(s, dir).select(
        col("p_partkey"), col("p_name"), col("p_brand"),
        levenshtein(col("p_name"), col("p_brand")).as("name_brand_dist"),
        levenshtein(upper(col("p_type")), lit("PROMO")).as("type_promo_dist"),
        (levenshtein(upper(col("p_type")), lit("PROMO")) <= 2).as("near_promo"))
    },

    // ------------------------------------------------------------------
    // Explicit GROUPING SETS (vs q10 rollup / q25 cube): disjoint
    // per-dimension marginals + grand total in one pass. Exercised
    // through spark.sql — grouping sets have no DataFrame builder, and
    // the SQL surface is part of the library contract.
    "q33_grouping_sets" -> QueryDef.withOracle(
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
        |  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
        |  count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir).createOrReplaceTempView("orders_gs")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority,
          |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
          |  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
          |  count(*) AS n
          |FROM orders_gs
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)
    },

    // ------------------------------------------------------------------
    // Rank-family windows beyond row_number: quartile bucketing and
    // normalized ranks per priority class. Unique (price, orderkey)
    // ordering keeps every rank deterministic; the int/int rank ratios
    // are rounded per the §4 protocol.
    "q34_rank_family" -> QueryDef.withOracle(
      """SELECT o_orderkey, o_orderpriority,
        |  ntile(4) OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice ASC, o_orderkey ASC) AS price_quartile,
        |  round(percent_rank() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice ASC, o_orderkey ASC), 9) AS pct_rank,
        |  round(cume_dist() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice ASC, o_orderkey ASC), 9) AS cume
        |FROM orders""".stripMargin) { (s, dir) =>
      // Distributed rank: a direct ntile/percent_rank window over the
      // 5-value priority key would sort the whole table in ≤5 tasks.
      // Instead: (1) range-bucket the order column with literal
      // boundaries (200 cells), (2) per-(priority, bucket) counts →
      // running offsets (tiny, ≤5×200 rows), (3) local row_number per
      // (priority, bucket) cell + broadcast offset = exact global rank,
      // (4) ntile/percent_rank/cume_dist recovered from (rank, n) in
      // closed form — valid because the (price, orderkey) ordering is
      // unique, making rank() == row_number() and cume_dist == rank/n.
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      val mmx = o.agg(min(col("o_totalprice")), max(col("o_totalprice"))).head()
      val withB = o.withColumn("bkt",
        rangeBucket(col("o_totalprice"), mmx.getDouble(0), mmx.getDouble(1), 200))
      val wOff = Window.partitionBy(col("o_orderpriority")).orderBy(col("bkt").asc)
      val offs = withB.groupBy(col("o_orderpriority"), col("bkt"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("o_orderpriority"), col("bkt"),
          coalesce(sum(col("cnt"))
            .over(wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("off"),
          sum(col("cnt"))
            .over(wOff.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).as("n"))
      val wLocal = Window.partitionBy(col("o_orderpriority"), col("bkt"))
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      val ranked = withB
        .withColumn("lrn", row_number().over(wLocal))
        .join(broadcast(offs), Seq("o_orderpriority", "bkt"))
        .withColumn("rnk", col("off") + col("lrn"))
      // ntile(4) in closed form: base = n div 4 rows per bucket, the
      // first r = n mod 4 buckets take one extra row. All divisions are
      // int-over-int in double — exact well below 2^52, floor recovers
      // the integer quotient. baseSafe only guards the (never-taken-
      // when-base-is-0) otherwise branch against ANSI division-by-zero.
      val n = col("n")
      val base = floor(n / 4)
      val r = n % 4
      val thr = r * (base + 1)
      val baseSafe = greatest(base, lit(1L))
      val quart = when(col("rnk") <= thr,
          floor((col("rnk") - 1) / (base + 1)) + 1)
        .otherwise(r + floor((col("rnk") - thr - 1) / baseSafe) + 1)
      ranked.select(
        col("o_orderkey"), col("o_orderpriority"),
        quart.as("price_quartile"),
        when(n > 1, round((col("rnk") - 1).cast(DoubleType) / (n - 1), 9))
          .otherwise(lit(0.0)).as("pct_rank"),
        round(col("rnk").cast(DoubleType) / n, 9).as("cume"))
    },

    // ------------------------------------------------------------------
    // Exact median without engine-native quantile (whose interpolation
    // differs across engines): sort within group, average the two middle
    // elements in double ((a+b)/2 is exact binary for 2-dec inputs).
    "q28_median_exact" -> QueryDef.withOracle(
      """SELECT l_returnflag, n,
        |  (lo_mid + hi_mid) / 2 AS median_qty
        |FROM (
        |  SELECT l_returnflag, max(n) AS n,
        |    max(CASE WHEN rn = (n + 1) // 2 THEN l_quantity END) AS lo_mid,
        |    max(CASE WHEN rn = (n + 2) // 2 THEN l_quantity END) AS hi_mid
        |  FROM (
        |    SELECT l_returnflag, l_quantity,
        |      row_number() OVER (PARTITION BY l_returnflag
        |        ORDER BY l_quantity ASC, l_orderkey ASC, l_linenumber ASC) AS rn,
        |      count(*) OVER (PARTITION BY l_returnflag) AS n
        |    FROM lineitem)
        |  GROUP BY l_returnflag)""".stripMargin) { (s, dir) =>
      // Distributed exact selection: ranking the whole table inside a
      // 3-value returnflag window would sort everything in ≤3 tasks.
      // Instead: (1) range-bucket l_quantity with literal boundaries,
      // (2) per-(flag, bucket) counts → running offsets (tiny),
      // (3) locate the ≤2 buckets holding the middle positions
      // (n+1)//2 and (n+2)//2 per flag, (4) sort ONLY those hot
      // buckets (≈ n/200 rows each) locally; global rank = local
      // row_number + bucket offset. Same selection the oracle's full
      // window computes, at a bounded per-task sort.
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_quantity"),
          col("l_orderkey"), col("l_linenumber"))
      val mmx = li.agg(min(col("l_quantity")), max(col("l_quantity"))).head()
      val withB = li.withColumn("bkt",
        rangeBucket(col("l_quantity"), mmx.getDouble(0), mmx.getDouble(1), 200))
      val wOff = Window.partitionBy(col("l_returnflag")).orderBy(col("bkt").asc)
      val offs = withB.groupBy(col("l_returnflag"), col("bkt"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("l_returnflag"), col("bkt"), col("cnt"),
          coalesce(sum(col("cnt"))
            .over(wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("off"),
          sum(col("cnt"))
            .over(wOff.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).as("n"))
        .persist() // ≤ 3×200 rows, referenced by targets/hot/ranked
      val targets = offs.select(col("l_returnflag"), col("n")).distinct()
        .select(col("l_returnflag"), col("n"),
          explode(array(floor((col("n") + 1) / 2), floor((col("n") + 2) / 2))).as("pos"))
      val hot = targets.join(
          offs.select(col("l_returnflag"), col("bkt"), col("cnt"), col("off")),
          Seq("l_returnflag"))
        .filter(col("pos") > col("off") && col("pos") <= col("off") + col("cnt"))
      val hotBuckets = hot.select(col("l_returnflag"), col("bkt"), col("off")).distinct()
      val wLoc = Window.partitionBy(col("l_returnflag"), col("bkt"))
        .orderBy(col("l_quantity").asc, col("l_orderkey").asc, col("l_linenumber").asc)
      val ranked = withB.join(broadcast(hotBuckets), Seq("l_returnflag", "bkt"))
        .withColumn("grank", row_number().over(wLoc) + col("off"))
      val tg = hot.select(col("l_returnflag").as("tf"), col("n"), col("pos")).distinct()
      ranked.join(broadcast(tg),
          col("l_returnflag") === col("tf") && col("grank") === col("pos"))
        .groupBy(col("l_returnflag"))
        .agg(
          max(col("n")).as("n"),
          max(when(col("pos") === floor((col("n") + 1) / 2), col("l_quantity"))).as("lo_mid"),
          max(when(col("pos") === floor((col("n") + 2) / 2), col("l_quantity"))).as("hi_mid"))
        .select(col("l_returnflag"), col("n"),
          ((col("lo_mid") + col("hi_mid")) / 2).as("median_qty"))
    },

    // ------------------------------------------------------------------
    // Bloom-filter semi-join reduction: revenue of lineitems belonging
    // to URGENT orders. The build side (urgent orderkeys) is aggregated
    // into a bloom filter (a distributed build, merged at the driver),
    // and the fact scan is pre-filtered with graft_bloom_might_contain
    // BEFORE the join's exchange — at 100 TB this is the difference
    // between shuffling the whole fact table and shuffling only the
    // ~20% candidate rows, when the build side's key set is too large
    // to broadcast as a hash relation but its bloom bits are a few MB.
    // Bloom false positives are culled by the exact join that follows,
    // so the result is identical to the plain join — hence the
    // plain-join oracle. BloomPruneSpec asserts the pruned scan result
    // equals the unpruned one and the filter actually reaches the scan.
    "q35_bloom_join" -> QueryDef.withOracle(
      """SELECT o_orderdate, CAST(revenue AS DOUBLE) AS revenue, n_items FROM (
        |  SELECT o.o_orderdate,
        |    sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS revenue,
        |    CAST(count(*) AS BIGINT) AS n_items
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderpriority = '1-URGENT'
        |  GROUP BY o.o_orderdate)""".stripMargin) { (s, dir) =>
      val urgent = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderdate"))
      // distributed bloom build over the join keys (one agg job); the
      // 1% fpp keeps the pruned scan within ~1.01x of the true matches
      val bloom = urgent.stat.bloomFilter("o_orderkey", 100000L, 0.01)
      val bytes = {
        val out = new java.io.ByteArrayOutputStream()
        bloom.writeTo(out)
        out.toByteArray
      }
      val prunedFact = Tables.lineitem(s, dir)
        .filter(graft.functions.Vectors.bloomMightContain(col("l_orderkey"), bytes))
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      prunedFact
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderdate"))
        .agg(sum(d4(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_items"))
    },

    // ------------------------------------------------------------------
    // Correlated scalar-subquery shape (TPC-H Q17): items ordered in a
    // quantity below half their part's average. Decorrelated the way a
    // planner should: the filtered part list broadcasts BEFORE the
    // per-part average runs, so the inner aggregate scans only the
    // brand's lineitems, not every part's — and the tiny per-part agg
    // broadcasts back onto the same pruned fact. The below-half-average
    // predicate is evaluated in integers/decimals (qty·2·cnt < Σqty),
    // never through a double division whose last bit could disagree
    // across engines at the boundary.
    "q36_correlated_agg" -> QueryDef.withOracle(
      """WITH p AS (
        |  SELECT p_partkey FROM part WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')),
        |a AS (
        |  SELECT l_partkey,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem JOIN p ON p_partkey = l_partkey
        |  GROUP BY l_partkey)
        |SELECT round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 2)
        |    AS avg_yearly,
        |  CAST(count(*) AS BIGINT) AS n_below
        |FROM lineitem l JOIN a ON a.l_partkey = l.l_partkey
        |WHERE CAST(l.l_quantity AS DECIMAL(18,2)) * 2 * a.cnt < a.sq""".stripMargin) { (s, dir) =>
      val p = Tables.part(s, dir)
        .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
        .select(col("p_partkey"))
      val pruned = Tables.lineitem(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      val a = pruned.groupBy(col("l_partkey"))
        .agg(sum(d2(col("l_quantity"))).as("sq"), count(lit(1)).as("cnt"))
      pruned
        .join(broadcast(a), Seq("l_partkey"))
        .filter(d2(col("l_quantity")) * lit(2) * col("cnt") < col("sq"))
        .agg(round(sum(d2(col("l_extendedprice"))).cast(DoubleType) / lit(7.0), 2)
            .as("avg_yearly"),
          count(lit(1)).as("n_below"))
    },

    // ------------------------------------------------------------------
    // Recursive CTE (Spark 4.x WITH RECURSIVE) — transitive ancestor
    // closure over a key-derived hierarchy (parent = key div 4, the
    // BOM-explosion / org-chart shape). The recursion is declared in
    // SQL and Catalyst iterates it (UnionLoop); depth is bounded by
    // log₄(key domain) (~9 at sf0.1), so the closure is |part|×depth
    // rows and every iteration is a row-local projection — no joins
    // inside the loop. Output per part: steps to the root and which of
    // the three top-level subtrees (1..3) it belongs to.
    "q37_recursive_cte" -> QueryDef.withOracle(
      """WITH RECURSIVE anc(part, node, depth) AS (
        |  SELECT p_partkey, p_partkey, 0 FROM part
        |  UNION ALL
        |  SELECT part, node // 4, depth + 1 FROM anc WHERE node > 0)
        |SELECT part AS p_partkey,
        |  CAST(max(depth) AS INT) AS depth_to_zero,
        |  CAST(max(CASE WHEN node BETWEEN 1 AND 3 THEN node END) AS BIGINT)
        |    AS top_subtree
        |FROM anc GROUP BY 1""".stripMargin) { (s, dir) =>
      Tables.part(s, dir).createOrReplaceTempView("graft_rec_part")
      s.sql(
        """WITH RECURSIVE anc(part, node, depth) AS (
          |  SELECT p_partkey, p_partkey, 0 FROM graft_rec_part
          |  UNION ALL
          |  SELECT part, node div 4, depth + 1 FROM anc WHERE node > 0)
          |SELECT part AS p_partkey,
          |  CAST(max(depth) AS INT) AS depth_to_zero,
          |  CAST(max(CASE WHEN node BETWEEN 1 AND 3 THEN node END) AS BIGINT)
          |    AS top_subtree
          |FROM anc GROUP BY part""".stripMargin)
    },

    // ------------------------------------------------------------------
    // Exact per-group quartiles (percentile_disc semantics: the element
    // at rank ceil(p·n) under a unique ordering) — q28's distributed-
    // selection plan generalized to three positions: range-bucket
    // histogram per group, locate the ≤3 buckets holding the target
    // ranks, sort ONLY those buckets locally (≈ n/200 rows each),
    // global rank = local row_number + bucket offset. No task ever
    // sorts a whole group; engine-native quantile interpolation (which
    // differs across engines) is never involved.
    "q38_group_quartiles" -> QueryDef.withOracle(
      """WITH r AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice ASC, l_orderkey ASC, l_linenumber ASC) AS rnk,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n,
        |  max(CASE WHEN rnk = CAST(ceil(0.25 * n) AS BIGINT) THEN l_extendedprice END) AS p25,
        |  max(CASE WHEN rnk = CAST(ceil(0.50 * n) AS BIGINT) THEN l_extendedprice END) AS p50,
        |  max(CASE WHEN rnk = CAST(ceil(0.75 * n) AS BIGINT) THEN l_extendedprice END) AS p75
        |FROM r GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_extendedprice"),
          col("l_orderkey"), col("l_linenumber"))
      val mmx = li.agg(min(col("l_extendedprice")), max(col("l_extendedprice"))).head()
      val withB = li.withColumn("bkt",
        rangeBucket(col("l_extendedprice"), mmx.getDouble(0), mmx.getDouble(1), 200))
      val wOff = Window.partitionBy(col("l_returnflag")).orderBy(col("bkt").asc)
      val offs = withB.groupBy(col("l_returnflag"), col("bkt"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("l_returnflag"), col("bkt"), col("cnt"),
          coalesce(sum(col("cnt"))
            .over(wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("off"),
          sum(col("cnt"))
            .over(wOff.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
            .as("n"))
        .persist() // ≤ 3×200 bookkeeping rows, read by targets + hot buckets
      val targets = offs.select(col("l_returnflag"), col("n")).distinct()
        .select(col("l_returnflag"), col("n"),
          explode(array(ceil(col("n") * 0.25), ceil(col("n") * 0.50),
            ceil(col("n") * 0.75))).as("pos"))
      val hot = targets.join(
          offs.select(col("l_returnflag"), col("bkt"), col("cnt"), col("off")),
          Seq("l_returnflag"))
        .filter(col("pos") > col("off") && col("pos") <= col("off") + col("cnt"))
      val hotBuckets = hot.select(col("l_returnflag"), col("bkt"), col("off")).distinct()
      val wLoc = Window.partitionBy(col("l_returnflag"), col("bkt"))
        .orderBy(col("l_extendedprice").asc, col("l_orderkey").asc, col("l_linenumber").asc)
      val ranked = withB.join(broadcast(hotBuckets), Seq("l_returnflag", "bkt"))
        .withColumn("grank", row_number().over(wLoc) + col("off"))
      val tg = hot.select(col("l_returnflag").as("tf"), col("n"), col("pos")).distinct()
      ranked.join(broadcast(tg),
          col("l_returnflag") === col("tf") && col("grank") === col("pos"))
        .groupBy(col("l_returnflag"))
        .agg(
          max(col("n")).as("n"),
          max(when(col("pos") === ceil(col("n") * 0.25), col("l_extendedprice"))).as("p25"),
          max(when(col("pos") === ceil(col("n") * 0.50), col("l_extendedprice"))).as("p50"),
          max(when(col("pos") === ceil(col("n") * 0.75), col("l_extendedprice"))).as("p75"))
    },

    // ------------------------------------------------------------------
    // Top-k per group as an AGGREGATE, not a window: TopKByKey keeps
    // the 3 best (totalprice, orderkey) pairs per (priority, partition)
    // and merges associatively, so the exchange carries ≤3 pairs per
    // group per task instead of every raw row into a group sort. This
    // is q7_window_topk's plan with a bigint rank column. (value DESC,
    // id ASC) is a deterministic total order → full oracle.
    "q39_topk_agg" -> QueryDef.withOracle(
      """SELECT o_orderpriority, CAST(rn AS BIGINT) AS rank,
        |  o_orderkey, o_totalprice
        |FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders)
        |WHERE rn <= 3""".stripMargin) { (s, dir) =>
      Skew.topK(Tables.orders(s, dir), "o_orderpriority", "o_totalprice",
          "o_orderkey", 3)
        .select(col("o_orderpriority"), col("rn").cast(LongType).as("rank"),
          col("o_orderkey"), col("o_totalprice"))
    },

    // ------------------------------------------------------------------
    // LATERAL correlated subquery — the "for each outer row, run this
    // parameterized inner query" join form (SQL:1999 LATERAL, the API
    // many migrating warehouse queries arrive in): per region, the
    // top-2 nations by total customer balance, written as JOIN LATERAL
    // (… WHERE correlated ORDER BY … LIMIT 2) on BOTH engines. Spark
    // decorrelates the limit-under-correlation into the same
    // window-rank plan q7 builds by hand — the test is that the
    // declarative form survives Catalyst with the totals aggregated
    // BEFORE ranking (one customer-keyed shuffle, a ≤|nations|
    // bookkeeping rank, never a per-region corpus sort). Balances sum
    // as exact DECIMAL(18,2) and ship as ×100 longs.
    "q40_lateral_topk" -> QueryDef.withOracle(
      """SELECT r.r_name, t.n_name, t.bal_fp
        |FROM region r JOIN LATERAL (
        |  SELECT n.n_name,
        |    CAST(sum(CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS bal_fp
        |  FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
        |  WHERE n.n_regionkey = r.r_regionkey
        |  GROUP BY n.n_name
        |  ORDER BY bal_fp DESC, n.n_name ASC
        |  LIMIT 2) t ON TRUE""".stripMargin) { (s, dir) =>
      Tables.region(s, dir).createOrReplaceTempView("graft_lat_region")
      Tables.nation(s, dir).createOrReplaceTempView("graft_lat_nation")
      Tables.customer(s, dir).createOrReplaceTempView("graft_lat_customer")
      s.sql(
        """SELECT r.r_name, t.n_name, t.bal_fp
          |FROM graft_lat_region r JOIN LATERAL (
          |  SELECT n.n_name,
          |    CAST(sum(CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT))
          |      AS BIGINT) AS bal_fp
          |  FROM graft_lat_nation n
          |  JOIN graft_lat_customer c ON c.c_nationkey = n.n_nationkey
          |  WHERE n.n_regionkey = r.r_regionkey
          |  GROUP BY n.n_name
          |  ORDER BY bal_fp DESC, n.n_name ASC
          |  LIMIT 2) t ON TRUE""".stripMargin)
    },

    // ------------------------------------------------------------------
    // Band (range) join against a non-uniform boundary dimension —
    // revenue per log-spaced price band. The ORACLE is the literal
    // inequality join (price >= lo AND price < hi), which Spark would
    // execute as a BroadcastNestedLoopJoin: every row tested against
    // every band, no codegen, no pushdown — the classic small-dim
    // range-join trap at corpus scale. The Spark plan ELIMINATES the
    // join algebraically: band = Σ 1{price ≥ boundary} over the
    // broadcast-literal sorted boundary array (an O(|bands|) codegen'd
    // fold per row — `aggregate`, no UDF), then ONE |bands|-group agg;
    // lo/hi are recovered from the band index after aggregation. Same
    // result, zero joins, one exchange of ≤8 groups. Revenue sums are
    // exact DECIMAL before the double cast.
    "q41_band_join" -> QueryDef.withOracle(
      """WITH b AS (
        |  SELECT * FROM (VALUES
        |    (1, 0.0,     1000.0), (2, 1000.0,  2000.0),
        |    (3, 2000.0,  4000.0), (4, 4000.0,  8000.0),
        |    (5, 8000.0,  16000.0), (6, 16000.0, 32000.0),
        |    (7, 32000.0, 64000.0), (8, 64000.0, CAST(NULL AS DOUBLE)))
        |    AS t(band, lo, hi))
        |SELECT b.band, b.lo, b.hi,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    / count(*), 9) AS avg_price
        |FROM lineitem l JOIN b
        |  ON l.l_extendedprice >= b.lo
        |  AND (b.hi IS NULL OR l.l_extendedprice < b.hi)
        |GROUP BY 1, 2, 3""".stripMargin) { (s, dir) =>
      val bounds = Seq(0.0, 1000.0, 2000.0, 4000.0, 8000.0, 16000.0,
        32000.0, 64000.0)
      val arr = array(bounds.map(lit): _*)
      val dec2 = DecimalType(18, 2)
      val band = aggregate(arr, lit(0),
        (acc, b) => acc + when(col("l_extendedprice") >= b, 1).otherwise(0))
      Tables.lineitem(s, dir)
        .select(col("l_extendedprice"), band.as("band"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast(dec2)).cast(DoubleType)
            .as("revenue"))
        .select(col("band"),
          element_at(arr, col("band")).as("lo"),
          // top band is open-ended: index |bands|+1 → NULL, not an
          // ANSI out-of-bounds error
          try_element_at(arr, col("band") + 1).as("hi"),
          col("n_items"), col("revenue"),
          round(col("revenue") / col("n_items"), 9).as("avg_price"))
    },

    // ------------------------------------------------------------------
    // Interpolated percentiles (percentile_cont semantics) per group —
    // the linear-interpolation variant q28/q38's percentile_disc family
    // deliberately avoids, HERE with the interpolation computed from
    // first principles on BOTH engines (never engine-native
    // quantile_cont, whose internal arithmetic is not contract-stable
    // across engines): h = (n−1)·q, straddling order statistics from
    // the cumulative window over the BOUNDED value domain (quantity:
    // ≤50 distinct values — the corpus collapses once, windows never
    // see it), result v_lo + frac·(v_hi − v_lo) ×10⁶-snapped.
    "q42_percentile_cont" -> QueryDef.withOracle(
      """WITH dom AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS v,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |w AS (
        |  SELECT l_returnflag, v, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY v ASC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
        |  FROM dom),
        |t AS (
        |  SELECT w.l_returnflag, w.v, w.cum, w.n, q.pct,
        |    CAST(floor((w.n - 1) * q.pct) AS BIGINT) AS lo,
        |    (w.n - 1) * q.pct - floor((w.n - 1) * q.pct) AS frac
        |  FROM w CROSS JOIN
        |    (SELECT CAST(unnest([0.25, 0.5, 0.9, 0.99]) AS DOUBLE)
        |       AS pct) q),
        |s AS (
        |  SELECT l_returnflag, pct, n, frac,
        |    min(CASE WHEN cum >= lo + 1 THEN v END) AS vlo,
        |    min(CASE WHEN cum >= CASE WHEN lo + 2 > n THEN n
        |                            ELSE lo + 2 END THEN v END) AS vhi
        |  FROM t GROUP BY 1, 2, 3, 4)
        |SELECT l_returnflag, pct, n,
        |  floor((vlo + frac * (vhi - vlo)) * 1e6 + 0.5) / 1.0e6 AS p_cont
        |FROM s""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.{Window => W}
      val dom = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_quantity").cast(LongType).as("v"))
        .agg(count(lit(1)).as("cnt"))
      // cumulative + total over the ≤50-value bookkeeping domain only
      val wc = W.partitionBy(col("l_returnflag")).orderBy(col("v").asc)
        .rowsBetween(W.unboundedPreceding, 0)
      val wn = W.partitionBy(col("l_returnflag"))
      val w = dom.select(col("l_returnflag"), col("v"), col("cnt"),
        sum(col("cnt")).over(wc).as("cum"),
        sum(col("cnt")).over(wn).as("n"))
      val q = s.range(1).select(
        explode(array(lit(0.25), lit(0.5), lit(0.9), lit(0.99))).as("pct"))
      val h = (col("n") - 1) * col("pct")
      val t = w.crossJoin(broadcast(q))
        .select(col("l_returnflag"), col("v"), col("cum"), col("n"),
          col("pct"), floor(h).cast(LongType).as("lo"),
          (h - floor(h)).as("frac"))
      val hiRank = when(col("lo") + 2 > col("n"), col("n"))
        .otherwise(col("lo") + 2)
      val sres = t.groupBy(col("l_returnflag"), col("pct"), col("n"),
          col("frac"))
        .agg(min(when(col("cum") >= col("lo") + 1, col("v"))).as("vlo"),
          min(when(col("cum") >= hiRank, col("v"))).as("vhi"))
      sres.select(col("l_returnflag"), col("pct"), col("n"),
        (floor((col("vlo") + col("frac") * (col("vhi") - col("vlo")))
          * lit(1.0e6) + 0.5) / lit(1.0e6)).as("p_cont"))
    }
  )

  /** Exact per-key order statistics WITHOUT whole-key sorts — the q28
    * selection plan factored for reuse (MAD, interarrival percentiles):
    * (1) range-bucket `v` on literal global bounds, (2) per-(key,
    * bucket) counts → running offsets on the bookkeeping relation,
    * (3) `targets(n)` names the wanted global ranks per key (an array
    * Column — e.g. the two middle positions, or ceil(0.9·n)), (4) only
    * the ≤|targets| buckets that contain a target rank get a local
    * sort (≈ n/buckets rows per task); global rank = local row_number
    * + bucket offset. Returns (key, n, pos, `v`-named value) — one row
    * per selected rank; callers pivot.
    */
  /** Raw HLL-vs-exact distinct counts per returnflag — the estimate
    * shape q22_approx_distinct attests (specs bound the raw error). */
  private[graft] def approxDistinctRaw(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))

  /** Raw approx-percentile estimates per returnflag — the estimate
    * shape q30_approx_percentile attests (specs bound the raw error). */
  private[graft] def approxPercentileRaw(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        percentile_approx(col("l_quantity"), lit(0.5), lit(1000)).as("p50_approx"),
        percentile_approx(col("l_extendedprice"), lit(0.95), lit(1000))
          .as("p95_price_approx"),
        count(lit(1)).as("n"))

  private[operators] def rankSelectByKey(df: DataFrame, key: String,
      v: String, ties: Seq[String], targets: Column => Column,
      bounds: Option[(Double, Double)] = None): DataFrame = {
    // r17 (guide §1.2): the selection's OUTPUT is bucket-invariant —
    // any monotone bucketing of `v` yields the same global ranks
    // (equal values always share a bucket, rangeBucket clamps
    // out-of-range monotonically, and global rank = local row_number +
    // offset) — so a caller that can DERIVE covering bounds (e.g. the
    // MAD deviation pass: dev ∈ [0, max−min] from the first pass's
    // anchor) skips this pass's min/max anchor job and its full input
    // scan entirely. Bounds only steer bucket BALANCE, never the result.
    val (lo, hi) = bounds.getOrElse {
      val mmx = df.agg(min(col(v)).cast(DoubleType),
        max(col(v)).cast(DoubleType)).head()
      (mmx.getDouble(0), mmx.getDouble(1))
    }
    val withB = df.withColumn("bkt",
      rangeBucket(col(v).cast(DoubleType), lo, hi, 200))
    val wOff = Window.partitionBy(col(key)).orderBy(col("bkt").asc)
    val offs = withB.groupBy(col(key), col("bkt"))
      .agg(count(lit(1)).as("cnt"))
      .select(col(key), col("bkt"), col("cnt"),
        coalesce(sum(col("cnt"))
          .over(wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("off"),
        sum(col("cnt"))
          .over(wOff.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
          .as("n"))
      .persist() // ≤ |key|×200 bookkeeping rows
    val tg = offs.select(col(key), col("n")).distinct()
      .select(col(key), col("n"),
        explode(array_distinct(targets(col("n")))).as("pos"))
    val hot = tg.join(offs.select(col(key), col("bkt"), col("cnt"), col("off")),
        Seq(key))
      .filter(col("pos") > col("off") && col("pos") <= col("off") + col("cnt"))
    val hotBuckets = hot.select(col(key), col("bkt"), col("off")).distinct()
    val wLoc = Window.partitionBy(col(key), col("bkt"))
      .orderBy(col(v).asc +: ties.map(col(_).asc): _*)
    val ranked = withB.join(broadcast(hotBuckets), Seq(key, "bkt"))
      .withColumn("grank", row_number().over(wLoc) + col("off"))
    val want = hot.select(col(key).as("tk"), col("n"), col("pos")).distinct()
    ranked.join(broadcast(want),
        col(key) === col("tk") && col("grank") === col("pos"))
      .select(col(key), col("n"), col("pos"), col(v))
  }
}
