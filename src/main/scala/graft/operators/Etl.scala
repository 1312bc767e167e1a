package graft.operators

import graft.{GraftSession, QueryDef, TempDirs}
import graft.sources.{Connectors, Tables}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.Files

/** StatCan-style ETL surface: cleaning/normalization, slowly-changing
  * dimensions, calendar dimension generation, data-quality reporting,
  * incremental latest-wins upsert, and connector roundtrips.
  *
  * Timestamp protocol: anything ordered by event time uses
  * floor-to-second epoch values (`unix_timestamp`) for ordering and
  * output, so microsecond-vs-nanosecond parquet readers (Spark trims to
  * µs, DuckDB keeps ns) can never disagree on order or value.
  */
object Etl {

  /** Incremental SCD2 maintenance: apply a new snapshot batch to an
    * existing type-2 dimension.
    *
    * `current` has (key, attr, valid_from, valid_to, is_current);
    * `snapshot` has (key, attr, as_of). Open rows whose attr changed are
    * closed at `as_of`; changed/new keys gain a new open row. The whole
    * merge is two keyed joins + a union — one shuffle class, no windows
    * over history, so it scales with |current| + |snapshot|, not with
    * history depth.
    */
  def scd2Merge(current: org.apache.spark.sql.DataFrame,
      snapshot: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val open = current.filter(col("is_current"))
    val closed = current.filter(!col("is_current"))
    val snap = snapshot.select(col("key").as("s_key"), col("attr").as("s_attr"),
      col("as_of"))
    val joined = open.join(snap, col("key") === col("s_key"), "full_outer")
    // 1. open rows with no change (or no snapshot row): carried as-is
    val unchanged = joined
      .filter(col("key").isNotNull && (col("s_key").isNull || col("attr") === col("s_attr")))
      .select(col("key"), col("attr"), col("valid_from"), col("valid_to"),
        col("is_current"))
    // 2. open rows whose attr changed: closed at as_of
    val toClose = joined
      .filter(col("key").isNotNull && col("s_key").isNotNull && col("attr") =!= col("s_attr"))
      .select(col("key"), col("attr"), col("valid_from"),
        col("as_of").as("valid_to"), lit(false).as("is_current"))
    // 3. changed + brand-new keys: new open row from as_of
    val toOpen = joined
      .filter(col("s_key").isNotNull && (col("key").isNull || col("attr") =!= col("s_attr")))
      .select(col("s_key").as("key"), col("s_attr").as("attr"),
        col("as_of").as("valid_from"),
        lit(null).cast(TimestampType).as("valid_to"),
        lit(true).as("is_current"))
    closed.unionByName(unchanged).unionByName(toClose).unionByName(toOpen)
  }

  val defs: Seq[(String, QueryDef)] = Seq(

    // ------------------------------------------------------------------
    "etl_clean_normalize" -> QueryDef.withOracle(
      """SELECT c_custkey,
        |  lower(trim(regexp_replace(c_name, '\s+', ' ', 'g'))) AS name_clean,
        |  nullif(upper(trim(c_mktsegment)), '') AS seg_norm,
        |  CAST(greatest(c_acctbal, 0) AS DOUBLE) AS acctbal_clamped,
        |  c_acctbal < 0 AS was_negative
        |FROM customer""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir).select(
        col("c_custkey"),
        lower(trim(regexp_replace(col("c_name"), "\\s+", " "))).as("name_clean"),
        nullif(upper(trim(col("c_mktsegment"))), lit("")).as("seg_norm"),
        // no decimal roundtrip: the source doubles are identical on both
        // engines and greatest() is value-preserving, so plain DOUBLE out
        greatest(col("c_acctbal"), lit(0)).cast(DoubleType).as("acctbal_clamped"),
        (col("c_acctbal") < 0).as("was_negative"))
    },

    // ------------------------------------------------------------------
    // Type-2 SCD from an ordered snapshot stream: collapse runs of equal
    // status per customer into validity intervals. One shuffle on the
    // dimension key; scales linearly.
    "etl_scd2" -> QueryDef.withOracle(
      """WITH s AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
        |    lag(o_orderstatus) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_status
        |  FROM orders),
        |c AS (SELECT * FROM s WHERE prev_status IS NULL OR prev_status <> o_orderstatus)
        |SELECT o_custkey, o_orderstatus, o_orderdate AS valid_from,
        |  lead(o_orderdate) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate ASC, o_orderkey ASC) AS valid_to,
        |  lead(o_orderdate) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate ASC, o_orderkey ASC) IS NULL AS is_current
        |FROM c""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val changes = Tables.orders(s, dir)
        .withColumn("prev_status", lag(col("o_orderstatus"), 1).over(w))
        .filter(col("prev_status").isNull || col("prev_status") =!= col("o_orderstatus"))
      val w2 = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      changes
        .withColumn("valid_to", lead(col("o_orderdate"), 1).over(w2))
        .select(
          col("o_custkey"), col("o_orderstatus"),
          col("o_orderdate").as("valid_from"),
          col("valid_to"),
          col("valid_to").isNull.as("is_current"))
    },

    // ------------------------------------------------------------------
    // Calendar dimension spanning the fact table's date range. The
    // calendar is inherently tiny (decades = ~10^4 rows) so generating
    // it from a 1-row bounds aggregate is scale-safe.
    "etl_date_dim" -> QueryDef.withOracle(
      """WITH b AS (SELECT CAST(min(o_orderdate) AS DATE) AS d0,
        |                  CAST(max(o_orderdate) AS DATE) AS d1 FROM orders),
        |d AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS cal FROM b)
        |SELECT strftime(cal, '%Y-%m-%d') AS cal_date,
        |  year(cal) AS y, month(cal) AS m, day(cal) AS dom,
        |  isodow(cal) AS dow_iso, isodow(cal) >= 6 AS is_weekend
        |FROM d""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .agg(to_date(min(col("o_orderdate"))).as("d0"),
          to_date(max(col("o_orderdate"))).as("d1"))
        .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("cal"))
        .select(
          date_format(col("cal"), "yyyy-MM-dd").as("cal_date"),
          year(col("cal")).as("y"),
          month(col("cal")).as("m"),
          dayofmonth(col("cal")).as("dom"),
          (weekday(col("cal")) + 1).as("dow_iso"),
          (weekday(col("cal")) + 1 >= 6).as("is_weekend"))
    },

    // ------------------------------------------------------------------
    // Per-column data-quality report in one pass over the table
    // (single aggregate, then explode to long form — no per-column jobs).
    "etl_quality_report" -> QueryDef.withOracle(
      """SELECT 'c_name' AS col_name, count(*) AS n_total,
        |  CAST(count(*) - count(c_name) AS BIGINT) AS n_null,
        |  CAST(sum(CASE WHEN trim(c_name) = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_blank,
        |  CAST(sum(CASE WHEN length(c_name) > 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_violation
        |FROM customer
        |UNION ALL
        |SELECT 'c_acctbal' AS col_name, count(*) AS n_total,
        |  CAST(count(*) - count(c_acctbal) AS BIGINT) AS n_null,
        |  CAST(0 AS BIGINT) AS n_blank,
        |  CAST(sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_violation
        |FROM customer
        |UNION ALL
        |SELECT 'c_mktsegment' AS col_name, count(*) AS n_total,
        |  CAST(count(*) - count(c_mktsegment) AS BIGINT) AS n_null,
        |  CAST(sum(CASE WHEN trim(c_mktsegment) = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_blank,
        |  CAST(0 AS BIGINT) AS n_violation
        |FROM customer""".stripMargin) { (s, dir) =>
      val c = Tables.customer(s, dir)
      val agg = c.agg(
        count(lit(1)).as("n_total"),
        (count(lit(1)) - count(col("c_name"))).as("null_name"),
        sum(when(trim(col("c_name")) === "", 1).otherwise(0)).as("blank_name"),
        sum(when(length(col("c_name")) > 25, 1).otherwise(0)).as("viol_name"),
        (count(lit(1)) - count(col("c_acctbal"))).as("null_bal"),
        sum(when(col("c_acctbal") < 0, 1).otherwise(0)).as("viol_bal"),
        (count(lit(1)) - count(col("c_mktsegment"))).as("null_seg"),
        sum(when(trim(col("c_mktsegment")) === "", 1).otherwise(0)).as("blank_seg"))
      agg.select(explode(array(
        struct(lit("c_name").as("col_name"), col("n_total"),
          col("null_name").as("n_null"), col("blank_name").as("n_blank"),
          col("viol_name").as("n_violation")),
        struct(lit("c_acctbal").as("col_name"), col("n_total"),
          col("null_bal").as("n_null"), lit(0L).as("n_blank"),
          col("viol_bal").as("n_violation")),
        struct(lit("c_mktsegment").as("col_name"), col("n_total"),
          col("null_seg").as("n_null"), col("blank_seg").as("n_blank"),
          lit(0L).as("n_violation")))).as("r"))
        .select("r.col_name", "r.n_total", "r.n_null", "r.n_blank", "r.n_violation")
    },

    // ------------------------------------------------------------------
    // Incremental latest-wins upsert: current state per (user, type) key
    // from an append-only event log. Single shuffle on the upsert key.
    "etl_upsert_latest" -> QueryDef.withOracle(
      """SELECT user_id, event_type, value AS last_value, ts_s AS last_ts_s, n_versions FROM (
        |  SELECT user_id, event_type, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY CAST(floor(epoch(ts)) AS BIGINT) DESC, event_id DESC) AS rn,
        |    count(*) OVER (PARTITION BY user_id, event_type) AS n_versions
        |  FROM events) WHERE rn = 1""".stripMargin) { (s, dir) =>
      val wOrd = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts_s").desc, col("event_id").desc)
      val wAll = Window.partitionBy(col("user_id"), col("event_type"))
      Tables.eventsTimed(s, dir)
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("n_versions", count(lit(1)).over(wAll))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"),
          col("value").as("last_value"), col("ts_s").as("last_ts_s"), col("n_versions"))
    },

    // ------------------------------------------------------------------
    // Surrogate-key assignment for a dimension load: dense ordinal keys
    // over the distinct natural key, joined back to the fact rows.
    "etl_surrogate_key" -> QueryDef.withOracle(
      """WITH dim AS (
        |  SELECT c_mktsegment,
        |    row_number() OVER (ORDER BY c_mktsegment ASC) AS seg_sk
        |  FROM (SELECT DISTINCT c_mktsegment FROM customer))
        |SELECT c.c_custkey, c.c_mktsegment, dim.seg_sk
        |FROM customer c JOIN dim ON c.c_mktsegment = dim.c_mktsegment""".stripMargin) { (s, dir) =>
      val c = Tables.customer(s, dir)
      val dim = c.select(col("c_mktsegment")).distinct()
        .withColumn("seg_sk",
          row_number().over(Window.orderBy(col("c_mktsegment").asc)))
      c.join(broadcast(dim), Seq("c_mktsegment"))
        .select(col("c_custkey"), col("c_mktsegment"), col("seg_sk"))
    },

    // ------------------------------------------------------------------
    // Referential-integrity report: orphan counts for each FK edge of
    // the star schema — anti-join counts, one row per relationship.
    "etl_fk_check" -> QueryDef.withOracle(
      """SELECT 'lineitem.l_orderkey->orders' AS fk, CAST(
        |  (SELECT count(*) FROM lineitem l
        |   WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |  AS BIGINT) AS n_orphans
        |UNION ALL
        |SELECT 'orders.o_custkey->customer' AS fk, CAST(
        |  (SELECT count(*) FROM orders o
        |   WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |  AS BIGINT) AS n_orphans
        |UNION ALL
        |SELECT 'lineitem.l_partkey->part' AS fk, CAST(
        |  (SELECT count(*) FROM lineitem l
        |   WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
        |  AS BIGINT) AS n_orphans""".stripMargin) { (s, dir) =>
      // ONE plan, ONE job: each FK edge is an anti-join reduced to a
      // single-row count, unioned into the report relation. No
      // driver-side .count() loop — at 30 FK edges that loop is a
      // serial driver bottleneck; this shape runs all edges as sibling
      // subtrees of one Spark job.
      def orphans(fact: org.apache.spark.sql.DataFrame, factKey: String,
          dim: org.apache.spark.sql.DataFrame, dimKey: String,
          label: String): org.apache.spark.sql.DataFrame =
        fact.join(dim, col(factKey) === col(dimKey), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
          .select(lit(label).as("fk"), col("n_orphans"))
      orphans(Tables.lineitem(s, dir), "l_orderkey", Tables.orders(s, dir),
          "o_orderkey", "lineitem.l_orderkey->orders")
        .unionByName(orphans(Tables.orders(s, dir), "o_custkey",
          Tables.customer(s, dir), "c_custkey", "orders.o_custkey->customer"))
        .unionByName(orphans(Tables.lineitem(s, dir), "l_partkey",
          Tables.part(s, dir), "p_partkey", "lineitem.l_partkey->part"))
    },

    // ------------------------------------------------------------------
    // Reproducible per-group sampling: the k docs per source with the
    // smallest arithmetic mix (ties by doc_id), identical on any
    // partitioning/engine (min-k over a deterministic key is a
    // semilattice). Skew.topK ranks the negated mix, which is exact in
    // its double value (every mix is below 2^53). The oracle replicates
    // the sample with a plain window over the same mix.
    "etl_sample_per_source" -> QueryDef.withOracle(
      """SELECT source, doc_id,
        |  (doc_id * 2654435761) % 1000000007 AS mix_key
        |FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY (doc_id * 2654435761) % 1000000007 ASC, doc_id ASC) AS rn
        |  FROM documents)
        |WHERE rn <= 8""".stripMargin) { (s, dir) =>
      val mix = (col("doc_id") * lit(2654435761L)) % 1000000007L
      Skew.topK(Tables.documents(s, dir).withColumn("neg_mix", -mix),
          "source", "neg_mix", "doc_id", 8)
        .select(col("source"), col("doc_id"), (-col("neg_mix")).as("mix_key"))
    },

    // ------------------------------------------------------------------
    // Weighted (Efraimidis–Spirakis) per-source sampling: exact-k
    // WITHOUT replacement with inclusion odds ∝ n_chars. The classic
    // u^(1/w) max-key scheme, ranked in the equivalent ln(u)/w form;
    // u is the deterministic 60-bit md5 uniform, and the round-9 +
    // doc_id tiebreak makes the ranking reproducible across engines
    // (a last-ulp libm difference in ln cannot reorder). Top-3 per
    // source via the bounded top-k aggregate, so no task sorts a whole
    // source even when one source holds half the corpus; the winners
    // get n_chars back by doc_id. This is the
    // importance-sampling step a training mix uses when "sample by
    // tokens, not documents" matters.
    "etl_weighted_sample" -> QueryDef.withOracle(
      """SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars, es_key, rn FROM (
        |  SELECT doc_id, source, n_chars, es_key,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY es_key DESC, doc_id ASC) AS rn
        |  FROM (
        |    SELECT doc_id, source, n_chars,
        |      round(ln(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |        / 1152921504606846976.0) / n_chars, 9) AS es_key
        |    FROM documents))
        |WHERE rn <= 3""".stripMargin) { (s, dir) =>
      val u = conv(substring(md5(col("doc_id").cast(StringType).cast(BinaryType)), 1, 15), 16, 10)
        .cast(LongType).cast(DoubleType) / lit(1.152921504606846976e18)
      val docs = Tables.documents(s, dir)
      val keyed = docs.select(col("doc_id"), col("source"),
        round(log(u) / col("n_chars"), 9).as("es_key"))
      broadcast(Skew.topK(keyed, "source", "es_key", "doc_id", 3))
        .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
        .select(col("doc_id"), col("source"), col("n_chars"), col("es_key"), col("rn"))
    },

    // ------------------------------------------------------------------
    // Incremental aggregate maintenance: the warehouse pattern where a
    // nightly batch merges into an existing aggregate instead of
    // rescanning history. Partial aggregates (count, decimal sum) are
    // the mergeable state; merged result must equal the full rescan,
    // which is exactly what the oracle computes. At 100 TB this is the
    // difference between touching one day and touching three years.
    "etl_incremental_agg" -> QueryDef.withOracle(
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        |FROM orders GROUP BY o_custkey""".stripMargin) { (s, dir) =>
      val dec2 = DecimalType(18, 2)
      val orders = Tables.orders(s, dir)
      def partial(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast(dec2)).as("total_spend"))
      // "existing" state: everything before the cutoff; "delta": the new
      // batch. Merge = re-aggregate the partials on the same key.
      val cutoff = lit("1997-01-01").cast(TimestampType)
      partial(orders.filter(col("o_orderdate") < cutoff))
        .unionByName(partial(orders.filter(col("o_orderdate") >= cutoff)))
        .groupBy(col("o_custkey"))
        .agg(sum(col("n_orders")).as("n_orders"),
          sum(col("total_spend")).cast(DoubleType).as("total_spend"))
    },

    // ------------------------------------------------------------------
    // Late-arriving dimension repair: the first load joins facts to the
    // dim snapshot that exists at load time; misses are quarantined
    // with a placeholder instead of dropped, then repaired when the
    // late dim batch lands. Two keyed joins + a union; end state equals
    // the join against the complete dimension, which is the oracle.
    "etl_late_arriving" -> QueryDef.withOracle(
      """SELECT o.o_orderkey, o.o_custkey, c.c_mktsegment AS segment,
        |  (o.o_custkey % 7 = 0) AS was_late
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin) { (s, dir) =>
      val customers = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      // the dim rows for custkey % 7 == 0 "arrive late"
      val early = customers.filter(col("c_custkey") % 7 =!= 0)
      val late = customers.filter(col("c_custkey") % 7 === 0)
      // a join-PRESENCE marker routes the repair path — testing the
      // payload column for null would misroute dim rows whose segment
      // is legitimately NULL
      val phase1 = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(broadcast(early.withColumn("dim_hit", lit(true))),
          col("o_custkey") === col("c_custkey"), "left_outer")
        .select(col("o_orderkey"), col("o_custkey"),
          col("c_mktsegment").as("segment"), col("dim_hit"))
      val resolved = phase1.filter(col("dim_hit"))
        .select(col("o_orderkey"), col("o_custkey"), col("segment"))
        .withColumn("was_late", lit(false))
      val repaired = phase1.filter(col("dim_hit").isNull)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(broadcast(late), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_custkey"),
          col("c_mktsegment").as("segment"), lit(true).as("was_late"))
      resolved.unionByName(repaired)
    },

    // ------------------------------------------------------------------
    // Small-file compaction planner: month-partitions bin-packed into
    // target output files by running-sum division — the greedy plan a
    // lakehouse OPTIMIZE job executes. The window runs over the
    // partition LIST (one row per month — thousands at most), never the
    // data, so the single-partition sort is safe by construction.
    "etl_compaction_plan" -> QueryDef.withOracle(
      """WITH files AS (
        |  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS mon,
        |    count(*) AS n_rows
        |  FROM orders GROUP BY 1),
        |c AS (
        |  SELECT mon, n_rows,
        |    sum(n_rows) OVER (ORDER BY mon ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS before
        |  FROM files)
        |SELECT mon, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(coalesce(before, 0) // 2000 AS BIGINT) AS target_file
        |FROM c""".stripMargin) { (s, dir) =>
      val files = Tables.orders(s, dir)
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("mon"))
        .agg(count(lit(1)).as("n_rows"))
      val w = Window.orderBy(col("mon").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      files
        .withColumn("before", sum(col("n_rows")).over(w))
        .select(col("mon"), col("n_rows"),
          expr("coalesce(before, 0) div 2000").as("target_file"))
    },

    // ------------------------------------------------------------------
    // Z-order layout planner: interleave 8+8 range-bucket bits of
    // (o_custkey, o_totalprice) into a 16-bit z-value and cut the
    // z-range into 64 target files. Emits the per-file manifest (row
    // count + per-dimension min/max) a data-skipping reader consults:
    // because z-neighbors are close in BOTH dimensions, every file's
    // bounding box is tight in both keys, so 2-D predicates prune files
    // that a single-column sort order cannot (ZorderSpec quantifies
    // this). Bucket boundaries are collected once and inlined as
    // literals (deterministic across retries, same rationale as the
    // distributed-rank queries); everything after is row-local bit math
    // + one keyed agg — no global sort anywhere, at any scale.
    "etl_zorder_plan" -> QueryDef.withOracle({
      val zTerms = (0 until 8).map(i =>
        s"(((zbx >> $i) & 1) << ${2 * i + 1}) + (((zby >> $i) & 1) << ${2 * i})")
        .mkString(" + ")
      s"""WITH mm AS (
         |  SELECT min(o_custkey) AS minc, max(o_custkey) AS maxc,
         |         min(o_totalprice) AS minp, max(o_totalprice) AS maxp
         |  FROM orders),
         |b AS (
         |  SELECT o_orderkey, o_custkey, o_totalprice,
         |    CAST(least(255, floor((o_custkey - minc) * 256.0 / (maxc - minc))) AS INT) AS zbx,
         |    CAST(least(255, floor((o_totalprice - minp) * 256.0 / (maxp - minp))) AS INT) AS zby
         |  FROM orders CROSS JOIN mm),
         |z AS (SELECT *, CAST($zTerms AS INT) AS zval FROM b)
         |SELECT CAST(zval // 1024 AS INT) AS file_id,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  min(o_custkey) AS min_ck, max(o_custkey) AS max_ck,
         |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
         |  CAST(min(zval) AS INT) AS min_z, CAST(max(zval) AS INT) AS max_z
         |FROM z GROUP BY 1""".stripMargin
    }) { (s, dir) =>
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val mm = o.agg(min(col("o_custkey")), max(col("o_custkey")),
        min(col("o_totalprice")), max(col("o_totalprice"))).head()
      val (minc, maxc) = (mm.getLong(0), mm.getLong(1))
      val (minp, maxp) = (mm.getDouble(2), mm.getDouble(3))
      // same left-assoc double op order as the oracle → identical buckets
      val zbx = least(lit(255),
        floor((col("o_custkey") - lit(minc)) * lit(256.0) / lit(maxc - minc)))
        .cast(IntegerType)
      val zby = least(lit(255),
        floor((col("o_totalprice") - lit(minp)) * lit(256.0) / lit(maxp - minp)))
        .cast(IntegerType)
      val zval = (0 until 8).map(i =>
        shiftleft(shiftright(col("zbx"), i).bitwiseAND(lit(1)), 2 * i + 1) +
          shiftleft(shiftright(col("zby"), i).bitwiseAND(lit(1)), 2 * i))
        .reduce(_ + _)
      o.withColumn("zbx", zbx).withColumn("zby", zby)
        .withColumn("zval", zval.cast(IntegerType))
        .groupBy(expr("zval div 1024").cast(IntegerType).as("file_id"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("o_custkey")).as("min_ck"), max(col("o_custkey")).as("max_ck"),
          min(col("o_totalprice")).as("min_price"), max(col("o_totalprice")).as("max_price"),
          min(col("zval")).as("min_z"), max(col("zval")).as("max_z"))
    },

    // ------------------------------------------------------------------
    // binaryFile ingest — Spark's whole-file binary source, the front
    // door every image/audio/raw-corpus pipeline walks through before
    // any decode (mm_* operate on binary COLUMNS; this is how those
    // columns get ingested from a directory of files in the first
    // place). A bounded fixture (≤300 files, doc_id < 300 at every SF)
    // is written driver-side — the fixture build is test scaffolding,
    // not the measured operator; at scale the directory already
    // exists — then read back via format("binaryFile"): doc id parsed
    // from the path, exact byte length from the source's metadata
    // column, md5 over the raw content. Oracle hashes the same UTF-8
    // bytes from the documents table.
    "src_binaryfile_ingest" -> QueryDef.withOracle(
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5
        |FROM documents WHERE doc_id < 300""".stripMargin) { (s, dir) =>
      val tmp = TempDirs.deletedOnExit("graft_binf")
      Tables.documents(s, dir).filter(col("doc_id") < 300)
        .select(col("doc_id"), col("text")).collect()
        .foreach { r =>
          Files.write(tmp.resolve(s"${r.getLong(0)}.bin"),
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      s.read.format("binaryFile").load(tmp.toString)
        .select(
          regexp_extract(col("path"), "([0-9]+)\\.bin$", 1)
            .cast(LongType).as("doc_id"),
          col("length").as("n_bytes"),
          md5(col("content")).as("content_md5"))
    },

    // ------------------------------------------------------------------
    "src_csv_roundtrip" -> QueryDef.withOracle(
      "SELECT n_nationkey, n_name, n_regionkey FROM nation") { (s, dir) =>
      val tmp = TempDirs.deletedOnExit("graft_csv").toString
      Connectors.writeCsv(Tables.nation(s, dir), tmp)
      Connectors.readCsv(s, tmp, Tables.nationSchema)
        .select("n_nationkey", "n_name", "n_regionkey")
    },

    // ------------------------------------------------------------------
    // Hive-partitioned roundtrip with partition pruning: events written
    // partitioned by event_type, read back filtered to one type — the
    // reader's PartitionFilters prune whole directories before any IO
    // (PlanQualitySpec-style invariant asserted in LayoutSpec; here the
    // driver verifies the VALUES survive the layout). At 100 TB
    // partition pruning is the difference between scanning one type's
    // directory and scanning everything.
    "src_partitioned_prune" -> QueryDef.withOracle(
      """SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
        |  CAST(value AS DOUBLE) AS value
        |FROM events WHERE event_type = 'purchase'""".stripMargin) { (s, dir) =>
      val tmp = TempDirs.deletedOnExit("graft_part").toString
      Connectors.writePartitioned(
        Tables.eventsTimed(s, dir)
          .select(col("event_id"), col("user_id"), col("ts_s"),
            col("value"), col("event_type")),
        tmp, Seq("event_type"))
      s.read.parquet(tmp)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_s"),
          col("value").cast(DoubleType).as("value"))
    },

    // ------------------------------------------------------------------
    // Line-delimited text roundtrip — the raw-corpus interchange format
    // (one record per line; a tab-separated id + content hash so the
    // roundtrip is value-verifiable without embedding newline-bearing
    // text in the lines themselves).
    "src_text_roundtrip" -> QueryDef.withOracle(
      "SELECT doc_id, md5(text) AS text_md5 FROM documents") { (s, dir) =>
      val tmp = TempDirs.deletedOnExit("graft_text").toString
      Connectors.writeText(
        Tables.documents(s, dir).select(concat(
          col("doc_id").cast(StringType), lit("\t"),
          md5(col("text").cast(BinaryType))).as("value")), tmp)
      Connectors.readText(s, tmp)
        .select(
          split(col("value"), "\t").getItem(0).cast(LongType).as("doc_id"),
          split(col("value"), "\t").getItem(1).as("text_md5"))
    },

    // ------------------------------------------------------------------
    "src_json_roundtrip" -> QueryDef.withOracle(
      "SELECT r_regionkey, r_name FROM region") { (s, dir) =>
      val tmp = TempDirs.deletedOnExit("graft_json").toString
      Connectors.writeJson(Tables.region(s, dir), tmp)
      Connectors.readJson(s, tmp, Tables.regionSchema)
        .select("r_regionkey", "r_name")
    },

    // ------------------------------------------------------------------
    "src_orc_roundtrip" -> QueryDef.withOracle(
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier") { (s, dir) =>
      val tmp = TempDirs.deletedOnExit("graft_orc").toString
      Connectors.writeOrc(Tables.supplier(s, dir), tmp)
      Connectors.readOrc(s, tmp, Tables.supplierSchema)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    },

    // ------------------------------------------------------------------
    "src_avro_roundtrip" -> QueryDef.withOracle(
      "SELECT p_partkey, p_name, p_type, p_size, p_retailprice FROM part") { (s, dir) =>
      val tmp = TempDirs.deletedOnExit("graft_avro").toString
      Connectors.writeAvro(Tables.part(s, dir), tmp)
      Connectors.readAvro(s, tmp, Tables.partSchema)
        .select("p_partkey", "p_name", "p_type", "p_size", "p_retailprice")
    },

    // ------------------------------------------------------------------
    // Avro roundtrip of an ARRAY column (the embeddings table): the
    // oracle reads the ORIGINAL parquet, so any float lost or reordered
    // by the avro array mapping would hash-fail. Output stays scalar
    // per the §4 protocol: length, first element, and an exact
    // fixed-point sum over the elements (order-sensitive float sums are
    // not portable; floor(x·2^20 + 0.5) summed as BIGINT is).
    "src_avro_embeddings" -> QueryDef.withOracle(
      """SELECT vec_id, label,
        |  CAST(len(embedding) AS INT) AS dim,
        |  round(CAST(embedding[1] AS DOUBLE), 6) AS e_first,
        |  CAST(list_aggregate(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576 + 0.5) AS BIGINT)), 'sum')
        |    AS BIGINT) AS e_fpsum
        |FROM embeddings""".stripMargin) { (s, dir) =>
      val tmp = TempDirs.deletedOnExit("graft_avro_emb").toString
      Connectors.writeAvro(Tables.embeddings(s, dir), tmp)
      Connectors.readAvro(s, tmp, Tables.embeddingsSchema)
        .select(col("vec_id"), col("label"),
          size(col("embedding")).as("dim"),
          round(element_at(col("embedding"), 1).cast(DoubleType), 6).as("e_first"),
          aggregate(transform(col("embedding"),
              x => floor(x.cast(DoubleType) * 1048576 + 0.5).cast(LongType)),
            lit(0L), (a, x) => a + x).as("e_fpsum"))
    },

    // ------------------------------------------------------------------
    // Avro LOGICAL-type roundtrip — decimal (bytes + schema scale),
    // date (int epoch days), timestamp-micros — the first three types
    // any warehouse Avro feed carries. The decimals are CONSTRUCTED
    // exactly (fixed-point long → exact decimal division, no
    // double→decimal rounding ties), written through the connector's
    // bytes+logicalType mapping, read back as DECIMAL(12,2)/(18,4),
    // and the oracle recomputes the same values from the ORIGINAL
    // parquet — an unscaled-byte corruption, a scale shift, a lost
    // day or a truncated microsecond all hash-fail.
    "src_avro_logical" -> QueryDef.withOracle(
      """SELECT l_orderkey, l_linenumber,
        |  CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) / 100.0 AS qty_dbl,
        |  CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT) / 10000.0 AS price_dbl,
        |  strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') AS ship_day,
        |  CAST(datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS INT)
        |    AS ship_epoch_day,
        |  CAST(epoch_us(l_shipdate) AS BIGINT) AS ship_us
        |FROM lineitem WHERE l_orderkey % 10 = 0""".stripMargin) { (s, dir) =>
      val tmp = TempDirs.deletedOnExit("graft_avro_log").toString
      // a deterministic 1-in-10 key slice: the check verifies the
      // LOGICAL-TYPE mapping (full date/value range still covered),
      // not bulk throughput — the full-fact roundtrip benched 5-13×
      // its src_* class peers for no added verification power
      val src = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 10 === 0)
        .select(
        col("l_orderkey"), col("l_linenumber"),
        (floor(col("l_quantity") * 100 + 0.5).cast(LongType)
          .cast(DecimalType(14, 0)) / 100).cast(DecimalType(12, 2)).as("qty_dec"),
        (floor(col("l_extendedprice") * 10000 + 0.5).cast(LongType)
          .cast(DecimalType(24, 0)) / 10000).cast(DecimalType(18, 4)).as("price_dec"),
        to_date(col("l_shipdate")).as("ship_date"),
        col("l_shipdate").as("ship_ts"))
      Connectors.writeAvro(src, tmp)
      Connectors.readAvro(s, tmp, src.schema)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("qty_dec").cast(DoubleType).as("qty_dbl"),
          col("price_dec").cast(DoubleType).as("price_dbl"),
          date_format(col("ship_date"), "yyyy-MM-dd").as("ship_day"),
          datediff(col("ship_date"), lit("1970-01-01")).as("ship_epoch_day"),
          unix_micros(col("ship_ts")).as("ship_us"))
    },

    // ------------------------------------------------------------------
    // JDBC roundtrip through a REAL DriverManager path: the supplier
    // table is written to an embedded Apache Derby database (on the
    // Spark classpath — the same engine Spark's own metastore embeds)
    // and read back with the PARTITIONED reader — 4 range-bounded
    // queries on s_suppkey, the shape a 1000-executor warehouse load
    // takes so one connection never streams the whole table through
    // the driver. The oracle reads the original parquet: any value,
    // type, or row lost in the SQL type mapping hash-fails.
    "src_jdbc_roundtrip" -> QueryDef.withOracle(
      """SELECT s_suppkey, s_name, s_nationkey,
        |  CAST(s_acctbal AS DOUBLE) AS s_acctbal
        |FROM supplier""".stripMargin) { (s, dir) =>
      val db = TempDirs.deletedOnExit("graft_jdbc").resolve("db").toString
      val url = s"jdbc:derby:$db;create=true"
      val props = new java.util.Properties()
      val src = Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          col("s_acctbal").cast(DoubleType).as("s_acctbal"))
      Connectors.writeJdbc(src, url, "supplier_rt", props, SaveMode.Overwrite)
      val mm = src.agg(min(col("s_suppkey")), max(col("s_suppkey"))).head()
      Connectors.readJdbcPartitioned(s, url, "supplier_rt",
          "s_suppkey", mm.getLong(0), mm.getLong(1) + 1, 4, props)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          col("s_acctbal").cast(DoubleType).as("s_acctbal"))
    },

    // ------------------------------------------------------------------
    // CDC changelog apply (MERGE with deletes): the event log is read
    // as an ordered changelog over the customer table — signup=INSERT,
    // error=DELETE, click/view/purchase=UPDATE(value) — and collapsed
    // to its LAST operation per key in one max_by aggregation
    // (map-side combined, no window over the full log). The merge is a
    // single full-outer join on the key: last-op DELETE drops the row,
    // INSERT/UPDATE upserts the payload, untouched base rows pass
    // through — the apply-a-Debezium-stream-to-a-lakehouse-table op.
    // One shuffle for the agg, one for the join, both on the same key.
    "etl_merge_cdc" -> QueryDef.withOracle(
      """WITH last_op AS (
        |  SELECT user_id, op, payload, n_ops FROM (
        |    SELECT user_id,
        |      CASE event_type WHEN 'signup' THEN 'I'
        |           WHEN 'error' THEN 'D' ELSE 'U' END AS op,
        |      value AS payload,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY CAST(floor(epoch(ts)) AS BIGINT) DESC, event_id DESC) AS rn,
        |      CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_ops
        |    FROM events) WHERE rn = 1)
        |SELECT
        |  coalesce(c.c_custkey, l.user_id) AS cust_id,
        |  CASE WHEN l.user_id IS NULL THEN 'kept'
        |       WHEN c.c_custkey IS NULL THEN 'inserted' ELSE 'updated' END AS merge_action,
        |  round(CASE WHEN l.user_id IS NULL THEN c.c_acctbal ELSE l.payload END, 9) AS balance,
        |  coalesce(l.n_ops, 0) AS n_ops
        |FROM customer c FULL OUTER JOIN last_op l ON c.c_custkey = l.user_id
        |WHERE l.op IS DISTINCT FROM 'D'""".stripMargin) { (s, dir) =>
      val wOrd = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_s").desc, col("event_id").desc)
      val wAll = Window.partitionBy(col("user_id"))
      val lastOp = Tables.eventsTimed(s, dir)
        .withColumn("op",
          when(col("event_type") === "signup", lit("I"))
            .when(col("event_type") === "error", lit("D"))
            .otherwise(lit("U")))
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("n_ops", count(lit(1)).over(wAll))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("op"), col("value").as("payload"), col("n_ops"))
      // The MERGE join + action labels come from the lakehouse seam's
      // shared merge algebra (graft.sources.TableMerge) — the same plan
      // ParquetVersionedTable.mergeByKey commits, surfaced here as the
      // auditable action report.
      graft.sources.TableMerge.outerMergeWithActions(
          Tables.customer(s, dir), lastOp,
          Seq(("c_custkey", "user_id")), Some("op"))
        .select(
          coalesce(col("c_custkey"), col("user_id")).as("cust_id"),
          col("merge_action"),
          round(when(col("user_id").isNull, col("c_acctbal"))
            .otherwise(col("payload")), 9).as("balance"),
          coalesce(col("n_ops"), lit(0L)).as("n_ops"))
    },

    // ------------------------------------------------------------------
    // Snapshot diff: added/removed/changed rows between two versions of
    // a table — the audit every lakehouse time-travel/backfill job
    // needs. Snapshots are deterministic mutations of orders (so both
    // engines construct identical inputs); the diff itself is ONE
    // full-outer join on the key plus column compares, shuffling each
    // snapshot once. With both snapshots bucketed by the key the join
    // is co-located and shuffle-free; unchanged rows are dropped before
    // anything leaves the join task.
    "etl_snapshot_diff" -> QueryDef.withOracle(
      """WITH snap_a AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 11 <> 3),
        |snap_b AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 13 <> 0)
        |SELECT
        |  coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
        |  CASE WHEN a.o_orderkey IS NULL THEN 'added'
        |       WHEN b.o_orderkey IS NULL THEN 'removed' ELSE 'changed' END AS diff,
        |  a.o_totalprice AS old_price, b.o_totalprice AS new_price
        |FROM snap_a a FULL OUTER JOIN snap_b b ON a.o_orderkey = b.o_orderkey
        |WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
        |   OR a.o_totalprice <> b.o_totalprice
        |   OR a.o_orderstatus <> b.o_orderstatus""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir)
      val snapA = o.filter(col("o_orderkey") % 11 =!= 3)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val snapB = o.filter(col("o_orderkey") % 13 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 10.0)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      snapA.as("a")
        .join(snapB.as("b"), col("a.o_orderkey") === col("b.o_orderkey"), "full_outer")
        .filter(col("a.o_orderkey").isNull || col("b.o_orderkey").isNull ||
          col("a.o_totalprice") =!= col("b.o_totalprice") ||
          col("a.o_orderstatus") =!= col("b.o_orderstatus"))
        .select(
          coalesce(col("a.o_orderkey"), col("b.o_orderkey")).as("o_orderkey"),
          when(col("a.o_orderkey").isNull, lit("added"))
            .when(col("b.o_orderkey").isNull, lit("removed"))
            .otherwise(lit("changed")).as("diff"),
          col("a.o_totalprice").as("old_price"),
          col("b.o_totalprice").as("new_price"))
    },

    // ------------------------------------------------------------------
    // Equi-width histogram: the profiling primitive behind every data-
    // quality dashboard. Bucket id is row-local integer math over
    // literal bounds (no global min/max pass needed when bounds are
    // known), so the whole operator is one map + one keyed agg with
    // map-side combine — at 100 TB it moves 20 rows per partition.
    "etl_histogram" -> QueryDef.withOracle(
      """SELECT bucket,
        |  round(900.0 + bucket * 5250.0, 2) AS lo,
        |  round(900.0 + (bucket + 1) * 5250.0, 2) AS hi,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 9) AS avg_price
        |FROM (
        |  SELECT l_extendedprice,
        |    CAST(least(greatest(floor((l_extendedprice - 900.0) / 5250.0), 0), 19) AS BIGINT) AS bucket
        |  FROM lineitem)
        |GROUP BY bucket""".stripMargin) { (s, dir) =>
      // avg over an exact decimal sum: a partial-agg double sum is
      // addition-order-dependent across partitionings; the 2-dec money
      // sum is exact in DECIMAL(18,2) and < 2^53, so the final double
      // division is the identical correctly-rounded value on any engine
      Tables.lineitem(s, dir)
        .select(col("l_extendedprice"),
          least(greatest(floor((col("l_extendedprice") - 900.0) / 5250.0), lit(0.0)), lit(19.0))
            .cast(LongType).as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_d"))
        .withColumn("avg_price", round(col("sum_d") / col("n"), 9))
        .drop("sum_d")
        .select(col("bucket"),
          round(lit(900.0) + col("bucket") * 5250.0, 2).as("lo"),
          round(lit(900.0) + (col("bucket") + 1) * 5250.0, 2).as("hi"),
          col("n"), col("avg_price"))
    },

    // ------------------------------------------------------------------
    // ANALYZE-style column profile: row count, null count, exact
    // distinct count, min/max for every numeric measure — in ONE scan.
    // The per-column aggregates all ride the same pass (Spark expands
    // the multi-distinct agg internally but each expanded stream still
    // partial-aggregates map-side), then a row-local inline() pivots
    // the single summary row into one row per column. At 100 TB this
    // is a single read of the fact table; the naive per-column loop
    // would be four.
    "etl_column_profile" -> QueryDef.withOracle(
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map { c =>
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min($c) AS DOUBLE) AS min_val,
           |  CAST(max($c) AS DOUBLE) AS max_val
           |FROM lineitem""".stripMargin
      }.mkString("\nUNION ALL\n")) { (s, dir) =>
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
        count(col(c)).as(s"nn_$c"),
        countDistinct(col(c)).as(s"nd_$c"),
        min(col(c)).as(s"mn_$c"),
        max(col(c)).as(s"mx_$c")))
      Tables.lineitem(s, dir)
        .agg(aggs.head, aggs.tail: _*)
        .select(explode(array(cols.map(c => struct(
          lit(c).as("col_name"),
          col("n_rows"),
          (col("n_rows") - col(s"nn_$c")).as("n_nulls"),
          col(s"nd_$c").as("n_distinct"),
          col(s"mn_$c").cast(DoubleType).as("min_val"),
          col(s"mx_$c").cast(DoubleType).as("max_val"))): _*)).as("p"))
        .select("p.*")
    },

    // ------------------------------------------------------------------
    // Group-mean imputation, the workhorse edit rule of survey
    // processing: negative balances are sentinel-coded missing (the
    // classic -9/-99 encoding), replaced by the segment mean of the
    // VALID values. One tiny per-segment agg (exact decimal sum →
    // identical double mean on any engine/partitioning) broadcast back
    // over the fact — no shuffle of the corpus side.
    "etl_impute_mean" -> QueryDef.withOracle(
      """WITH m AS (
        |  SELECT c_mktsegment,
        |    CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS seg_mean
        |  FROM customer WHERE c_acctbal >= 0
        |  GROUP BY c_mktsegment)
        |SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal,
        |  c.c_acctbal < 0 AS imputed,
        |  round(CASE WHEN c.c_acctbal < 0 THEN m.seg_mean ELSE c.c_acctbal END, 9)
        |    AS acctbal_final
        |FROM customer c JOIN m ON m.c_mktsegment = c.c_mktsegment""".stripMargin) { (s, dir) =>
      val cust = Tables.customer(s, dir)
      val means = cust.filter(col("c_acctbal") >= 0)
        .groupBy(col("c_mktsegment"))
        .agg((sum(col("c_acctbal").cast(DecimalType(18, 2))).cast(DoubleType)
          / count(lit(1))).as("seg_mean"))
      cust.join(broadcast(means), Seq("c_mktsegment"))
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          (col("c_acctbal") < 0).as("imputed"),
          round(when(col("c_acctbal") < 0, col("seg_mean"))
            .otherwise(col("c_acctbal")), 9).as("acctbal_final"))
    },

    // ------------------------------------------------------------------
    // Outlier clamping (winsorize at mean ± 3σ per group): the edit
    // step before publishing survey aggregates. Moments come from ONE
    // exact-decimal agg pass (Σx in DECIMAL(18,2), Σx² in
    // DECIMAL(24,4) — both order-invariant), and the double formula is
    // written in the identical operation order on both engines so the
    // clamp boundaries are bit-identical; the clamp itself is a
    // row-local least/greatest under the broadcast moments.
    "etl_outlier_clamp" -> QueryDef.withOracle(
      """WITH m AS (
        |  SELECT l_returnflag,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS mu,
        |    sqrt(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |          * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |      - (CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*))
        |      * (CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*))) AS sd
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, l.l_extendedprice,
        |  round(least(greatest(l.l_extendedprice, m.mu - 3 * m.sd), m.mu + 3 * m.sd), 6)
        |    AS price_clamped,
        |  CASE WHEN l.l_extendedprice < m.mu - 3 * m.sd THEN 'low'
        |       WHEN l.l_extendedprice > m.mu + 3 * m.sd THEN 'high'
        |       ELSE 'ok' END AS clamp_flag
        |FROM lineitem l JOIN m ON m.l_returnflag = l.l_returnflag""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val p2 = col("l_extendedprice").cast(DecimalType(18, 2))
      val mu = sum(p2).cast(DoubleType) / count(lit(1))
      val moments = li.groupBy(col("l_returnflag"))
        .agg(mu.as("mu"),
          sqrt(sum(p2 * p2).cast(DoubleType) / count(lit(1)) - mu * mu).as("sd"))
      val lo = col("mu") - lit(3) * col("sd")
      val hi = col("mu") + lit(3) * col("sd")
      li.join(broadcast(moments), Seq("l_returnflag"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_extendedprice"),
          round(least(greatest(col("l_extendedprice"), lo), hi), 6).as("price_clamped"),
          when(col("l_extendedprice") < lo, "low")
            .when(col("l_extendedprice") > hi, "high")
            .otherwise("ok").as("clamp_flag"))
    },

    // ------------------------------------------------------------------
    // Survey-weighted domain estimates: every respondent (customer)
    // carries a design weight; published totals are Σ w·y per domain,
    // not plain sums. Weight×value products are exact decimals, so the
    // weighted totals are partitioning-invariant; one broadcast dim
    // join + one keyed agg.
    "etl_weighted_total" -> QueryDef.withOracle(
      """SELECT c.c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(1 + c.c_custkey % 7) AS BIGINT) AS w_sum,
        |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2)) * (1 + c.c_custkey % 7)) AS DOUBLE)
        |    AS w_total,
        |  round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2)) * (1 + c.c_custkey % 7)) AS DOUBLE)
        |    / sum(1 + c.c_custkey % 7), 9) AS w_mean
        |FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |GROUP BY c.c_mktsegment""".stripMargin) { (s, dir) =>
      val w = lit(1L) + pmod(col("c_custkey"), lit(7L))
      val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment"))
      Tables.orders(s, dir)
        .join(broadcast(cust), col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(w).as("w_sum"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)) * w)
            .cast(DoubleType).as("w_total"))
        .withColumn("w_mean", round(col("w_total") / col("w_sum"), 9))
    },

    // ------------------------------------------------------------------
    // Disclosure control (k-anonymity cell suppression) — the step
    // between an aggregate and a PUBLISHED statistical table: cells
    // with fewer than 5 contributors are primary-suppressed, and when
    // a row margin would expose a lone suppressed cell by subtraction,
    // the smallest surviving cell in that margin is complementary-
    // suppressed too. The cell table is bookkeeping-sized (nations ×
    // segments), so the suppression windows ride ≤125 rows; the only
    // corpus-scale work is the original keyed agg.
    "etl_cell_suppression" -> QueryDef.withOracle(
      """WITH cells AS (
        |  SELECT n.n_name, c.c_mktsegment,
        |    CAST(count(*) AS BIGINT) AS n,
        |    round(CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*), 9)
        |      AS avg_bal
        |  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        |  GROUP BY 1, 2),
        |flagged AS (
        |  SELECT *, n < 5 AS primary_sup,
        |    sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) OVER (PARTITION BY n_name) AS n_prim,
        |    row_number() OVER (PARTITION BY n_name
        |      ORDER BY CASE WHEN n < 5 THEN 1 ELSE 0 END, n, c_mktsegment) AS rn
        |  FROM cells)
        |SELECT n_name, c_mktsegment, n,
        |  CASE WHEN primary_sup OR (n_prim = 1 AND rn = 1) THEN NULL ELSE avg_bal END
        |    AS published,
        |  CASE WHEN primary_sup THEN 'k<5'
        |       WHEN n_prim = 1 AND rn = 1 THEN 'complementary'
        |       ELSE 'ok' END AS sup_reason
        |FROM flagged""".stripMargin) { (s, dir) =>
      val cells = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("n_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast(DecimalType(18, 2))).cast(DoubleType).as("s"))
        .select(col("n_name"), col("c_mktsegment"), col("n"),
          round(col("s") / col("n"), 9).as("avg_bal"))
      val primFlag = when(col("n") < 5, 1).otherwise(0)
      val wN = Window.partitionBy(col("n_name"))
      val flagged = cells
        .withColumn("primary_sup", col("n") < 5)
        .withColumn("n_prim", sum(primFlag).over(wN))
        .withColumn("rn", row_number().over(
          wN.orderBy(primFlag.asc, col("n").asc, col("c_mktsegment").asc)))
      val suppressed = col("primary_sup") || (col("n_prim") === 1 && col("rn") === 1)
      flagged.select(col("n_name"), col("c_mktsegment"), col("n"),
        when(!suppressed, col("avg_bal")).as("published"),
        when(col("primary_sup"), "k<5")
          .when(col("n_prim") === 1 && col("rn") === 1, "complementary")
          .otherwise("ok").as("sup_reason"))
    },

    // ------------------------------------------------------------------
    // Iterative proportional fitting (raking) — THE survey calibration
    // algorithm: design weights adjusted until nation margins and
    // segment margins both hit their targets, alternating 3 full
    // rounds. Same determinism discipline as graph_pagerank: weights
    // live in ×10^6 fixed point, every margin sum is an exact long
    // (order/partitioning-invariant), and each adjustment
    // floor(w·f + 0.5) is the identical double expression on both
    // engines → a 6-step iterative job with a full unrolled-CTE
    // oracle. Per step: one map-side-combined margin agg (≤ groups
    // rows through the exchange) + one broadcast factor join — the
    // corpus never shuffles.
    "etl_rake_weights" -> QueryDef.withOracle {
      def stepSql(src: String, out: String, dim: String, tgt: String): String =
        s"""$out AS (
           |  SELECT b.c_custkey, b.c_nationkey, b.c_mktsegment,
           |    CAST(floor(b.w * ((t.wt // t.$tgt) * 1.0 / m.cur) + 0.5) AS BIGINT) AS w
           |  FROM $src b
           |  JOIN (SELECT $dim AS k, CAST(sum(w) AS BIGINT) AS cur
           |        FROM $src GROUP BY 1) m ON m.k = b.$dim
           |  CROSS JOIN tot t)""".stripMargin
      val steps = (1 to 3).flatMap { r =>
        val prevN = if (r == 1) "base" else s"r${r - 1}s"
        Seq(stepSql(prevN, s"r${r}n", "c_nationkey", "nn"),
          stepSql(s"r${r}n", s"r${r}s", "c_mktsegment", "ns"))
      }.mkString(",\n")
      s"""WITH base AS (
         |  SELECT c_custkey, c_nationkey, c_mktsegment,
         |    CAST((1 + c_custkey % 7) * 1000000 AS BIGINT) AS w
         |  FROM customer),
         |tot AS (
         |  SELECT CAST(sum(w) AS BIGINT) AS wt,
         |    CAST(count(DISTINCT c_nationkey) AS BIGINT) AS nn,
         |    CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS ns
         |  FROM base),
         |$steps
         |SELECT c_custkey, c_nationkey, c_mktsegment,
         |  CAST(1 + c_custkey % 7 AS BIGINT) AS w_design,
         |  round(w / 1000000.0, 6) AS w_calibrated
         |FROM r3s""".stripMargin
    } { (s, dir) =>
      val FPW = 1000000L
      val base = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
          ((lit(1L) + pmod(col("c_custkey"), lit(7L))) * FPW).as("w"))
      // one bookkeeping job for the (exact-integer) totals the targets
      // derive from — the same values the oracle's tot CTE computes
      val t = base.agg(sum(col("w")), countDistinct(col("c_nationkey")),
        countDistinct(col("c_mktsegment"))).head()
      val (wt, nn, ns) = (t.getLong(0), t.getLong(1), t.getLong(2))
      var cur = base
      for (_ <- 1 to 3; (dim, tgt) <- Seq("c_nationkey" -> wt / nn,
          "c_mktsegment" -> wt / ns)) {
        val m = cur.groupBy(col(dim)).agg(sum(col("w")).as("cur_m"))
        cur = cur.join(broadcast(m), Seq(dim))
          .withColumn("w",
            floor(col("w") * (lit(tgt) * lit(1.0) / col("cur_m")) + lit(0.5))
              .cast(LongType))
          .drop("cur_m")
          // cut lineage per step (the pagerank discipline): without
          // this every step's margin agg re-plans the whole prefix and
          // the final plan re-executes it per reference (63 distinct
          // exchanges at 6 steps); with it each step is a flat 2-stage
          // fragment over the previous step's materialization
          .transform(GraftSession.roundCut(s, _))
      }
      cur.select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        (lit(1L) + pmod(col("c_custkey"), lit(7L))).as("w_design"),
        round(col("w") / lit(1000000.0), 6).as("w_calibrated"))
    },

    // ------------------------------------------------------------------
    // Blocked record linkage — the statistical-matching step of every
    // register-based pipeline: candidate pairs are generated ONLY
    // within a blocking key (here brand × product noun — in production
    // a phonetic/sorted-neighborhood key), then scored by edit
    // distance. Two scale disciplines on top of the blocking:
    //   1. DISTINCT-NAME scoring: the name column is a vocabulary
    //      (adjective×noun templates — 64 distinct values at any sf),
    //      so the edit-distance DP runs once per distinct name PAIR
    //      (vocab², broadcast back), never per candidate row pair —
    //      at sf0.1 that is 4k banded DPs instead of 1M (the r7 plan
    //      spent 18 s in per-pair DPs; the candidate stream now only
    //      pays a broadcast hash-join probe per pair).
    //   2. HOT-BLOCK CAP (mirrored in the oracle): the blocking key's
    //      domain is FIXED (~200 brand×noun values), so block sizes
    //      grow linearly with the corpus and Σblock² quadratically.
    //      Blocks over 1024 members are dropped from linkage whole —
    //      deterministic, the Dedup.capBuckets trade: an over-cap
    //      block is a failed blocking key (production re-blocks it
    //      with a finer key), and the cap bounds candidate pairs at
    //      |blocks|·cap² regardless of corpus size.
    "etl_record_linkage" -> QueryDef.withOracle(
      """WITH p AS (
        |  SELECT p_partkey, p_name, p_brand,
        |    concat(p_brand, ':', regexp_extract(p_name, '([a-z0-9]+)$', 1)) AS blk
        |  FROM part),
        |ok AS (SELECT blk FROM p GROUP BY blk HAVING count(*) <= 1024)
        |SELECT a.p_partkey AS partkey_a, b.p_partkey AS partkey_b,
        |  a.p_name AS name_a, b.p_name AS name_b, a.blk AS block,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS lev,
        |  CASE WHEN a.p_name = b.p_name THEN 'exact' ELSE 'near' END AS match_kind
        |FROM p a JOIN p b
        |  ON b.blk = a.blk AND a.p_partkey < b.p_partkey
        |JOIN ok ON ok.blk = a.blk
        |WHERE levenshtein(a.p_name, b.p_name) <= 4""".stripMargin) { (s, dir) =>
      val p0 = Tables.part(s, dir)
        .select(col("p_partkey"), col("p_name"),
          concat(col("p_brand"), lit(":"),
            regexp_extract(col("p_name"), "([a-z0-9]+)$", 1)).as("blk"))
      val ok = p0.groupBy(col("blk")).agg(count(lit(1)).as("blk_n"))
        .filter(col("blk_n") <= 1024).select(col("blk"))
      val p = p0.join(broadcast(ok), Seq("blk"))
      // vocab² distance table: thresholded levenshtein (banded DP,
      // returns -1 above the bound) over distinct-name pairs, kept
      // only within the match radius, broadcast to the pair stream
      val names = p.select(col("p_name")).distinct()
      val dist = names.toDF("name_a")
        .crossJoin(broadcast(names.toDF("name_b")))
        .withColumn("lev", levenshtein(col("name_a"), col("name_b"), 4))
        .filter(col("lev") >= 0)
      val a = p.select(col("p_partkey").as("partkey_a"), col("p_name").as("name_a"),
        col("blk"))
      val b = p.select(col("p_partkey").as("partkey_b"), col("p_name").as("name_b"),
        col("blk"))
      a.join(b, Seq("blk"))
        .filter(col("partkey_a") < col("partkey_b"))
        // inner join ⇔ the lev <= 4 filter: out-of-radius name pairs
        // are absent from the broadcast distance table
        .join(broadcast(dist), Seq("name_a", "name_b"))
        .select(col("partkey_a"), col("partkey_b"), col("name_a"), col("name_b"),
          col("blk").as("block"), col("lev"),
          when(col("name_a") === col("name_b"), "exact")
            .otherwise("near").as("match_kind"))
    },

    // ------------------------------------------------------------------
    // Delete-a-group jackknife variance — how survey programs publish
    // standard errors when the design has no closed-form variance:
    // units are hashed into G=8 random groups, the weighted estimate
    // is recomputed leaving each group out, and the variance is
    // (G-1)/G · Σ(θ_g − θ)². One corpus agg produces per-(segment,
    // group) exact sums; every replicate estimate is then a row-local
    // double from exact components, and the 8-term deviation sum is a
    // pinned left-associated chain — the whole resampling estimator is
    // deterministic and oracled. No corpus data moves twice.
    "etl_variance_jackknife" -> QueryDef.withOracle {
      val reps = (0 to 7).map(k =>
        s"""    max(CASE WHEN g = $k
           |      THEN CAST(t.twy - gs.swy AS DOUBLE) / (t.tw - gs.sw) END) AS t$k"""
          .stripMargin).mkString(",\n")
      val chain = (0 to 7).map(k => s"(t$k - theta) * (t$k - theta)")
        .mkString(" + ")
      s"""WITH b AS (
         |  SELECT c_mktsegment AS seg, c_custkey % 8 AS g,
         |    CAST(c_acctbal AS DECIMAL(18,2)) * (1 + c_custkey % 7) AS wy,
         |    CAST(1 + c_custkey % 7 AS BIGINT) AS w
         |  FROM customer WHERE c_acctbal > 0),
         |gs AS (
         |  SELECT seg, g, CAST(sum(wy) AS DECIMAL(38,4)) AS swy,
         |    CAST(sum(w) AS BIGINT) AS sw
         |  FROM b GROUP BY 1, 2),
         |t AS (
         |  SELECT seg, CAST(sum(swy) AS DECIMAL(38,4)) AS twy,
         |    CAST(sum(sw) AS BIGINT) AS tw
         |  FROM gs GROUP BY 1),
         |piv AS (
         |  SELECT gs.seg,
         |    max(CAST(t.twy AS DOUBLE) / t.tw) AS theta,
         |$reps
         |  FROM gs JOIN t ON t.seg = gs.seg GROUP BY 1)
         |SELECT seg, round(theta, 9) AS theta,
         |  round(7.0 / 8 * ($chain), 9) AS jk_var,
         |  round(sqrt(7.0 / 8 * ($chain)), 9) AS jk_se
         |FROM piv""".stripMargin
    } { (s, dir) =>
      val wExpr = lit(1L) + pmod(col("c_custkey"), lit(7L))
      val b = Tables.customer(s, dir)
        .filter(col("c_acctbal") > 0)
        .select(col("c_mktsegment").as("seg"),
          pmod(col("c_custkey"), lit(8L)).as("g"),
          (col("c_acctbal").cast(DecimalType(18, 2)) * wExpr).as("wy"),
          wExpr.as("w"))
      val gs = b.groupBy(col("seg"), col("g"))
        .agg(sum(col("wy")).cast(DecimalType(38, 4)).as("swy"),
          sum(col("w")).as("sw"))
      val t = gs.groupBy(col("seg"))
        .agg(sum(col("swy")).cast(DecimalType(38, 4)).as("twy"),
          sum(col("sw")).as("tw"))
      val piv = gs.join(broadcast(t), Seq("seg"))
        .groupBy(col("seg"))
        .agg(max(col("twy").cast(DoubleType) / col("tw")).as("theta"),
          (0 to 7).map(k =>
            max(when(col("g") === k,
              (col("twy") - col("swy")).cast(DoubleType) / (col("tw") - col("sw"))))
              .as(s"t$k")): _*)
      val chain = (0 to 7).map { k =>
        (col(s"t$k") - col("theta")) * (col(s"t$k") - col("theta"))
      }.reduceLeft(_ + _)
      piv.select(col("seg"), round(col("theta"), 9).as("theta"),
        round(lit(7.0) / 8 * chain, 9).as("jk_var"),
        round(sqrt(lit(7.0) / 8 * chain), 9).as("jk_se"))
    },

    // ------------------------------------------------------------------
    // Dominance ((n,k)-rule) suppression — the OTHER half of
    // disclosure control (etl_cell_suppression covers k-anonymity):
    // a published cell is unsafe when its largest contributor exceeds
    // 85% of the total (n=1) or the top two exceed 90% (n=2), because
    // a competitor could then bound the leader's value. Top-2 is
    // computed WITHOUT sorting cell members: one exact-decimal agg
    // produces (total, max1, count-at-max1), a conditional second agg
    // under the broadcast max produces max2 — so the corpus crosses
    // one keyed exchange twice and no task ever sorts a cell.
    "etl_dominance_rule" -> QueryDef.withOracle(
      """WITH v AS (
        |  SELECT n.n_name, c.c_mktsegment, c.c_custkey,
        |    CAST(c.c_acctbal AS DECIMAL(18,2)) AS bal
        |  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        |  WHERE c.c_acctbal > 0),
        |m1 AS (
        |  SELECT n_name, c_mktsegment,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(bal) AS DECIMAL(38,2)) AS total,
        |    CAST(max(bal) AS DECIMAL(18,2)) AS max1
        |  FROM v GROUP BY 1, 2),
        |m2 AS (
        |  SELECT v.n_name, v.c_mktsegment,
        |    CAST(sum(CASE WHEN v.bal = m1.max1 THEN 1 ELSE 0 END) AS BIGINT) AS n_at_max,
        |    max(CASE WHEN v.bal < m1.max1 THEN v.bal END) AS below
        |  FROM v JOIN m1 ON m1.n_name = v.n_name AND m1.c_mktsegment = v.c_mktsegment
        |  GROUP BY 1, 2)
        |SELECT m1.n_name, m1.c_mktsegment, m1.n,
        |  round(CAST(m1.total AS DOUBLE), 6) AS total,
        |  round(CAST(m1.max1 AS DOUBLE) / CAST(m1.total AS DOUBLE), 9) AS share1,
        |  round(CAST(m1.max1 + CASE WHEN m2.n_at_max >= 2 THEN m1.max1
        |      ELSE coalesce(m2.below, 0) END AS DOUBLE)
        |    / CAST(m1.total AS DOUBLE), 9) AS share2,
        |  CAST(m1.max1 AS DOUBLE) / CAST(m1.total AS DOUBLE) > 0.85
        |    OR CAST(m1.max1 + CASE WHEN m2.n_at_max >= 2 THEN m1.max1
        |        ELSE coalesce(m2.below, 0) END AS DOUBLE)
        |      / CAST(m1.total AS DOUBLE) > 0.90 AS suppress
        |FROM m1 JOIN m2
        |  ON m2.n_name = m1.n_name AND m2.c_mktsegment = m1.c_mktsegment""".stripMargin) { (s, dir) =>
      val v = Tables.customer(s, dir)
        .filter(col("c_acctbal") > 0)
        .join(broadcast(Tables.nation(s, dir)),
          col("n_nationkey") === col("c_nationkey"))
        .select(col("n_name"), col("c_mktsegment"),
          col("c_acctbal").cast(DecimalType(18, 2)).as("bal"))
      val keys = Seq("n_name", "c_mktsegment")
      val m1 = v.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("n"),
          sum(col("bal")).cast(DecimalType(38, 2)).as("total"),
          max(col("bal")).as("max1"))
      val m2 = v.join(broadcast(m1.select(col("n_name"), col("c_mktsegment"),
          col("max1"))), keys)
        .groupBy(keys.map(col): _*)
        .agg(sum(when(col("bal") === col("max1"), 1).otherwise(0)).as("n_at_max"),
          max(when(col("bal") < col("max1"), col("bal"))).as("below"))
      val top2 = (col("max1") + when(col("n_at_max") >= 2, col("max1"))
        .otherwise(coalesce(col("below"), lit(0)))).cast(DoubleType)
      val share1 = col("max1").cast(DoubleType) / col("total").cast(DoubleType)
      m1.join(m2, keys)
        .select(col("n_name"), col("c_mktsegment"), col("n"),
          round(col("total").cast(DoubleType), 6).as("total"),
          round(share1, 9).as("share1"),
          round(top2 / col("total").cast(DoubleType), 9).as("share2"),
          (share1 > 0.85 || top2 / col("total").cast(DoubleType) > 0.90)
            .as("suppress"))
    },

    // ------------------------------------------------------------------
    // Price-index compilation (Laspeyres / Paasche / Fisher per brand,
    // 1995 base → 1996 current) — the CPI arithmetic itself. Per-part
    // unit values come from exact decimal sums; prices and quantities
    // snap to ×10^6 / ×10^2 fixed point so the index numerators and
    // denominators are exact integer dot products (summed in
    // DECIMAL(38,0) ↔ HUGEINT — partitioning-invariant), and the only
    // doubles are the final divisions, written identically on both
    // engines. Plan: one filtered corpus agg (map-side combined), a
    // part-cardinality pivot, one keyed join to the part dim, one
    // 25-group agg — no corpus-scale shuffle after the first.
    "etl_price_index" -> QueryDef.withOracle(
      s"""WITH ${partYearSql(1995, 1996)},
        |${matchedSql("pp", 1995, 1996, 2)},
        |ix AS (
        |  SELECT p.p_brand, CAST(count(*) AS BIGINT) AS n_parts,
        |    CAST(sum(CAST(pp.p1 AS HUGEINT) * pp.q0) AS DOUBLE)
        |      / CAST(sum(CAST(pp.p0 AS HUGEINT) * pp.q0) AS DOUBLE) AS lasp,
        |    CAST(sum(CAST(pp.p1 AS HUGEINT) * pp.q1) AS DOUBLE)
        |      / CAST(sum(CAST(pp.p0 AS HUGEINT) * pp.q1) AS DOUBLE) AS paas
        |  FROM pp JOIN part p ON p.p_partkey = pp.l_partkey
        |  GROUP BY 1)
        |SELECT p_brand, n_parts,
        |  round(100 * lasp, 6) AS laspeyres,
        |  round(100 * paas, 6) AS paasche,
        |  round(100 * sqrt(lasp * paas), 6) AS fisher
        |FROM ix""".stripMargin) { (s, dir) =>
      val dec38 = DecimalType(38, 0)
      val pp = matchedParts(partYears(s, dir, 1995, 1996), 1995, 1996, 2)
      val ix = pp
        .join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
          col("p_partkey") === col("l_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_parts"),
          (sum((col("p1").cast(dec38) * col("q0")).cast(dec38)).cast(DoubleType)
            / sum((col("p0").cast(dec38) * col("q0")).cast(dec38)).cast(DoubleType))
            .as("lasp"),
          (sum((col("p1").cast(dec38) * col("q1")).cast(dec38)).cast(DoubleType)
            / sum((col("p0").cast(dec38) * col("q1")).cast(dec38)).cast(DoubleType))
            .as("paas"))
      ix.select(col("p_brand"), col("n_parts"),
        round(lit(100) * col("lasp"), 6).as("laspeyres"),
        round(lit(100) * col("paas"), 6).as("paasche"),
        round(lit(100) * sqrt(col("lasp") * col("paas")), 6).as("fisher"))
    },

    // ------------------------------------------------------------------
    // Chain-linked Laspeyres index (1995→1998 per brand) — how price
    // indices are ACTUALLY published: each year-over-year link uses
    // the previous year's basket (so the basket refreshes annually and
    // new/exited products only affect one link), and the index level
    // is the running product of links. Same fixed-point discipline as
    // etl_price_index per link; the chain product is one pinned
    // left-associated double expression. Plan: ONE filtered corpus agg
    // feeds all three links (persisted part-year relation); each link
    // is bookkeeping-scale from there.
    "etl_chain_index" -> QueryDef.withOracle {
      def linkSql(k: Int, y0: Int, y1: Int): String =
        s"""${matchedSql(s"pp$k", y0, y1, 1)},
           |l$k AS (
           |  SELECT p.p_brand,
           |    CAST(sum(CAST(pp$k.p1 AS HUGEINT) * pp$k.q0) AS DOUBLE)
           |      / CAST(sum(CAST(pp$k.p0 AS HUGEINT) * pp$k.q0) AS DOUBLE) AS l
           |  FROM pp$k JOIN part p ON p.p_partkey = pp$k.l_partkey
           |  GROUP BY 1)""".stripMargin
      s"""WITH ${partYearSql(1995, 1998)},
         |${linkSql(1, 1995, 1996)},
         |${linkSql(2, 1996, 1997)},
         |${linkSql(3, 1997, 1998)}
         |SELECT l1.p_brand,
         |  round(100 * l1.l, 6) AS link_1996,
         |  round(100 * l2.l, 6) AS link_1997,
         |  round(100 * l3.l, 6) AS link_1998,
         |  round(100 * l1.l * l2.l * l3.l, 6) AS chained_1998
         |FROM l1 JOIN l2 ON l2.p_brand = l1.p_brand
         |JOIN l3 ON l3.p_brand = l1.p_brand""".stripMargin
    } { (s, dir) =>
      val dec38 = DecimalType(38, 0)
      val py = partYears(s, dir, 1995, 1998)
        .persist() // one corpus agg feeds all three links
      val brand = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))
      def link(y0: Int, y1: Int, name: String) =
        matchedParts(py.filter(col("y").isin(y0, y1)), y0, y1, 1)
          .join(brand, col("p_partkey") === col("l_partkey"))
          .groupBy(col("p_brand"))
          .agg((sum((col("p1").cast(dec38) * col("q0")).cast(dec38)).cast(DoubleType)
            / sum((col("p0").cast(dec38) * col("q0")).cast(dec38)).cast(DoubleType))
            .as(name))
      link(1995, 1996, "l1")
        .join(link(1996, 1997, "l2"), Seq("p_brand"))
        .join(link(1997, 1998, "l3"), Seq("p_brand"))
        .select(col("p_brand"),
          round(lit(100) * col("l1"), 6).as("link_1996"),
          round(lit(100) * col("l2"), 6).as("link_1997"),
          round(lit(100) * col("l3"), 6).as("link_1998"),
          round(lit(100) * col("l1") * col("l2") * col("l3"), 6)
            .as("chained_1998"))
    },

    // ------------------------------------------------------------------
    // Benford first-digit screening — the audit pass statistical
    // agencies run over self-reported financial values. Digit
    // extraction is exact string arithmetic on the integer part (no
    // log10 bucketing of the VALUE, which would be float-fragile at
    // power-of-ten boundaries); only the EXPECTED frequency uses
    // log10(1+1/d), an identical closed-form on both engines. One
    // row-local projection + a 9-group agg + a 1-row total broadcast.
    "etl_benford" -> QueryDef.withOracle(
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
        |    AS INT) AS digit
        |  FROM orders WHERE o_totalprice >= 1),
        |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
        |SELECT c.digit, c.n,
        |  round(t.total * log10(1 + 1.0 / c.digit), 6) AS expected_n,
        |  round((c.n - t.total * log10(1 + 1.0 / c.digit))
        |      * (c.n - t.total * log10(1 + 1.0 / c.digit))
        |      / (t.total * log10(1 + 1.0 / c.digit)), 6) AS chi2_term
        |FROM c CROSS JOIN t""".stripMargin) { (s, dir) =>
      val c = Tables.orders(s, dir)
        .filter(col("o_totalprice") >= 1)
        .select(substring(floor(col("o_totalprice")).cast(LongType)
          .cast(StringType), 1, 1).cast(IntegerType).as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val t = c.agg(sum(col("n")).as("total"))
      val exp = col("total") * log10(lit(1) + lit(1.0) / col("digit"))
      c.crossJoin(broadcast(t))
        .select(col("digit"), col("n"),
          round(exp, 6).as("expected_n"),
          round((col("n") - exp) * (col("n") - exp) / exp, 6).as("chi2_term"))
    },

    // ------------------------------------------------------------------
    // Pairwise Pearson correlation matrix over the lineitem measures in
    // ONE scan: all Σx, Σx², Σxy moments are exact decimal sums
    // (products of DECIMAL(18,2) stay exact at (37,4)), so the single
    // 1-row aggregate is partitioning-invariant; the 6 pair rows are
    // exploded row-locally from that one row, and the correlation
    // formula is the identical double expression on both engines.
    // A built-in corr() would be order-dependent in its float
    // accumulation — this is the deterministic formulation of the same
    // statistic.
    "etl_correlation" -> QueryDef.withOracle {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val sums = cols.map(c =>
        s"""    CAST(sum(CAST($c AS DECIMAL(18,2))) AS DOUBLE) AS s_$c,
           |    CAST(sum(CAST($c AS DECIMAL(18,2)) * CAST($c AS DECIMAL(18,2))) AS DOUBLE)
           |      AS ss_$c""".stripMargin).mkString(",\n")
      val cross = (for {
        i <- cols.indices; j <- cols.indices if i < j
      } yield s"""    CAST(sum(CAST(${cols(i)} AS DECIMAL(18,2))
           |      * CAST(${cols(j)} AS DECIMAL(18,2))) AS DOUBLE)
           |      AS sp_${cols(i)}_${cols(j)}""".stripMargin).mkString(",\n")
      val pairs = (for {
        i <- cols.indices; j <- cols.indices if i < j
      } yield {
        val (a, b) = (cols(i), cols(j))
        s"""SELECT '$a' AS col_a, '$b' AS col_b,
           |  round((n * sp_${a}_$b - s_$a * s_$b)
           |    / (sqrt(n * ss_$a - s_$a * s_$a) * sqrt(n * ss_$b - s_$b * s_$b)), 9)
           |    AS corr_r
           |FROM m""".stripMargin
      }).mkString("\nUNION ALL\n")
      s"""WITH m AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n,
         |$sums,
         |$cross
         |  FROM lineitem)
         |$pairs""".stripMargin
    } { (s, dir) =>
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      def d2(c: String) = col(c).cast(DecimalType(18, 2))
      val m = Tables.lineitem(s, dir).agg(
        count(lit(1)).cast(DoubleType).as("n"),
        (cols.flatMap(c => Seq(
          sum(d2(c)).cast(DoubleType).as(s"s_$c"),
          sum(d2(c) * d2(c)).cast(DoubleType).as(s"ss_$c"))) ++
          (for { i <- cols.indices; j <- cols.indices if i < j } yield
            sum(d2(cols(i)) * d2(cols(j))).cast(DoubleType)
              .as(s"sp_${cols(i)}_${cols(j)}"))): _*)
      val pairRows = for { i <- cols.indices; j <- cols.indices if i < j } yield {
        val (a, b) = (cols(i), cols(j))
        struct(lit(a).as("col_a"), lit(b).as("col_b"),
          round((col("n") * col(s"sp_${a}_$b") - col(s"s_$a") * col(s"s_$b"))
            / (sqrt(col("n") * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a"))
              * sqrt(col("n") * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b"))), 9)
            .as("corr_r"))
      }
      m.select(explode(array(pairRows: _*)).as("p")).select("p.*")
    },

    // ------------------------------------------------------------------
    // 2×12-term centered moving average + seasonal-irregular ratios —
    // the opening move of X-11 seasonal adjustment. The corpus
    // collapses to ≤ one row per month FIRST (exact decimal sums), so
    // the global window rides a calendar-bounded bookkeeping relation
    // (~80 rows regardless of corpus size — same argument as the
    // per-bucket offset windows). The MA is summed via explicit
    // lag/lead terms in one left-associated chain, NOT a window avg,
    // so the double addition order is pinned on both engines.
    "etl_seasonal_ma" -> QueryDef.withOracle(
      s"""WITH ${movingAvgSql()}
        |SELECT mo_s,
        |  floor(total * 100 + 0.5) / 100.0 AS total,
        |  floor(ma * 100 + 0.5) / 100.0 AS trend_ma,
        |  round(total / ma, 9) AS si_ratio
        |FROM w WHERE ma IS NOT NULL""".stripMargin) { (s, dir) =>
      movingAvg(s, dir)
        .select(col("mo_s"),
          (floor(col("total") * 100 + lit(0.5)) / lit(100.0)).as("total"),
          (floor(col("ma") * 100 + lit(0.5)) / lit(100.0)).as("trend_ma"),
          round(col("total") / col("ma"), 9).as("si_ratio"))
    },

    // ------------------------------------------------------------------
    // Per-nation Gini coefficient of customer spend — the concentration
    // statistic behind published inequality / market-concentration
    // tables. Needs each customer's GLOBAL rank within their nation;
    // a direct row_number window would sort whole nations in single
    // tasks, so this rides the q34 distributed-rank plan: 200 literal
    // range buckets over spend, per-(nation, bucket) counts → running
    // offsets (≤ nations×200 bookkeeping rows), local row_number per
    // cell + broadcast offset = exact global rank. Gini from the ranks
    // in closed form: G = 2·Σ(rank·x)/(n·Σx) − (n+1)/n. Spend sums are
    // exact DECIMAL; the rank·spend sum's accumulation-order noise is
    // ~1e-14 relative, far under the 9-dp rounding.
    "etl_gini" -> QueryDef.withOracle(
      s"""WITH $nationSpendSql,
        |r AS (
        |  SELECT n_name, spend,
        |    row_number() OVER (PARTITION BY n_name
        |      ORDER BY spend ASC, custkey ASC) AS rnk
        |  FROM j)
        |SELECT n_name,
        |  CAST(count(*) AS BIGINT) AS n_cust,
        |  round(CAST(sum(CAST(spend AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_spend,
        |  round(2.0 * sum(rnk * spend) / (count(*) * sum(spend))
        |        - (count(*) + 1.0) / count(*), 9) AS gini
        |FROM r GROUP BY n_name""".stripMargin) { (s, dir) =>
      val j = nationSpend(s, dir)
        .select(col("n_name"), col("o_custkey").as("custkey"), col("spend"))
      val mmx = j.agg(min(col("spend")), max(col("spend"))).head()
      val withB = j.withColumn("bkt",
        Relational.rangeBucket(col("spend"), mmx.getDouble(0), mmx.getDouble(1), 200))
      val wOff = Window.partitionBy(col("n_name")).orderBy(col("bkt").asc)
      val offs = withB.groupBy(col("n_name"), col("bkt"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("n_name"), col("bkt"),
          coalesce(sum(col("cnt"))
            .over(wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("off"))
      val wLocal = Window.partitionBy(col("n_name"), col("bkt"))
        .orderBy(col("spend").asc, col("custkey").asc)
      withB
        .withColumn("lrn", row_number().over(wLocal))
        .join(broadcast(offs), Seq("n_name", "bkt"))
        .withColumn("rnk", col("off") + col("lrn"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          round(sum(col("spend").cast(DecimalType(18, 2))).cast(DoubleType), 2)
            .as("total_spend"),
          sum(col("rnk") * col("spend")).as("s1"),
          sum(col("spend")).as("s2"))
        .select(col("n_name"), col("n_cust"), col("total_spend"),
          round(lit(2.0) * col("s1") / (col("n_cust") * col("s2"))
            - (col("n_cust") + lit(1.0)) / col("n_cust"), 9).as("gini"))
    },

    // ------------------------------------------------------------------
    // Survey ratio estimator with linearized (Taylor) variance — the
    // classic design-based estimate R̂ = Σy/Σx and its SRS variance
    // v(R̂) = Σ(y−R̂x)² / ((n−1)·n·x̄²). Two corpus passes: one keyed
    // agg for the totals, then the residual pass re-reads the fact with
    // the 3-row totals broadcast back. Residual squares are snapped to
    // fixed point (×1000, exact BIGINT sums) so the order-sensitive
    // Σe² accumulation is bit-identical on any partitioning/engine —
    // the same trick as text_bigram_lm's log-prob sums.
    "etl_ratio_estimator" -> QueryDef.withOracle(
      """WITH g AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_y,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_x
        |  FROM lineitem GROUP BY 1),
        |e AS (
        |  SELECT l.l_returnflag,
        |    CAST(round(pow(l.l_extendedprice - (g.sum_y / g.sum_x) * l.l_quantity, 2)
        |         * 1000, 0) AS BIGINT) AS e2_fp
        |  FROM lineitem l JOIN g ON g.l_returnflag = l.l_returnflag)
        |SELECT g.l_returnflag, g.n, g.sum_y, g.sum_x,
        |  round(g.sum_y / g.sum_x, 9) AS ratio_est,
        |  round(sum(e.e2_fp) / 1000.0
        |        / ((g.n - 1.0) * g.n * pow(g.sum_x / g.n, 2)), 9) AS var_lin,
        |  round(sqrt(sum(e.e2_fp) / 1000.0
        |        / ((g.n - 1.0) * g.n * pow(g.sum_x / g.n, 2))), 9) AS se
        |FROM e JOIN g ON g.l_returnflag = e.l_returnflag
        |GROUP BY g.l_returnflag, g.n, g.sum_y, g.sum_x""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_extendedprice"), col("l_quantity"))
      val g = li.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_y"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_x"))
      val e2fp = round(pow(col("l_extendedprice")
        - (col("sum_y") / col("sum_x")) * col("l_quantity"), 2) * 1000, 0)
        .cast(LongType)
      val denom = (col("n") - lit(1.0)) * col("n") * pow(col("sum_x") / col("n"), 2)
      // per-row e2_fp can reach ~1e12, so a BIGINT sum would overflow
      // around 1e7 rows per group at corpus scale — accumulate as
      // DECIMAL(38,0) (exact, 128-bit) and drop to double only at the
      // final division, exactly where the DuckDB HUGEINT sum does
      li.join(broadcast(g), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"), col("n"), col("sum_y"), col("sum_x"))
        .agg(sum(e2fp.cast(DecimalType(38, 0))).as("se2"))
        .select(col("l_returnflag"), col("n"), col("sum_y"), col("sum_x"),
          round(col("sum_y") / col("sum_x"), 9).as("ratio_est"),
          round(col("se2").cast(DoubleType) / 1000.0 / denom, 9).as("var_lin"),
          round(sqrt(col("se2").cast(DoubleType) / 1000.0 / denom), 9).as("se"))
    },

    // ------------------------------------------------------------------
    // Fellegi-Sunter linkage weights — the probabilistic layer on top
    // of etl_record_linkage's deterministic blocking: candidate pairs
    // (blocked on noun + size so the pair space stays bounded) are
    // scored Σ over comparison fields of ln(m/u) when the field agrees
    // and ln((1−m)/(1−u)) when it disagrees; u (chance agreement) is
    // ESTIMATED from the candidate set itself (exact 0/1 sums → one
    // 1-row broadcast), m is the fixed quality literal 0.95. Scores
    // classify link / possible / non-link at ±2. Guard rails: an
    // agreeing row implies u > 0 and a disagreeing row implies u < 1,
    // so neither ln sees 0 on the branch that evaluates it.
    //
    // SCALE CAP (mirrored in the oracle, same discipline as
    // etl_record_linkage and the LSH band buckets): blocks larger than
    // 1024 members are EXCLUDED — pair growth within a block is
    // quadratic, and a templated/replicated corpus merges same-keyed
    // blocks across replicas (measured: sf0.1 max block 69 → sf10d max
    // block 6,900 = 5.09e9 uncapped pairs, which the r15 sf10d battery
    // caught as a non-terminating persist). An oversized block is also
    // USELESS for linkage — Fellegi-Sunter practice refines the
    // blocking key rather than scoring a degenerate block. The cap
    // does not bind below ~15× the graded scale.
    "etl_linkage_weights" -> QueryDef.withOracle(
      """WITH p AS (
        |  SELECT p_partkey, p_brand, p_type, p_size,
        |    regexp_extract(p_name, '([a-z0-9]+)$', 1) AS noun,
        |    regexp_extract(p_name, '^([a-z0-9]+)', 1) AS adj
        |  FROM part),
        |ok AS (
        |  SELECT noun, p_size FROM p GROUP BY noun, p_size
        |  HAVING count(*) <= 1024),
        |pr AS (
        |  SELECT a.p_partkey AS partkey_a, b.p_partkey AS partkey_b,
        |    a.noun || ':' || CAST(a.p_size AS VARCHAR) AS block,
        |    (a.p_brand = b.p_brand) AS ag_brand,
        |    (a.p_type = b.p_type) AS ag_type,
        |    (a.adj = b.adj) AS ag_adj
        |  FROM p a JOIN p b ON b.noun = a.noun AND b.p_size = a.p_size
        |    AND a.p_partkey < b.p_partkey
        |  JOIN ok ON ok.noun = a.noun AND ok.p_size = a.p_size),
        |u AS (
        |  SELECT
        |    sum(CASE WHEN ag_brand THEN 1.0 ELSE 0 END) / count(*) AS u_brand,
        |    sum(CASE WHEN ag_type THEN 1.0 ELSE 0 END) / count(*) AS u_type,
        |    sum(CASE WHEN ag_adj THEN 1.0 ELSE 0 END) / count(*) AS u_adj
        |  FROM pr),
        |sc AS (
        |  SELECT pr.partkey_a, pr.partkey_b, pr.block,
        |    pr.ag_brand, pr.ag_type, pr.ag_adj,
        |    round(
        |      (CASE WHEN pr.ag_brand THEN ln(0.95 / u.u_brand)
        |            ELSE ln(0.05 / (1 - u.u_brand)) END) +
        |      (CASE WHEN pr.ag_type THEN ln(0.95 / u.u_type)
        |            ELSE ln(0.05 / (1 - u.u_type)) END) +
        |      (CASE WHEN pr.ag_adj THEN ln(0.95 / u.u_adj)
        |            ELSE ln(0.05 / (1 - u.u_adj)) END), 6) AS fs_score
        |  FROM pr CROSS JOIN u)
        |SELECT *,
        |  CASE WHEN fs_score >= 2 THEN 'link'
        |       WHEN fs_score <= -2 THEN 'non_link'
        |       ELSE 'possible' END AS verdict
        |FROM sc""".stripMargin) { (s, dir) =>
      val p0 = Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"),
          regexp_extract(col("p_name"), "([a-z0-9]+)$", 1).as("noun"),
          regexp_extract(col("p_name"), "^([a-z0-9]+)", 1).as("adj"))
      // block-size cap (see header): bounded blocks ⇒ bounded pairs
      val ok = p0.groupBy(col("noun"), col("p_size"))
        .agg(count(lit(1)).as("blk_n")).filter(col("blk_n") <= 1024)
        .select(col("noun"), col("p_size"))
      val p = p0.join(broadcast(ok), Seq("noun", "p_size"))
      val a = p.select(col("p_partkey").as("partkey_a"), col("p_brand").as("br_a"),
        col("p_type").as("ty_a"), col("adj").as("adj_a"), col("noun"), col("p_size"))
      val b = p.select(col("p_partkey").as("partkey_b"), col("p_brand").as("br_b"),
        col("p_type").as("ty_b"), col("adj").as("adj_b"), col("noun"), col("p_size"))
      val pr = a.join(b, Seq("noun", "p_size"))
        .filter(col("partkey_a") < col("partkey_b"))
        .select(col("partkey_a"), col("partkey_b"),
          concat(col("noun"), lit(":"), col("p_size").cast("string")).as("block"),
          (col("br_a") === col("br_b")).as("ag_brand"),
          (col("ty_a") === col("ty_b")).as("ag_type"),
          (col("adj_a") === col("adj_b")).as("ag_adj"))
        .persist() // read twice: the u-rate agg and the scored output
      val u = pr.agg(
        (sum(when(col("ag_brand"), 1.0).otherwise(0.0)) / count(lit(1))).as("u_brand"),
        (sum(when(col("ag_type"), 1.0).otherwise(0.0)) / count(lit(1))).as("u_type"),
        (sum(when(col("ag_adj"), 1.0).otherwise(0.0)) / count(lit(1))).as("u_adj"))
      def w(ag: Column, uc: Column): Column =
        when(ag, log(lit(0.95) / uc)).otherwise(log(lit(0.05) / (lit(1) - uc)))
      pr.crossJoin(broadcast(u)) // 1-row u-rate relation
        .withColumn("fs_score", round(
          w(col("ag_brand"), col("u_brand")) +
          w(col("ag_type"), col("u_type")) +
          w(col("ag_adj"), col("u_adj")), 6))
        .select(col("partkey_a"), col("partkey_b"), col("block"),
          col("ag_brand"), col("ag_type"), col("ag_adj"), col("fs_score"),
          when(col("fs_score") >= 2, "link")
            .when(col("fs_score") <= -2, "non_link")
            .otherwise("possible").as("verdict"))
    },

    // ------------------------------------------------------------------
    // Capture-recapture (dual-system) population estimation — the
    // census-coverage move: two independent "capture" lists (customers
    // ordering in 1996 vs 1997), overlap m, Petersen N̂ = n1·n2/m plus
    // the bias-corrected Chapman estimator and its SE. Two distinct-key
    // scans + one key-intersection count; everything after is 1-row
    // closed-form double math from exact integers.
    "etl_capture_recapture" -> QueryDef.withOracle(
      """WITH a AS (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01'),
        |b AS (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'),
        |c AS (
        |  SELECT (SELECT count(*) FROM a) AS n1,
        |         (SELECT count(*) FROM b) AS n2,
        |         (SELECT count(*) FROM a JOIN b USING (o_custkey)) AS m)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  CAST(m AS BIGINT) AS m_both,
        |  round(n1 * 1.0 * n2 / m, 9) AS n_petersen,
        |  round((n1 + 1.0) * (n2 + 1.0) / (m + 1) - 1, 9) AS n_chapman,
        |  round(sqrt((n1 + 1.0) * (n2 + 1.0) * (n1 - m) * (n2 - m)
        |        / (pow(m + 1.0, 2) * (m + 2))), 9) AS se_chapman
        |FROM c""".stripMargin) { (s, dir) =>
      def captured(from: String, to: String) = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit(from).cast(TimestampType) &&
          col("o_orderdate") < lit(to).cast(TimestampType))
        .select(col("o_custkey")).distinct()
      val a = captured("1996-01-01", "1997-01-01").persist() // reused: n1 + overlap
      val b = captured("1997-01-01", "1998-01-01").persist() // reused: n2 + overlap
      val n1 = a.agg(count(lit(1)).as("n1"))
      val n2 = b.agg(count(lit(1)).as("n2"))
      val m = a.join(b, Seq("o_custkey")).agg(count(lit(1)).as("m"))
      n1.crossJoin(n2).crossJoin(m) // three 1-row relations
        .select(col("n1"), col("n2"), col("m").as("m_both"),
          round(col("n1") * lit(1.0) * col("n2") / col("m"), 9).as("n_petersen"),
          round((col("n1") + 1.0) * (col("n2") + 1.0) / (col("m") + 1) - 1, 9)
            .as("n_chapman"),
          round(sqrt((col("n1") + 1.0) * (col("n2") + 1.0)
            * (col("n1") - col("m")) * (col("n2") - col("m"))
            / (pow(col("m") + 1.0, 2) * (col("m") + 2))), 9).as("se_chapman"))
    },

    // ------------------------------------------------------------------
    // Base-5 random rounding of a published count table — the StatCan
    // disclosure-control move that replaces every cell count with a
    // multiple of 5, unbiased (round up with probability residual/5).
    // The "coin" is the md5-uniform of the CELL KEY, never random():
    // the same table rounds identically on every engine, rerun and
    // retry — randomness that can't be replayed is a correctness bug
    // in a published statistic. Cell table is bookkeeping-sized; the
    // only corpus-scale work is the original keyed count.
    "etl_random_rounding" -> QueryDef.withOracle(
      """WITH cells AS (
        |  SELECT n.n_name, c.c_mktsegment, CAST(count(*) AS BIGINT) AS n
        |  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT *, n % 5 AS res,
        |    ('0x' || substr(md5(n_name || '|' || c_mktsegment), 1, 15))::BIGINT
        |      % 1000000 AS u
        |  FROM cells)
        |SELECT n_name, c_mktsegment, n,
        |  CASE WHEN res = 0 THEN n
        |       WHEN u * 5 < res * 1000000 THEN n - res + 5
        |       ELSE n - res END AS n_rounded
        |FROM r""".stripMargin) { (s, dir) =>
      val nat = Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))
      val res = col("n") % 5
      val u = pmod(conv(substring(md5(
        concat(col("n_name"), lit("|"), col("c_mktsegment")).cast(BinaryType)),
        1, 15), 16, 10).cast(LongType), lit(1000000L))
      Tables.customer(s, dir)
        .join(broadcast(nat), col("n_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
        .withColumn("n_rounded",
          when(res === 0, col("n"))
            .when(u * 5 < res * 1000000L, col("n") - res + 5)
            .otherwise(col("n") - res))
    },

    // ------------------------------------------------------------------
    // k-anonymity risk profile over quasi-identifiers — the microdata-
    // release check (distinct from etl_cell_suppression, which protects
    // PUBLISHED AGGREGATE tables): every (nation, segment, $1000
    // balance band) equivalence class with its population k; classes
    // under k=5 are re-identification risks. One keyed agg; the summary
    // a release officer reads is the k distribution itself.
    "etl_kanonymity" -> QueryDef.withOracle(
      """SELECT n.n_name, c.c_mktsegment,
        |  CAST(floor(c.c_acctbal / 1000) AS BIGINT) AS bal_band,
        |  CAST(count(*) AS BIGINT) AS k,
        |  count(*) < 5 AS at_risk
        |FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        |GROUP BY 1, 2, 3""".stripMargin) { (s, dir) =>
      val nat = Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))
      Tables.customer(s, dir)
        .join(broadcast(nat), col("n_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000).cast(LongType).as("bal_band"))
        .agg(count(lit(1)).as("k"))
        .withColumn("at_risk", col("k") < 5)
    },

    // ------------------------------------------------------------------
    // Neyman optimal sample allocation — given a total sample budget,
    // allocate to strata ∝ N_h·S_h (stratum size × stddev), the design
    // that minimizes the variance of the stratified mean. Stratum
    // moments come from exact DECIMAL sums (Σx, Σx² — never the
    // order-sensitive stddev_pop aggregate), so S_h is bit-identical
    // on both engines; everything after the one keyed agg is
    // bookkeeping over ≤|nations| rows (the Σ N_h·S_h total is a 1-row
    // broadcast). floor(x+0.5) rounding avoids banker's-rounding
    // disagreement on exact halves.
    "etl_stratified_alloc" -> QueryDef.withOracle(
      """WITH m AS (
        |  SELECT n.n_name,
        |    CAST(count(*) AS BIGINT) AS n_h,
        |    CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))
        |             * CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sxx
        |  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        |  GROUP BY n.n_name),
        |sd AS (
        |  SELECT n_name, n_h,
        |    sqrt(sxx / n_h - pow(sx / n_h, 2)) AS s_h
        |  FROM m),
        |tot AS (SELECT sum(n_h * s_h) AS w FROM sd)
        |SELECT sd.n_name, sd.n_h, round(sd.s_h, 9) AS s_h,
        |  CAST(floor(10000.0 * sd.n_h * sd.s_h / tot.w + 0.5) AS BIGINT) AS alloc_neyman,
        |  CAST(floor(10000.0 * sd.n_h / (SELECT sum(n_h) FROM sd) + 0.5) AS BIGINT) AS alloc_prop
        |FROM sd CROSS JOIN tot""".stripMargin) { (s, dir) =>
      val bal = col("c_acctbal").cast(DecimalType(18, 2))
      val nat = Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))
      val m = Tables.customer(s, dir)
        .join(broadcast(nat), col("n_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_h"),
          sum(bal).cast(DoubleType).as("sx"),
          sum(bal * bal).cast(DoubleType).as("sxx"))
        .withColumn("s_h", sqrt(col("sxx") / col("n_h") - pow(col("sx") / col("n_h"), 2)))
      val tot = m.agg(sum(col("n_h") * col("s_h")).as("w"),
        sum(col("n_h")).as("n_tot"))
      m.crossJoin(broadcast(tot))
        .select(col("n_name"), col("n_h"), round(col("s_h"), 9).as("s_h"),
          floor(lit(10000.0) * col("n_h") * col("s_h") / col("w") + 0.5)
            .cast(LongType).as("alloc_neyman"),
          floor(lit(10000.0) * col("n_h") / col("n_tot") + 0.5)
            .cast(LongType).as("alloc_prop"))
    },

    // ------------------------------------------------------------------
    // Two-sample Kolmogorov–Smirnov drift test: click vs view value
    // distributions. The ECDFs are built on the VALUE-GROUPED relation
    // (2-decimal values → the distinct-value domain is bounded by the
    // value range, not the corpus — a bookkeeping relation like the
    // month/bucket windows elsewhere), so the raw stream only pays one
    // map-side-combined conditional agg. D and its location fall out of
    // one ordered pass over those grouped rows; the final argmax is an
    // orderBy+limit(1) (TakeOrdered), never a full sort of raw events.
    "etl_ks_test" -> QueryDef.withOracle(
      """WITH g AS (
        |  SELECT value,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS cb
        |  FROM events WHERE event_type IN ('click', 'view') GROUP BY value),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |             CAST(sum(cb) AS BIGINT) AS nb FROM g),
        |c AS (
        |  SELECT g.value,
        |    CAST(sum(g.ca) OVER (ORDER BY g.value) AS BIGINT) AS cca,
        |    CAST(sum(g.cb) OVER (ORDER BY g.value) AS BIGINT) AS ccb,
        |    t.na, t.nb
        |  FROM g CROSS JOIN t)
        |SELECT round(abs(CAST(cca AS DOUBLE) / na - CAST(ccb AS DOUBLE) / nb), 9)
        |    AS ks_d,
        |  value AS at_value, na AS n_a, nb AS n_b
        |FROM c ORDER BY ks_d DESC, at_value ASC LIMIT 1""".stripMargin) { (s, dir) =>
      val g = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "view"))
        .groupBy(col("value"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("ca"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("cb"))
      val t = g.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
      // global window over the bounded value-domain relation (≲10⁴ rows
      // at any corpus size) — bookkeeping, not a corpus sort
      val w = Window.orderBy(col("value"))
      g.crossJoin(broadcast(t))
        .withColumn("cca", sum(col("ca")).over(w))
        .withColumn("ccb", sum(col("cb")).over(w))
        .select(
          round(abs(col("cca").cast(DoubleType) / col("na")
            - col("ccb").cast(DoubleType) / col("nb")), 9).as("ks_d"),
          col("value").as("at_value"), col("na").as("n_a"), col("nb").as("n_b"))
        .orderBy(col("ks_d").desc, col("at_value").asc)
        .limit(1)
    },

    // ------------------------------------------------------------------
    // Population stability index — the standard drift score between a
    // reference window (first 15 days) and the rest of the stream, on
    // 10 equal-width bins over the reference's [min, max]. Counts are
    // exact; shares are Laplace-smoothed ((n+1)/(N+10)) so empty bins
    // can't produce ln(0); each bin's (p−q)·ln(p/q) contribution is
    // fixed-point-rounded per bin (the text_bigram_lm ln protocol) so
    // the output never rides a cross-engine float sum. Two broadcast
    // 1-row aggregates + one 20-row grouped agg — the stream shuffles
    // nothing.
    "etl_psi" -> QueryDef.withOracle(
      """WITH b AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day, value
        |  FROM events),
        |sp AS (SELECT min(day) + 15 AS cut FROM b),
        |rng AS (
        |  SELECT min(value) AS vmin, max(value) AS vmax
        |  FROM b CROSS JOIN sp WHERE day < cut),
        |binned AS (
        |  SELECT CASE WHEN day < cut THEN 'ref' ELSE 'cur' END AS period,
        |    least(9, greatest(0, CAST(floor((value - vmin)
        |      / ((vmax - vmin) / 10.0)) AS INT))) AS bin
        |  FROM b CROSS JOIN sp CROSS JOIN rng),
        |c AS (
        |  SELECT bin,
        |    CAST(sum(CASE WHEN period = 'ref' THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
        |    CAST(sum(CASE WHEN period = 'cur' THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
        |  FROM binned GROUP BY bin),
        |t AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
        |             CAST(sum(n_cur) AS BIGINT) AS tc FROM c)
        |SELECT c.bin, c.n_ref, c.n_cur,
        |  CAST(floor(((c.n_ref + 1.0) / (t.tr + 10) - (c.n_cur + 1.0) / (t.tc + 10))
        |    * ln(((c.n_ref + 1.0) / (t.tr + 10)) / ((c.n_cur + 1.0) / (t.tc + 10)))
        |    * 1000000000 + 0.5) AS BIGINT) / 1.0e9 AS psi_bin
        |FROM c CROSS JOIN t""".stripMargin) { (s, dir) =>
      val b = Tables.eventsTimed(s, dir)
        .select(expr("ts_s div 86400").as("day"), col("value"))
      val sp = b.agg((min(col("day")) + 15).as("cut"))
      val withCut = b.crossJoin(broadcast(sp))
      val rng = withCut.filter(col("day") < col("cut"))
        .agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"))
      val c = withCut.crossJoin(broadcast(rng))
        .select(when(col("day") < col("cut"), "ref").otherwise("cur").as("period"),
          least(lit(9), greatest(lit(0),
            floor((col("value") - col("vmin"))
              / ((col("vmax") - col("vmin")) / 10.0)).cast(IntegerType))).as("bin"))
        .groupBy(col("bin"))
        .agg(sum(when(col("period") === "ref", 1L).otherwise(0L)).as("n_ref"),
          sum(when(col("period") === "cur", 1L).otherwise(0L)).as("n_cur"))
      val t = c.agg(sum(col("n_ref")).as("tr"), sum(col("n_cur")).as("tc"))
      val p = (col("n_ref") + 1.0) / (col("tr") + 10)
      val q = (col("n_cur") + 1.0) / (col("tc") + 10)
      c.crossJoin(broadcast(t))
        .select(col("bin"), col("n_ref"), col("n_cur"),
          (floor((p - q) * log(p / q) * 1000000000L + 0.5).cast(LongType)
            / lit(1.0e9)).as("psi_bin"))
    },

    // ------------------------------------------------------------------
    // Digit-preference (heaping) screening: the last cents digit of
    // reported values should be uniform; rounding-prone collection
    // heaps on 0/5. Chi-square GOF via the Σo²-identity
    // (Σ(o−n/10)²/(n/10) = 10·Σo²/n − n), which needs no per-digit
    // expected-count rows and is exact-integer until the final double.
    // One map-side-combined (type, digit) agg + a 5-row regroup.
    "etl_digit_preference" -> QueryDef.withOracle(
      """WITH d AS (
        |  SELECT event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) % 10 AS digit
        |  FROM events),
        |c AS (
        |  SELECT event_type, digit, CAST(count(*) AS BIGINT) AS n
        |  FROM d GROUP BY event_type, digit)
        |SELECT event_type, CAST(sum(n) AS BIGINT) AS n,
        |  round(10.0 * CAST(sum(CAST(n AS DECIMAL(38,0)) * n) AS DOUBLE)
        |    / sum(n) - sum(n), 9) AS chi2
        |FROM c GROUP BY event_type""".stripMargin) { (s, dir) =>
      // n² as exact decimal: per-digit counts at corpus scale overflow
      // a long product; decimal sums stay exact AND order-invariant
      // (a double Σn² would be partitioning-dependent)
      Tables.events(s, dir)
        .select(col("event_type"),
          (floor(col("value") * 100 + 0.5).cast(LongType) % 10).as("digit"))
        .groupBy(col("event_type"), col("digit"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("event_type"))
        .agg(sum(col("n")).as("n_sum"),
          round(lit(10.0)
            * sum(col("n").cast(DecimalType(38, 0)) * col("n")).cast(DoubleType)
            / sum(col("n")) - sum(col("n")), 9).as("chi2"))
        .select(col("event_type"), col("n_sum").as("n"), col("chi2"))
    },

    // ------------------------------------------------------------------
    // Winsorization at exact per-type [p5, p95]: the robust-statistics
    // clamp (outlier treatment that keeps the row count, unlike
    // trimming). Exact percentiles come from the value-GROUPED relation
    // (2-dp values ⇒ bounded domain — the etl_ks_test bookkeeping
    // argument): cumulate counts per type over values, pick the
    // smallest value whose cumulative rank reaches ceil(q·n). The raw
    // stream pays one map-side-combined (type, value) count + one
    // broadcast limits join; means are exact DECIMAL sums → double.
    "etl_winsorize" -> QueryDef.withOracle(
      """WITH g AS (
        |  SELECT event_type, value, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY event_type, value),
        |c AS (
        |  SELECT event_type, value, cnt,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY value) AS cum,
        |    sum(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM g),
        |lim AS (
        |  SELECT event_type, max(n) AS n,
        |    min(CASE WHEN cum >= ceil(0.05 * n) THEN value END) AS p05,
        |    min(CASE WHEN cum >= ceil(0.95 * n) THEN value END) AS p95
        |  FROM c GROUP BY event_type)
        |SELECT e.event_type, CAST(l.n AS BIGINT) AS n, l.p05, l.p95,
        |  CAST(sum(CASE WHEN e.value < l.p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
        |  CAST(sum(CASE WHEN e.value > l.p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
        |  round(CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) / l.n, 9) AS mean_raw,
        |  round(CAST(sum(CAST(least(greatest(e.value, l.p05), l.p95)
        |    AS DECIMAL(18,2))) AS DOUBLE) / l.n, 9) AS mean_wins
        |FROM events e JOIN lim l ON l.event_type = e.event_type
        |GROUP BY e.event_type, l.n, l.p05, l.p95""".stripMargin) { (s, dir) =>
      val g = Tables.events(s, dir)
        .groupBy(col("event_type"), col("value"))
        .agg(count(lit(1)).as("cnt"))
      // both windows ride the bounded (type × 2-dp-value) relation
      val wCum = Window.partitionBy(col("event_type")).orderBy(col("value"))
      val wAll = Window.partitionBy(col("event_type"))
      val lim = g
        .withColumn("cum", sum(col("cnt")).over(wCum))
        .withColumn("n", sum(col("cnt")).over(
          wAll.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"),
          min(when(col("cum") >= ceil(lit(0.05) * col("n")), col("value"))).as("p05"),
          min(when(col("cum") >= ceil(lit(0.95) * col("n")), col("value"))).as("p95"))
      val clamped = least(greatest(col("value"), col("p05")), col("p95"))
      Tables.events(s, dir)
        .join(broadcast(lim), "event_type")
        .groupBy(col("event_type"), col("n"), col("p05"), col("p95"))
        .agg(
          sum(when(col("value") < col("p05"), 1L).otherwise(0L)).as("n_lo"),
          sum(when(col("value") > col("p95"), 1L).otherwise(0L)).as("n_hi"),
          round(sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
            / col("n"), 9).as("mean_raw"),
          round(sum(clamped.cast(DecimalType(18, 2))).cast(DoubleType)
            / col("n"), 9).as("mean_wins"))
        .select(col("event_type"), col("n"), col("p05"), col("p95"),
          col("n_lo"), col("n_hi"), col("mean_raw"), col("mean_wins"))
    },

    // ------------------------------------------------------------------
    // Ordinary least squares per group (extended price on quantity, by
    // return flag): slope/intercept/R² from the five exact DECIMAL
    // moment sums — ONE map-side-combined scan, nothing after it
    // scales with rows. The closed-form normal equations run on
    // doubles cast from the exact sums in pinned left-assoc order
    // (n·Σxy − Σx·Σy cancels catastrophically at corpus scale, but
    // identically on both engines), outputs snapped ×10⁹. This is the
    // etl_correlation discipline extended to the fit itself.
    "etl_regression_ols" -> QueryDef.withOracle(
      """WITH m AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
        |           * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
        |           * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  CAST(floor((n * sxy - sx * sy) / (n * sxx - sx * sx)
        |    * 1000000000 + 0.5) AS BIGINT) / 1.0e9 AS slope,
        |  CAST(floor((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
        |    * 1000000000 + 0.5) AS BIGINT) / 1.0e9 AS intercept,
        |  CAST(floor((n * sxy - sx * sy) * (n * sxy - sx * sy)
        |      / ((n * sxx - sx * sx) * (n * syy - sy * sy))
        |    * 1000000000 + 0.5) AS BIGINT) / 1.0e9 AS r2
        |FROM m""".stripMargin) { (s, dir) =>
      val dec2 = DecimalType(18, 2)
      val m = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(dec2)).cast(DoubleType).as("sx"),
          sum(col("l_extendedprice").cast(dec2)).cast(DoubleType).as("sy"),
          sum(col("l_quantity").cast(dec2)
            * col("l_extendedprice").cast(dec2)).cast(DoubleType).as("sxy"),
          sum(col("l_quantity").cast(dec2)
            * col("l_quantity").cast(dec2)).cast(DoubleType).as("sxx"),
          sum(col("l_extendedprice").cast(dec2)
            * col("l_extendedprice").cast(dec2)).cast(DoubleType).as("syy"))
      def snap9(c: org.apache.spark.sql.Column) =
        floor(c * lit(1.0e9) + lit(0.5)).cast(LongType) / lit(1.0e9)
      val num = col("n") * col("sxy") - col("sx") * col("sy")
      val den = col("n") * col("sxx") - col("sx") * col("sx")
      m.select(col("l_returnflag"), col("n"),
        snap9(num / den).as("slope"),
        snap9((col("sy") - num / den * col("sx")) / col("n")).as("intercept"),
        snap9(num * num
          / (den * (col("n") * col("syy") - col("sy") * col("sy")))).as("r2"))
    },

    // ------------------------------------------------------------------
    // Mann-Whitney U rank-sum test ('click' vs 'purchase' values): the
    // nonparametric two-sample location screen (no normality
    // assumption, unlike ev_ab_ttest). Ranks come from the VALUE-
    // GROUPED relation (2-dp values ⇒ bounded domain — the etl_ks_test
    // bookkeeping argument): one map-side-combined (value, side) count,
    // then average tie-ranks via a running total over distinct values.
    // Rank bookkeeping stays exact-integer in ×2 fixed point
    // (2·cum_before + cnt + 1 = twice the average rank), so U is exact
    // until the final z; the tie-corrected variance multiplies as
    // doubles in pinned order and z snaps to ×10⁹ fixed point.
    "etl_mann_whitney" -> QueryDef.withOracle(
      """WITH g AS (
        |  SELECT value,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY value),
        |r AS (
        |  SELECT ca, cb, ca + cb AS t,
        |    2 * coalesce(sum(ca + cb) OVER (ORDER BY value ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + (ca + cb) + 1 AS rank2
        |  FROM g),
        |s AS (
        |  SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
        |    CAST(sum(ca * rank2) AS BIGINT) AS ra2,
        |    CAST(sum(t * t * t - t) AS BIGINT) AS ties
        |  FROM r)
        |SELECT na, nb,
        |  (ra2 - na * (na + 1)) / 2.0 AS u_a,
        |  na * nb - (ra2 - na * (na + 1)) / 2.0 AS u_b,
        |  CAST(floor(
        |    ((ra2 - na * (na + 1)) / 2 - CAST(na AS DOUBLE) * nb / 2)
        |    / sqrt(CAST(na AS DOUBLE) * nb / 12
        |        * ((na + nb + 1) - CAST(ties AS DOUBLE)
        |            / ((na + nb) * (CAST(na AS DOUBLE) + nb - 1))))
        |    * 1000000000 + 0.5) AS BIGINT) / 1.0e9 AS z
        |FROM s""".stripMargin) { (s, dir) =>
      val g = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(col("value"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("ca"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("cb"))
      // global window over the bounded 2-dp value domain (bookkeeping)
      val wCum = Window.orderBy(col("value").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val r = g.withColumn("t", col("ca") + col("cb"))
        .withColumn("rank2",
          lit(2) * coalesce(sum(col("ca") + col("cb")).over(wCum), lit(0L))
            + (col("ca") + col("cb")) + lit(1))
      val st = r.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
        sum(col("ca") * col("rank2")).as("ra2"),
        sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
      // U can be half-integer under ties (average ranks), and a
      // long-cast truncates in Spark but rounds in DuckDB — so U ships
      // as the exact double x.0/x.5 on both engines
      val u2 = col("ra2") - col("na") * (col("na") + 1)
      st.select(col("na"), col("nb"),
        (u2 / lit(2.0)).as("u_a"),
        (col("na") * col("nb") - u2 / lit(2.0)).as("u_b"),
        (floor(
          (u2 / 2 - col("na").cast(DoubleType) * col("nb") / 2)
            / sqrt(col("na").cast(DoubleType) * col("nb") / 12
              * ((col("na") + col("nb") + 1) - col("ties").cast(DoubleType)
                / ((col("na") + col("nb")) * (col("na").cast(DoubleType) + col("nb") - 1))))
          * lit(1.0e9) + lit(0.5)).cast(LongType) / lit(1.0e9)).as("z"))
    },

    // ------------------------------------------------------------------
    // Chi-square test of independence between two categorical columns
    // (order status × priority) — the association screen a statistical
    // agency runs before publishing a cross-tabulation. One corpus scan
    // collapses to the contingency table (map-side combine to
    // ≤|statuses|×|priorities| rows); margins, totals and the statistic
    // all ride that tiny relation, so nothing downstream scales with
    // row count. Per-cell (o−e)²/e terms are snapped to ×10⁹ fixed
    // point before the sum (the text_bigram_lm discipline): an
    // unordered double sum is partitioning-dependent, an exact long sum
    // is not. Margins multiply as doubles (a BIGINT rtot·ctot product
    // overflows at ~10¹² rows).
    "etl_chisq_independence" -> QueryDef.withOracle(
      """WITH obs AS (
        |  SELECT o_orderstatus AS rs, o_orderpriority AS cs,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM orders GROUP BY 1, 2),
        |rt AS (SELECT rs, CAST(sum(o) AS BIGINT) AS rtot FROM obs GROUP BY rs),
        |ct AS (SELECT cs, CAST(sum(o) AS BIGINT) AS ctot FROM obs GROUP BY cs),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |               CAST(count(DISTINCT rs) AS BIGINT) AS nr,
        |               CAST(count(DISTINCT cs) AS BIGINT) AS nc FROM obs),
        |cell AS (
        |  SELECT tot.n, tot.nr, tot.nc,
        |    CAST(floor(
        |      (obs.o - CAST(rt.rtot AS DOUBLE) * ct.ctot / tot.n)
        |      * (obs.o - CAST(rt.rtot AS DOUBLE) * ct.ctot / tot.n)
        |      / (CAST(rt.rtot AS DOUBLE) * ct.ctot / tot.n)
        |      * 1000000000 + 0.5) AS BIGINT) AS t_fp
        |  FROM obs JOIN rt USING (rs) JOIN ct USING (cs) CROSS JOIN tot)
        |SELECT n, CAST(nr AS INT) AS n_rows, CAST(nc AS INT) AS n_cols,
        |  CAST((nr - 1) * (nc - 1) AS INT) AS dof,
        |  CAST(sum(t_fp) AS BIGINT) / 1.0e9 AS chi2,
        |  floor(sqrt((CAST(sum(t_fp) AS BIGINT) / 1.0e9)
        |      / (n * least(nr - 1, nc - 1))) * 1000000000 + 0.5) / 1.0e9
        |    AS cramers_v
        |FROM cell GROUP BY n, nr, nc""".stripMargin) { (s, dir) =>
      val obs = Tables.orders(s, dir)
        .groupBy(col("o_orderstatus").as("rs"), col("o_orderpriority").as("cs"))
        .agg(count(lit(1)).as("o"))
        .persist() // ≤15 rows; feeds margins, totals and the cell join
      val rt = obs.groupBy(col("rs")).agg(sum(col("o")).as("rtot"))
      val ct = obs.groupBy(col("cs")).agg(sum(col("o")).as("ctot"))
      val tot = obs.agg(sum(col("o")).as("n"),
        countDistinct(col("rs")).as("nr"), countDistinct(col("cs")).as("nc"))
      val e = col("rtot").cast(DoubleType) * col("ctot") / col("n")
      val tFp = floor((col("o") - e) * (col("o") - e) / e
        * lit(1.0e9) + lit(0.5)).cast(LongType)
      obs.join(broadcast(rt), Seq("rs")).join(broadcast(ct), Seq("cs"))
        .crossJoin(broadcast(tot))
        .select(col("n"), col("nr"), col("nc"), tFp.as("t_fp"))
        .groupBy(col("n"), col("nr"), col("nc"))
        .agg(sum(col("t_fp")).as("s"))
        .select(col("n"),
          col("nr").cast(IntegerType).as("n_rows"),
          col("nc").cast(IntegerType).as("n_cols"),
          ((col("nr") - 1) * (col("nc") - 1)).cast(IntegerType).as("dof"),
          (col("s") / lit(1.0e9)).as("chi2"),
          (floor(sqrt((col("s") / lit(1.0e9))
            / (col("n") * least(col("nr") - 1, col("nc") - 1)))
            * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("cramers_v"))
    },

    // ------------------------------------------------------------------
    // 2×2 odds ratio / relative risk with the Wald log-interval — the
    // epidemiology/case-control readout (and the effect-size companion
    // to etl_chisq_independence's screen): exposure = high-value order
    // (fixed literal threshold), outcome = fulfilled status. The four
    // cells are exact longs from ONE map-side-combined scan; OR, RR
    // and exp(ln OR ± 1.96·SE) assemble in mirrored double chains from
    // those exact counts (ln/exp on identical doubles — the tfidf
    // discipline), snapped ×10⁹. 1-row bookkeeping after the scan.
    "etl_odds_ratio" -> QueryDef.withOracle(
      """WITH t AS (
        |  SELECT
        |    CAST(sum(CASE WHEN o_totalprice >= 150000 AND o_orderstatus = 'F'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN o_totalprice >= 150000 AND o_orderstatus <> 'F'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN o_totalprice < 150000 AND o_orderstatus = 'F'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN o_totalprice < 150000 AND o_orderstatus <> 'F'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM orders)
        |SELECT a, b, c, d,
        |  floor(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c)
        |    * 1000000000 + 0.5) / 1.0e9 AS odds_ratio,
        |  floor((CAST(a AS DOUBLE) / (a + b)) / (CAST(c AS DOUBLE) / (c + d))
        |    * 1000000000 + 0.5) / 1.0e9 AS rel_risk,
        |  floor(exp(ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
        |      - 1.96 * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d))
        |    * 1000000000 + 0.5) / 1.0e9 AS or_ci_lo,
        |  floor(exp(ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
        |      + 1.96 * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d))
        |    * 1000000000 + 0.5) / 1.0e9 AS or_ci_hi
        |FROM t""".stripMargin) { (s, dir) =>
      val exposed = col("o_totalprice") >= 150000
      val outcome = col("o_orderstatus") === "F"
      val t = Tables.orders(s, dir).agg(
        sum(when(exposed && outcome, 1L).otherwise(0L)).as("a"),
        sum(when(exposed && !outcome, 1L).otherwise(0L)).as("b"),
        sum(when(!exposed && outcome, 1L).otherwise(0L)).as("c"),
        sum(when(!exposed && !outcome, 1L).otherwise(0L)).as("d"))
      val lnOr = log(col("a").cast(DoubleType) * col("d")
        / (col("b").cast(DoubleType) * col("c")))
      val se = sqrt(lit(1.0) / col("a") + lit(1.0) / col("b")
        + lit(1.0) / col("c") + lit(1.0) / col("d"))
      t.select(col("a"), col("b"), col("c"), col("d"),
        (floor(col("a").cast(DoubleType) * col("d")
          / (col("b").cast(DoubleType) * col("c"))
          * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("odds_ratio"),
        (floor((col("a").cast(DoubleType) / (col("a") + col("b")))
          / (col("c").cast(DoubleType) / (col("c") + col("d")))
          * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("rel_risk"),
        (floor(exp(lnOr - lit(1.96) * se) * lit(1.0e9) + lit(0.5))
          / lit(1.0e9)).as("or_ci_lo"),
        (floor(exp(lnOr + lit(1.96) * se) * lit(1.0e9) + lit(0.5))
          / lit(1.0e9)).as("or_ci_hi"))
    },

    // ------------------------------------------------------------------
    // G-test (log-likelihood-ratio independence) over the same
    // status × priority contingency table as etl_chisq_independence —
    // the additive counterpart agencies prefer when cells get small or
    // tables are decomposed hierarchically (G sub-tables sum exactly;
    // Pearson χ² doesn't). Same one-scan shape: ≤15-cell bookkeeping
    // after the corpus agg; each cell's 2·O·ln(O·N/(R·C)) term snaps
    // ×10⁶ to an exact long BEFORE the sum (the bigram-LM ln
    // discipline — a 15-term double sum in engine group order is not
    // reproducible, the snapped long sum is).
    "etl_g_test" -> QueryDef.withOracle(
      """WITH obs AS (
        |  SELECT o_orderstatus AS rs, o_orderpriority AS cs,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM orders GROUP BY 1, 2),
        |rt AS (SELECT rs, CAST(sum(o) AS BIGINT) AS rtot FROM obs GROUP BY rs),
        |ct AS (SELECT cs, CAST(sum(o) AS BIGINT) AS ctot FROM obs GROUP BY cs),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |               CAST(count(DISTINCT rs) AS BIGINT) AS nr,
        |               CAST(count(DISTINCT cs) AS BIGINT) AS nc FROM obs),
        |cell AS (
        |  SELECT tot.n, tot.nr, tot.nc,
        |    CAST(floor(2.0 * obs.o
        |      * ln(CAST(obs.o AS DOUBLE) * tot.n / (CAST(rt.rtot AS DOUBLE) * ct.ctot))
        |      * 1000000 + 0.5) AS BIGINT) AS g_fp
        |  FROM obs JOIN rt USING (rs) JOIN ct USING (cs) CROSS JOIN tot)
        |SELECT n, CAST(nr AS INT) AS n_rows, CAST(nc AS INT) AS n_cols,
        |  CAST((nr - 1) * (nc - 1) AS INT) AS dof,
        |  CAST(sum(g_fp) AS BIGINT) / 1.0e6 AS g_stat
        |FROM cell GROUP BY n, nr, nc""".stripMargin) { (s, dir) =>
      val obs = Tables.orders(s, dir)
        .groupBy(col("o_orderstatus").as("rs"), col("o_orderpriority").as("cs"))
        .agg(count(lit(1)).as("o"))
        .persist() // ≤15 rows; feeds margins, totals and the cell join
      val rt = obs.groupBy(col("rs")).agg(sum(col("o")).as("rtot"))
      val ct = obs.groupBy(col("cs")).agg(sum(col("o")).as("ctot"))
      val tot = obs.agg(sum(col("o")).as("n"),
        countDistinct(col("rs")).as("nr"), countDistinct(col("cs")).as("nc"))
      val gFp = floor(lit(2.0) * col("o")
        * log(col("o").cast(DoubleType) * col("n")
          / (col("rtot").cast(DoubleType) * col("ctot")))
        * lit(1000000) + lit(0.5)).cast(LongType)
      obs.join(broadcast(rt), Seq("rs")).join(broadcast(ct), Seq("cs"))
        .crossJoin(broadcast(tot))
        .select(col("n"), col("nr"), col("nc"), gFp.as("g_fp"))
        .groupBy(col("n"), col("nr"), col("nc"))
        .agg(sum(col("g_fp")).as("s"))
        .select(col("n"),
          col("nr").cast(IntegerType).as("n_rows"),
          col("nc").cast(IntegerType).as("n_cols"),
          ((col("nr") - 1) * (col("nc") - 1)).cast(IntegerType).as("dof"),
          (col("s") / lit(1.0e6)).as("g_stat"))
    },

    // ------------------------------------------------------------------
    // Bartlett's test of equal quantity variances across return flags —
    // the variance-homogeneity screen that gates pooled-variance
    // ANOVA/t procedures (etl_levene_test is its robust cousin; a
    // publication pipeline reports both: Bartlett is sharper under
    // normality, Levene under contamination). Quantities are integral,
    // so each group's (n, Σx, Σx²) are exact BIGINTs off ONE
    // map-side-combined scan; every cross-group float term — the
    // (nᵢ−1)sᵢ² pooled-variance summand, the (nᵢ−1)·ln sᵢ² statistic
    // summand, the Σ1/(nᵢ−1) correction summand — snaps to fixed point
    // BEFORE its ≤k-row sum. Verdict vs χ²₀.₀₅ at df = k−1 = 2 (the
    // return-flag domain is A/N/R; the pinned 5.991465 critical value
    // is df-specific and spec-locked to k = 3).
    "etl_bartlett" -> QueryDef.withOracle(
      """WITH g AS (
        |  SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
        |    CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
        |      AS BIGINT) AS sxx
        |  FROM lineitem GROUP BY 1),
        |t AS (
        |  SELECT flag, n,
        |    (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) / n / (n - 1)
        |      AS s2,
        |    CAST(floor((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) / n
        |      * 1000000 + 0.5) AS BIGINT) AS pool_fp,
        |    CAST(floor((n - 1)
        |      * ln((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) / n / (n - 1))
        |      * 1000000 + 0.5) AS BIGINT) AS lns_fp,
        |    CAST(floor(1e12 / (n - 1) + 0.5) AS BIGINT) AS inv_fp
        |  FROM g),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS nn,
        |    CAST(sum(pool_fp) AS BIGINT) AS pool,
        |    CAST(sum(lns_fp) AS BIGINT) AS lns,
        |    CAST(sum(inv_fp) AS BIGINT) AS inv
        |  FROM t)
        |SELECT CAST(k AS INT) AS k_groups, nn AS n,
        |  floor(((nn - k) * ln(CAST(pool AS DOUBLE) / 1e6 / (nn - k))
        |      - CAST(lns AS DOUBLE) / 1e6)
        |    / (1 + (CAST(inv AS DOUBLE) / 1e12 - 1.0 / (nn - k)) / (3 * (k - 1)))
        |    * 1e6 + 0.5) / 1.0e6 AS chi2,
        |  floor(((nn - k) * ln(CAST(pool AS DOUBLE) / 1e6 / (nn - k))
        |      - CAST(lns AS DOUBLE) / 1e6)
        |    / (1 + (CAST(inv AS DOUBLE) / 1e12 - 1.0 / (nn - k)) / (3 * (k - 1)))
        |    * 1e6 + 0.5) > 5991465 AS reject_equal_var
        |FROM a""".stripMargin) { (s, dir) =>
      val g = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("flag"),
          col("l_quantity").cast(LongType).as("q"))
        .groupBy(col("flag"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sx"),
          sum(col("q") * col("q")).as("sxx"))
      val css = (col("n").cast(DoubleType) * col("sxx")
        - col("sx").cast(DoubleType) * col("sx")) // n·(n−1)·s² (exact-int value)
      val t = g.select(col("n"),
        floor(css / col("n") * lit(1000000) + lit(0.5)).cast(LongType)
          .as("pool_fp"),
        floor((col("n") - 1) * log(css / col("n") / (col("n") - 1))
          * lit(1000000) + lit(0.5)).cast(LongType).as("lns_fp"),
        floor(lit(1.0e12) / (col("n") - 1) + lit(0.5)).cast(LongType)
          .as("inv_fp"))
      val a = t.agg(count(lit(1)).as("k"), sum(col("n")).as("nn"),
        sum(col("pool_fp")).as("pool"), sum(col("lns_fp")).as("lns"),
        sum(col("inv_fp")).as("inv"))
      val chiFp = floor(
        ((col("nn") - col("k"))
          * log(col("pool").cast(DoubleType) / lit(1.0e6) / (col("nn") - col("k")))
          - col("lns").cast(DoubleType) / lit(1.0e6))
        / (lit(1) + (col("inv").cast(DoubleType) / lit(1.0e12)
          - lit(1.0) / (col("nn") - col("k"))) / (lit(3) * (col("k") - 1)))
        * lit(1.0e6) + lit(0.5))
      a.select(col("k").cast(IntegerType).as("k_groups"), col("nn").as("n"),
        (chiFp / lit(1.0e6)).as("chi2"),
        (chiFp > lit(5991465.0)).as("reject_equal_var"))
    },

    // ------------------------------------------------------------------
    // Herfindahl-Hirschman concentration index of customer spend within
    // each nation — the standard market-concentration screen a
    // statistical agency runs before publishing dominance-sensitive
    // cells (the share-based cousin of etl_dominance_rule). HHI =
    // Σ sᵢ² over customer spend shares, computed as Σspend²/ (Σspend)²
    // so both factors are plain keyed aggregations — one corpus scan,
    // one custkey shuffle, one nation-keyed agg; no per-nation window
    // at all. Spend is an exact DECIMAL sum cast to double (the q21
    // protocol); the final ratio is fixed-point-rounded to 9 so the
    // double division chain can't drift between engines.
    "etl_herfindahl" -> QueryDef.withOracle(
      s"""WITH $nationSpendSql
        |SELECT n_name,
        |  CAST(count(*) AS BIGINT) AS n_cust,
        |  round(CAST(sum(CAST(spend AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS total_spend,
        |  floor(sum(spend * spend)
        |      / (CAST(sum(CAST(spend AS DECIMAL(18,2))) AS DOUBLE)
        |         * CAST(sum(CAST(spend AS DECIMAL(18,2))) AS DOUBLE))
        |      * 1000000000 + 0.5) / 1.0e9 AS hhi
        |FROM j GROUP BY n_name""".stripMargin) { (s, dir) =>
      val tot = sum(col("spend").cast(DecimalType(18, 2))).cast(DoubleType)
      nationSpend(s, dir)
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          round(tot, 2).as("total_spend"),
          (floor(sum(col("spend") * col("spend")) / (tot * tot)
            * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("hhi"))
    },

    // ------------------------------------------------------------------
    // One-way ANOVA of order value across the five priority classes —
    // "does priority explain spend?", the F-test a survey analyst runs
    // on a candidate stratification variable. Everything reduces to
    // exact per-group DECIMAL power sums (Σx as DECIMAL(18,2), Σx² as
    // a decimal product sum — the q21 protocol), so the corpus
    // contributes ONE map-side-combined aggregation; the F statistic
    // assembles on a k-row bookkeeping relation from sums that are
    // bit-identical in both engines, and the final double chain is
    // mirrored verbatim in the oracle.
    "etl_anova_oneway" -> QueryDef.withOracle(
      """WITH g AS (
        |  SELECT o_orderpriority AS grp,
        |    CAST(count(*) AS BIGINT) AS n_j,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s_j,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))
        |             * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS ss_j
        |  FROM orders GROUP BY 1),
        |t AS (
        |  SELECT CAST(sum(n_j) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
        |    sum(s_j) AS s, sum(ss_j) AS ss,
        |    sum(s_j * s_j / n_j) AS sgm
        |  FROM g)
        |SELECT n, k,
        |  floor((sgm - s * s / n) / (k - 1)
        |      / ((ss - sgm) / (n - k)) * 1000000000 + 0.5) / 1.0e9 AS f_stat,
        |  floor((sgm - s * s / n) / (ss - s * s / n) * 1000000000 + 0.5)
        |    / 1.0e9 AS eta_sq
        |FROM t""".stripMargin) { (s, dir) =>
      val x = col("o_totalprice").cast(DecimalType(18, 2))
      val g = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority").as("grp"))
        .agg(count(lit(1)).as("n_j"),
          sum(x).cast(DoubleType).as("s_j"),
          sum(x * x).cast(DoubleType).as("ss_j"))
      // k-row relation: the whole F assembly is a 1-row agg over it
      g.agg(sum(col("n_j")).as("n"), count(lit(1)).as("k"),
          sum(col("s_j")).as("s"), sum(col("ss_j")).as("ss"),
          sum(col("s_j") * col("s_j") / col("n_j")).as("sgm"))
        .select(col("n"), col("k"),
          (floor((col("sgm") - col("s") * col("s") / col("n")) / (col("k") - 1)
            / ((col("ss") - col("sgm")) / (col("n") - col("k")))
            * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("f_stat"),
          (floor((col("sgm") - col("s") * col("s") / col("n"))
            / (col("ss") - col("s") * col("s") / col("n"))
            * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("eta_sq"))
    },

    // ------------------------------------------------------------------
    // Atkinson inequality index (ε = 1) of customer spend per nation —
    // the welfare-weighted complement to etl_gini / etl_theil_index:
    // A = 1 − geomean/mean. The geometric mean rides the ×1e6-snapped
    // ln protocol (ln evaluated on identical doubles both engines,
    // floored to fixed point PER ROW, summed exactly — the bigram-LM
    // discipline), the arithmetic mean on exact cent sums; the final
    // exp/div chain is mirrored and 1e6-snapped. One keyed agg →
    // |nations| bookkeeping rows.
    "etl_atkinson_index" -> QueryDef.withOracle(
      """WITH s AS (
        |  SELECT c_nationkey, o_custkey,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders JOIN customer ON c_custkey = o_custkey
        |  GROUP BY 1, 2),
        |g AS (
        |  SELECT n_name, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(s.cents AS HUGEINT)) AS DOUBLE) AS sc,
        |    CAST(sum(CAST(floor(ln(CAST(s.cents AS DOUBLE)) * 1000000 + 0.5)
        |      AS BIGINT)) AS BIGINT) AS slnfp
        |  FROM s JOIN nation ON n_nationkey = c_nationkey
        |  WHERE s.cents > 0 GROUP BY 1)
        |SELECT n_name, n,
        |  floor((1 - exp(CAST(slnfp AS DOUBLE) / n / 1000000.0)
        |    / (sc / n)) * 1000000 + 0.5) / 1.0e6 AS atkinson_e1
        |FROM g""".stripMargin) { (s, dir) =>
      val dec38 = DecimalType(38, 0)
      val spend = Tables.orders(s, dir)
        .join(Tables.customer(s, dir),
          col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_nationkey"), col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast(LongType))
          .as("cents"))
      val g = spend.filter(col("cents") > 0)
        .join(broadcast(Tables.nation(s, dir)),
          col("n_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name")).agg(
          count(lit(1)).as("n"),
          sum(col("cents").cast(dec38)).cast(DoubleType).as("sc"),
          sum(floor(log(col("cents").cast(DoubleType)) * 1000000 + 0.5)
            .cast(LongType)).as("slnfp"))
      g.select(col("n_name"), col("n"),
        (floor((lit(1) - exp(col("slnfp").cast(DoubleType) / col("n")
            / lit(1000000.0)) / (col("sc") / col("n")))
          * lit(1000000) + lit(0.5)) / lit(1.0e6)).as("atkinson_e1"))
    },

    // ------------------------------------------------------------------
    // Paired sign test on per-part mean price movement 1997 → 1998 —
    // the distribution-free "did prices move up or down" screen next
    // to the parametric index family. The up/down decision per part is
    // an EXACT cross-multiplied rational comparison (s98·c97 vs
    // s97·c98 on cent-sums and counts — zero floats anywhere in the
    // classification), so the (pos, neg, tie) counts are engine-exact;
    // the continuity-corrected χ² assembles from them in one mirrored
    // snapped chain. One conditional corpus agg → |part| bookkeeping.
    "etl_sign_test" -> QueryDef.withOracle(
      """WITH p AS (
        |  SELECT l_partkey,
        |    CAST(sum(CASE WHEN year(l_shipdate) = 1997
        |      THEN CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS s97,
        |    CAST(sum(CASE WHEN year(l_shipdate) = 1997 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c97,
        |    CAST(sum(CASE WHEN year(l_shipdate) = 1998
        |      THEN CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS s98,
        |    CAST(sum(CASE WHEN year(l_shipdate) = 1998 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c98
        |  FROM lineitem GROUP BY 1),
        |q AS (SELECT * FROM p WHERE c97 > 0 AND c98 > 0),
        |t AS (
        |  SELECT
        |    CAST(sum(CASE WHEN s98 * c97 > s97 * c98 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS pos,
        |    CAST(sum(CASE WHEN s98 * c97 < s97 * c98 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS neg,
        |    CAST(sum(CASE WHEN s98 * c97 = s97 * c98 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ties
        |  FROM q)
        |SELECT pos, neg, ties, pos + neg AS n_pairs,
        |  floor((abs(CAST(pos AS DOUBLE) - neg) - 1)
        |    * (abs(CAST(pos AS DOUBLE) - neg) - 1) / (pos + neg)
        |    * 1000000 + 0.5) / 1.0e6 AS chi2_cc
        |FROM t""".stripMargin) { (s, dir) =>
      val cents = floor(col("l_extendedprice") * 100 + 0.5).cast(LongType)
      def yr(y: Int, v: org.apache.spark.sql.Column) =
        sum(when(year(col("l_shipdate")) === y, v).otherwise(0L))
      val p = Tables.lineitem(s, dir).groupBy(col("l_partkey")).agg(
        yr(1997, cents).as("s97"), yr(1997, lit(1L)).as("c97"),
        yr(1998, cents).as("s98"), yr(1998, lit(1L)).as("c98"))
      val q = p.filter(col("c97") > 0 && col("c98") > 0)
      val up = col("s98") * col("c97") > col("s97") * col("c98")
      val dn = col("s98") * col("c97") < col("s97") * col("c98")
      val t = q.agg(
        sum(when(up, 1L).otherwise(0L)).as("pos"),
        sum(when(dn, 1L).otherwise(0L)).as("neg"),
        sum(when(!up && !dn, 1L).otherwise(0L)).as("ties"))
      val dpn = abs(col("pos").cast(DoubleType) - col("neg")) - 1
      t.select(col("pos"), col("neg"), col("ties"),
        (col("pos") + col("neg")).as("n_pairs"),
        (floor(dpn * dpn / (col("pos") + col("neg")) * lit(1000000)
          + lit(0.5)) / lit(1.0e6)).as("chi2_cc"))
    },

    // ------------------------------------------------------------------
    // Grubbs' outlier test per nation — the classic single-outlier
    // screen agencies run before publishing a cell: G = max|x − x̄|/s.
    // The key identity: max|x − x̄| = max(max − x̄, x̄ − min), so the
    // WHOLE test reduces to one map-side-combined agg per nation of
    // five exact quantities (n, Σcents, Σcents², max, min — the
    // DECIMAL(18) q21 protocol) with the G chain assembled in mirrored
    // doubles and 1e9-snapped. No second pass, no window, no join
    // beyond the broadcast nation dim.
    "etl_grubbs_test" -> QueryDef.withOracle(
      """WITH x AS (
        |  SELECT n_name, CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS v
        |  FROM customer JOIN nation ON n_nationkey = c_nationkey),
        |g AS (
        |  SELECT n_name, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(v AS HUGEINT)) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(v AS HUGEINT) * v) AS DOUBLE) AS s2,
        |    CAST(max(v) AS BIGINT) AS vmax, CAST(min(v) AS BIGINT) AS vmin
        |  FROM x GROUP BY 1)
        |SELECT n_name, n,
        |  CAST(floor(s1 / n + 0.5) AS BIGINT) AS mean_cents,
        |  floor(CASE WHEN vmax - s1 / n >= s1 / n - vmin
        |    THEN (vmax - s1 / n) ELSE (s1 / n - vmin) END
        |    / sqrt((s2 - s1 * s1 / n) / (n - 1)) * 1000000000 + 0.5) / 1.0e9
        |    AS g_stat,
        |  CAST(CASE WHEN vmax - s1 / n >= s1 / n - vmin THEN 1 ELSE 0 END
        |    AS INT) AS upper_side
        |FROM g WHERE n > 2""".stripMargin) { (s, dir) =>
      val dec38 = DecimalType(38, 0)
      val v = floor(col("c_acctbal") * 100 + 0.5).cast(LongType).as("v")
      val x = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("n_nationkey") === col("c_nationkey"))
        .select(col("n_name"), v)
      val g = x.groupBy(col("n_name")).agg(
        count(lit(1)).as("n"),
        sum(col("v").cast(dec38)).cast(DoubleType).as("s1"),
        sum(col("v").cast(dec38) * col("v").cast(dec38))
          .cast(DoubleType).as("s2"),
        max(col("v")).as("vmax"), min(col("v")).as("vmin"))
      val mu = col("s1") / col("n")
      val dev = when(col("vmax") - mu >= mu - col("vmin"),
        col("vmax") - mu).otherwise(mu - col("vmin"))
      g.filter(col("n") > 2).select(col("n_name"), col("n"),
        floor(mu + lit(0.5)).cast(LongType).as("mean_cents"),
        (floor(dev / sqrt((col("s2") - col("s1") * col("s1") / col("n"))
          / (col("n") - 1)) * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("g_stat"),
        when(col("vmax") - mu >= mu - col("vmin"), 1).otherwise(0)
          .cast(IntegerType).as("upper_side"))
    },

    // ------------------------------------------------------------------
    // Tukey-Kramer HSD post-hoc — WHICH priority groups differ, after
    // etl_anova_oneway's F says "some do" (publishing pairwise
    // differences without the studentized-range correction is the
    // classic multiple-comparison error). Same one map-side-combined
    // moment scan as the ANOVA; the k²/2 pair table and the 1-row MSE
    // anchor are bookkeeping. q = |x̄ₐ−x̄ᵦ| / √(MSE/2·(1/nₐ+1/nᵦ)),
    // flagged against q₀.₀₅(k=5, df=∞) = 3.858 (exact-n dfs here are
    // ~10⁵+, where the studentized-range table is flat to 3 dp). The
    // double chain is pinned identically in both engines, ×10⁶ snapped.
    "etl_tukey_hsd" -> QueryDef.withOracle(
      """WITH g AS (
        |  SELECT o_orderpriority AS grp,
        |    CAST(count(*) AS BIGINT) AS n_j,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s_j,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))
        |             * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS ss_j
        |  FROM orders GROUP BY 1),
        |t AS (
        |  SELECT CAST(sum(n_j) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
        |    sum(ss_j) AS ss, sum(s_j * s_j / n_j) AS sgm
        |  FROM g),
        |m AS (SELECT (ss - sgm) / (n - k) AS mse FROM t)
        |SELECT a.grp AS grp_a, b.grp AS grp_b,
        |  floor(a.s_j / a.n_j * 1e6 + 0.5) / 1.0e6 AS mean_a,
        |  floor(b.s_j / b.n_j * 1e6 + 0.5) / 1.0e6 AS mean_b,
        |  floor(abs(a.s_j / a.n_j - b.s_j / b.n_j) * 1e6 + 0.5) / 1.0e6
        |    AS abs_diff,
        |  floor(abs(a.s_j / a.n_j - b.s_j / b.n_j)
        |    / sqrt(m.mse / 2 * (1.0 / a.n_j + 1.0 / b.n_j)) * 1e6 + 0.5)
        |    / 1.0e6 AS q_stat,
        |  floor(abs(a.s_j / a.n_j - b.s_j / b.n_j)
        |    / sqrt(m.mse / 2 * (1.0 / a.n_j + 1.0 / b.n_j)) * 1e6 + 0.5)
        |    / 1.0e6 > 3.858 AS significant
        |FROM g a JOIN g b ON a.grp < b.grp CROSS JOIN m""".stripMargin) { (s, dir) =>
      val x = col("o_totalprice").cast(DecimalType(18, 2))
      val g = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority").as("grp"))
        .agg(count(lit(1)).as("n_j"),
          sum(x).cast(DoubleType).as("s_j"),
          sum(x * x).cast(DoubleType).as("ss_j"))
        .persist() // k-row moment relation: MSE anchor + both pair sides
      val t = g.agg(sum(col("n_j")).as("n"), count(lit(1)).as("k"),
        sum(col("ss_j")).as("ss"),
        sum(col("s_j") * col("s_j") / col("n_j")).as("sgm"))
      val m = t.select(((col("ss") - col("sgm")) / (col("n") - col("k")))
        .as("mse"))
      val a = g.select(col("grp").as("grp_a"), col("n_j").as("na"),
        col("s_j").as("sa"))
      val b = g.select(col("grp").as("grp_b"), col("n_j").as("nb"),
        col("s_j").as("sb"))
      val diff = abs(col("sa") / col("na") - col("sb") / col("nb"))
      val q = floor(diff / sqrt(col("mse") / 2
        * (lit(1.0) / col("na") + lit(1.0) / col("nb"))) * lit(1.0e6) + 0.5) /
        lit(1.0e6)
      a.join(broadcast(b), col("grp_a") < col("grp_b"))
        .crossJoin(broadcast(m))
        .select(col("grp_a"), col("grp_b"),
          (floor(col("sa") / col("na") * lit(1.0e6) + 0.5) / lit(1.0e6))
            .as("mean_a"),
          (floor(col("sb") / col("nb") * lit(1.0e6) + 0.5) / lit(1.0e6))
            .as("mean_b"),
          (floor(diff * lit(1.0e6) + 0.5) / lit(1.0e6)).as("abs_diff"),
          q.as("q_stat"), (q > 3.858).as("significant"))
    },

    // ------------------------------------------------------------------
    // Huber M-estimator of location — the robust mean between the
    // sample mean (0% breakdown) and the median (50% but inefficient):
    // 3 unrolled IRLS rounds of w = min(1, k/|v−μ|) reweighting with
    // the fixed tuning constant k = 20 value units (the deployment
    // knob; 1.345σ is the textbook choice once σ is known). The corpus
    // collapses ONCE to the bounded 2-dp (type, value, cnt) domain
    // relation (the etl_mann_whitney argument); every IRLS round is a
    // keyed agg over THAT — iteration cost is domain-bounded, not
    // corpus-bounded. Weights snap ×10⁹ and each w·v·cnt term snaps to
    // a long before its sum, so every round's mean is exact-integer
    // assembled and partitioning-invariant.
    "etl_huber_mean" -> QueryDef.withOracle {
      def roundSql(i: Int): String =
        s"""w$i AS (
           |  SELECT c.event_type,
           |    CAST(sum(CAST(floor(CASE WHEN abs(c.value - m${i - 1}.mu) <= 20
           |        THEN 1000000000.0
           |        ELSE 20 * 1000000000.0 / abs(c.value - m${i - 1}.mu) END
           |      * c.cnt * c.value + 0.5) AS BIGINT)) AS BIGINT) AS swv,
           |    CAST(sum(CAST(floor(CASE WHEN abs(c.value - m${i - 1}.mu) <= 20
           |        THEN 1000000000.0
           |        ELSE 20 * 1000000000.0 / abs(c.value - m${i - 1}.mu) END
           |      * c.cnt + 0.5) AS BIGINT)) AS BIGINT) AS sw
           |  FROM c JOIN m${i - 1} USING (event_type) GROUP BY 1),
           |m$i AS (
           |  SELECT event_type, floor(CAST(swv AS DOUBLE) / sw * 1e6 + 0.5)
           |    / 1.0e6 AS mu FROM w$i)""".stripMargin
      s"""WITH c AS (
         |  SELECT event_type, value, CAST(count(*) AS BIGINT) AS cnt
         |  FROM events GROUP BY 1, 2),
         |m0 AS (
         |  SELECT event_type,
         |    floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT) * cnt)
         |      AS DOUBLE) / sum(cnt) / 100 * 1e6 + 0.5) / 1.0e6 AS mu
         |  FROM c GROUP BY 1),
         |${(1 to 3).map(roundSql).mkString(",\n")},
         |n AS (
         |  SELECT c.event_type, CAST(sum(c.cnt) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN abs(c.value - m3.mu) > 20 THEN c.cnt ELSE 0 END)
         |      AS BIGINT) AS n_downweighted
         |  FROM c JOIN m3 USING (event_type) GROUP BY 1)
         |SELECT n.event_type, n.n, m0.mu AS mean, m3.mu AS huber_mean,
         |  n.n_downweighted
         |FROM n JOIN m0 USING (event_type) JOIN m3 USING (event_type)"""
        .stripMargin
    } { (s, dir) =>
      val c = Tables.events(s, dir)
        .groupBy(col("event_type"), col("value"))
        .agg(count(lit(1)).as("cnt"))
        .persist() // bounded 2-dp domain relation; every IRLS round reads it
      var m = c.groupBy(col("event_type"))
        .agg((floor(sum(floor(col("value") * 100 + 0.5).cast(LongType)
            * col("cnt")).cast(DoubleType) / sum(col("cnt")) / 100
          * lit(1.0e6) + 0.5) / lit(1.0e6)).as("mu"))
      val m0 = m
      for (_ <- 1 to 3) {
        val w = when(abs(col("value") - col("mu")) <= 20, lit(1.0e9))
          .otherwise(lit(20) * lit(1.0e9) / abs(col("value") - col("mu")))
        m = c.join(broadcast(m), Seq("event_type"))
          .groupBy(col("event_type"))
          .agg(sum(floor(w * col("cnt") * col("value") + 0.5).cast(LongType))
            .as("swv"),
            sum(floor(w * col("cnt") + 0.5).cast(LongType)).as("sw"))
          .select(col("event_type"),
            (floor(col("swv").cast(DoubleType) / col("sw") * lit(1.0e6) + 0.5)
              / lit(1.0e6)).as("mu"))
      }
      val n = c.join(broadcast(m.withColumnRenamed("mu", "mu3")),
          Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(sum(col("cnt")).as("n"),
          sum(when(abs(col("value") - col("mu3")) > 20, col("cnt"))
            .otherwise(0L)).as("n_downweighted"))
      n.join(m0.withColumnRenamed("mu", "mean"), Seq("event_type"))
        .join(m.withColumnRenamed("mu", "huber_mean"), Seq("event_type"))
        .select(col("event_type"), col("n"), col("mean"), col("huber_mean"),
          col("n_downweighted"))
    },

    // ------------------------------------------------------------------
    // Chow structural-break test — did the price-on-time regression
    // CHANGE at the calendar midpoint (the regression-level companion
    // to ev_changepoint_cusum's mean-level screen, and the formal
    // version of "fit before vs after"): F = ((SSR_p − SSR₁ − SSR₂)/2)
    // / ((SSR₁+SSR₂)/(n−4)) with each regime's SSR = Syy − Sxy²/Sxx
    // from centered exact-moment sums. ONE map-side-combined scan
    // produces both regimes' five moments (a regime flag in the
    // group key); the 1-row midpoint anchor broadcasts; the F chain is
    // pinned doubles ×10⁶ snapped.
    "etl_chow_test" -> QueryDef.withOracle(
      """WITH b AS (
        |  SELECT CAST(min(year(o_orderdate) * 12 + month(o_orderdate))
        |      AS BIGINT) AS mlo,
        |    CAST(max(year(o_orderdate) * 12 + month(o_orderdate)) AS BIGINT)
        |      AS mhi
        |  FROM orders),
        |r AS (
        |  SELECT CASE WHEN year(o_orderdate) * 12 + month(o_orderdate)
        |      < (b.mlo + b.mhi + 1) // 2 THEN 0 ELSE 1 END AS regime,
        |    CAST(year(o_orderdate) * 12 + month(o_orderdate) - b.mlo
        |      AS BIGINT) AS x,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS yc
        |  FROM orders CROSS JOIN b),
        |g AS (
        |  SELECT regime, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(yc) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(x * yc) AS BIGINT) AS sxy,
        |    CAST(sum(CAST(yc AS HUGEINT) * yc) AS HUGEINT) AS syy
        |  FROM r GROUP BY 1),
        |p AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS n, CAST(sum(sx) AS BIGINT) AS sx,
        |    CAST(sum(sy) AS BIGINT) AS sy, CAST(sum(sxx) AS BIGINT) AS sxx,
        |    CAST(sum(sxy) AS BIGINT) AS sxy,
        |    CAST(sum(syy) AS HUGEINT) AS syy
        |  FROM g),
        |ssr AS (
        |  SELECT
        |    (CAST(p.syy AS DOUBLE) - CAST(p.sy AS DOUBLE) * p.sy / p.n)
        |      - (CAST(p.sxy AS DOUBLE) - CAST(p.sx AS DOUBLE) * p.sy / p.n)
        |        * (CAST(p.sxy AS DOUBLE) - CAST(p.sx AS DOUBLE) * p.sy / p.n)
        |        / (CAST(p.sxx AS DOUBLE) - CAST(p.sx AS DOUBLE) * p.sx / p.n)
        |      AS ssr_p,
        |    p.n AS n
        |  FROM p),
        |sg AS (
        |  SELECT CAST(sum((CAST(g.syy AS DOUBLE)
        |      - CAST(g.sy AS DOUBLE) * g.sy / g.n)
        |    - (CAST(g.sxy AS DOUBLE) - CAST(g.sx AS DOUBLE) * g.sy / g.n)
        |      * (CAST(g.sxy AS DOUBLE) - CAST(g.sx AS DOUBLE) * g.sy / g.n)
        |      / (CAST(g.sxx AS DOUBLE) - CAST(g.sx AS DOUBLE) * g.sx / g.n))
        |    AS DOUBLE) AS ssr_12
        |  FROM g)
        |SELECT ssr.n,
        |  ssr.ssr_p / 10000 AS ssr_pooled,
        |  sg.ssr_12 / 10000 AS ssr_split,
        |  floor((ssr.ssr_p - sg.ssr_12) / 2 / (sg.ssr_12 / (ssr.n - 4))
        |    * 1e6 + 0.5) / 1.0e6 AS f_stat,
        |  floor((ssr.ssr_p - sg.ssr_12) / 2 / (sg.ssr_12 / (ssr.n - 4))
        |    * 1e6 + 0.5) / 1.0e6 > 2.996 AS structural_break
        |FROM ssr CROSS JOIN sg""".stripMargin) { (s, dir) =>
      val ym = (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast(LongType)
      val b = Tables.orders(s, dir)
        .agg(min(ym).as("mlo"), max(ym).as("mhi"))
      val dec38 = DecimalType(38, 0)
      val yc = floor(col("o_totalprice") * 100 + 0.5).cast(LongType)
      val g = Tables.orders(s, dir)
        .crossJoin(broadcast(b)) // 1-row calendar-midpoint anchor
        .select(when(ym < floor((col("mlo") + col("mhi") + 1) / 2), 0)
            .otherwise(1).as("regime"),
          (ym - col("mlo")).as("x"), yc.as("yc"))
        .groupBy(col("regime"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("yc")).as("sy"), sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("yc")).as("sxy"),
          sum((col("yc").cast(dec38) * col("yc")).cast(dec38)).as("syy"))
        .persist() // 2-row regime moments: pooled sum + split SSRs
      val p = g.agg(sum(col("n")).as("n"), sum(col("sx")).as("sx"),
        sum(col("sy")).as("sy"), sum(col("sxx")).as("sxx"),
        sum(col("sxy")).as("sxy"), sum(col("syy")).as("syy"))
      // SSR = Syy − Sxy²/Sxx on centered moments — the same expression
      // evaluates the pooled row and each regime row (same column names)
      val sxyC = col("sxy").cast(DoubleType) -
        col("sx").cast(DoubleType) * col("sy") / col("n")
      val ssrExpr = (col("syy").cast(DoubleType) -
        col("sy").cast(DoubleType) * col("sy") / col("n")) -
        sxyC * sxyC / (col("sxx").cast(DoubleType) -
          col("sx").cast(DoubleType) * col("sx") / col("n"))
      val ssrP = p.select(ssrExpr.as("ssr_p"), col("n"))
      val sg = g.agg(sum(ssrExpr).as("ssr_12"))
      val f = floor((col("ssr_p") - col("ssr_12")) / 2
        / (col("ssr_12") / (col("n") - 4)) * lit(1.0e6) + 0.5) / lit(1.0e6)
      // NO fixed-point snap on the SSRs: at sf10d they reach ~3e17, so
      // floor(x·100) overflows Spark's long-returning floor (which
      // SATURATES to Long.MaxValue silently — found by the round-14
      // sf10d etl battery) while 2 decimals of a 17-digit number are
      // meaningless anyway; the SSR double chains are mirrored
      // bit-identically, so the raw division is engine-exact
      ssrP.crossJoin(broadcast(sg))
        .select(col("n"),
          (col("ssr_p") / 10000).as("ssr_pooled"),
          (col("ssr_12") / 10000).as("ssr_split"),
          f.as("f_stat"), (f > 2.996).as("structural_break"))
    },

    // ------------------------------------------------------------------
    // Variance inflation factors — the multicollinearity screen run
    // BEFORE trusting any multi-predictor fit's coefficients (the
    // etl_regression_ols companion; VIF > 10 means the design matrix is
    // near-singular and the per-coefficient story is noise). For the
    // three lineitem predictors (quantity, discount, tax), VIFⱼ =
    // 1/(1−R²ⱼ) with R²ⱼ of each on the other two in closed form from
    // the three pairwise correlations: R²₁.₂₃ = (r₁₂²+r₁₃²−2r₁₂r₁₃r₂₃)
    // /(1−r₂₃²). ONE map-side-combined scan of nine exact integer
    // moments (discount/tax ×100 cents); the correlation and VIF chains
    // are pinned doubles on a 1-row relation, ×10⁶/10⁹ snapped.
    "etl_vif" -> QueryDef.withOracle(
      """WITH m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
        |    CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS s2,
        |    CAST(sum(CAST(floor(l_tax * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s3,
        |    CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
        |      AS BIGINT) AS s11,
        |    CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)
        |      * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s22,
        |    CAST(sum(CAST(floor(l_tax * 100 + 0.5) AS BIGINT)
        |      * CAST(floor(l_tax * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s33,
        |    CAST(sum(CAST(l_quantity AS BIGINT)
        |      * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s12,
        |    CAST(sum(CAST(l_quantity AS BIGINT)
        |      * CAST(floor(l_tax * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s13,
        |    CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)
        |      * CAST(floor(l_tax * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s23
        |  FROM lineitem),
        |r AS (
        |  SELECT n,
        |    floor((CAST(n AS DOUBLE) * s12 - CAST(s1 AS DOUBLE) * s2)
        |      / sqrt((CAST(n AS DOUBLE) * s11 - CAST(s1 AS DOUBLE) * s1)
        |        * (CAST(n AS DOUBLE) * s22 - CAST(s2 AS DOUBLE) * s2))
        |      * 1e9 + 0.5) / 1.0e9 AS r12,
        |    floor((CAST(n AS DOUBLE) * s13 - CAST(s1 AS DOUBLE) * s3)
        |      / sqrt((CAST(n AS DOUBLE) * s11 - CAST(s1 AS DOUBLE) * s1)
        |        * (CAST(n AS DOUBLE) * s33 - CAST(s3 AS DOUBLE) * s3))
        |      * 1e9 + 0.5) / 1.0e9 AS r13,
        |    floor((CAST(n AS DOUBLE) * s23 - CAST(s2 AS DOUBLE) * s3)
        |      / sqrt((CAST(n AS DOUBLE) * s22 - CAST(s2 AS DOUBLE) * s2)
        |        * (CAST(n AS DOUBLE) * s33 - CAST(s3 AS DOUBLE) * s3))
        |      * 1e9 + 0.5) / 1.0e9 AS r23
        |  FROM m)
        |SELECT n, r12, r13, r23,
        |  floor(1.0 / (1.0 - (r12 * r12 + r13 * r13 - 2 * r12 * r13 * r23)
        |    / (1.0 - r23 * r23)) * 1e6 + 0.5) / 1.0e6 AS vif_quantity,
        |  floor(1.0 / (1.0 - (r12 * r12 + r23 * r23 - 2 * r12 * r23 * r13)
        |    / (1.0 - r13 * r13)) * 1e6 + 0.5) / 1.0e6 AS vif_discount,
        |  floor(1.0 / (1.0 - (r13 * r13 + r23 * r23 - 2 * r13 * r23 * r12)
        |    / (1.0 - r12 * r12)) * 1e6 + 0.5) / 1.0e6 AS vif_tax
        |FROM r""".stripMargin) { (s, dir) =>
      val q = col("l_quantity").cast(LongType)
      val d = floor(col("l_discount") * 100 + 0.5).cast(LongType)
      val t = floor(col("l_tax") * 100 + 0.5).cast(LongType)
      val m = Tables.lineitem(s, dir).agg(
        count(lit(1)).as("n"), sum(q).as("s1"), sum(d).as("s2"),
        sum(t).as("s3"), sum(q * q).as("s11"), sum(d * d).as("s22"),
        sum(t * t).as("s33"), sum(q * d).as("s12"), sum(q * t).as("s13"),
        sum(d * t).as("s23"))
      // correlations snap ×10⁹ FIRST; the VIF chain then runs on the
      // snapped values in both engines (no raw/snapped mixing)
      def corr2(sij: String, si: String, sj: String, sii: String,
          sjj: String): Column =
        floor((col("n").cast(DoubleType) * col(sij)
          - col(si).cast(DoubleType) * col(sj)) /
          sqrt((col("n").cast(DoubleType) * col(sii)
            - col(si).cast(DoubleType) * col(si))
            * (col("n").cast(DoubleType) * col(sjj)
              - col(sj).cast(DoubleType) * col(sj)))
          * lit(1.0e9) + 0.5) / lit(1.0e9)
      val r = m.select(col("n"),
        corr2("s12", "s1", "s2", "s11", "s22").as("r12"),
        corr2("s13", "s1", "s3", "s11", "s33").as("r13"),
        corr2("s23", "s2", "s3", "s22", "s33").as("r23"))
      def vif(a: Column, b: Column, c: Column): Column =
        floor(lit(1.0) / (lit(1.0) - (a * a + b * b - lit(2) * a * b * c)
          / (lit(1.0) - c * c)) * lit(1.0e6) + 0.5) / lit(1.0e6)
      r.select(col("n"), col("r12"), col("r13"), col("r23"),
        vif(col("r12"), col("r13"), col("r23")).as("vif_quantity"),
        vif(col("r12"), col("r23"), col("r13")).as("vif_discount"),
        vif(col("r13"), col("r23"), col("r12")).as("vif_tax"))
    },

    // ------------------------------------------------------------------
    // Two-sample Poisson rate test — are errors arriving at a different
    // rate than signups over the same observation window (the incident
    // question "did the error RATE actually change relative to
    // traffic", with both counts from the same exposure so the
    // conditional test is exact)? Under H₀ the error count given
    // n₁+n₂ is Binomial(n, ½): z = (n₁ − n₂)/√(n₁ + n₂). ONE
    // map-side-combined conditional-count scan; the z chain is a 1-row
    // pinned double, ×10⁶ snapped.
    "etl_poisson_rate_test" -> QueryDef.withOracle(
      """WITH c AS (
        |  SELECT
        |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_error,
        |    CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_signup,
        |    CAST(count(DISTINCT CAST(floor(epoch(ts)) AS BIGINT) // 86400)
        |      AS BIGINT) AS n_days
        |  FROM events)
        |SELECT n_error, n_signup, n_days,
        |  floor(CAST(n_error AS DOUBLE) / n_days * 1e6 + 0.5) / 1.0e6
        |    AS error_rate_daily,
        |  floor(CAST(n_signup AS DOUBLE) / n_days * 1e6 + 0.5) / 1.0e6
        |    AS signup_rate_daily,
        |  floor((CAST(n_error AS DOUBLE) - n_signup)
        |    / sqrt(CAST(n_error + n_signup AS DOUBLE)) * 1e6 + 0.5) / 1.0e6
        |    AS z,
        |  abs(floor((CAST(n_error AS DOUBLE) - n_signup)
        |    / sqrt(CAST(n_error + n_signup AS DOUBLE)) * 1e6 + 0.5) / 1.0e6)
        |    > 1.96 AS rates_differ
        |FROM c""".stripMargin) { (s, dir) =>
      val c = Tables.eventsTimed(s, dir).agg(
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("n_error"),
        sum(when(col("event_type") === "signup", 1L).otherwise(0L))
          .as("n_signup"),
        countDistinct(expr("ts_s div 86400")).as("n_days"))
      val z = floor((col("n_error").cast(DoubleType) - col("n_signup"))
        / sqrt((col("n_error") + col("n_signup")).cast(DoubleType))
        * lit(1.0e6) + 0.5) / lit(1.0e6)
      c.select(col("n_error"), col("n_signup"), col("n_days"),
        (floor(col("n_error").cast(DoubleType) / col("n_days") * lit(1.0e6)
          + 0.5) / lit(1.0e6)).as("error_rate_daily"),
        (floor(col("n_signup").cast(DoubleType) / col("n_days") * lit(1.0e6)
          + 0.5) / lit(1.0e6)).as("signup_rate_daily"),
        z.as("z"), (abs(z) > 1.96).as("rates_differ"))
    },

    // ------------------------------------------------------------------
    // Jarque-Bera normality test of l_quantity per return flag — the
    // moment-based omnibus screen (skewness + excess kurtosis) run
    // before trusting any z/t-based interval on the column. Quantity is
    // integer-valued (1..50), so the four raw power sums are EXACT
    // BIGINT in ONE map-side-combined scan (Σq⁴ ≤ 6.25e6·n — headroom
    // to ~1e12 rows before BIGINT saturates; past that the sums go
    // DECIMAL(38)); the central-moment chain m2/m3/m4 runs on doubles
    // cast from the exact sums in pinned left-assoc order (identical
    // catastrophic cancellation on both engines), skew/kurtosis/JB
    // snapped ×10⁶. Reject at the χ²₂ 95% critical value 5.991.
    "etl_jarque_bera" -> QueryDef.withOracle(
      """WITH m AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
        |    CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
        |      AS BIGINT) AS s2,
        |    CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
        |      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s3,
        |    CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
        |      * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
        |      AS BIGINT) AS s4
        |  FROM lineitem GROUP BY l_returnflag),
        |c AS (
        |  SELECT l_returnflag, n,
        |    CAST(s1 AS DOUBLE) / n AS mu,
        |    CAST(s2 AS DOUBLE) / n AS r2,
        |    CAST(s3 AS DOUBLE) / n AS r3,
        |    CAST(s4 AS DOUBLE) / n AS r4
        |  FROM m),
        |k AS (
        |  SELECT l_returnflag, n,
        |    r2 - mu * mu AS m2,
        |    r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
        |    r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
        |      - 3.0 * mu * mu * mu * mu AS m4
        |  FROM c),
        |j AS (
        |  SELECT l_returnflag, n,
        |    m3 / (m2 * sqrt(m2)) AS skew,
        |    m4 / (m2 * m2) AS kurt
        |  FROM k)
        |SELECT l_returnflag, n,
        |  floor(skew * 1e6 + 0.5) / 1.0e6 AS skewness,
        |  floor(kurt * 1e6 + 0.5) / 1.0e6 AS kurtosis,
        |  floor(n / 6.0 * (skew * skew + (kurt - 3.0) * (kurt - 3.0) / 4.0)
        |    * 1e6 + 0.5) / 1.0e6 AS jb,
        |  n / 6.0 * (skew * skew + (kurt - 3.0) * (kurt - 3.0) / 4.0)
        |    > 5.991 AS reject_normal
        |FROM j""".stripMargin) { (s, dir) =>
      val q = col("l_quantity").cast(LongType)
      val m = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(q).as("s1"), sum(q * q).as("s2"),
          sum(q * q * q).as("s3"), sum(q * q * q * q).as("s4"))
      val mu = col("s1").cast(DoubleType) / col("n")
      val r2 = col("s2").cast(DoubleType) / col("n")
      val r3 = col("s3").cast(DoubleType) / col("n")
      val r4 = col("s4").cast(DoubleType) / col("n")
      val c = m.select(col("l_returnflag"), col("n"),
        mu.as("mu"), r2.as("r2"), r3.as("r3"), r4.as("r4"))
      val k = c.select(col("l_returnflag"), col("n"),
        (col("r2") - col("mu") * col("mu")).as("m2"),
        (col("r3") - lit(3.0) * col("mu") * col("r2")
          + lit(2.0) * col("mu") * col("mu") * col("mu")).as("m3"),
        (col("r4") - lit(4.0) * col("mu") * col("r3")
          + lit(6.0) * col("mu") * col("mu") * col("r2")
          - lit(3.0) * col("mu") * col("mu") * col("mu") * col("mu")).as("m4"))
      val j = k.select(col("l_returnflag"), col("n"),
        (col("m3") / (col("m2") * sqrt(col("m2")))).as("skew"),
        (col("m4") / (col("m2") * col("m2"))).as("kurt"))
      val jb = col("n") / lit(6.0) * (col("skew") * col("skew")
        + (col("kurt") - lit(3.0)) * (col("kurt") - lit(3.0)) / lit(4.0))
      j.select(col("l_returnflag"), col("n"),
        (floor(col("skew") * lit(1.0e6) + 0.5) / lit(1.0e6)).as("skewness"),
        (floor(col("kurt") * lit(1.0e6) + 0.5) / lit(1.0e6)).as("kurtosis"),
        (floor(jb * lit(1.0e6) + 0.5) / lit(1.0e6)).as("jb"),
        (jb > 5.991).as("reject_normal"))
    },

    // ------------------------------------------------------------------
    // Two-variable PCA of (discount, tax) per return flag — the
    // closed-form principal-axes decomposition of the 2×2 covariance
    // (λ = tr/2 ± √((Δ/2)² + b²), axis angle ½·atan2(2b, Δ)): the
    // correlation-structure summary a weighting pipeline checks before
    // treating two rate columns as independent strata. Both columns
    // are 2-dp rates, so the five moment sums are EXACT BIGINT cent
    // fixed-point in ONE map-side-combined scan; the eigen chain runs
    // on pinned doubles and snaps (λ ×10¹², ratio ×10⁶, angle ×10⁴ —
    // the λ's live at 1e-4 scale, hence the deep λ snap).
    "etl_pca_2d" -> QueryDef.withOracle(
      """WITH m AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS sd,
        |    CAST(sum(CAST(floor(l_tax * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS st,
        |    CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)
        |      * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS sdd,
        |    CAST(sum(CAST(floor(l_tax * 100 + 0.5) AS BIGINT)
        |      * CAST(floor(l_tax * 100 + 0.5) AS BIGINT)) AS BIGINT) AS stt,
        |    CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)
        |      * CAST(floor(l_tax * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sdt
        |  FROM lineitem GROUP BY 1),
        |c1 AS (
        |  SELECT l_returnflag, n,
        |    CAST(sd AS DOUBLE) / n / 100 AS mx,
        |    CAST(st AS DOUBLE) / n / 100 AS my,
        |    CAST(sdd AS DOUBLE) / n / 1e4 AS ra,
        |    CAST(stt AS DOUBLE) / n / 1e4 AS rc,
        |    CAST(sdt AS DOUBLE) / n / 1e4 AS rb
        |  FROM m),
        |c2 AS (
        |  SELECT l_returnflag, n,
        |    ra - mx * mx AS a, rc - my * my AS c, rb - mx * my AS b
        |  FROM c1),
        |f AS (
        |  SELECT l_returnflag, n, a, c, b,
        |    (a + c) / 2 AS tr2,
        |    sqrt(((a - c) / 2) * ((a - c) / 2) + b * b) AS disc
        |  FROM c2)
        |SELECT l_returnflag, n,
        |  floor((tr2 + disc) * 1e12 + 0.5) / 1.0e12 AS lambda1,
        |  floor((tr2 - disc) * 1e12 + 0.5) / 1.0e12 AS lambda2,
        |  floor((tr2 + disc) / ((tr2 + disc) + (tr2 - disc)) * 1e6 + 0.5)
        |    / 1.0e6 AS explained_ratio,
        |  floor(atan2(2 * b, a - c) / 2 * 180 / pi() * 1e4 + 0.5) / 1.0e4
        |    AS angle_deg
        |FROM f""".stripMargin) { (s, dir) =>
      val dfp = floor(col("l_discount") * 100 + 0.5).cast(LongType)
      val tfp = floor(col("l_tax") * 100 + 0.5).cast(LongType)
      val m = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(dfp).as("sd"), sum(tfp).as("st"),
          sum(dfp * dfp).as("sdd"), sum(tfp * tfp).as("stt"),
          sum(dfp * tfp).as("sdt"))
      val c1 = m.select(col("l_returnflag"), col("n"),
        (col("sd").cast(DoubleType) / col("n") / 100).as("mx"),
        (col("st").cast(DoubleType) / col("n") / 100).as("my"),
        (col("sdd").cast(DoubleType) / col("n") / lit(1.0e4)).as("ra"),
        (col("stt").cast(DoubleType) / col("n") / lit(1.0e4)).as("rc"),
        (col("sdt").cast(DoubleType) / col("n") / lit(1.0e4)).as("rb"))
      val c2 = c1.select(col("l_returnflag"), col("n"),
        (col("ra") - col("mx") * col("mx")).as("a"),
        (col("rc") - col("my") * col("my")).as("c"),
        (col("rb") - col("mx") * col("my")).as("b"))
      val f = c2.select(col("l_returnflag"), col("n"), col("a"), col("c"),
        col("b"),
        ((col("a") + col("c")) / 2).as("tr2"),
        sqrt(((col("a") - col("c")) / 2) * ((col("a") - col("c")) / 2)
          + col("b") * col("b")).as("disc"))
      f.select(col("l_returnflag"), col("n"),
        (floor((col("tr2") + col("disc")) * lit(1.0e12) + 0.5) / lit(1.0e12))
          .as("lambda1"),
        (floor((col("tr2") - col("disc")) * lit(1.0e12) + 0.5) / lit(1.0e12))
          .as("lambda2"),
        (floor((col("tr2") + col("disc"))
          / ((col("tr2") + col("disc")) + (col("tr2") - col("disc")))
          * lit(1.0e6) + 0.5) / lit(1.0e6)).as("explained_ratio"),
        (floor(atan2(lit(2.0) * col("b"), col("a") - col("c")) / 2 * 180
          / lit(math.Pi) * lit(1.0e4) + 0.5) / lit(1.0e4)).as("angle_deg"))
    },

    // ------------------------------------------------------------------
    // Mahalanobis outlier screen on (discount, tax) per return flag —
    // the correlation-aware companion to etl_pca_2d's axes: D² =
    // (c·dx² − 2b·dx·dy + a·dy²)/det against the χ²₂ 99% line 9.210,
    // i.e. "which rate pairs are jointly unusual even when each rate
    // is individually ordinary". The corpus collapses ONCE to the
    // bounded 2-dp (flag, d_cents, t_cents, cnt) domain relation
    // (≤ flags × 11 × 9 rows); the same five exact BIGINT cent moments
    // as etl_pca_2d give the covariance; D² is evaluated over the
    // DOMAIN (broadcast moment join), outlier mass summed from exact
    // counts, max-D² ×10⁶-snapped per value BEFORE the max so no
    // cross-engine double comparison ordering exists.
    "etl_mahalanobis" -> QueryDef.withOracle(
      """WITH dom AS (
        |  SELECT l_returnflag,
        |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS dc,
        |    CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS tc,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1, 2, 3),
        |m AS (
        |  SELECT l_returnflag, CAST(sum(cnt) AS BIGINT) AS n,
        |    CAST(sum(dc * cnt) AS BIGINT) AS sd,
        |    CAST(sum(tc * cnt) AS BIGINT) AS st,
        |    CAST(sum(dc * dc * cnt) AS BIGINT) AS sdd,
        |    CAST(sum(tc * tc * cnt) AS BIGINT) AS stt,
        |    CAST(sum(dc * tc * cnt) AS BIGINT) AS sdt
        |  FROM dom GROUP BY 1),
        |cv AS (
        |  SELECT l_returnflag, n,
        |    CAST(sd AS DOUBLE) / n / 100 AS mx,
        |    CAST(st AS DOUBLE) / n / 100 AS my,
        |    CAST(sdd AS DOUBLE) / n / 1e4
        |      - (CAST(sd AS DOUBLE) / n / 100) * (CAST(sd AS DOUBLE) / n / 100)
        |      AS a,
        |    CAST(stt AS DOUBLE) / n / 1e4
        |      - (CAST(st AS DOUBLE) / n / 100) * (CAST(st AS DOUBLE) / n / 100)
        |      AS c,
        |    CAST(sdt AS DOUBLE) / n / 1e4
        |      - (CAST(sd AS DOUBLE) / n / 100) * (CAST(st AS DOUBLE) / n / 100)
        |      AS b
        |  FROM m),
        |d2 AS (
        |  SELECT dom.l_returnflag, dom.cnt, cv.n,
        |    floor((cv.c * (CAST(dom.dc AS DOUBLE) / 100 - cv.mx)
        |        * (CAST(dom.dc AS DOUBLE) / 100 - cv.mx)
        |      - 2 * cv.b * (CAST(dom.dc AS DOUBLE) / 100 - cv.mx)
        |        * (CAST(dom.tc AS DOUBLE) / 100 - cv.my)
        |      + cv.a * (CAST(dom.tc AS DOUBLE) / 100 - cv.my)
        |        * (CAST(dom.tc AS DOUBLE) / 100 - cv.my))
        |      / (cv.a * cv.c - cv.b * cv.b) * 1e6 + 0.5) / 1.0e6 AS d2
        |  FROM dom JOIN cv USING (l_returnflag))
        |SELECT l_returnflag, n,
        |  CAST(sum(CASE WHEN d2 > 9.210 THEN cnt ELSE 0 END) AS BIGINT)
        |    AS n_outliers,
        |  max(d2) AS max_d2,
        |  floor(CAST(sum(CASE WHEN d2 > 9.210 THEN cnt ELSE 0 END) AS DOUBLE)
        |    / n * 1e6 + 0.5) / 1.0e6 AS outlier_rate
        |FROM d2 GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val dom = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"),
          floor(col("l_discount") * 100 + 0.5).cast(LongType).as("dc"),
          floor(col("l_tax") * 100 + 0.5).cast(LongType).as("tc"))
        .agg(count(lit(1)).as("cnt"))
        .persist() // bounded rate domain; moments + the D² scan
      val m = dom.groupBy(col("l_returnflag"))
        .agg(sum(col("cnt")).as("n"),
          sum(col("dc") * col("cnt")).as("sd"),
          sum(col("tc") * col("cnt")).as("st"),
          sum(col("dc") * col("dc") * col("cnt")).as("sdd"),
          sum(col("tc") * col("tc") * col("cnt")).as("stt"),
          sum(col("dc") * col("tc") * col("cnt")).as("sdt"))
      val mx = col("sd").cast(DoubleType) / col("n") / 100
      val my = col("st").cast(DoubleType) / col("n") / 100
      val cv = m.select(col("l_returnflag"), col("n"), mx.as("mx"),
        my.as("my"),
        (col("sdd").cast(DoubleType) / col("n") / lit(1.0e4) - mx * mx)
          .as("a"),
        (col("stt").cast(DoubleType) / col("n") / lit(1.0e4) - my * my)
          .as("c"),
        (col("sdt").cast(DoubleType) / col("n") / lit(1.0e4) - mx * my)
          .as("b"))
      val dx = col("dc").cast(DoubleType) / 100 - col("mx")
      val dy = col("tc").cast(DoubleType) / 100 - col("my")
      val d2 = dom.join(broadcast(cv), Seq("l_returnflag"))
        .select(col("l_returnflag"), col("cnt"), col("n"),
          (floor((col("c") * dx * dx - lit(2) * col("b") * dx * dy
            + col("a") * dy * dy)
            / (col("a") * col("c") - col("b") * col("b"))
            * lit(1.0e6) + 0.5) / lit(1.0e6)).as("d2"))
      d2.groupBy(col("l_returnflag"), col("n"))
        .agg(sum(when(col("d2") > 9.210, col("cnt")).otherwise(0L))
          .as("n_outliers"),
          max(col("d2")).as("max_d2"))
        .select(col("l_returnflag"), col("n"), col("n_outliers"),
          col("max_d2"),
          (floor(col("n_outliers").cast(DoubleType) / col("n") * lit(1.0e6)
            + 0.5) / lit(1.0e6)).as("outlier_rate"))
    },

    // ------------------------------------------------------------------
    // Weibull shape/scale fit per return flag via median-rank
    // regression on quantity — the classic probability-plot estimator
    // (z = ln(−ln(1−F)) against w = ln(q) is linear with slope = shape
    // k exactly when the data is Weibull; k≈1 exponential-like,
    // k>1 wear-out): the parametric summary etl_hb_outliers /
    // ev_survival consumers ask for next. The corpus collapses ONCE to
    // the bounded (flag, q, cnt) integer-quantity domain; midpoint
    // median-rank positions F = (cum_before + (cnt+1)/2 − 0.3)/(n+0.4)
    // come from an exact cumulative window over that ≤50-value domain;
    // ln outputs are ×10⁹-snapped BEFORE any product and every
    // cnt-weighted OLS term is ×10⁶-snapped to BIGINT before its sum,
    // so no cross-engine libm-ulp or addition-order drift survives.
    "etl_weibull_fit" -> QueryDef.withOracle(
      """WITH dom AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |w AS (
        |  SELECT l_returnflag, q, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n,
        |    CAST(coalesce(sum(cnt) OVER (PARTITION BY l_returnflag
        |      ORDER BY q ASC ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS BIGINT) AS cb
        |  FROM dom),
        |t AS (
        |  SELECT l_returnflag, q, cnt, n,
        |    floor(ln(q) * 1e9 + 0.5) / 1.0e9 AS lw,
        |    floor(ln(0.0 - ln(1.0 - (cb + (cnt + 1) / 2.0 - 0.3) / (n + 0.4)))
        |      * 1e9 + 0.5) / 1.0e9 AS lz
        |  FROM w),
        |ss AS (
        |  SELECT l_returnflag, n, CAST(count(*) AS BIGINT) AS nv,
        |    CAST(sum(CAST(floor(cnt * lw * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS sw,
        |    CAST(sum(CAST(floor(cnt * lz * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS sz,
        |    CAST(sum(CAST(floor(cnt * lw * lz * 1e6 + 0.5) AS BIGINT))
        |      AS BIGINT) AS swz,
        |    CAST(sum(CAST(floor(cnt * lw * lw * 1e6 + 0.5) AS BIGINT))
        |      AS BIGINT) AS sww
        |  FROM t GROUP BY 1, 2),
        |fit AS (
        |  SELECT l_returnflag, n, nv,
        |    (CAST(swz AS DOUBLE) / 1e6
        |      - CAST(sw AS DOUBLE) / 1e6 * (CAST(sz AS DOUBLE) / 1e6) / n)
        |    / (CAST(sww AS DOUBLE) / 1e6
        |      - CAST(sw AS DOUBLE) / 1e6 * (CAST(sw AS DOUBLE) / 1e6) / n)
        |      AS shape,
        |    CAST(sw AS DOUBLE) / 1e6 AS sw6, CAST(sz AS DOUBLE) / 1e6 AS sz6
        |  FROM ss)
        |SELECT l_returnflag, n, nv AS n_values,
        |  floor(shape * 1e6 + 0.5) / 1.0e6 AS shape,
        |  floor(exp(0.0 - ((sz6 - shape * sw6) / n) / shape) * 1e6 + 0.5)
        |    / 1.0e6 AS scale
        |FROM fit""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.{Window => W}
      val dom = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_quantity").cast(LongType).as("q"))
        .agg(count(lit(1)).as("cnt"))
      // bounded ≤50-value domain per flag: these windows never see the
      // corpus, only the value-grouped bookkeeping relation
      val wn = W.partitionBy(col("l_returnflag"))
      val wc = W.partitionBy(col("l_returnflag")).orderBy(col("q").asc)
        .rowsBetween(W.unboundedPreceding, -1)
      val w = dom.select(col("l_returnflag"), col("q"), col("cnt"),
        sum(col("cnt")).over(wn).as("n"),
        coalesce(sum(col("cnt")).over(wc), lit(0L)).as("cb"))
      val fpos = ((col("cb") + (col("cnt") + 1) / lit(2.0) - 0.3)
        / (col("n") + lit(0.4)))
      val t = w.select(col("l_returnflag"), col("q"), col("cnt"), col("n"),
        (floor(log(col("q")) * lit(1.0e9) + 0.5) / lit(1.0e9)).as("lw"),
        (floor(log(lit(0.0) - log(lit(1.0) - fpos)) * lit(1.0e9) + 0.5)
          / lit(1.0e9)).as("lz"))
      val ss = t.groupBy(col("l_returnflag"), col("n"))
        .agg(count(lit(1)).as("nv"),
          sum(floor(col("cnt") * col("lw") * lit(1.0e6) + 0.5)
            .cast(LongType)).as("sw"),
          sum(floor(col("cnt") * col("lz") * lit(1.0e6) + 0.5)
            .cast(LongType)).as("sz"),
          sum(floor(col("cnt") * col("lw") * col("lz") * lit(1.0e6) + 0.5)
            .cast(LongType)).as("swz"),
          sum(floor(col("cnt") * col("lw") * col("lw") * lit(1.0e6) + 0.5)
            .cast(LongType)).as("sww"))
      val shape = ((col("swz").cast(DoubleType) / lit(1.0e6)
        - col("sw").cast(DoubleType) / lit(1.0e6)
          * (col("sz").cast(DoubleType) / lit(1.0e6)) / col("n"))
        / (col("sww").cast(DoubleType) / lit(1.0e6)
          - col("sw").cast(DoubleType) / lit(1.0e6)
            * (col("sw").cast(DoubleType) / lit(1.0e6)) / col("n")))
      val fit = ss.select(col("l_returnflag"), col("n"), col("nv"),
        shape.as("shape"),
        (col("sw").cast(DoubleType) / lit(1.0e6)).as("sw6"),
        (col("sz").cast(DoubleType) / lit(1.0e6)).as("sz6"))
      fit.select(col("l_returnflag"), col("n"), col("nv").as("n_values"),
        (floor(col("shape") * lit(1.0e6) + 0.5) / lit(1.0e6)).as("shape"),
        (floor(exp((lit(0.0) - (col("sz6") - col("shape") * col("sw6"))
          / col("n")) / col("shape")) * lit(1.0e6) + 0.5) / lit(1.0e6))
          .as("scale"))
    },

    // ------------------------------------------------------------------
    // Logistic regression of P(high priority | price band) by Newton/
    // IRLS — the binary-response companion to etl_regression_ols
    // (rate-vs-driver questions where a linear fit predicts
    // probabilities outside [0,1]). Grouped-binomial Newton in CLOSED
    // form on the 2×2 Hessian, 4 unrolled rounds: the corpus collapses
    // ONCE to the bounded (band, n, k) domain (o_totalprice/20000 →
    // ≤ ~30 buckets); Spark folds the rounds over the sorted domain
    // ARRAY with a nested higher-order aggregate (the 1-element-array
    // trick binds the round's sums struct, Holt-style), the oracle
    // replays the SAME chain as generated unrolled CTEs. Every
    // per-bucket score/Hessian term is ×10⁶-snapped to BIGINT before
    // its sum and β is ×10⁹-snapped after each round, so engine libm
    // and addition order cannot diverge.
    "etl_logistic_fit" -> {
      // engine-portable arithmetic snippets (identical Spark SQL /
      // DuckDB text keeps the two chains structurally equal)
      def p(b0: String, b1: String, x: String) =
        s"(1.0 / (1.0 + exp(0.0 - ($b0 + $b1 * $x))))"
      def terms(b0: String, b1: String, n: String, k: String, x: String) = {
        val pp = p(b0, b1, x)
        Seq(
          "g1" -> s"($k - $n * $pp)",
          "g2" -> s"(($k - $n * $pp) * $x)",
          "h11" -> s"(($n * $pp) * (1.0 - $pp))",
          "h12" -> s"((($n * $pp) * (1.0 - $pp)) * $x)",
          "h22" -> s"(((($n * $pp) * (1.0 - $pp)) * $x) * $x)")
      }
      def upd(b0: String, b1: String, s: String) = {
        def d(f: String) = s"CAST($s.$f AS DOUBLE) / 1e6"
        val det = s"(${d("h11")} * (${d("h22")}) - ${d("h12")} * (${d("h12")}))"
        val n0 = s"(${d("h22")} * (${d("g1")}) - ${d("h12")} * (${d("g2")}))"
        val n1 = s"(${d("h11")} * (${d("g2")}) - ${d("h12")} * (${d("g1")}))"
        (s"floor(($b0 + $n0 / $det) * 1e9 + 0.5) / 1.0e9",
          s"floor(($b1 + $n1 / $det) * 1e9 + 0.5) / 1.0e9")
      }
      val oracle = {
        val rounds = (1 to 4).map { j =>
          val pr = s"r${j - 1}"
          val sums = terms(s"$pr.b0", s"$pr.b1", "dom.n", "dom.k",
            "CAST(dom.b AS DOUBLE)")
            .map { case (f, t) =>
              s"CAST(sum(CAST(floor($t * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS $f"
            }.mkString(",\n    ")
          val (u0, u1) = upd(s"$pr.b0", s"$pr.b1", s"s$j")
          s"""s$j AS (
             |  SELECT $sums
             |  FROM dom CROSS JOIN $pr),
             |r$j AS (
             |  SELECT $u0 AS b0, $u1 AS b1 FROM s$j CROSS JOIN $pr)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH dom AS (
           |  SELECT CAST(floor(o_totalprice / 20000) AS BIGINT) AS b,
           |    CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
           |      THEN 1 ELSE 0 END) AS BIGINT) AS k
           |  FROM orders GROUP BY 1),
           |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
           |               CAST(sum(k) AS BIGINT) AS kk FROM dom),
           |r0 AS (
           |  SELECT floor(ln(CAST(kk AS DOUBLE) / (nn - kk)) * 1e9 + 0.5)
           |    / 1.0e9 AS b0, 0.0 AS b1 FROM tot),
           |$rounds
           |SELECT tot.nn AS n_total, tot.kk AS k_total,
           |  r4.b0 AS beta0, r4.b1 AS beta1
           |FROM r4 CROSS JOIN tot""".stripMargin
      }
      QueryDef.withOracle(oracle) { (s, dir) =>
        val dom = Tables.orders(s, dir)
          .groupBy(floor(col("o_totalprice") / 20000).cast(LongType).as("b"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(0L)).as("k"))
        val one = dom.agg(
          sort_array(collect_list(struct(
            col("b").cast(DoubleType).as("x"), col("n"), col("k")))).as("arr"),
          sum(col("n")).as("nn"), sum(col("k")).as("kk"))
          .withColumn("b0i",
            expr("floor(ln(CAST(kk AS DOUBLE) / (nn - kk)) * 1e9 + 0.5) / 1.0e9"))
        val innerSums = terms("acc.b0", "acc.b1", "e.n", "e.k", "e.x")
          .map { case (f, t) =>
            s"'$f', a.$f + CAST(floor($t * 1e6 + 0.5) AS BIGINT)"
          }.mkString(", ")
        val zeroes = Seq("g1", "g2", "h11", "h12", "h22")
          .map(f => s"'$f', CAST(0 AS BIGINT)").mkString(", ")
        val (u0, u1) = upd("bb.b0", "bb.b1", "s")
        // the 1-element-array aggregate binds the sums struct `s` —
        // Spark SQL lambdas have no let, this is the Holt-style fold's
        // companion idiom
        val fold =
          s"""aggregate(sequence(1, 4),
             |  named_struct('b0', b0i, 'b1', CAST(0.0 AS DOUBLE)),
             |  (acc, rnd) -> aggregate(
             |    array(aggregate(arr, named_struct($zeroes),
             |      (a, e) -> named_struct($innerSums))),
             |    acc,
             |    (bb, s) -> named_struct('b0', $u0, 'b1', $u1)))""".stripMargin
        one.select(col("nn").as("n_total"), col("kk").as("k_total"),
          expr(fold).as("bb"))
          .select(col("n_total"), col("k_total"),
            col("bb.b0").as("beta0"), col("bb.b1").as("beta1"))
      }
    },

    // ------------------------------------------------------------------
    // Two-way ANOVA of quantity by return flag × line status — the
    // factorial extension of etl_anova_oneway (main effects AND the
    // interaction: does the flag effect differ by status, the question
    // one-way ANOVA can't pose). Classic sums-of-squares identities on
    // EXACT integer sums: one corpus scan to the ≤|flags|×|statuses|
    // cell relation plus the exact Σq² power sum; every S²/n margin
    // term is ×10⁶-snapped to BIGINT before its sum, so SS_AB =
    // SS_cells − SS_A − SS_B telescopes in exact fixed point; only
    // the final F ratios divide as doubles (×10⁶ snaps).
    "etl_two_way_anova" -> QueryDef.withOracle(
      """WITH cells AS (
        |  SELECT l_returnflag AS fa, l_linestatus AS fb,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s
        |  FROM lineitem GROUP BY 1, 2),
        |qq AS (
        |  SELECT CAST(sum(CAST(l_quantity AS BIGINT)
        |    * CAST(l_quantity AS BIGINT)) AS BIGINT) AS ssq
        |  FROM lineitem),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |               CAST(sum(s) AS BIGINT) AS ss FROM cells),
        |ta AS (
        |  SELECT CAST(sum(t) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS a
        |  FROM (SELECT CAST(floor(CAST(sum(s) AS DOUBLE) * sum(s)
        |          / sum(n) * 1e6 + 0.5) AS BIGINT) AS t
        |        FROM cells GROUP BY fa)),
        |tb AS (
        |  SELECT CAST(sum(t) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS b
        |  FROM (SELECT CAST(floor(CAST(sum(s) AS DOUBLE) * sum(s)
        |          / sum(n) * 1e6 + 0.5) AS BIGINT) AS t
        |        FROM cells GROUP BY fb)),
        |tc AS (
        |  SELECT CAST(sum(CAST(floor(CAST(s AS DOUBLE) * s / n * 1e6 + 0.5)
        |    AS BIGINT)) AS BIGINT) AS t
        |  FROM cells),
        |sc AS (
        |  SELECT ta.t - c.t AS fpa, tb.t - c.t AS fpb,
        |    tc.t - ta.t - tb.t + c.t AS fpab,
        |    qq.ssq * 1000000 - tc.t AS fpw,
        |    ta.a - 1 AS dfa, tb.b - 1 AS dfb,
        |    (ta.a - 1) * (tb.b - 1) AS dfab, tot.nn - ta.a * tb.b AS dfw
        |  FROM ta CROSS JOIN tb CROSS JOIN tc CROSS JOIN qq CROSS JOIN tot
        |  CROSS JOIN (SELECT CAST(floor(CAST(ss AS DOUBLE) * ss / nn
        |    * 1e6 + 0.5) AS BIGINT) AS t FROM tot) c)
        |SELECT 'flag' AS source, CAST(fpa AS DOUBLE) / 1e6 AS ss,
        |  dfa AS df,
        |  floor((CAST(fpa AS DOUBLE) / 1e6 / dfa)
        |    / (CAST(fpw AS DOUBLE) / 1e6 / dfw) * 1e6 + 0.5) / 1.0e6 AS f_stat
        |FROM sc
        |UNION ALL
        |SELECT 'status', CAST(fpb AS DOUBLE) / 1e6, dfb,
        |  floor((CAST(fpb AS DOUBLE) / 1e6 / dfb)
        |    / (CAST(fpw AS DOUBLE) / 1e6 / dfw) * 1e6 + 0.5) / 1.0e6
        |FROM sc
        |UNION ALL
        |SELECT 'interaction', CAST(fpab AS DOUBLE) / 1e6, dfab,
        |  floor((CAST(fpab AS DOUBLE) / 1e6 / dfab)
        |    / (CAST(fpw AS DOUBLE) / 1e6 / dfw) * 1e6 + 0.5) / 1.0e6
        |FROM sc
        |UNION ALL
        |SELECT 'within', CAST(fpw AS DOUBLE) / 1e6, dfw, CAST(NULL AS DOUBLE)
        |FROM sc""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val cells = li.groupBy(col("l_returnflag").as("fa"),
          col("l_linestatus").as("fb"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(LongType)).as("s"))
        .persist() // ≤6-row cell relation; margins + totals re-read it
      val qq = li.agg(sum(col("l_quantity").cast(LongType)
        * col("l_quantity").cast(LongType)).as("ssq"))
      val term = floor(sum(col("s")).cast(DoubleType) * sum(col("s"))
        / sum(col("n")) * lit(1.0e6) + 0.5).cast(LongType)
      val ta = cells.groupBy(col("fa")).agg(term.as("t"))
        .agg(sum(col("t")).as("ta"), count(lit(1)).as("a"))
      val tb = cells.groupBy(col("fb")).agg(term.as("t"))
        .agg(sum(col("t")).as("tb"), count(lit(1)).as("b"))
      val tc = cells.agg(sum(floor(col("s").cast(DoubleType) * col("s")
        / col("n") * lit(1.0e6) + 0.5).cast(LongType)).as("tc"))
      val tot = cells.agg(sum(col("n")).as("nn"), sum(col("s")).as("ss"))
      val corr = tot.select(floor(col("ss").cast(DoubleType) * col("ss")
        / col("nn") * lit(1.0e6) + 0.5).cast(LongType).as("c"),
        col("nn"))
      val sc = ta.crossJoin(broadcast(tb)).crossJoin(broadcast(tc))
        .crossJoin(broadcast(qq)).crossJoin(broadcast(corr))
        .select((col("ta") - col("c")).as("fpa"),
          (col("tb") - col("c")).as("fpb"),
          (col("tc") - col("ta") - col("tb") + col("c")).as("fpab"),
          (col("ssq") * 1000000L - col("tc")).as("fpw"),
          (col("a") - 1).as("dfa"), (col("b") - 1).as("dfb"),
          ((col("a") - 1) * (col("b") - 1)).as("dfab"),
          (col("nn") - col("a") * col("b")).as("dfw"))
      val rows = sc.select(explode(array(
        struct(lit("flag").as("source"),
          (col("fpa").cast(DoubleType) / lit(1.0e6)).as("ss"),
          col("dfa").cast(LongType).as("df")),
        struct(lit("status").as("source"),
          (col("fpb").cast(DoubleType) / lit(1.0e6)).as("ss"),
          col("dfb").cast(LongType).as("df")),
        struct(lit("interaction").as("source"),
          (col("fpab").cast(DoubleType) / lit(1.0e6)).as("ss"),
          col("dfab").cast(LongType).as("df")),
        struct(lit("within").as("source"),
          (col("fpw").cast(DoubleType) / lit(1.0e6)).as("ss"),
          col("dfw").cast(LongType).as("df")))).as("u"),
        col("fpw"), col("dfw"))
      rows.select(col("u.source").as("source"), col("u.ss").as("ss"),
        col("u.df").as("df"),
        when(col("u.source") === "within", lit(null).cast(DoubleType))
          .otherwise(floor((col("u.ss") / col("u.df"))
            / (col("fpw").cast(DoubleType) / lit(1.0e6) / col("dfw"))
            * lit(1.0e6) + 0.5) / lit(1.0e6)).as("f_stat"))
    },

    // ------------------------------------------------------------------
    // Shewhart X̄ control chart of shipped quantity by ship month — the
    // process-stability screen agencies run BEFORE trusting a series
    // (the etl_hb_outliers question asked at the subgroup level, with
    // proper variable-n 3σ limits instead of a fixed clamp). Subgroups
    // are ship months; σ̂ is the POOLED within-subgroup variance, each
    // month's (Σq)²/n term ×10⁶-snapped to BIGINT pre-sum (the two-way
    // ANOVA discipline) so the within sum is exact and order-
    // invariant. Limits x̄̄ ± 3σ̂/√n_j use each month's own n (variable-
    // n charts have per-subgroup limits, not one pair). ONE corpus
    // scan to the month relation; everything downstream rides ≤|months|
    // rows + a 1-row pooled anchor. Pinned double chain, ×10⁶ snaps.
    "etl_control_chart" -> QueryDef.withOracle(
      """WITH g AS (
        |  SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS mon,
        |    CAST(count(*) AS BIGINT) AS n_j,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s_j,
        |    CAST(sum(CAST(l_quantity AS BIGINT)
        |      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS ss_j
        |  FROM lineitem GROUP BY 1),
        |t AS (
        |  SELECT CAST(sum(n_j) AS BIGINT) AS nn,
        |    CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(s_j) AS BIGINT) AS ss,
        |    CAST(sum(ss_j * 1000000 - CAST(floor(CAST(s_j AS DOUBLE) * s_j
        |      / n_j * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS wfp
        |  FROM g),
        |a AS (
        |  SELECT CAST(ss AS DOUBLE) / nn AS center,
        |    CAST(wfp AS DOUBLE) / 1e6 / (nn - m) AS sig2
        |  FROM t)
        |SELECT mon, n_j AS n,
        |  floor(CAST(s_j AS DOUBLE) / n_j * 1e6 + 0.5) / 1.0e6 AS xbar,
        |  floor(center * 1e6 + 0.5) / 1.0e6 AS center,
        |  floor((center + 3 * sqrt(sig2 / CAST(n_j AS DOUBLE))) * 1e6 + 0.5)
        |    / 1.0e6 AS ucl,
        |  floor((center - 3 * sqrt(sig2 / CAST(n_j AS DOUBLE))) * 1e6 + 0.5)
        |    / 1.0e6 AS lcl,
        |  CASE WHEN CAST(s_j AS DOUBLE) / n_j
        |         > center + 3 * sqrt(sig2 / CAST(n_j AS DOUBLE))
        |       THEN 'out_high'
        |       WHEN CAST(s_j AS DOUBLE) / n_j
        |         < center - 3 * sqrt(sig2 / CAST(n_j AS DOUBLE))
        |       THEN 'out_low' ELSE 'in' END AS status
        |FROM g CROSS JOIN a""".stripMargin) { (s, dir) =>
      val q = col("l_quantity").cast(LongType)
      val g = Tables.lineitem(s, dir)
        .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("mon"))
        .agg(count(lit(1)).as("n_j"), sum(q).as("s_j"),
          sum(q * q).as("ss_j"))
      val t = g.agg(sum(col("n_j")).as("nn"), count(lit(1)).as("m"),
        sum(col("s_j")).as("ss"),
        sum(col("ss_j") * 1000000L
          - floor(col("s_j").cast(DoubleType) * col("s_j") / col("n_j")
            * lit(1.0e6) + 0.5).cast(LongType)).as("wfp"))
      val a = t.select(
        (col("ss").cast(DoubleType) / col("nn")).as("center"),
        (col("wfp").cast(DoubleType) / lit(1.0e6)
          / (col("nn") - col("m"))).as("sig2"))
      val xbar = col("s_j").cast(DoubleType) / col("n_j")
      val hw = lit(3) * sqrt(col("sig2") / col("n_j").cast(DoubleType))
      g.crossJoin(broadcast(a))
        .select(col("mon"), col("n_j").as("n"),
          (floor(xbar * lit(1.0e6) + 0.5) / lit(1.0e6)).as("xbar"),
          (floor(col("center") * lit(1.0e6) + 0.5) / lit(1.0e6))
            .as("center"),
          (floor((col("center") + hw) * lit(1.0e6) + 0.5) / lit(1.0e6))
            .as("ucl"),
          (floor((col("center") - hw) * lit(1.0e6) + 0.5) / lit(1.0e6))
            .as("lcl"),
          when(xbar > col("center") + hw, "out_high")
            .when(xbar < col("center") - hw, "out_low")
            .otherwise("in").as("status"))
    },

    // ------------------------------------------------------------------
    // p-chart of monthly return proportion — the attribute-data
    // companion to etl_control_chart's X̄ chart (SPC for a DEFECT RATE
    // rather than a measured mean; the chart a returns-processing desk
    // actually watches). p̄ pools all months; limits p̄ ± 3·√(p̄(1−p̄)/n_j)
    // use each month's own n with the LCL clamped at 0 (the standard
    // variable-n p-chart rule). Counts are exact BIGINTs from ONE
    // corpus scan; the pinned double chain divides only at the end,
    // ×10⁶ snapped.
    "etl_p_chart" -> QueryDef.withOracle(
      """WITH g AS (
        |  SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS mon,
        |    CAST(count(*) AS BIGINT) AS n_j,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d_j
        |  FROM lineitem GROUP BY 1),
        |a AS (
        |  SELECT CAST(sum(d_j) AS DOUBLE) / sum(n_j) AS pbar FROM g)
        |SELECT mon, n_j AS n, d_j AS defects,
        |  floor(CAST(d_j AS DOUBLE) / n_j * 1e6 + 0.5) / 1.0e6 AS phat,
        |  floor(pbar * 1e6 + 0.5) / 1.0e6 AS center,
        |  floor((pbar + 3 * sqrt(pbar * (1 - pbar) / CAST(n_j AS DOUBLE)))
        |    * 1e6 + 0.5) / 1.0e6 AS ucl,
        |  floor(greatest(pbar - 3 * sqrt(pbar * (1 - pbar)
        |    / CAST(n_j AS DOUBLE)), 0.0) * 1e6 + 0.5) / 1.0e6 AS lcl,
        |  CASE WHEN CAST(d_j AS DOUBLE) / n_j
        |         > pbar + 3 * sqrt(pbar * (1 - pbar) / CAST(n_j AS DOUBLE))
        |       THEN 'out_high'
        |       WHEN CAST(d_j AS DOUBLE) / n_j
        |         < greatest(pbar - 3 * sqrt(pbar * (1 - pbar)
        |             / CAST(n_j AS DOUBLE)), 0.0)
        |       THEN 'out_low' ELSE 'in' END AS status
        |FROM g CROSS JOIN a""".stripMargin) { (s, dir) =>
      val g = Tables.lineitem(s, dir)
        .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("mon"))
        .agg(count(lit(1)).as("n_j"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("d_j"))
      val a = g.agg((sum(col("d_j")).cast(DoubleType) / sum(col("n_j")))
        .as("pbar"))
      val phat = col("d_j").cast(DoubleType) / col("n_j")
      val hw = lit(3) * sqrt(col("pbar") * (lit(1) - col("pbar"))
        / col("n_j").cast(DoubleType))
      val lcl = greatest(col("pbar") - hw, lit(0.0))
      g.crossJoin(broadcast(a))
        .select(col("mon"), col("n_j").as("n"), col("d_j").as("defects"),
          (floor(phat * lit(1.0e6) + 0.5) / lit(1.0e6)).as("phat"),
          (floor(col("pbar") * lit(1.0e6) + 0.5) / lit(1.0e6))
            .as("center"),
          (floor((col("pbar") + hw) * lit(1.0e6) + 0.5) / lit(1.0e6))
            .as("ucl"),
          (floor(lcl * lit(1.0e6) + 0.5) / lit(1.0e6)).as("lcl"),
          when(phat > col("pbar") + hw, "out_high")
            .when(phat < lcl, "out_low")
            .otherwise("in").as("status"))
    },


    // ------------------------------------------------------------------
    // Durbin-Watson autocorrelation test on the monthly-OLS residuals
    // per return flag — the serial-correlation screen that decides
    // whether etl_regression_ols's standard errors can be trusted on a
    // time-ordered fit (DW ≈ 2 independent, → 0 positively
    // autocorrelated, → 4 negatively). Rides the shared monthlyOlsSql
    // residual relation: corpus collapses once to ≤|months| exact cent
    // sums; residuals snap ×100 to BIGINT so the lag-difference and
    // square sums are EXACT (HUGEINT/DECIMAL38 — e_fp² ~1e22 overflows
    // BIGINT) and the single ordered window is calendar-bounded. DW
    // snapped ×10⁶; the d_L≈1.5 rule-of-thumb flag is documented, not
    // a table lookup.
    "etl_durbin_watson" -> QueryDef.withOracle(
      s"""WITH $monthlyOlsSql,
        |l AS (
        |  SELECT f, n, e_fp,
        |    lag(e_fp) OVER (PARTITION BY f ORDER BY mi ASC) AS prev
        |  FROM r),
        |s AS (
        |  SELECT f, max(n) AS n_months,
        |    CAST(sum(CASE WHEN prev IS NOT NULL
        |      THEN CAST(e_fp - prev AS HUGEINT) * (e_fp - prev) END)
        |      AS HUGEINT) AS sd,
        |    CAST(sum(CAST(e_fp AS HUGEINT) * e_fp) AS HUGEINT) AS se
        |  FROM l GROUP BY f)
        |SELECT f AS l_returnflag, n_months,
        |  floor(CAST(sd AS DOUBLE) / CAST(se AS DOUBLE) * 1e6 + 0.5) / 1.0e6
        |    AS dw,
        |  floor(CAST(sd AS DOUBLE) / CAST(se AS DOUBLE) * 1e6 + 0.5) / 1.0e6
        |    < 1.5 AS positive_autocorr
        |FROM s""".stripMargin) { (s, dir) =>
      val dec38 = DecimalType(38, 0)
      val w = Window.partitionBy(col("f")).orderBy(col("mi").asc)
      val l = monthlyOlsResiduals(s, dir)
        .select(col("f"), col("n"), col("e_fp"),
          lag(col("e_fp"), 1).over(w).as("prev"))
      val agg = l.groupBy(col("f"))
        .agg(max(col("n")).as("n_months"),
          sum(when(col("prev").isNotNull,
            (col("e_fp") - col("prev")).cast(dec38)
              * (col("e_fp") - col("prev")))).as("sd"),
          sum(col("e_fp").cast(dec38) * col("e_fp")).as("se"))
      val dw = floor(col("sd").cast(DoubleType) / col("se").cast(DoubleType)
        * lit(1.0e6) + 0.5) / lit(1.0e6)
      agg.select(col("f").as("l_returnflag"), col("n_months"),
        dw.as("dw"), (dw < 1.5).as("positive_autocorr"))
    },

    // ------------------------------------------------------------------
    // Cook's distance influence diagnostics on the same monthly OLS fit
    // — WHICH months move the trend line (the per-point companion to
    // etl_durbin_watson's residual screen and etl_hb_outliers' value
    // screen): leverage h = 1/n + (mi−x̄)²/Sxx and D = e²/(p·s²) ·
    // h/(1−h)² with p = 2, s² = SSE/(n−2), all closed-form double
    // chains from the exact moment sums (identical both engines), SSE
    // from the exact ×100-snapped residual squares. Top-3 influential
    // months per flag, ranked on the raw double with a deterministic
    // month tiebreak. Everything after the one corpus collapse rides
    // the ≤|months| relation.
    "etl_cooks_distance" -> QueryDef.withOracle(
      s"""WITH $monthlyOlsSql,
        |sse AS (
        |  SELECT f, CAST(sum(CAST(e_fp AS HUGEINT) * e_fp) AS HUGEINT)
        |    AS sse_fp
        |  FROM r GROUP BY f),
        |d AS (
        |  SELECT r.f, r.mi, r.n,
        |    CAST(r.e_fp AS DOUBLE) / 100 AS resid,
        |    1.0 / r.n + (r.mi - r.sx / r.n) * (r.mi - r.sx / r.n)
        |      / (r.sxx - r.sx * r.sx / r.n) AS h,
        |    CAST(sse.sse_fp AS DOUBLE) / 1e4 / (r.n - 2) AS s2
        |  FROM r JOIN sse ON sse.f = r.f),
        |c AS (
        |  SELECT f, mi, resid, h,
        |    (resid * resid) / (2.0 * s2) * (h / ((1.0 - h) * (1.0 - h)))
        |      AS cd
        |  FROM d),
        |rk AS (
        |  SELECT f, mi, resid, h, cd,
        |    row_number() OVER (PARTITION BY f ORDER BY cd DESC, mi ASC)
        |      AS rn
        |  FROM c)
        |SELECT f AS l_returnflag, mi, CAST(rn AS BIGINT) AS rn, resid,
        |  floor(h * 1e9 + 0.5) / 1.0e9 AS leverage,
        |  floor(cd * 1e6 + 0.5) / 1.0e6 AS cooks_d
        |FROM rk WHERE rn <= 3""".stripMargin) { (s, dir) =>
      val dec38 = DecimalType(38, 0)
      val r = monthlyOlsResiduals(s, dir)
        .persist() // ≤|months|·|flags| rows; SSE agg + per-row pass
      val sse = r.groupBy(col("f"))
        .agg(sum(col("e_fp").cast(dec38) * col("e_fp")).as("sse_fp"))
      val h = (lit(1.0) / col("n")) +
        ((col("mi") - col("sx") / col("n")) * (col("mi") - col("sx") / col("n"))
          / (col("sxx") - col("sx") * col("sx") / col("n")))
      val d = r.join(broadcast(sse), Seq("f"))
        .select(col("f"), col("mi"), col("n"),
          (col("e_fp").cast(DoubleType) / 100).as("resid"), h.as("h"),
          (col("sse_fp").cast(DoubleType) / lit(1.0e4) / (col("n") - 2))
            .as("s2"))
      val cd = (col("resid") * col("resid")) / (lit(2.0) * col("s2")) *
        (col("h") / ((lit(1.0) - col("h")) * (lit(1.0) - col("h"))))
      val rk = d.select(col("f"), col("mi"), col("resid"), col("h"),
          cd.as("cd"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("f")).orderBy(col("cd").desc, col("mi").asc)))
      rk.filter(col("rn") <= 3)
        .select(col("f").as("l_returnflag"), col("mi"),
          col("rn").cast(LongType).as("rn"), col("resid"),
          (floor(col("h") * lit(1.0e9) + 0.5) / lit(1.0e9)).as("leverage"),
          (floor(col("cd") * lit(1.0e6) + 0.5) / lit(1.0e6)).as("cooks_d"))
    },

    // ------------------------------------------------------------------
    // Brown-Forsythe (median-centered Levene) test of variance
    // homogeneity of l_quantity across return flags — the
    // equal-variance assumption check gating etl_anova_oneway (classic
    // Levene on means is fragile under skew; the median variant is the
    // robust standard). Group medians come from the VALUE-GROUPED
    // bounded domain (integer 1..50 — the etl_ks_test bookkeeping
    // argument), so 2·median is an exact integer and the absolute
    // deviations z2 = |2q − med2| stay exact through both power sums.
    // The one-way ANOVA F on z then needs only per-group exact sums;
    // the k-row between/within terms snap ×10⁶ BEFORE the final sum so
    // no cross-engine double addition order exists. Reject at the
    // F(2,∞) 95% critical value 2.996.
    "etl_levene_test" -> QueryDef.withOracle(
      """WITH g AS (
        |  SELECT l_returnflag AS f, CAST(l_quantity AS BIGINT) AS q,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT f, q, cnt,
        |    sum(cnt) OVER (PARTITION BY f ORDER BY q ASC) AS cum,
        |    sum(cnt) OVER (PARTITION BY f) AS n
        |  FROM g),
        |med AS (
        |  SELECT f,
        |    CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN q END)
        |       + min(CASE WHEN cum >= (n + 2) // 2 THEN q END) AS BIGINT)
        |      AS med2
        |  FROM c GROUP BY f),
        |z AS (
        |  SELECT g.f, g.cnt, abs(2 * g.q - med.med2) AS z2
        |  FROM g JOIN med ON med.f = g.f),
        |a AS (
        |  SELECT f, CAST(sum(cnt) AS BIGINT) AS n_g,
        |    CAST(sum(cnt * z2) AS BIGINT) AS sz,
        |    CAST(sum(cnt * z2 * z2) AS BIGINT) AS szz
        |  FROM z GROUP BY f),
        |t AS (
        |  SELECT CAST(sum(n_g) AS BIGINT) AS nn,
        |    CAST(sum(sz) AS BIGINT) AS szt,
        |    CAST(count(*) AS BIGINT) AS k
        |  FROM a),
        |p AS (
        |  SELECT a.n_g, a.szz, t.nn, t.k,
        |    CAST(a.sz AS DOUBLE) / (2 * a.n_g) AS zb_g,
        |    CAST(t.szt AS DOUBLE) / (2 * t.nn) AS zb
        |  FROM a CROSS JOIN t),
        |terms AS (
        |  SELECT nn, k,
        |    CAST(floor(n_g * (zb_g - zb) * (zb_g - zb) * 1e6 + 0.5)
        |      AS BIGINT) AS bt,
        |    CAST(floor((CAST(szz AS DOUBLE) / 4 - n_g * zb_g * zb_g) * 1e6
        |      + 0.5) AS BIGINT) AS wt
        |  FROM p),
        |s AS (
        |  SELECT max(nn) AS n, max(k) AS k,
        |    CAST(sum(bt) AS BIGINT) AS b_fp, CAST(sum(wt) AS BIGINT) AS w_fp
        |  FROM terms)
        |SELECT n, k, b_fp / 1.0e6 AS ss_between, w_fp / 1.0e6 AS ss_within,
        |  floor(CAST(b_fp AS DOUBLE) * (n - k)
        |    / (CAST(w_fp AS DOUBLE) * (k - 1)) * 1e6 + 0.5) / 1.0e6 AS f_stat,
        |  floor(CAST(b_fp AS DOUBLE) * (n - k)
        |    / (CAST(w_fp AS DOUBLE) * (k - 1)) * 1e6 + 0.5) / 1.0e6 > 2.996
        |    AS reject_homogeneity
        |FROM s""".stripMargin) { (s, dir) =>
      val g = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag").as("f"),
          col("l_quantity").cast(LongType).as("q"))
        .agg(count(lit(1)).as("cnt"))
        .persist() // ≤50·|flags| rows; median pass + deviation pass
      val wCum = Window.partitionBy(col("f")).orderBy(col("q").asc)
      val wAll = Window.partitionBy(col("f"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val med = g
        .withColumn("cum", sum(col("cnt")).over(wCum))
        .withColumn("n", sum(col("cnt")).over(wAll))
        .groupBy(col("f"))
        .agg((min(when(col("cum") >= floor((col("n") + 1) / 2), col("q")))
          + min(when(col("cum") >= floor((col("n") + 2) / 2), col("q"))))
          .cast(LongType).as("med2"))
      val a = g.join(broadcast(med), Seq("f"))
        .select(col("f"), col("cnt"),
          abs(lit(2) * col("q") - col("med2")).as("z2"))
        .groupBy(col("f"))
        .agg(sum(col("cnt")).as("n_g"),
          sum(col("cnt") * col("z2")).as("sz"),
          sum(col("cnt") * col("z2") * col("z2")).as("szz"))
      val t = a.agg(sum(col("n_g")).as("nn"), sum(col("sz")).as("szt"),
        count(lit(1)).as("k"))
      val p = a.crossJoin(broadcast(t))
        .select(col("n_g"), col("szz"), col("nn"), col("k"),
          (col("sz").cast(DoubleType) / (lit(2) * col("n_g"))).as("zb_g"),
          (col("szt").cast(DoubleType) / (lit(2) * col("nn"))).as("zb"))
      val terms = p.select(col("nn"), col("k"),
        floor(col("n_g") * (col("zb_g") - col("zb"))
          * (col("zb_g") - col("zb")) * lit(1.0e6) + 0.5)
          .cast(LongType).as("bt"),
        floor((col("szz").cast(DoubleType) / 4
          - col("n_g") * col("zb_g") * col("zb_g")) * lit(1.0e6) + 0.5)
          .cast(LongType).as("wt"))
      val agg = terms.groupBy()
        .agg(max(col("nn")).as("n"), max(col("k")).as("k"),
          sum(col("bt")).as("b_fp"), sum(col("wt")).as("w_fp"))
      val f = floor(col("b_fp").cast(DoubleType) * (col("n") - col("k"))
        / (col("w_fp").cast(DoubleType) * (col("k") - 1)) * lit(1.0e6) + 0.5) /
        lit(1.0e6)
      agg.select(col("n"), col("k"),
        (col("b_fp") / lit(1.0e6)).as("ss_between"),
        (col("w_fp") / lit(1.0e6)).as("ss_within"),
        f.as("f_stat"), (f > 2.996).as("reject_homogeneity"))
    },

    // ------------------------------------------------------------------
    // Lorenz curve of customer spend — the decile table behind
    // etl_gini's scalar: decile k's share of total spend and the
    // cumulative share (the curve ordinate a distribution analyst
    // publishes). Deciles come from the distributed ntile transform
    // (range-bucket offsets + per-bucket local ranks — no whole-corpus
    // single-task sort), which reproduces SQL ntile(10) semantics
    // exactly; the cumulative window then rides a 10-row bookkeeping
    // relation. Exact DECIMAL spend sums; ratio fixed-point-rounded.
    "etl_lorenz_curve" -> QueryDef.withOracle(
      """WITH spend AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |  FROM orders GROUP BY 1),
        |d AS (
        |  SELECT spend,
        |    CAST(ntile(10) OVER (ORDER BY spend ASC, o_custkey ASC) AS BIGINT)
        |      AS decile
        |  FROM spend),
        |g AS (
        |  SELECT decile, CAST(count(*) AS BIGINT) AS n_cust,
        |    CAST(sum(CAST(spend AS DECIMAL(18,2))) AS DOUBLE) AS dec_spend
        |  FROM d GROUP BY decile),
        |t AS (SELECT sum(dec_spend) AS tot FROM g)
        |SELECT decile, n_cust, round(dec_spend, 2) AS decile_spend,
        |  floor(sum(dec_spend) OVER (ORDER BY decile ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    / tot * 1000000000 + 0.5) / 1.0e9 AS cum_share
        |FROM g CROSS JOIN t""".stripMargin) { (s, dir) =>
      val spend = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("spend"))
      val g = Temporal.distributedNtile(spend, "spend", "o_custkey", 10, "decile")
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("spend").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("dec_spend"))
      // 10-row relation: global windows here are bookkeeping, not scale
      val wCum = Window.orderBy(col("decile").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wTot = Window.orderBy(col("decile").asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      g.select(col("decile"), col("n_cust"),
          round(col("dec_spend"), 2).as("decile_spend"),
          (floor(sum(col("dec_spend")).over(wCum)
            / sum(col("dec_spend")).over(wTot)
            * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("cum_share"))
    },

    // ------------------------------------------------------------------
    // Spearman rank correlation between quantity and extended price per
    // return flag — the monotonic-association screen (robust to the
    // price outliers Pearson chokes on). Tie handling is the textbook
    // average-rank: rank2 = 2·avgrank = 2·minrank + ties − 1 kept
    // integral, so the five Pearson power sums over ranks are EXACT
    // BIGINTs (safe to ~2M rows/group before Σr·r′ nears 2⁶³; beyond
    // that the rank2 sums would move to DOUBLE). Price ranks come from
    // the distributed prefix pattern (per-flag range-bucket offsets +
    // per-bucket local windows over distinct VALUES, each bucket
    // bounded) — no per-flag single-task sort anywhere; quantity ranks
    // ride a ≤50-value bookkeeping relation. Final ρ assembles in
    // double from the exact sums with the expression shape mirrored in
    // the oracle.
    "etl_spearman_corr" -> QueryDef.withOracle(
      """WITH cx AS (
        |  SELECT l_returnflag AS f, l_quantity AS v,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |rx AS (
        |  SELECT f, v,
        |    2 * coalesce(sum(cnt) OVER (PARTITION BY f ORDER BY v ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + cnt + 1 AS r2x
        |  FROM cx),
        |cy AS (
        |  SELECT l_returnflag AS f, l_extendedprice AS w,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |ry AS (
        |  SELECT f, w,
        |    2 * coalesce(sum(cnt) OVER (PARTITION BY f ORDER BY w ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + cnt + 1 AS r2y
        |  FROM cy),
        |p AS (
        |  SELECT l.l_returnflag AS f, x.r2x, y.r2y
        |  FROM lineitem l
        |  JOIN rx x ON x.f = l.l_returnflag AND x.v = l.l_quantity
        |  JOIN ry y ON y.f = l.l_returnflag AND y.w = l.l_extendedprice),
        |sums AS (
        |  SELECT f, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(r2x) AS DOUBLE) AS sx, CAST(sum(r2y) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(r2x AS HUGEINT) * r2x) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(r2y AS HUGEINT) * r2y) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(r2x AS HUGEINT) * r2y) AS DOUBLE) AS sxy
        |  FROM p GROUP BY f)
        |SELECT f AS l_returnflag, n,
        |  floor((CAST(n AS DOUBLE) * sxy - sx * sy)
        |      / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
        |             * (CAST(n AS DOUBLE) * syy - sy * sy))
        |      * 1000000000 + 0.5) / 1.0e9 AS spearman_rho
        |FROM sums""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("f"), col("l_quantity").as("v"),
          col("l_extendedprice").as("w"))
        .persist() // 2 rank passes + the rank join re-scan one cache
      // r17 (the etl_mad_robust fold): ONE anchor job computes both
      // columns' bounds — was two full-scan min/max jobs, one per pass
      val mmx = li.agg(
        min(col("v")).cast(DoubleType), max(col("v")).cast(DoubleType),
        min(col("w")).cast(DoubleType), max(col("w")).cast(DoubleType)).head()
      val rx = avgRank2(li, "v",   // ≤50-value domain: tiny relation
        Some((mmx.getDouble(0), mmx.getDouble(1))))
      val ry = avgRank2(li, "w",   // corpus-scale distinct values
        Some((mmx.getDouble(2), mmx.getDouble(3))))
      val p = li
        .join(broadcast(rx), Seq("f", "v"))     // value-keyed broadcast
        .join(ry, Seq("f", "w"))                // (f, w)-keyed shuffle join
        .select(col("f"), col("r2x"), col("r2y"))
      // rank sums-of-products overflow BIGINT once n·(2n)² passes 2⁶³
      // (found by the derived-sf1 sweep at 6M rows): accumulate in
      // DECIMAL(38)/HUGEINT — exact at any corpus size — and convert
      // each exact sum to double ONCE, identically on both engines.
      val specDec = DecimalType(38, 0)
      p.groupBy(col("f"))
        .agg(count(lit(1)).as("n"),
          sum(col("r2x").cast(specDec)).cast(DoubleType).as("sx"),
          sum(col("r2y").cast(specDec)).cast(DoubleType).as("sy"),
          sum(col("r2x").cast(specDec) * col("r2x").cast(specDec))
            .cast(DoubleType).as("sxx"),
          sum(col("r2y").cast(specDec) * col("r2y").cast(specDec))
            .cast(DoubleType).as("syy"),
          sum(col("r2x").cast(specDec) * col("r2y").cast(specDec))
            .cast(DoubleType).as("sxy"))
        .select(col("f").as("l_returnflag"), col("n"),
          (floor((col("n").cast(DoubleType) * col("sxy")
              - col("sx") * col("sy"))
            / sqrt((col("n").cast(DoubleType) * col("sxx")
                - col("sx") * col("sx"))
              * (col("n").cast(DoubleType) * col("syy")
                - col("sy") * col("sy")))
            * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("spearman_rho"))
    },

    // ------------------------------------------------------------------
    // Theil inequality index per nation — the entropy-based companion
    // to etl_gini (additively decomposable across subgroups, which is
    // why agencies publish it alongside): T = (1/n)·Σ (xᵢ/μ)·ln(xᵢ/μ).
    // μ comes from exact DECIMAL sums broadcast back; each row's
    // (x/μ)·ln(x/μ) term snaps to ×10⁶ fixed point BEFORE the sum (the
    // bigram-LM ln discipline) so the corpus-scale accumulation is an
    // exact long — order- and partitioning-invariant at any size. One
    // scan, one custkey shuffle, one nation agg; no windows.
    "etl_theil_index" -> QueryDef.withOracle(
      s"""WITH $nationSpendSql,
        |mu AS (
        |  SELECT n_name, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(spend AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS mu
        |  FROM j GROUP BY n_name),
        |t AS (
        |  SELECT j.n_name, mu.n,
        |    CAST(floor((j.spend / mu.mu) * ln(j.spend / mu.mu) * 1000000
        |      + 0.5) AS BIGINT) AS term_fp
        |  FROM j JOIN mu ON mu.n_name = j.n_name)
        |SELECT n_name, n,
        |  floor(CAST(sum(term_fp) AS BIGINT) / 1.0e6 / n * 1000000000 + 0.5)
        |    / 1.0e9 AS theil_t
        |FROM t GROUP BY n_name, n""".stripMargin) { (s, dir) =>
      val j = nationSpend(s, dir)
        .select(col("n_name"), col("spend"))
        .persist() // feeds the per-nation mean and the term pass
      val mu = j.groupBy(col("n_name"))
        .agg(count(lit(1)).as("n"),
          (sum(col("spend").cast(DecimalType(18, 2))).cast(DoubleType)
            / count(lit(1))).as("mu"))
      val ratio = col("spend") / col("mu")
      j.join(broadcast(mu), Seq("n_name"))
        .select(col("n_name"), col("n"),
          floor(ratio * log(ratio) * lit(1.0e6) + lit(0.5))
            .cast(LongType).as("term_fp"))
        .groupBy(col("n_name"), col("n"))
        .agg(sum(col("term_fp")).as("s"))
        .select(col("n_name"), col("n"),
          (floor(col("s") / lit(1.0e6) / col("n") * lit(1.0e9) + lit(0.5))
            / lit(1.0e9)).as("theil_t"))
    },

    // ------------------------------------------------------------------
    // Median absolute deviation per return flag — the robust scale
    // estimate behind outlier editing when σ itself is contaminated
    // (the robust companion to etl_outlier_clamp's mean±3σ). TWO exact
    // distributed selections via the factored q28 plan
    // (Relational.rankSelectByKey): median of price, then median of
    // |price − median| under the broadcast medians — each pass sorts
    // only the ≤2 hot buckets per flag that contain a middle rank,
    // never a whole flag. All values ride identical doubles in both
    // engines, so no snapping is needed.
    "etl_mad_robust" -> QueryDef.withOracle(
      """WITH r AS (
        |  SELECT l_returnflag AS f, l_extendedprice AS x,
        |    l_orderkey AS ok, l_linenumber AS ln FROM lineitem),
        |m AS (
        |  SELECT f, max(n) AS n,
        |    (max(CASE WHEN rn = (n + 1) // 2 THEN x END)
        |     + max(CASE WHEN rn = (n + 2) // 2 THEN x END)) / 2.0 AS med
        |  FROM (SELECT f, x,
        |          row_number() OVER (PARTITION BY f ORDER BY x, ok, ln) AS rn,
        |          count(*) OVER (PARTITION BY f) AS n
        |        FROM r)
        |  GROUP BY f),
        |d AS (
        |  SELECT r.f, abs(r.x - m.med) AS dev, r.ok, r.ln
        |  FROM r JOIN m ON m.f = r.f),
        |md AS (
        |  SELECT f,
        |    (max(CASE WHEN rn = (n + 1) // 2 THEN dev END)
        |     + max(CASE WHEN rn = (n + 2) // 2 THEN dev END)) / 2.0 AS mad
        |  FROM (SELECT f, dev,
        |          row_number() OVER (PARTITION BY f ORDER BY dev, ok, ln) AS rn,
        |          count(*) OVER (PARTITION BY f) AS n
        |        FROM d)
        |  GROUP BY f)
        |SELECT m.f AS l_returnflag, m.n, m.med AS median_price, md.mad
        |FROM m JOIN md ON md.f = m.f""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_extendedprice"),
          col("l_orderkey"), col("l_linenumber"))
        .persist() // 5 scans across the two selection passes (anchor,
                   // 2 bucket-count aggs, 2 hot-bucket ranks) — cache
                   // the 4-column projection once
      val mids = (n: Column) =>
        array(floor((n + 1) / 2), floor((n + 2) / 2))
      // r17 (guide §1.2): ONE min/max anchor job serves BOTH selection
      // passes. Pass 1 buckets price on its exact bounds; pass 2's
      // deviations |x − med_f| are covered by [0, max−min] for every
      // flag (med_f lies in [min, max]), and rankSelectByKey's output
      // is bucket-invariant, so the derived bounds change nothing but
      // bucket balance — the second full-scan anchor job is gone.
      val mmx = li.agg(min(col("l_extendedprice")).cast(DoubleType),
        max(col("l_extendedprice")).cast(DoubleType)).head()
      val (pLo, pHi) = (mmx.getDouble(0), mmx.getDouble(1))
      val sel1 = Relational.rankSelectByKey(li, "l_returnflag",
        "l_extendedprice", Seq("l_orderkey", "l_linenumber"), mids,
        bounds = Some((pLo, pHi)))
      val med = sel1.groupBy(col("l_returnflag"))
        .agg(max(col("n")).as("n"),
          ((max(when(col("pos") === floor((col("n") + 1) / 2),
              col("l_extendedprice")))
            + max(when(col("pos") === floor((col("n") + 2) / 2),
              col("l_extendedprice")))) / lit(2.0)).as("median_price"))
      val dev = li.join(broadcast(med), Seq("l_returnflag"))
        .select(col("l_returnflag"),
          abs(col("l_extendedprice") - col("median_price")).as("dev"),
          col("l_orderkey"), col("l_linenumber"))
      val sel2 = Relational.rankSelectByKey(dev, "l_returnflag", "dev",
        Seq("l_orderkey", "l_linenumber"), mids,
        bounds = Some((0.0, pHi - pLo)))
      val mad = sel2.groupBy(col("l_returnflag"))
        .agg(((max(when(col("pos") === floor((col("n") + 1) / 2), col("dev")))
          + max(when(col("pos") === floor((col("n") + 2) / 2), col("dev"))))
          / lit(2.0)).as("mad"))
      med.join(mad, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("n"), col("median_price"), col("mad"))
    },

    // ------------------------------------------------------------------
    // Kruskal-Wallis rank test of event value across ALL event types —
    // the ≥3-group generalization of etl_mann_whitney (is any type's
    // value distribution shifted?). Same scale argument: average
    // tie-ranks in exact ×2 integers from the bounded 2-dp
    // value-grouped relation (one map-side-combined count + a
    // value-domain bookkeeping window). All rank accumulations ride
    // DECIMAL(38)/HUGEINT (the etl_spearman_corr discipline): the old
    // ×10³-snapped Σ(R²/n) longs grow as N³/k and crossed 2⁶³ between
    // sf0.1 and sf1d — a REAL scale bug the round-13 derived-sf1 sweep
    // caught. Σ 4·R_j²/n_j is now an EXACT integer (decimal floor
    // division a − a mod b over b ≡ DuckDB's `//`), summed exactly and
    // converted to double ONCE (both engines correctly round the same
    // exact integer); the tie term Σ(tot³−tot) gets the same exact
    // treatment. Tie-corrected H then assembles from exact components
    // with the double chain mirrored verbatim.
    "etl_kruskal_wallis" -> QueryDef.withOracle(
      """WITH c AS (
        |  SELECT value, event_type, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT value, CAST(sum(cnt) AS BIGINT) AS tot FROM c GROUP BY value),
        |r AS (
        |  SELECT value,
        |    2 * coalesce(sum(tot) OVER (ORDER BY value ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + tot + 1 AS rank2
        |  FROM t),
        |sgrp AS (
        |  SELECT c.event_type, CAST(sum(c.cnt) AS BIGINT) AS n_j,
        |    CAST(sum(CAST(c.cnt AS HUGEINT) * r.rank2) AS HUGEINT) AS r2_j
        |  FROM c JOIN r ON r.value = c.value
        |  GROUP BY c.event_type),
        |ties AS (SELECT CAST(sum(CAST(tot AS HUGEINT) * tot * tot - tot)
        |           AS HUGEINT) AS tie
        |         FROM t),
        |agg AS (
        |  SELECT CAST(sum(n_j) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(r2_j * r2_j // n_j) AS HUGEINT) AS srn4
        |  FROM sgrp)
        |SELECT n, k, CAST(k - 1 AS BIGINT) AS dof,
        |  floor((12.0 / (CAST(n AS DOUBLE) * (n + 1.0))
        |      * (CAST(srn4 AS DOUBLE) / 4.0) - 3.0 * (n + 1.0)) * 1000000000 + 0.5)
        |    / 1.0e9 AS h,
        |  floor((12.0 / (CAST(n AS DOUBLE) * (n + 1.0))
        |      * (CAST(srn4 AS DOUBLE) / 4.0)
        |      - 3.0 * (n + 1.0))
        |    / (1.0 - CAST(tie AS DOUBLE)
        |       / (CAST(n AS DOUBLE) * n * n - n))
        |    * 1000000000 + 0.5) / 1.0e9 AS h_corrected
        |FROM agg CROSS JOIN ties""".stripMargin) { (s, dir) =>
      val dec38 = DecimalType(38, 0)
      val c = Tables.events(s, dir)
        .groupBy(col("value"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .persist() // (value, type) bookkeeping: feeds totals and rank join
      val t = c.groupBy(col("value")).agg(sum(col("cnt")).as("tot"))
      // global window over the bounded 2-dp value domain (bookkeeping)
      val wR = Window.orderBy(col("value").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val r = t.select(col("value"),
        (lit(2L) * coalesce(sum(col("tot")).over(wR), lit(0L))
          + col("tot") + 1L).as("rank2"))
      val sgrp = c.join(r, Seq("value"))
        .groupBy(col("event_type"))
        .agg(sum(col("cnt")).as("n_j"),
          sum(col("cnt").cast(dec38) * col("rank2")).as("r2_j"))
      val ties = t.agg(
        sum(col("tot").cast(dec38) * col("tot") * col("tot") - col("tot"))
          .as("tie"))
      // exact floor division (a − a mod b) / b ≡ the oracle's HUGEINT
      // `//`: the square (≤4·(2N·N)² digits) and the quotient both fit
      // DECIMAL(38) to corpus sizes far past any tested SF
      val sq = (col("r2_j") * col("r2_j")).cast(dec38)
      val bD = col("n_j").cast(dec38)
      val srn4j = ((sq - pmod(sq, bD)) / bD).cast(dec38)
      val nD = col("n").cast(DoubleType)
      val hExpr = (lit(12.0) / (nD * (col("n") + lit(1.0)))) *
        (col("srn4").cast(DoubleType) / lit(4.0)) -
        lit(3.0) * (col("n") + lit(1.0))
      sgrp.agg(sum(col("n_j")).as("n"), count(lit(1)).as("k"),
          sum(srn4j).as("srn4"))
        .crossJoin(broadcast(ties))
        .select(col("n"), col("k"), (col("k") - 1).as("dof"),
          (floor(hExpr * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("h"),
          (floor(hExpr
            / (lit(1.0) - col("tie").cast(DoubleType)
              / (nD * col("n") * col("n") - col("n")))
            * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("h_corrected"))
    },

    // ------------------------------------------------------------------
    // Parquet schema-evolution roundtrip — the lake reality where a
    // column was ADDED mid-history: batch 1 written without c_acctbal,
    // batch 2 with it, one read with mergeSchema=true unions the
    // footers and back-fills nulls for pre-evolution files. The oracle
    // reads the ORIGINAL table and reconstructs the expected
    // null-pattern, so a reader that drops the new column, drops old
    // rows, or mis-aligns by position hash-fails. Schema merge is a
    // footer-only operation — file DATA is never rewritten, which is
    // the property that makes column adds free at 100 TB.
    "src_schema_evolution" -> QueryDef.withOracle(
      """SELECT c_custkey, c_name,
        |  CASE WHEN c_custkey % 2 = 1 THEN c_acctbal END AS c_acctbal
        |FROM customer""".stripMargin) { (s, dir) =>
      val tmp = TempDirs.deletedOnExit("graft_evo").toString
      val c = Tables.customer(s, dir)
      c.filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), col("c_name"))
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/batch=1")
      c.filter(col("c_custkey") % 2 === 1)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/batch=2")
      s.read.option("mergeSchema", "true").parquet(tmp)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    },

    // ------------------------------------------------------------------
    // Classical multiplicative seasonal decomposition — the step after
    // etl_seasonal_ma's SI ratios: per-calendar-month seasonal factors
    // (mean SI, normalized to average 1 across the 12 months), then
    // each month's series value split into trend × seasonal ×
    // irregular — the published X-11-style output. The corpus
    // collapses to one row per calendar month up front; every window
    // and mean after that rides the months-bounded relation. SI ratios
    // snap to ×10⁹ exact longs before ANY mean/normalizing sum, so the
    // whole factor table is order-invariant.
    "etl_seasonal_decompose" -> QueryDef.withOracle(
      s"""WITH ${movingAvgSql("CAST(month(o_orderdate) AS BIGINT) AS mo")},
        |$seasonalFactorsSql
        |SELECT si.mo_s,
        |  floor(si.total * 100 + 0.5) / 100.0 AS total,
        |  floor(si.ma * 100 + 0.5) / 100.0 AS trend,
        |  floor(fac.seasonal * 1000000000 + 0.5) / 1.0e9 AS seasonal_factor,
        |  floor(si.total / fac.seasonal * 100 + 0.5) / 100.0
        |    AS deseasonalized,
        |  floor(si.total / (si.ma * fac.seasonal) * 1000000000 + 0.5) / 1.0e9
        |    AS irregular
        |FROM si JOIN fac ON fac.mo = si.mo""".stripMargin) { (s, dir) =>
      val si = movingAvg(s, dir,
        month(col("o_orderdate")).cast(LongType).as("mo"))
        .withColumn("si_fp",
          floor(col("total") / col("ma") * lit(1.0e9) + lit(0.5)).cast(LongType))
        .persist() // months-bounded; feeds factors and the final join
      val fac = seasonalFactors(si)
      si.join(broadcast(fac), Seq("mo"))
        .select(col("mo_s"),
          (floor(col("total") * 100 + lit(0.5)) / lit(100.0)).as("total"),
          (floor(col("ma") * 100 + lit(0.5)) / lit(100.0)).as("trend"),
          (floor(col("seasonal") * lit(1.0e9) + lit(0.5)) / lit(1.0e9))
            .as("seasonal_factor"),
          (floor(col("total") / col("seasonal") * 100 + lit(0.5))
            / lit(100.0)).as("deseasonalized"),
          (floor(col("total") / (col("ma") * col("seasonal")) * lit(1.0e9)
            + lit(0.5)) / lit(1.0e9)).as("irregular"))
    },

    // ------------------------------------------------------------------
    // CV-based estimate quality grading — the publication gate every
    // statistical agency applies before a cell is released: per
    // (nation, segment) cell the mean balance estimate, its standard
    // error s/√n, the coefficient of variation se/|mean|, a letter
    // grade on the published CV bands (A <5% … F >35%), and a
    // suppression flag for cells under the minimum sample size. One
    // keyed aggregation of exact decimal sums (count / Σx / Σx²) —
    // map-side combinable, cells-bounded output; the variance→se→cv
    // double chain is identical in both engines and the CV is
    // 1e9-snapped before the banding CASE so grade boundaries can
    // never diverge.
    "etl_cv_quality" -> QueryDef.withOracle(
      """WITH c AS (
        |  SELECT n_name, c_mktsegment, count(*) AS n,
        |    sum(CAST(c_acctbal AS DECIMAL(18,2))) AS s,
        |    sum(CAST(c_acctbal * c_acctbal AS DECIMAL(18,4))) AS ssq
        |  FROM customer JOIN nation ON n_nationkey = c_nationkey
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT n_name, c_mktsegment, n,
        |    CAST(s AS DOUBLE) / n AS mean_bal,
        |    (CAST(ssq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
        |      / (n - 1) AS var_bal
        |  FROM c WHERE n >= 2),
        |q AS (
        |  SELECT n_name, c_mktsegment, n,
        |    floor(mean_bal * 1000000000 + 0.5) / 1.0e9 AS mean_bal,
        |    floor(sqrt(var_bal / n) * 1000000000 + 0.5) / 1.0e9 AS se,
        |    floor(sqrt(var_bal / n) / abs(mean_bal) * 1000000000 + 0.5)
        |      / 1.0e9 AS cv
        |  FROM m)
        |SELECT n_name, c_mktsegment, n, mean_bal, se, cv,
        |  CASE WHEN n < 5 THEN 'X'
        |       WHEN cv < 0.05 THEN 'A' WHEN cv < 0.10 THEN 'B'
        |       WHEN cv < 0.15 THEN 'C' WHEN cv < 0.25 THEN 'D'
        |       WHEN cv < 0.35 THEN 'E' ELSE 'F' END AS grade,
        |  n < 5 AS suppressed
        |FROM q""".stripMargin) { (s, dir) =>
      val cells = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("n_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast(DecimalType(18, 2))).as("s"),
          sum((col("c_acctbal") * col("c_acctbal")).cast(DecimalType(18, 4)))
            .as("ssq"))
        .filter(col("n") >= 2)
      val meanBal = col("s").cast(DoubleType) / col("n")
      val varBal = ((col("ssq").cast(DoubleType)
        - col("s").cast(DoubleType) * col("s").cast(DoubleType) / col("n"))
        / (col("n") - 1))
      def snap9(c: Column) = floor(c * lit(1.0e9) + lit(0.5)) / lit(1.0e9)
      val q = cells.select(col("n_name"), col("c_mktsegment"), col("n"),
        snap9(meanBal).as("mean_bal"),
        snap9(sqrt(varBal / col("n"))).as("se"),
        snap9(sqrt(varBal / col("n")) / abs(meanBal)).as("cv"))
      q.select(col("n_name"), col("c_mktsegment"), col("n"),
        col("mean_bal"), col("se"), col("cv"),
        when(col("n") < 5, "X")
          .when(col("cv") < 0.05, "A").when(col("cv") < 0.10, "B")
          .when(col("cv") < 0.15, "C").when(col("cv") < 0.25, "D")
          .when(col("cv") < 0.35, "E").otherwise("F").as("grade"),
        (col("n") < 5).as("suppressed"))
    },

    // ------------------------------------------------------------------
    // Deterministic edit-rule validation (the Fellegi-Holt "edits"
    // layer): every order checked against consistency rules — R1 the
    // reported total must be within 5% of the recomputed
    // Σ extprice·(1−disc)·(1+tax) over its line items, R2 an order
    // must have line items at all, R3 the total must be positive. Line
    // products snap to ×10⁴ fixed-point longs BEFORE the per-order sum
    // (order-invariant, identical in both engines); the corpus-scale
    // work is one lineitem aggregation and one orderkey join — both on
    // the natural high-cardinality key, no broadcast of facts.
    "etl_edit_rules" -> QueryDef.withOracle(
      """WITH l AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
        |      * (1 + l_tax) * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS fp
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT o.o_orderkey, o.o_totalprice AS reported,
        |  CAST(l.fp AS DOUBLE) / 10000 AS recomputed,
        |  CASE WHEN l.fp IS NOT NULL THEN
        |    floor(abs(o.o_totalprice - CAST(l.fp AS DOUBLE) / 10000)
        |      / (CAST(l.fp AS DOUBLE) / 10000) * 1000000000 + 0.5) / 1.0e9
        |  END AS rel_err,
        |  coalesce(abs(o.o_totalprice - CAST(l.fp AS DOUBLE) / 10000)
        |    / (CAST(l.fp AS DOUBLE) / 10000) > 0.05, FALSE) AS rule_mismatch,
        |  l.fp IS NULL AS rule_missing_lines,
        |  o.o_totalprice <= 0 AS rule_nonpositive,
        |  CAST(coalesce(abs(o.o_totalprice - CAST(l.fp AS DOUBLE) / 10000)
        |      / (CAST(l.fp AS DOUBLE) / 10000) > 0.05, FALSE) AS INT)
        |    + CAST(l.fp IS NULL AS INT)
        |    + CAST(o.o_totalprice <= 0 AS INT) AS n_rules
        |FROM orders o LEFT JOIN l ON l.l_orderkey = o.o_orderkey""".stripMargin) { (s, dir) =>
      val l = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax")) * lit(10000) + lit(0.5)).cast(LongType))
          .as("fp"))
      val recomputed = col("fp").cast(DoubleType) / lit(10000)
      val relErr = abs(col("o_totalprice") - recomputed) / recomputed
      val mismatch = coalesce(relErr > 0.05, lit(false))
      Tables.orders(s, dir)
        .join(l, col("l_orderkey") === col("o_orderkey"), "left_outer")
        .select(col("o_orderkey"), col("o_totalprice").as("reported"),
          recomputed.as("recomputed"),
          when(col("fp").isNotNull,
            floor(relErr * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("rel_err"),
          mismatch.as("rule_mismatch"),
          col("fp").isNull.as("rule_missing_lines"),
          (col("o_totalprice") <= 0).as("rule_nonpositive"),
          (mismatch.cast(IntegerType)
            + col("fp").isNull.cast(IntegerType)
            + (col("o_totalprice") <= 0).cast(IntegerType)).as("n_rules"))
    },

    // ------------------------------------------------------------------
    // Sequential hot-deck imputation — the survey-agency workhorse: a
    // record with a missing response (negative balance, the impute_mean
    // convention) takes the value of the nearest PRECEDING valid donor
    // in file order within its imputation class (nation × segment),
    // falling back to the class mean when no donor precedes. The
    // carry-forward is a class-partitioned skip-nulls window — the
    // per-class sequential pass IS the method's definition, and the
    // class count (nations × segments) is the parallelism knob, exactly
    // how production imputation systems shard. Donor values are copied
    // bit-for-bit; only the mean fallback needs the decimal-sum
    // protocol.
    "etl_hotdeck_impute" -> QueryDef.withOracle(
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey, c_mktsegment, c_acctbal,
        |    CASE WHEN c_acctbal >= 0 THEN c_acctbal END AS valid_bal,
        |    CASE WHEN c_acctbal >= 0 THEN c_custkey END AS valid_key
        |  FROM customer),
        |d AS (
        |  SELECT *,
        |    last_value(valid_bal IGNORE NULLS) OVER w AS donor_bal,
        |    last_value(valid_key IGNORE NULLS) OVER w AS donor_key
        |  FROM c
        |  WINDOW w AS (PARTITION BY c_nationkey, c_mktsegment
        |    ORDER BY c_custkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |m AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |      / count(*), 9) AS class_mean
        |  FROM customer WHERE c_acctbal >= 0
        |  GROUP BY 1, 2)
        |SELECT d.c_custkey, d.c_nationkey, d.c_mktsegment, d.c_acctbal,
        |  d.c_acctbal < 0 AS imputed,
        |  CASE WHEN d.c_acctbal < 0 THEN d.donor_key END AS donor_key,
        |  CASE WHEN d.c_acctbal >= 0 THEN d.c_acctbal
        |       WHEN d.donor_bal IS NOT NULL THEN d.donor_bal
        |       ELSE m.class_mean END AS acctbal_final
        |FROM d JOIN m ON m.c_nationkey = d.c_nationkey
        |              AND m.c_mktsegment = d.c_mktsegment""".stripMargin) { (s, dir) =>
      val cust = Tables.customer(s, dir)
      val c = cust.select(col("c_custkey"), col("c_nationkey"),
        col("c_mktsegment"), col("c_acctbal"),
        when(col("c_acctbal") >= 0, col("c_acctbal")).as("valid_bal"),
        when(col("c_acctbal") >= 0, col("c_custkey")).as("valid_key"))
      val w = Window.partitionBy(col("c_nationkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val m = cust.filter(col("c_acctbal") >= 0)
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(round(sum(col("c_acctbal").cast(DecimalType(18, 2)))
          .cast(DoubleType) / count(lit(1)), 9).as("class_mean"))
      c.withColumn("donor_bal", last(col("valid_bal"), ignoreNulls = true).over(w))
        .withColumn("donor_key", last(col("valid_key"), ignoreNulls = true).over(w))
        .join(broadcast(m), Seq("c_nationkey", "c_mktsegment"))
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
          col("c_acctbal"),
          (col("c_acctbal") < 0).as("imputed"),
          when(col("c_acctbal") < 0, col("donor_key")).as("donor_key"),
          when(col("c_acctbal") >= 0, col("c_acctbal"))
            .when(col("donor_bal").isNotNull, col("donor_bal"))
            .otherwise(col("class_mean")).as("acctbal_final"))
    },

    // ------------------------------------------------------------------
    // Monthly control-total reconciliation between fact tables — the
    // aggregate-level sibling of etl_edit_rules and the first check a
    // statistical agency runs when two collection streams should
    // describe the same activity: per order-month, the orders-side
    // total vs the lineitem-side recomputed net total (via the
    // orderkey join so each line lands in its order's month), absolute
    // and relative gaps, and a 1% tolerance verdict. Both totals are
    // exact fixed-point longs (orders ×100, line products ×10⁴) so the
    // month sums are order-invariant; output is calendar-bounded.
    "etl_reconcile_totals" -> QueryDef.withOracle(
      """WITH lo AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
        |      * (1 + l_tax) * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS line_fp
        |  FROM lineitem GROUP BY l_orderkey),
        |m AS (
        |  SELECT CAST(floor(epoch(date_trunc('month', o.o_orderdate))) AS BIGINT)
        |      AS mo_s,
        |    CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS orders_fp,
        |    CAST(sum(coalesce(lo.line_fp, 0)) AS BIGINT) AS lines_fp,
        |    CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(sum(CASE WHEN lo.line_fp IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_unmatched
        |  FROM orders o LEFT JOIN lo ON lo.l_orderkey = o.o_orderkey
        |  GROUP BY 1)
        |SELECT mo_s, n_orders, n_unmatched,
        |  CAST(orders_fp AS DOUBLE) / 100 AS orders_total,
        |  CAST(lines_fp AS DOUBLE) / 10000 AS lines_total,
        |  floor(abs(CAST(orders_fp AS DOUBLE) / 100
        |      - CAST(lines_fp AS DOUBLE) / 10000) * 100 + 0.5) / 100.0
        |    AS abs_gap,
        |  floor(abs(CAST(orders_fp AS DOUBLE) / 100
        |      - CAST(lines_fp AS DOUBLE) / 10000)
        |    / (CAST(lines_fp AS DOUBLE) / 10000) * 1000000000 + 0.5) / 1.0e9
        |    AS rel_gap,
        |  abs(CAST(orders_fp AS DOUBLE) / 100
        |      - CAST(lines_fp AS DOUBLE) / 10000)
        |    / (CAST(lines_fp AS DOUBLE) / 10000) <= 0.01 AS reconciled
        |FROM m""".stripMargin) { (s, dir) =>
      val lo = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax")) * lit(10000) + lit(0.5)).cast(LongType))
          .as("line_fp"))
      val m = Tables.orders(s, dir)
        .join(lo, col("l_orderkey") === col("o_orderkey"), "left_outer")
        .groupBy(unix_timestamp(date_trunc("month", col("o_orderdate")))
          .as("mo_s"))
        .agg(
          sum(floor(col("o_totalprice") * lit(100) + lit(0.5)).cast(LongType))
            .as("orders_fp"),
          sum(coalesce(col("line_fp"), lit(0L))).as("lines_fp"),
          count(lit(1)).as("n_orders"),
          sum(when(col("line_fp").isNull, 1).otherwise(0)).as("n_unmatched"))
      val ot = col("orders_fp").cast(DoubleType) / lit(100)
      val lt = col("lines_fp").cast(DoubleType) / lit(10000)
      m.select(col("mo_s"), col("n_orders"), col("n_unmatched"),
        ot.as("orders_total"), lt.as("lines_total"),
        (floor(abs(ot - lt) * lit(100) + lit(0.5)) / lit(100.0)).as("abs_gap"),
        (floor(abs(ot - lt) / lt * lit(1.0e9) + lit(0.5)) / lit(1.0e9))
          .as("rel_gap"),
        (abs(ot - lt) / lt <= 0.01).as("reconciled"))
    },

    // ------------------------------------------------------------------
    // Parquet compression-codec roundtrip: the same relation written
    // under snappy / gzip / zstd and read back — the codec choice is
    // THE storage-cost knob on a 100 TB lake (zstd ≈ 30-50% smaller
    // than snappy at similar scan speed), and this proves every codec
    // path decodes bit-identically. The oracle reads the ORIGINAL
    // table tripled, so a codec that corrupts, drops rows, or loses
    // precision hash-fails. Codec is per-write metadata: readers mix
    // files of different codecs freely, which is what makes a
    // recompression migration incremental instead of atomic.
    "src_compression_codecs" -> QueryDef.withOracle(
      """SELECT codec, s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier
        |CROSS JOIN (VALUES ('snappy'), ('gzip'), ('zstd')) AS c(codec)""".stripMargin) { (s, dir) =>
      val tmp = TempDirs.deletedOnExit("graft_codec").toString
      val sup = Tables.supplier(s, dir)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      val codecs = Seq("snappy", "gzip", "zstd")
      codecs.foreach { c =>
        sup.write.mode(SaveMode.Overwrite)
          .option("compression", c).parquet(s"$tmp/$c")
      }
      codecs.map { c =>
        s.read.schema(sup.schema).parquet(s"$tmp/$c").withColumn("codec", lit(c))
      }.reduce(_ unionAll _)
        .select(col("codec"), col("s_suppkey"), col("s_name"),
          col("s_nationkey"), col("s_acctbal"))
    },

    // ------------------------------------------------------------------
    // Unit-nonresponse weight adjustment — the survey-methodology step
    // between collection and estimation: within each weighting class
    // (nation × market segment), respondents absorb the weight of the
    // class's nonrespondents via the factor n_total/n_resp, so class
    // totals stay design-unbiased under missing-at-random-within-class.
    // Nonresponse = negative balance (the impute_mean convention).
    // Corpus work is ONE keyed agg with map-side partials — respondent
    // balances enter as exact ×100 fixed-point longs so the class sums
    // are order-invariant; the adjusted estimate and rates assemble in
    // double from exact integers, ×10⁹ snapped. Output is bounded by
    // the class count (nations × segments), never the frame.
    "etl_nonresponse_adjust" -> QueryDef.withOracle(
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(sum(CASE WHEN c_acctbal >= 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_resp,
        |  floor(CAST(sum(CASE WHEN c_acctbal >= 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |      / count(*) * 1000000000 + 0.5) / 1.0e9 AS resp_rate,
        |  floor(CAST(count(*) AS DOUBLE)
        |      / sum(CASE WHEN c_acctbal >= 0 THEN 1 ELSE 0 END)
        |      * 1000000000 + 0.5) / 1.0e9 AS adj_factor,
        |  floor(CAST(sum(CASE WHEN c_acctbal >= 0
        |        THEN CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
        |        ELSE 0 END) AS DOUBLE) / 100
        |      * count(*) / sum(CASE WHEN c_acctbal >= 0 THEN 1 ELSE 0 END)
        |      * 100 + 0.5) / 100.0 AS est_total
        |FROM customer
        |GROUP BY c_nationkey, c_mktsegment
        |HAVING sum(CASE WHEN c_acctbal >= 0 THEN 1 ELSE 0 END) > 0""".stripMargin) { (s, dir) =>
      val resp = when(col("c_acctbal") >= 0, 1).otherwise(0)
      val g = Tables.customer(s, dir)
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_total"),
          sum(resp).cast(LongType).as("n_resp"),
          sum(when(col("c_acctbal") >= 0,
            floor(col("c_acctbal") * lit(100) + lit(0.5)).cast(LongType))
            .otherwise(lit(0L))).as("resp_fp"))
        .filter(col("n_resp") > 0)
      g.select(col("c_nationkey"), col("c_mktsegment"),
        col("n_total"), col("n_resp"),
        (floor(col("n_resp").cast(DoubleType) / col("n_total")
          * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("resp_rate"),
        (floor(col("n_total").cast(DoubleType) / col("n_resp")
          * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("adj_factor"),
        (floor(col("resp_fp").cast(DoubleType) / lit(100)
          * col("n_total") / col("n_resp")
          * lit(100) + lit(0.5)) / lit(100.0)).as("est_total"))
    },

    // ------------------------------------------------------------------
    // Hidiroglou–Berthelot outlier detection — the standard periodic-
    // business-survey edit: units whose period-over-period ratio moves
    // implausibly, size-weighted so a big unit's 2× jump matters more
    // than a tiny unit's 10×. Per customer, 1996 vs 1997 order totals
    // (exact ×100 longs), ratio r, the symmetric HB transform
    // s = 1 − med/r (below median) | r/med − 1 (above), effect
    // E = s·√max(x1,x2), and quartile-distance bounds
    // med(E) ± 4·max(dist-to-quartile, 5%·|med(E)|). Both the ratio
    // median and the E median/quartiles are EXACT distributed
    // selections via the factored q28 plan (rankSelectByKey — only the
    // hot buckets holding a target rank ever sort); everything else is
    // one keyed agg + row-local scoring under 1-row broadcast anchors.
    // All values ride identical doubles in both engines (exact longs →
    // IEEE division/sqrt), so no snapping is needed.
    "etl_hb_outliers" -> QueryDef.withOracle(
      """WITH o AS (
        |  SELECT o_custkey, year(o_orderdate) AS yr,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS fp
        |  FROM orders WHERE year(o_orderdate) IN (1996, 1997)),
        |per AS (
        |  SELECT o_custkey,
        |    CAST(sum(CASE WHEN yr = 1996 THEN fp END) AS BIGINT) AS x1fp,
        |    CAST(sum(CASE WHEN yr = 1997 THEN fp END) AS BIGINT) AS x2fp
        |  FROM o GROUP BY o_custkey
        |  HAVING sum(CASE WHEN yr = 1996 THEN fp END) > 0
        |     AND sum(CASE WHEN yr = 1997 THEN fp END) > 0),
        |b AS (
        |  SELECT o_custkey, x1fp, x2fp,
        |    CAST(x2fp AS DOUBLE) / x1fp AS r FROM per),
        |m AS (
        |  SELECT (max(CASE WHEN rn = (n + 1) // 2 THEN r END)
        |        + max(CASE WHEN rn = (n + 2) // 2 THEN r END)) / 2.0 AS rmed
        |  FROM (SELECT r, row_number() OVER (ORDER BY r, o_custkey) AS rn,
        |               count(*) OVER () AS n FROM b)),
        |e AS (
        |  SELECT b.o_custkey, b.x1fp, b.x2fp, b.r,
        |    (CASE WHEN b.r < m.rmed THEN 1 - m.rmed / b.r
        |          ELSE b.r / m.rmed - 1 END)
        |      * sqrt(greatest(CAST(b.x1fp AS DOUBLE) / 100,
        |                      CAST(b.x2fp AS DOUBLE) / 100)) AS effect
        |  FROM b CROSS JOIN m),
        |st AS (
        |  SELECT (max(CASE WHEN rn = (n + 1) // 2 THEN effect END)
        |        + max(CASE WHEN rn = (n + 2) // 2 THEN effect END)) / 2.0
        |      AS emed,
        |    max(CASE WHEN rn = (n + 3) // 4 THEN effect END) AS eq1,
        |    max(CASE WHEN rn = (3 * n + 3) // 4 THEN effect END) AS eq3
        |  FROM (SELECT effect, o_custkey,
        |          row_number() OVER (ORDER BY effect, o_custkey) AS rn,
        |          count(*) OVER () AS n FROM e)),
        |bd AS (
        |  SELECT emed - 4 * greatest(emed - eq1, abs(0.05 * emed)) AS lo_bound,
        |    emed + 4 * greatest(eq3 - emed, abs(0.05 * emed)) AS hi_bound
        |  FROM st)
        |SELECT e.o_custkey,
        |  CAST(e.x1fp AS DOUBLE) / 100 AS x1,
        |  CAST(e.x2fp AS DOUBLE) / 100 AS x2,
        |  e.r AS ratio, e.effect, bd.lo_bound, bd.hi_bound,
        |  e.effect < bd.lo_bound OR e.effect > bd.hi_bound AS is_outlier
        |FROM e CROSS JOIN bd""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir)
        .select(col("o_custkey"), year(col("o_orderdate")).as("yr"),
          floor(col("o_totalprice") * lit(100) + lit(0.5)).cast(LongType)
            .as("fp"))
        .filter(col("yr").isin(1996, 1997))
      val per = o.groupBy(col("o_custkey"))
        .agg(sum(when(col("yr") === 1996, col("fp"))).as("x1fp"),
          sum(when(col("yr") === 1997, col("fp"))).as("x2fp"))
        .filter(col("x1fp") > 0 && col("x2fp") > 0)
      val b = per.select(col("o_custkey"), col("x1fp"), col("x2fp"),
          (col("x2fp").cast(DoubleType) / col("x1fp")).as("r"))
        .withColumn("g", lit(1))
        .persist() // feeds both selection passes + the scoring pass
      val mids = (n: Column) => array(floor((n + 1) / 2), floor((n + 2) / 2))
      val sel1 = Relational.rankSelectByKey(b, "g", "r", Seq("o_custkey"), mids)
      val rmed = sel1.groupBy(col("g"))
        .agg(((max(when(col("pos") === floor((col("n") + 1) / 2), col("r")))
          + max(when(col("pos") === floor((col("n") + 2) / 2), col("r"))))
          / lit(2.0)).as("rmed"))
        .select(col("rmed"))
      val e = b.crossJoin(broadcast(rmed))
        .select(col("o_custkey"), col("x1fp"), col("x2fp"), col("r"),
          (when(col("r") < col("rmed"), lit(1) - col("rmed") / col("r"))
            .otherwise(col("r") / col("rmed") - lit(1))
            * sqrt(greatest(col("x1fp").cast(DoubleType) / lit(100),
              col("x2fp").cast(DoubleType) / lit(100)))).as("effect"))
        .withColumn("g", lit(1))
        .persist() // feeds the quartile selection + the verdict pass
      val quarts = (n: Column) => array(
        floor((n + 1) / 2), floor((n + 2) / 2),
        floor((n + 3) / 4), floor((lit(3) * n + 3) / 4))
      val sel2 = Relational.rankSelectByKey(e, "g", "effect",
        Seq("o_custkey"), quarts)
      val st = sel2.groupBy(col("g"))
        .agg(((max(when(col("pos") === floor((col("n") + 1) / 2), col("effect")))
          + max(when(col("pos") === floor((col("n") + 2) / 2), col("effect"))))
          / lit(2.0)).as("emed"),
          max(when(col("pos") === floor((col("n") + 3) / 4), col("effect")))
            .as("eq1"),
          max(when(col("pos") === floor((lit(3) * col("n") + 3) / 4),
            col("effect"))).as("eq3"))
      val bd = st.select(
        (col("emed") - lit(4) * greatest(col("emed") - col("eq1"),
          abs(lit(0.05) * col("emed")))).as("lo_bound"),
        (col("emed") + lit(4) * greatest(col("eq3") - col("emed"),
          abs(lit(0.05) * col("emed")))).as("hi_bound"))
      e.crossJoin(broadcast(bd))
        .select(col("o_custkey"),
          (col("x1fp").cast(DoubleType) / lit(100)).as("x1"),
          (col("x2fp").cast(DoubleType) / lit(100)).as("x2"),
          col("r").as("ratio"), col("effect"),
          col("lo_bound"), col("hi_bound"),
          (col("effect") < col("lo_bound")
            || col("effect") > col("hi_bound")).as("is_outlier"))
    },

    // ------------------------------------------------------------------
    // Benchmarking to annual control totals (pro-rata) — the fix step
    // after etl_reconcile_totals DETECTS a gap between collection
    // streams: the monthly orders-side indicator series is scaled,
    // within each year, so it sums exactly to the lineitem-side annual
    // control total (the more complete source). Pro-rata is the
    // level-preserving member of the benchmarking family (Denton PFD,
    // which also smooths the January step, is the documented upgrade —
    // a per-year 12×12 solve, the d×d-driver-solve pattern). Corpus
    // work: the monthly agg, the per-order line agg + orderkey join;
    // everything after rides |years| bookkeeping rows broadcast back
    // over months. Exact fixed-point longs until the double ratio,
    // outputs ×100 / ×10⁹ snapped.
    "etl_benchmark_prorata" -> QueryDef.withOracle(
      s"""WITH mo AS (
        |  SELECT CAST(floor(epoch(date_trunc('month', o_orderdate))) AS BIGINT)
        |      AS mo_s,
        |    year(o_orderdate) AS yr,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS mfp
        |  FROM orders GROUP BY 1, 2),
        |ind AS (SELECT yr, CAST(sum(mfp) AS BIGINT) AS ifp FROM mo GROUP BY yr),
        |$annualControlSql,
        |r AS (
        |  SELECT i.yr,
        |    (CAST(c.cfp AS DOUBLE) / 10000) / (CAST(i.ifp AS DOUBLE) / 100)
        |      AS ratio
        |  FROM ind i JOIN ctl c ON c.yr = i.yr)
        |SELECT mo.mo_s, mo.yr,
        |  CAST(mo.mfp AS DOUBLE) / 100 AS monthly_raw,
        |  floor(r.ratio * 1000000000 + 0.5) / 1.0e9 AS annual_ratio,
        |  floor(CAST(mo.mfp AS DOUBLE) / 100 * r.ratio * 100 + 0.5) / 100.0
        |    AS monthly_benchmarked
        |FROM mo JOIN r ON r.yr = mo.yr""".stripMargin) { (s, dir) =>
      val mo = monthlyIndicator(s, dir)
        .persist() // feeds the annual indicator sum and the output join
      val ind = mo.groupBy(col("yr")).agg(sum(col("mfp")).as("ifp"))
      val ctl = annualControl(s, dir)
      val r = ind.join(ctl, Seq("yr"))
        .select(col("yr"),
          ((col("cfp").cast(DoubleType) / lit(10000))
            / (col("ifp").cast(DoubleType) / lit(100))).as("ratio"))
      mo.join(broadcast(r), Seq("yr"))
        .select(col("mo_s"), col("yr"),
          (col("mfp").cast(DoubleType) / lit(100)).as("monthly_raw"),
          (floor(col("ratio") * lit(1.0e9) + lit(0.5)) / lit(1.0e9))
            .as("annual_ratio"),
          (floor(col("mfp").cast(DoubleType) / lit(100) * col("ratio")
            * lit(100) + lit(0.5)) / lit(100.0)).as("monthly_benchmarked"))
    },

    // ------------------------------------------------------------------
    // Poisson-bootstrap 95% CI for the mean event value — THE bootstrap
    // at corpus scale: classic resampling draws n-with-replacement
    // (impossible distributed without n passes), the Poisson(1)
    // approximation instead weights every row independently per
    // replicate, so all B=100 replicates ride ONE pass whose map-side
    // partials collapse to B groups before the exchange. Weights are
    // deterministic: md5(event_id:replicate) → 32-bit uniform compared
    // against exact integer Poisson(1) CDF thresholds (no float
    // compare, engine-identical). Replicate means assemble from exact
    // fixed-point longs; the CI is the 3rd/98th of the 100 ranked
    // means (a 100-row bookkeeping sort), round(…, 9)-snapped.
    "etl_bootstrap_ci" -> QueryDef.withOracle(
      """WITH base AS (
        |  SELECT event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS xfp
        |  FROM events WHERE value IS NOT NULL),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(xfp) AS BIGINT) AS sfp
        |  FROM base),
        |r AS (
        |  SELECT b.xfp, x.b,
        |    ('0x' || substr(md5(b.event_id || ':' || x.b), 1, 8))::BIGINT AS u
        |  FROM base b CROSS JOIN (SELECT unnest(range(0, 100)) AS b) x),
        |w AS (
        |  SELECT b, xfp,
        |    CASE WHEN u < 1580030168 THEN 0
        |         WHEN u < 3160060337 THEN 1
        |         WHEN u < 3950075421 THEN 2
        |         WHEN u < 4213413783 THEN 3
        |         WHEN u < 4279248373 THEN 4
        |         WHEN u < 4292415291 THEN 5
        |         ELSE 6 END AS w
        |  FROM r),
        |m AS (
        |  SELECT b, CAST(sum(w * xfp) AS BIGINT) AS swx,
        |    CAST(sum(w) AS BIGINT) AS sw
        |  FROM w GROUP BY b),
        |rk AS (
        |  SELECT b, CAST(swx AS DOUBLE) / 100 / sw AS mean_b,
        |    row_number() OVER (ORDER BY CAST(swx AS DOUBLE) / 100 / sw, b)
        |      AS rn
        |  FROM m)
        |SELECT t.n, round(CAST(t.sfp AS DOUBLE) / 100 / t.n, 9) AS mean,
        |  round(max(CASE WHEN rk.rn = 3 THEN rk.mean_b END), 9) AS ci_lo,
        |  round(max(CASE WHEN rk.rn = 98 THEN rk.mean_b END), 9) AS ci_hi,
        |  CAST(100 AS BIGINT) AS n_reps
        |FROM rk CROSS JOIN tot t GROUP BY t.n, t.sfp""".stripMargin) { (s, dir) =>
      val base = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select(col("event_id"),
          floor(col("value") * lit(100) + lit(0.5)).cast(LongType).as("xfp"))
        .persist() // feeds the full-sample moment and the replicate pass
      val tot = base.agg(count(lit(1)).as("n"), sum(col("xfp")).as("sfp"))
      val u = conv(substring(md5(concat(col("event_id").cast(StringType),
        lit(":"), col("b").cast(StringType)).cast(BinaryType)), 1, 8),
        16, 10).cast(LongType)
      val w = when(u < 1580030168L, 0).when(u < 3160060337L, 1)
        .when(u < 3950075421L, 2).when(u < 4213413783L, 3)
        .when(u < 4279248373L, 4).when(u < 4292415291L, 5).otherwise(6)
      val m = base
        .select(col("event_id"), col("xfp"),
          explode(sequence(lit(0L), lit(99L))).as("b"))
        .withColumn("w", w)
        .groupBy(col("b"))
        .agg(sum(col("w") * col("xfp")).as("swx"), sum(col("w")).as("sw"))
      val meanB = col("swx").cast(DoubleType) / lit(100) / col("sw")
      val rk = m.select(col("b"), meanB.as("mean_b"))
        .withColumn("rn", row_number().over(
          Window.orderBy(col("mean_b").asc, col("b").asc)))
      rk.crossJoin(broadcast(tot))
        .groupBy(col("n"), col("sfp"))
        .agg(round(max(when(col("rn") === 3, col("mean_b"))), 9).as("ci_lo"),
          round(max(when(col("rn") === 98, col("mean_b"))), 9).as("ci_hi"))
        .select(col("n"),
          round(col("sfp").cast(DoubleType) / lit(100) / col("n"), 9)
            .as("mean"),
          col("ci_lo"), col("ci_hi"), lit(100L).as("n_reps"))
    },

    // ------------------------------------------------------------------
    // Jevons elementary price index — the UNWEIGHTED geometric mean of
    // price relatives, the CPI elementary-aggregate formula used below
    // the level where expenditure weights exist (etl_price_index's
    // Laspeyres/Paasche/Fisher are the weighted upper level). Same
    // matched-part relation as etl_price_index (unit values 1995 vs
    // 1996, ×10⁶ micro-unit longs); each part's log relative snaps to
    // an exact ×10⁶ long BEFORE the per-brand sum (the etl_theil_index
    // discipline — order-invariant integer addition), the log index is
    // exact ×10⁹-snapped, and the exp'd index level rounds to 6 dp.
    "etl_jevons_index" -> QueryDef.withOracle(
      s"""WITH ${partYearSql(1995, 1996)},
        |${matchedSql("pp", 1995, 1996, 0)},
        |t AS (
        |  SELECT p.p_brand,
        |    CAST(floor(ln(CAST(pp.p1 AS DOUBLE) / pp.p0) * 1000000 + 0.5)
        |      AS BIGINT) AS lr_fp
        |  FROM pp JOIN part p ON p.p_partkey = pp.l_partkey)
        |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts,
        |  floor(CAST(sum(lr_fp) AS BIGINT) / 1.0e6 / count(*) * 1000000000
        |    + 0.5) / 1.0e9 AS log_jevons,
        |  round(100 * exp(CAST(sum(lr_fp) AS BIGINT) / 1.0e6 / count(*)), 6)
        |    AS jevons
        |FROM t GROUP BY p_brand""".stripMargin) { (s, dir) =>
      val pp = matchedParts(partYears(s, dir, 1995, 1996), 1995, 1996, 0)
      pp.join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
          col("p_partkey") === col("l_partkey"))
        .select(col("p_brand"),
          floor(log(col("p1").cast(DoubleType) / col("p0")) * lit(1000000)
            + lit(0.5)).cast(LongType).as("lr_fp"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_parts"), sum(col("lr_fp")).as("s"))
        .select(col("p_brand"), col("n_parts"),
          (floor(col("s") / lit(1.0e6) / col("n_parts") * lit(1.0e9)
            + lit(0.5)) / lit(1.0e9)).as("log_jevons"),
          round(lit(100) * exp(col("s") / lit(1.0e6) / col("n_parts")), 6)
            .as("jevons"))
    },

    // ------------------------------------------------------------------
    // Superlative chained price indices — Fisher and Törnqvist, the
    // rung above the chained Laspeyres (etl_chain_index) and the
    // elementary Carli/Dutot/Jevons family: Laspeyres holds the base
    // basket (overstates inflation), Paasche the current one
    // (understates); Fisher = √(L·P) and the expenditure-share-
    // weighted Törnqvist are the superlative formulas agencies
    // actually target, chain-linked 1995→1998. All basket relations
    // are EXACT: unit values snap to ×10⁶ BIGINTs, quantities to ×10²,
    // expenditure cross-terms p·q accumulate in DECIMAL(38)/HUGEINT,
    // so L and P are ratios of identical exact sums on both engines.
    // Törnqvist follows the etl_jevons_index log discipline — ln price
    // relatives snap to ×10⁶ integers, each part\'s share-weighted term
    // snaps to an integer BEFORE the (order-invariant) sum — so no
    // float reduction ever crosses the exchange; sqrt/exp run on
    // bit-identical inputs and the published values are round(…,6)
    // snapped. Per-link CTEs unroll like etl_chain_index; the corpus
    // collapses to one part×year agg that feeds all three links.
    "etl_chained_index" -> QueryDef.withOracle {
      def linkSql(k: Int, y0: Int, y1: Int): String =
        s"""${matchedSql(s"pp$k", y0, y1, 2)},
           |j$k AS (
           |  SELECT pp$k.*, p.p_brand FROM pp$k
           |  JOIN part p ON p.p_partkey = pp$k.l_partkey),
           |tot$k AS (
           |  SELECT p_brand,
           |    CAST(sum(CAST(p0 AS HUGEINT) * q0) AS DOUBLE) AS e00,
           |    CAST(sum(CAST(p1 AS HUGEINT) * q0) AS DOUBLE) AS e10,
           |    CAST(sum(CAST(p0 AS HUGEINT) * q1) AS DOUBLE) AS e01,
           |    CAST(sum(CAST(p1 AS HUGEINT) * q1) AS DOUBLE) AS e11
           |  FROM j$k GROUP BY 1),
           |tq$k AS (
           |  SELECT j.p_brand,
           |    CAST(sum(CAST(floor(
           |      (CAST(CAST(j.p0 AS HUGEINT) * j.q0 AS DOUBLE) / t.e00
           |        + CAST(CAST(j.p1 AS HUGEINT) * j.q1 AS DOUBLE) / t.e11) / 2
           |      * floor(ln(CAST(j.p1 AS DOUBLE) / j.p0) * 1000000 + 0.5)
           |      + 0.5) AS BIGINT)) AS BIGINT) AS tfp
           |  FROM j$k j JOIN tot$k t USING (p_brand) GROUP BY 1),
           |l$k AS (
           |  SELECT t.p_brand, e10 / e00 AS lasp, e11 / e01 AS paas,
           |    sqrt((e10 / e00) * (e11 / e01)) AS fish,
           |    exp(tq$k.tfp / 1.0e6) AS torn
           |  FROM tot$k t JOIN tq$k USING (p_brand))""".stripMargin
      s"""WITH ${partYearSql(1995, 1998)},
         |${linkSql(1, 1995, 1996)},
         |${linkSql(2, 1996, 1997)},
         |${linkSql(3, 1997, 1998)}
         |SELECT l1.p_brand,
         |  round(100 * l1.lasp, 6) AS laspeyres_1996,
         |  round(100 * l1.paas, 6) AS paasche_1996,
         |  round(100 * l1.fish, 6) AS fisher_1996,
         |  round(100 * l1.torn, 6) AS tornqvist_1996,
         |  round(100 * l1.fish * l2.fish * l3.fish, 6) AS fisher_chained_1998,
         |  round(100 * l1.torn * l2.torn * l3.torn, 6) AS tornqvist_chained_1998
         |FROM l1 JOIN l2 ON l2.p_brand = l1.p_brand
         |JOIN l3 ON l3.p_brand = l1.p_brand""".stripMargin
    } { (s, dir) =>
      val dec38 = DecimalType(38, 0)
      val py = partYears(s, dir, 1995, 1998)
      val brand = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))
      // ONE part-keyed pivot serves all three links (each link then
      // filters the two years it needs — p_y is null exactly when the
      // part missed year y, so the null check ≡ the oracle's
      // HAVING count(*) = 2): 2 corpus-keyed exchanges total instead
      // of 1 + one per link.
      val cols = (1995 to 1998).flatMap(y =>
        Seq(unitPrice(y).as(s"p$y"), qtyFp(y).as(s"q$y")))
      val pp = py.groupBy(col("l_partkey"))
        .agg(cols.head, cols.tail: _*)
        .join(broadcast(brand), col("p_partkey") === col("l_partkey"))
        .persist() // part-level 4-year basket feeds all six brand aggs
      def link(y0: Int, y1: Int, suffix: String): DataFrame = {
        val j = pp
          .filter(col(s"p$y0").isNotNull && col(s"p$y1").isNotNull)
          .select(col("p_brand"),
            col(s"p$y0").as("p0"), col(s"p$y1").as("p1"),
            col(s"q$y0").as("q0"), col(s"q$y1").as("q1"))
        val tot = j.groupBy(col("p_brand")).agg(
          sum((col("p0").cast(dec38) * col("q0")).cast(dec38))
            .cast(DoubleType).as("e00"),
          sum((col("p1").cast(dec38) * col("q0")).cast(dec38))
            .cast(DoubleType).as("e10"),
          sum((col("p0").cast(dec38) * col("q1")).cast(dec38))
            .cast(DoubleType).as("e01"),
          sum((col("p1").cast(dec38) * col("q1")).cast(dec38))
            .cast(DoubleType).as("e11"))
        val lrfp = floor(log(col("p1").cast(DoubleType) / col("p0"))
          * lit(1000000) + lit(0.5)).cast(DoubleType)
        val w = ((col("p0").cast(dec38) * col("q0")).cast(DoubleType)
            / col("e00")
          + (col("p1").cast(dec38) * col("q1")).cast(DoubleType)
            / col("e11")) / lit(2)
        val tq = j.join(broadcast(tot), Seq("p_brand"))
          .select(col("p_brand"),
            floor(w * lrfp + lit(0.5)).cast(LongType).as("term_fp"))
          .groupBy(col("p_brand"))
          .agg(sum(col("term_fp")).as("tfp"))
        tot.join(broadcast(tq), Seq("p_brand"))
          .select(col("p_brand"),
            (col("e10") / col("e00")).as(s"lasp$suffix"),
            (col("e11") / col("e01")).as(s"paas$suffix"),
            sqrt((col("e10") / col("e00")) * (col("e11") / col("e01")))
              .as(s"fish$suffix"),
            exp(col("tfp") / lit(1.0e6)).as(s"torn$suffix"))
      }
      link(1995, 1996, "1")
        .join(broadcast(link(1996, 1997, "2")), Seq("p_brand"))
        .join(broadcast(link(1997, 1998, "3")), Seq("p_brand"))
        .select(col("p_brand"),
          round(lit(100) * col("lasp1"), 6).as("laspeyres_1996"),
          round(lit(100) * col("paas1"), 6).as("paasche_1996"),
          round(lit(100) * col("fish1"), 6).as("fisher_1996"),
          round(lit(100) * col("torn1"), 6).as("tornqvist_1996"),
          round(lit(100) * col("fish1") * col("fish2") * col("fish3"), 6)
            .as("fisher_chained_1998"),
          round(lit(100) * col("torn1") * col("torn2") * col("torn3"), 6)
            .as("tornqvist_chained_1998"))
    },

    // ------------------------------------------------------------------
    // Lowe and Young indices — the formulas CPIs actually publish: a
    // basket from an OLDER weight-reference period b (1995) priced at
    // the price-reference period 0 (1996) and at current t (1997,
    // 1998). Lowe_t = Σp_t·q_b / Σp_0·q_b is a ratio of exact HUGEINT
    // cross-terms; Young_t = Σ w_b·(p_t/p_0) share-weights the price
    // relatives by period-b expenditure — each part\'s weighted
    // relative snaps to a ×10⁸ integer BEFORE the order-invariant sum
    // (the etl_chained_index Törnqvist discipline). Per-t part sets
    // require presence in b, 0 AND t (the pivot\'s null checks ≡ the
    // production rule that a basket item must be priceable in every
    // period it is used). One part×year corpus agg + one part pivot;
    // everything after is brand-level bookkeeping.
    "etl_lowe_young" -> QueryDef.withOracle {
      val lowePrices =
        (1995 to 1998).map(y => s"${unitPriceSql(y)} AS p$y").mkString(",\n    ")
      def tBlock(t: Int): String =
        s"""j$t AS (
           |  SELECT p_brand, p1996, p$t, q1995, e95
           |  FROM pp WHERE p1995 IS NOT NULL AND p1996 IS NOT NULL
           |    AND p$t IS NOT NULL),
           |w$t AS (
           |  SELECT p_brand,
           |    CAST(sum(e95) AS DOUBLE) AS te95,
           |    CAST(sum(CAST(p$t AS HUGEINT) * q1995) AS DOUBLE) AS num,
           |    CAST(sum(CAST(p1996 AS HUGEINT) * q1995) AS DOUBLE) AS den,
           |    CAST(count(*) AS BIGINT) AS n_parts
           |  FROM j$t GROUP BY 1),
           |y$t AS (
           |  SELECT j.p_brand,
           |    CAST(sum(CAST(floor(CAST(j.e95 AS DOUBLE) / w.te95
           |      * (CAST(j.p$t AS DOUBLE) / j.p1996) * 100000000 + 0.5)
           |      AS BIGINT)) AS BIGINT) AS yfp
           |  FROM j$t j JOIN w$t w USING (p_brand) GROUP BY 1),
           |l$t AS (
           |  SELECT w.p_brand, w.n_parts,
           |    round(100 * w.num / w.den, 6) AS lowe_$t,
           |    round(100 * (y.yfp / 1.0e8), 6) AS young_$t
           |  FROM w$t w JOIN y$t y USING (p_brand))""".stripMargin
      s"""WITH ${partYearSql(1995, 1998)},
         |pv AS (
         |  SELECT l_partkey,
         |    $lowePrices,
         |    ${qtyFpSql(1995)} AS q1995
         |  FROM py GROUP BY 1),
         |pp AS (
         |  SELECT pv.*, p.p_brand,
         |    CAST(CAST(pv.p1995 AS HUGEINT) * pv.q1995 AS HUGEINT) AS e95
         |  FROM pv JOIN part p ON p.p_partkey = pv.l_partkey),
         |${tBlock(1997)},
         |${tBlock(1998)}
         |SELECT a.p_brand,
         |  a.n_parts AS n_parts_1997, a.lowe_1997, a.young_1997,
         |  b.n_parts AS n_parts_1998, b.lowe_1998, b.young_1998
         |FROM l1997 a JOIN l1998 b ON b.p_brand = a.p_brand""".stripMargin
    } { (s, dir) =>
      val hug = DecimalType(38, 0)
      val py = partYears(s, dir, 1995, 1998)
      val brand = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))
      val pp = py.groupBy(col("l_partkey"))
        .agg(unitPrice(1995).as("p1995"),
          (1996 to 1998).map(y => unitPrice(y).as(s"p$y")) :+
            qtyFp(1995).as("q1995"): _*)
        .join(broadcast(brand), col("p_partkey") === col("l_partkey"))
        .withColumn("e95", (col("p1995").cast(hug) * col("q1995")).cast(hug))
        .persist() // one pivot feeds both current periods
      def block(t: Int): DataFrame = {
        val j = pp.filter(col("p1995").isNotNull && col("p1996").isNotNull &&
            col(s"p$t").isNotNull)
          .select(col("p_brand"), col("p1996"), col(s"p$t").as("pt"),
            col("q1995"), col("e95"))
        val w = j.groupBy(col("p_brand")).agg(
          sum(col("e95")).cast(DoubleType).as("te95"),
          sum((col("pt").cast(hug) * col("q1995")).cast(hug))
            .cast(DoubleType).as("num"),
          sum((col("p1996").cast(hug) * col("q1995")).cast(hug))
            .cast(DoubleType).as("den"),
          count(lit(1)).as("n_parts"))
        val yfp = j.join(broadcast(w), Seq("p_brand"))
          .select(col("p_brand"),
            floor(col("e95").cast(DoubleType) / col("te95")
              * (col("pt").cast(DoubleType) / col("p1996"))
              * lit(100000000) + lit(0.5)).cast(LongType).as("term"))
          .groupBy(col("p_brand")).agg(sum(col("term")).as("yfp"))
        w.join(broadcast(yfp), Seq("p_brand"))
          .select(col("p_brand"), col("n_parts").as(s"n_parts_$t"),
            round(lit(100) * col("num") / col("den"), 6).as(s"lowe_$t"),
            round(lit(100) * (col("yfp") / lit(1.0e8)), 6).as(s"young_$t"))
      }
      block(1997).join(broadcast(block(1998)), Seq("p_brand"))
        .select(col("p_brand"),
          col("n_parts_1997"), col("lowe_1997"), col("young_1997"),
          col("n_parts_1998"), col("lowe_1998"), col("young_1998"))
    },

    // ------------------------------------------------------------------
    // Walsh and Marshall-Edgeworth indices — the symmetric-basket
    // crosses completing the bilateral family (Laspeyres/Paasche/
    // Fisher/Törnqvist in etl_chained_index, Lowe/Young above):
    // Marshall-Edgeworth prices the SUM basket q0+qt (pure HUGEINT —
    // exact end to end); Walsh prices the geometric-mean basket
    // √(q0·qt), snapped to a ×10² integer from the IEEE sqrt of an
    // exact ≤2⁵³ integer product (correctly rounded, so bit-identical
    // on any engine) before the exact cross-term sums. 1995→1996 over
    // parts present in both years, per brand.
    "etl_walsh_marshall" -> QueryDef.withOracle(
      s"""WITH ${partYearSql(1995, 1996)},
        |${matchedSql("pv", 1995, 1996, 2)},
        |j AS (
        |  SELECT p.p_brand, pv.p0, pv.p1, pv.q0, pv.q1,
        |    CAST(floor(sqrt(CAST(CAST(pv.q0 AS HUGEINT) * pv.q1 AS DOUBLE))
        |      * 100 + 0.5) AS BIGINT) AS wq
        |  FROM pv JOIN part p ON p.p_partkey = pv.l_partkey)
        |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts,
        |  round(100 * CAST(sum(CAST(p1 AS HUGEINT) * (q0 + q1)) AS DOUBLE)
        |    / CAST(sum(CAST(p0 AS HUGEINT) * (q0 + q1)) AS DOUBLE), 6)
        |    AS marshall_1996,
        |  round(100 * CAST(sum(CAST(p1 AS HUGEINT) * wq) AS DOUBLE)
        |    / CAST(sum(CAST(p0 AS HUGEINT) * wq) AS DOUBLE), 6)
        |    AS walsh_1996
        |FROM j GROUP BY 1""".stripMargin) { (s, dir) =>
      val hug = DecimalType(38, 0)
      val pv = matchedParts(partYears(s, dir, 1995, 1996), 1995, 1996, 2)
      val brand = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))
      pv.join(broadcast(brand), col("p_partkey") === col("l_partkey"))
        .withColumn("wq",
          floor(sqrt((col("q0").cast(hug) * col("q1")).cast(hug)
            .cast(DoubleType)) * lit(100) + lit(0.5)).cast(LongType))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_parts"),
          (round(lit(100)
            * sum((col("p1").cast(hug) * (col("q0") + col("q1"))).cast(hug))
              .cast(DoubleType)
            / sum((col("p0").cast(hug) * (col("q0") + col("q1"))).cast(hug))
              .cast(DoubleType), 6)).as("marshall_1996"),
          (round(lit(100)
            * sum((col("p1").cast(hug) * col("wq")).cast(hug))
              .cast(DoubleType)
            / sum((col("p0").cast(hug) * col("wq")).cast(hug))
              .cast(DoubleType), 6)).as("walsh_1996"))
    },

    // ------------------------------------------------------------------
    // Differentially-private cell counts — the modern SDC release
    // mechanism alongside the classical ones already here (cell
    // suppression, base-5 random rounding): each (nation × segment)
    // count gets Laplace(1/ε) noise, ε=1, sensitivity 1. The noise is
    // DETERMINISTICALLY seeded from md5 of the cell key (the
    // random_rounding discipline — auditable, reproducible across
    // reruns/engines, and a per-release salt is the production knob):
    // u = (u32 + 0.5)/2³², noise = −sign(u−½)·ln(1−2|u−½|)/ε via the
    // inverse CDF. Released count clamps at 0. ONE keyed agg; noise is
    // row-local on the |cells| bookkeeping relation.
    "etl_dp_noise" -> QueryDef.withOracle(
      """WITH c AS (
        |  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS true_n
        |  FROM customer GROUP BY 1, 2),
        |n AS (
        |  SELECT *,
        |    (('0x' || substr(md5(c_nationkey || ':' || c_mktsegment), 1, 8))
        |      ::BIGINT + 0.5) / 4294967296.0 AS u
        |  FROM c),
        |z AS (
        |  SELECT c_nationkey, c_mktsegment, true_n,
        |    -(CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END)
        |      * ln(1 - 2 * abs(u - 0.5)) AS noise
        |  FROM n)
        |SELECT c_nationkey, c_mktsegment, true_n,
        |  CAST(1.0 AS DOUBLE) AS epsilon,
        |  round(noise, 9) AS noise,
        |  greatest(CAST(0 AS BIGINT),
        |    CAST(floor(true_n + noise + 0.5) AS BIGINT)) AS released_n
        |FROM z""".stripMargin) { (s, dir) =>
      val c = Tables.customer(s, dir)
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("true_n"))
      val u = (conv(substring(md5(concat(col("c_nationkey").cast(StringType),
        lit(":"), col("c_mktsegment")).cast(BinaryType)), 1, 8), 16, 10)
        .cast(LongType).cast(DoubleType) + lit(0.5)) / lit(4294967296.0)
      val noise = -when(u >= 0.5, lit(1.0)).otherwise(lit(-1.0)) *
        log(lit(1) - lit(2) * abs(u - lit(0.5)))
      c.select(col("c_nationkey"), col("c_mktsegment"), col("true_n"),
          lit(1.0).as("epsilon"), noise.as("noise_raw"))
        .select(col("c_nationkey"), col("c_mktsegment"), col("true_n"),
          col("epsilon"), round(col("noise_raw"), 9).as("noise"),
          greatest(lit(0L),
            floor(col("true_n") + col("noise_raw") + lit(0.5)).cast(LongType))
            .as("released_n"))
    },

    // ------------------------------------------------------------------
    // GREG (generalized regression) calibration estimator — the method
    // that unifies this library's ratio estimator and raking: the HT
    // total from a 1-in-3 systematic sample (design weight 3) is
    // corrected by a weighted regression of y on an auxiliary x whose
    // FRAME total is known (here x = 1 + custkey%7, the jackknife
    // convention), θ = Ŷ + B(T_x − X̂) + a(N − N̂) — design-unbiased
    // and more efficient whenever x predicts y. Per-nation domains:
    // two keyed aggs (frame counts/aux totals; sample moment sums as
    // exact fp longs) + a nation-keyed join; slope/intercept/θ
    // assemble in double from exact integers, degenerate domains
    // (zero aux variance, exact integer test) are excluded on both
    // engines. Output is |nations| rows.
    "etl_greg_estimator" -> QueryDef.withOracle(
      """WITH fr AS (
        |  SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_frame,
        |    CAST(sum(1 + c_custkey % 7) AS BIGINT) AS t_x
        |  FROM customer GROUP BY 1),
        |sa AS (
        |  SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_s,
        |    CAST(3 * count(*) AS BIGINT) AS nhat,
        |    CAST(3 * sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS yhat,
        |    CAST(3 * sum(1 + c_custkey % 7) AS BIGINT) AS xhat,
        |    CAST(3 * sum((1 + c_custkey % 7)
        |      * CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sxy,
        |    CAST(3 * sum((1 + c_custkey % 7) * (1 + c_custkey % 7))
        |      AS BIGINT) AS sxx
        |  FROM customer WHERE c_custkey % 3 = 0 GROUP BY 1),
        |j AS (
        |  SELECT fr.c_nationkey, fr.n_frame, fr.t_x, sa.n_s, sa.nhat,
        |    sa.yhat, sa.xhat, sa.sxy, sa.sxx
        |  FROM fr JOIN sa ON sa.c_nationkey = fr.c_nationkey
        |  WHERE sa.sxx * sa.nhat - sa.xhat * sa.xhat > 0),
        |b AS (
        |  SELECT *,
        |    (CAST(sxy AS DOUBLE) - CAST(xhat AS DOUBLE) * yhat / nhat)
        |      / (CAST(sxx AS DOUBLE) - CAST(xhat AS DOUBLE) * xhat / nhat)
        |      AS slope
        |  FROM j),
        |a AS (
        |  SELECT *, (CAST(yhat AS DOUBLE) - slope * xhat) / nhat AS icept
        |  FROM b)
        |SELECT c_nationkey, n_frame, n_s AS n_sample, t_x,
        |  CAST(yhat AS DOUBLE) / 100 AS ht_total,
        |  floor(slope * 10000000 + 0.5) / 1.0e9 AS slope,
        |  floor((CAST(yhat AS DOUBLE) + slope * (t_x - xhat)
        |    + icept * (n_frame - nhat)) + 0.5) / 100.0 AS greg_total
        |FROM a""".stripMargin) { (s, dir) =>
      val x = lit(1) + pmod(col("c_custkey"), lit(7L))
      val yfp = floor(col("c_acctbal") * lit(100) + lit(0.5)).cast(LongType)
      val fr = Tables.customer(s, dir)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_frame"), sum(x).as("t_x"))
      val sa = Tables.customer(s, dir)
        .filter(pmod(col("c_custkey"), lit(3L)) === 0)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_s"),
          (lit(3) * count(lit(1))).as("nhat"),
          (lit(3) * sum(yfp)).as("yhat"),
          (lit(3) * sum(x)).as("xhat"),
          (lit(3) * sum(x * yfp)).as("sxy"),
          (lit(3) * sum(x * x)).as("sxx"))
      val j = fr.join(sa, Seq("c_nationkey"))
        .filter(col("sxx") * col("nhat") - col("xhat") * col("xhat") > 0)
      val slope = (col("sxy").cast(DoubleType)
          - col("xhat").cast(DoubleType) * col("yhat") / col("nhat")) /
        (col("sxx").cast(DoubleType)
          - col("xhat").cast(DoubleType) * col("xhat") / col("nhat"))
      val withB = j.withColumn("slope_raw", slope)
        .withColumn("icept", (col("yhat").cast(DoubleType)
          - col("slope_raw") * col("xhat")) / col("nhat"))
      withB.select(col("c_nationkey"), col("n_frame"),
        col("n_s").as("n_sample"), col("t_x"),
        (col("yhat").cast(DoubleType) / lit(100)).as("ht_total"),
        (floor(col("slope_raw") * lit(10000000) + lit(0.5)) / lit(1.0e9))
          .as("slope"),
        (floor((col("yhat").cast(DoubleType)
          + col("slope_raw") * (col("t_x") - col("xhat"))
          + col("icept") * (col("n_frame") - col("nhat"))) + lit(0.5))
          / lit(100.0)).as("greg_total"))
    },

    // ------------------------------------------------------------------
    // Malformed-record tolerance on the JSON source — the resilience
    // contract every lake ingest needs: a feed where 1 in 10 lines is
    // syntactically broken (deterministically: suppkey % 10 == 0 rows
    // are written truncated) must load the good rows and COUNT the bad
    // ones instead of failing the job or silently dropping them.
    // PERMISSIVE mode routes unparseable lines to the corrupt-record
    // column; the oracle recomputes the expected survivors and the
    // expected corrupt count from the original table, so a reader that
    // drops, duplicates, or misroutes even one line hash-fails.
    "src_json_malformed" -> QueryDef.withOracle(
      """SELECT s_suppkey, s_name, s_nationkey,
        |  (SELECT CAST(count(*) AS BIGINT) FROM supplier
        |   WHERE s_suppkey % 10 = 0) AS n_corrupt
        |FROM supplier WHERE s_suppkey % 10 <> 0""".stripMargin) { (s, dir) =>
      val tmp = TempDirs.deletedOnExit("graft_badjson").toString
      val src = Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
      src.select(
          when(pmod(col("s_suppkey"), lit(10L)) === 0,
            concat(lit("{\"s_suppkey\": "), col("s_suppkey").cast(StringType)))
            .otherwise(to_json(struct(col("s_suppkey"), col("s_name"),
              col("s_nationkey")))).as("value"))
        .write.mode(SaveMode.Overwrite).text(tmp)
      val schema = StructType(src.schema.fields :+
        StructField("_bad", StringType))
      val parsed = s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(tmp)
        .persist() // feeds the survivors and the corrupt count
      val bad = parsed.filter(col("_bad").isNotNull)
        .agg(count(lit(1)).as("n_corrupt"))
      parsed.filter(col("_bad").isNull)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
        .crossJoin(broadcast(bad))
    },

    // ------------------------------------------------------------------
    // Malformed-CSV handling — src_json_malformed's sibling for the
    // OTHER interchange format ops teams actually receive: every 10th
    // supplier row is written with a type-corrupt key field ("X123" in
    // a BIGINT column — CSV's failure mode is a bad cell, not bad
    // syntax), and the PERMISSIVE reader must route exactly those rows
    // to the corrupt-record column while every clean row survives
    // value-intact. Same shape as the json variant: survivors + a
    // 1-row corrupt-count anchor.
    "src_csv_malformed" -> QueryDef.withOracle(
      """SELECT s_suppkey, s_name, s_nationkey,
        |  (SELECT CAST(count(*) AS BIGINT) FROM supplier
        |   WHERE s_suppkey % 10 = 0) AS n_corrupt
        |FROM supplier WHERE s_suppkey % 10 <> 0""".stripMargin) { (s, dir) =>
      val tmp = TempDirs.deletedOnExit("graft_badcsv").toString
      val src = Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
      // names carry no commas/quotes in this schema, so hand-built
      // lines are valid CSV; the corrupt variant poisons the BIGINT
      // key cell with a leading letter
      src.select(
          concat(
            when(pmod(col("s_suppkey"), lit(10L)) === 0,
              concat(lit("X"), col("s_suppkey").cast(StringType)))
              .otherwise(col("s_suppkey").cast(StringType)),
            lit(","), col("s_name"), lit(","),
            col("s_nationkey").cast(StringType)).as("value"))
        .write.mode(SaveMode.Overwrite).text(tmp)
      val schema = StructType(src.schema.fields :+
        StructField("_bad", StringType))
      val parsed = s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(tmp)
        .persist() // feeds the survivors and the corrupt count
      val bad = parsed.filter(col("_bad").isNotNull)
        .agg(count(lit(1)).as("n_corrupt"))
      parsed.filter(col("_bad").isNull)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
        .crossJoin(broadcast(bad))
    },

    // ------------------------------------------------------------------
    // Record-linkage accuracy eval — the "measure, don't guess" harness
    // for the linkage family (ann_recall_eval's sibling): link the part
    // register against a DETERMINISTICALLY perturbed copy of itself,
    // where ground truth is the partkey by construction. Two error
    // classes are injected: a name typo (first char dropped,
    // partkey % 4 == 0 — the class the rule tolerates) and a size
    // transcription error (+1, partkey % 8 == 0 — the class the rule
    // CANNOT tolerate, since size equality is a hard field). The
    // multi-field rule (brand block + type + size equality +
    // levenshtein ≤ 1 on name; the ThresholdLevenshtein rewrite
    // applies) therefore measures ~100% recall on typo-only units and
    // 0% on size-corrupted ones — the table that tells a linkage owner
    // WHICH perturbation class their rule misses. Two-word names from
    // a small vocabulary collide across parts, so the hard fields also
    // carry precision; all counts exact, ratios round(…, 9).
    "etl_linkage_eval" -> QueryDef.withOracle(
      """WITH a AS (
        |  SELECT p_partkey AS a_id, p_brand, p_size, p_type,
        |    p_name AS a_name FROM part),
        |b AS (
        |  SELECT p_partkey AS b_id, p_brand AS bb, p_type AS bt,
        |    p_size + (CASE WHEN p_partkey % 8 = 0 THEN 1 ELSE 0 END) AS bs,
        |    CASE WHEN p_partkey % 4 = 0 THEN substring(p_name, 2)
        |      ELSE p_name END AS b_name
        |  FROM part),
        |pred AS (
        |  SELECT a.a_id, b.b_id
        |  FROM a JOIN b ON a.p_brand = b.bb AND a.p_size = b.bs
        |    AND a.p_type = b.bt
        |  WHERE levenshtein(a.a_name, b.b_name) <= 1),
        |c AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_pred,
        |    CAST(sum(CASE WHEN a_id = b_id THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_correct
        |  FROM pred),
        |t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_true,
        |    CAST(sum(CASE WHEN p_partkey % 8 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_size_corrupted
        |  FROM part)
        |SELECT t.n_true, t.n_size_corrupted, c.n_pred, c.n_correct,
        |  round(CAST(c.n_correct AS DOUBLE) / c.n_pred, 9) AS precision,
        |  round(CAST(c.n_correct AS DOUBLE) / t.n_true, 9) AS recall,
        |  round(CAST(c.n_correct AS DOUBLE)
        |    / (t.n_true - t.n_size_corrupted), 9) AS recall_reachable,
        |  round(2.0 * c.n_correct / (c.n_pred + t.n_true), 9) AS f1
        |FROM c CROSS JOIN t""".stripMargin) { (s, dir) =>
      val p = Tables.part(s, dir)
      val a = p.select(col("p_partkey").as("a_id"), col("p_brand"),
        col("p_size"), col("p_type"), col("p_name").as("a_name"))
      val b = p.select(col("p_partkey").as("b_id"),
        col("p_brand").as("bb"), col("p_type").as("bt"),
        (col("p_size") + when(pmod(col("p_partkey"), lit(8L)) === 0, 1)
          .otherwise(0)).as("bs"),
        when(pmod(col("p_partkey"), lit(4L)) === 0,
          substring(col("p_name"), 2, 1000000))
          .otherwise(col("p_name")).as("b_name"))
      // 734M block pairs at sf10d make the edit-distance the hot loop:
      // a length-delta prefilter (implied by lev ≤ 1, evaluated first,
      // O(1)) discards most candidates before the DP, and the BANDED
      // threshold form (returns -1 above the bound) makes the survivors
      // O(len·k) instead of O(len²). Pure plan change — the oracle's
      // plain `levenshtein(...) <= 1` is semantically identical.
      val pred = a.join(b, col("p_brand") === col("bb") &&
        col("p_size") === col("bs") && col("p_type") === col("bt") &&
        abs(length(col("a_name")) - length(col("b_name"))) <= 1 &&
        levenshtein(col("a_name"), col("b_name"), 1) >= 0)
      val c = pred.agg(count(lit(1)).as("n_pred"),
        sum(when(col("a_id") === col("b_id"), 1).otherwise(0))
          .cast(LongType).as("n_correct"))
      val t = p.agg(count(lit(1)).as("n_true"),
        sum(when(pmod(col("p_partkey"), lit(8L)) === 0, 1).otherwise(0))
          .cast(LongType).as("n_size_corrupted"))
      c.crossJoin(broadcast(t))
        .select(col("n_true"), col("n_size_corrupted"), col("n_pred"),
          col("n_correct"),
          round(col("n_correct").cast(DoubleType) / col("n_pred"), 9)
            .as("precision"),
          round(col("n_correct").cast(DoubleType) / col("n_true"), 9)
            .as("recall"),
          round(col("n_correct").cast(DoubleType)
            / (col("n_true") - col("n_size_corrupted")), 9)
            .as("recall_reachable"),
          round(lit(2.0) * col("n_correct")
            / (col("n_pred") + col("n_true")), 9).as("f1"))
    },

    // ------------------------------------------------------------------
    // Trading-day adjustment — the calendar effect removed before any
    // month-over-month comparison is publishable: a 23-weekday March
    // mechanically out-sells a 20-weekday February, so the comparable
    // figure is the per-trading-day rate. Trading days come from a
    // generated in-month date sequence (row-local on the month
    // bookkeeping relation — no calendar table dependency); monthly
    // totals are exact ×100 longs from ONE keyed agg; the rate snaps
    // ×100 from exact components.
    "etl_trading_day_adjust" -> QueryDef.withOracle(
      """WITH mo AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m0,
        |    CAST(floor(epoch(date_trunc('month', o_orderdate))) AS BIGINT)
        |      AS mo_s,
        |    year(o_orderdate) AS yr,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS mfp
        |  FROM orders GROUP BY 1, 2, 3),
        |td AS (
        |  SELECT mo_s, yr, mfp,
        |    CAST(len(list_filter(generate_series(m0,
        |        m0 + INTERVAL 1 MONTH - INTERVAL 1 DAY, INTERVAL 1 DAY),
        |      d -> isodow(d) <= 5)) AS BIGINT) AS n_trading_days
        |  FROM mo)
        |SELECT mo_s, yr,
        |  CAST(mfp AS DOUBLE) / 100 AS monthly_total,
        |  n_trading_days,
        |  floor(CAST(mfp AS DOUBLE) / 100 / n_trading_days * 100 + 0.5)
        |    / 100.0 AS per_trading_day_rate
        |FROM td""".stripMargin) { (s, dir) =>
      val mo = Tables.orders(s, dir)
        .groupBy(date_trunc("month", col("o_orderdate")).cast(DateType)
            .as("m0"),
          unix_timestamp(date_trunc("month", col("o_orderdate"))).as("mo_s"),
          year(col("o_orderdate")).as("yr"))
        .agg(sum(floor(col("o_totalprice") * lit(100) + lit(0.5))
          .cast(LongType)).as("mfp"))
      val days = sequence(col("m0"), last_day(col("m0")),
        expr("interval 1 day"))
      val td = size(filter(days,
        d => !dayofweek(d).isin(1, 7)))
      mo.select(col("mo_s"), col("yr"),
        (col("mfp").cast(DoubleType) / lit(100)).as("monthly_total"),
        td.cast(LongType).as("n_trading_days"),
        (floor(col("mfp").cast(DoubleType) / lit(100)
          / td.cast(LongType) * lit(100) + lit(0.5)) / lit(100.0))
          .as("per_trading_day_rate"))
    },

    // ------------------------------------------------------------------
    // Kish design effect per domain — the weighting health metric every
    // survey shop checks before publishing: deff = n·Σw²/(Σw)² (the
    // variance inflation unequal weights cost relative to equal-weight
    // sampling) and the effective sample size n/deff that determines
    // whether a cell is publishable. Weights follow the library-wide
    // 1 + custkey%7 design convention (exact integers), so ALL moment
    // sums are exact BIGINTs in ONE keyed agg; deff assembles in
    // double from exact integers, ×10⁹ snapped.
    "etl_design_effect" -> QueryDef.withOracle(
      """SELECT c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(1 + c_custkey % 7) AS BIGINT) AS sum_w,
        |  CAST(sum((1 + c_custkey % 7) * (1 + c_custkey % 7)) AS BIGINT)
        |    AS sum_w2,
        |  floor(count(*) * CAST(sum((1 + c_custkey % 7) * (1 + c_custkey % 7))
        |      AS DOUBLE)
        |    / (CAST(sum(1 + c_custkey % 7) AS DOUBLE)
        |       * CAST(sum(1 + c_custkey % 7) AS DOUBLE))
        |    * 1000000000 + 0.5) / 1.0e9 AS deff,
        |  floor(count(*) / (count(*)
        |      * CAST(sum((1 + c_custkey % 7) * (1 + c_custkey % 7)) AS DOUBLE)
        |    / (CAST(sum(1 + c_custkey % 7) AS DOUBLE)
        |       * CAST(sum(1 + c_custkey % 7) AS DOUBLE)))
        |    * 1000000000 + 0.5) / 1.0e9 AS n_eff
        |FROM customer GROUP BY c_mktsegment""".stripMargin) { (s, dir) =>
      val w = lit(1) + pmod(col("c_custkey"), lit(7L))
      val g = Tables.customer(s, dir)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(w).as("sum_w"),
          sum(w * w).as("sum_w2"))
      val deff = col("n") * col("sum_w2").cast(DoubleType) /
        (col("sum_w").cast(DoubleType) * col("sum_w").cast(DoubleType))
      g.select(col("c_mktsegment"), col("n"), col("sum_w"), col("sum_w2"),
        (floor(deff * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("deff"),
        (floor(col("n") / deff * lit(1.0e9) + lit(0.5)) / lit(1.0e9))
          .as("n_eff"))
    },

    // ------------------------------------------------------------------
    // Denton proportional-first-difference benchmarking — the
    // movement-preserving upgrade etl_benchmark_prorata documents:
    // instead of one scale factor per year (which steps at every
    // January), minimize Σ(r_t − r_{t-1})² over the benchmark ratios
    // r_t = x_t/i_t subject to Σx_t = A (the annual control), so
    // month-over-month movements of the indicator survive while the
    // level calibrates. The KKT system [[D'D, i],[iᵀ, 0]] is
    // (months+1)² per year — CALENDAR-BOUNDED bookkeeping, solved on
    // the driver (the d×d Gram/PCA pattern; corpus work remains the
    // two keyed aggs). The per-year linear solve is not
    // SQL-expressible, so the registry entry is ATTESTED instead of
    // replayed: per year it publishes the DuckDB-recomputable anchors
    // (month count and the exact-fixed-point annual control) plus the
    // two defining properties DentonSpec pins as verdicts — the annual
    // sum hits the control (feasibility) and the movement objective is
    // no worse than the prorata feasible point's (optimality). DuckDB
    // recomputes the anchors and asserts the verdicts are uniformly
    // TRUE. Raw benchmarked series: [[dentonRaw]].
    "etl_denton_pfd" -> QueryDef.withOracle(
      s"""WITH mo AS (
        |  SELECT year(o_orderdate) AS yr,
        |    CAST(count(DISTINCT date_trunc('month', o_orderdate)) AS BIGINT)
        |      AS n_months
        |  FROM orders GROUP BY 1),
        |$annualControlSql
        |SELECT mo.yr, mo.n_months, ctl.cfp AS control_fp,
        |  TRUE AS sum_ok, TRUE AS movement_ok
        |FROM mo JOIN ctl ON ctl.yr = mo.yr""".stripMargin) { (s, dir) =>
      val book = dentonBook(s, dir)
      val out = book.groupBy(_.getInt(0)).toSeq.map { case (yr, rows) =>
        val sorted = rows.sortBy(_.getLong(1))
        val i = sorted.map(_.getLong(2).toDouble / 100).toArray
        val a = sorted.head.getLong(3).toDouble / 10000
        val x = dentonPfd(i, a)
        val sumOk = math.abs(x.sum - a) <= 1e-8 * math.max(1.0, math.abs(a))
        // movement of the Denton ratios vs the constant prorata ratio
        // (a feasible point, so Denton must match or beat it)
        val r = x.indices.map(k => x(k) / i(k))
        val mDen = r.sliding(2).collect { case Seq(p, q) =>
          (q - p) * (q - p) }.sum
        // the constant prorata ratio is feasible with zero movement,
        // so optimality pins mDen to ~solver-epsilon above zero
        (yr, sorted.length.toLong, sorted.head.getLong(3),
          sumOk, mDen <= 1e-9)
      }
      import s.implicits._
      out.toDF("yr", "n_months", "control_fp", "sum_ok", "movement_ok")
    },

    // ------------------------------------------------------------------
    // Hodrick-Prescott filter — THE macro trend/cycle decomposition
    // (every output-gap and business-cycle chart starts here): trend =
    // argmin Σ(y−x)² + λΣ(Δ²x)², λ = 129600 (the Ravn-Uhlig monthly
    // convention). The corpus collapses to the monthly mean-normalized
    // series in one keyed agg (the etl_stl_decompose normalization, so
    // magnitudes are SF-invariant); the (I + λD'D) pentadiagonal solve
    // runs driver-side on the CALENDAR-BOUNDED ≤|months| relation —
    // the etl_denton_pfd KKT pattern. The solve is not SQL-expressible,
    // so the registry entry is ATTESTED: it publishes the
    // DuckDB-recomputable anchors (month key, exact-cent monthly total,
    // and the ×10⁶-snapped normalized series, whose double chain is
    // replayed operand-for-operand in SQL) plus HpFilterSpec's two
    // pinned properties as verdicts — the gradient condition
    // (‖(I+λD'D)x̂ − y‖∞ ≈ 0, per month) and objective optimality
    // under spike/step/slope perturbations. Raw trend/cycle series:
    // [[hpFilterRaw]].
    "etl_hp_filter" -> QueryDef.withOracle(
      """WITH mo AS (
        |  SELECT CAST(floor(epoch(date_trunc('month', o_orderdate)))
        |      AS BIGINT) AS mo_s,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS mfp
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS nd,
        |             CAST(sum(mfp) AS BIGINT) AS tot FROM mo)
        |SELECT mo.mo_s, mo.mfp,
        |  CAST(floor(CAST(mo.mfp AS DOUBLE) * t.nd / t.tot * 1000.0
        |    * 1000000 + 0.5) AS BIGINT) AS series_fp,
        |  TRUE AS grad_ok, TRUE AS perturb_ok
        |FROM mo, t""".stripMargin) { (s, dir) =>
      val book = hpBook(s, dir)
      val n = book.length
      val tot = book.map(_.getLong(1)).sum
      val z = book.map(r => r.getLong(1).toDouble * n / tot * 1000.0)
      val lam = 129600.0
      val x = hpFilter(z, lam)
      // first-order condition, checked against an INDEPENDENT assembly
      // of D'D(x) (the HpFilterSpec check, published per month)
      val dtd = new Array[Double](n)
      for (j <- 0 until math.max(0, n - 2)) {
        val d2 = x(j) - 2 * x(j + 1) + x(j + 2)
        dtd(j) += d2; dtd(j + 1) -= 2 * d2; dtd(j + 2) += d2
      }
      val scale = z.map(math.abs).max
      val tol = 1e-6 * scale * lam / 1000
      // objective optimality under spike/step/slope perturbations
      def obj(v: Array[Double]): Double = {
        var s1 = 0.0
        for (i <- 0 until n) { val d = z(i) - v(i); s1 += d * d }
        var s2 = 0.0
        for (j <- 0 until math.max(0, n - 2)) {
          val d2 = v(j) - 2 * v(j + 1) + v(j + 2); s2 += d2 * d2
        }
        s1 + lam * s2
      }
      val j0 = obj(x)
      val dirs = Seq(
        Array.tabulate(n)(i => if (i == n / 2) 1.0 else 0.0),
        Array.tabulate(n)(i => if (i < n / 2) 1.0 else -1.0),
        Array.tabulate(n)(i => i.toDouble / n))
      val perturbOk = dirs.forall { v =>
        Seq(0.01, -0.01).forall { eps =>
          j0 <= obj(Array.tabulate(n)(i => x(i) + eps * v(i))) + 1e-9 * j0
        }
      }
      import s.implicits._
      book.indices.map { k =>
        (book(k).getLong(0), book(k).getLong(1),
          math.floor(z(k) * 1000000 + 0.5).toLong,
          math.abs(x(k) - z(k) + lam * dtd(k)) <= tol, perturbOk)
      }.toDF("mo_s", "mfp", "series_fp", "grad_ok", "perturb_ok")
    },

    // ------------------------------------------------------------------
    // Wilcoxon signed-rank test — the PAIRED nonparametric companion to
    // etl_mann_whitney: did part prices move between 1995 and 1996,
    // judged on the signed ranks of the per-part changes (robust to
    // the heavy-tailed price distribution a t-test would choke on)?
    // Pairs reuse the etl_price_index fixed-point unit-value build;
    // the change is snapped to a 1%-resolution percent (an exact
    // integer), which BOUNDS the rank domain to a few hundred distinct
    // values — so the tie-averaged rank table is bookkeeping, not a
    // corpus sort (the mann_whitney 2-dp-domain argument). Everything
    // through W+ / the tie term is exact integer arithmetic; the
    // z-statistic assembles from mirrored double chains and snaps to
    // ×10⁹.
    "etl_wilcoxon_signrank" -> QueryDef.withOracle(
      s"""WITH ${partYearSql(1995, 1996)},
        |${matchedSql("pp", 1995, 1996, 0)},
        |d AS (
        |  SELECT d FROM (
        |    SELECT CAST(floor(CAST(p1 AS DOUBLE) * 100 / p0 + 0.5) AS BIGINT)
        |      - 100 AS d
        |    FROM pp) WHERE d <> 0),
        |g AS (
        |  SELECT abs(d) AS w, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM d GROUP BY 1),
        |r AS (
        |  SELECT w, cnt, pos,
        |    2 * coalesce(sum(cnt) OVER (ORDER BY w ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + cnt + 1 AS rank2
        |  FROM g),
        |s AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS n,
        |    CAST(sum(pos * rank2) AS BIGINT) AS wp2,
        |    CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS ties
        |  FROM r)
        |SELECT n, CAST(wp2 AS DOUBLE) / 2 AS w_plus,
        |  CAST(n AS DOUBLE) * (n + 1) / 2 - CAST(wp2 AS DOUBLE) / 2 AS w_minus,
        |  CAST(floor((CAST(wp2 AS DOUBLE) / 2 - CAST(n AS DOUBLE) * (n + 1) / 4)
        |    / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24
        |        - CAST(ties AS DOUBLE) / 48)
        |    * 1000000000 + 0.5) AS BIGINT) / 1.0e9 AS z
        |FROM s""".stripMargin) { (s, dir) =>
      val pp = matchedParts(partYears(s, dir, 1995, 1996), 1995, 1996, 0)
      val d = pp
        .select((floor(col("p1").cast(DoubleType) * 100 / col("p0") + 0.5)
          .cast(LongType) - 100).as("d"))
        .filter(col("d") =!= 0)
      val g = d.groupBy(abs(col("d")).as("w"))
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("d") > 0, 1L).otherwise(0L)).as("pos"))
      // global window over the bounded 1%-resolution |Δ| domain
      val wCum = Window.orderBy(col("w").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val r = g.withColumn("rank2",
        lit(2) * coalesce(sum(col("cnt")).over(wCum), lit(0L))
          + col("cnt") + lit(1))
      val st = r.agg(sum(col("cnt")).as("n"),
        sum(col("pos") * col("rank2")).as("wp2"),
        sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("ties"))
      st.select(col("n"),
        (col("wp2").cast(DoubleType) / 2).as("w_plus"),
        (col("n").cast(DoubleType) * (col("n") + 1) / 2
          - col("wp2").cast(DoubleType) / 2).as("w_minus"),
        (floor((col("wp2").cast(DoubleType) / 2
            - col("n").cast(DoubleType) * (col("n") + 1) / 4)
          / sqrt(col("n").cast(DoubleType) * (col("n") + 1)
              * (lit(2) * col("n") + 1) / 24
            - col("ties").cast(DoubleType) / 48)
          * lit(1.0e9) + lit(0.5)).cast(LongType) / lit(1.0e9)).as("z"))
    },

    // ------------------------------------------------------------------
    // Cronbach's alpha — the internal-consistency reliability readout a
    // survey methodologist runs on a battery of item scores before
    // trusting their sum as a scale. Respondents = orders; items = the
    // three per-order measures a purchase battery yields (quantity
    // volume, line count, discount exposure), each snapped to exact
    // fixed-point longs at the line level. ONE corpus-scale keyed agg
    // builds the per-order item vector; the second agg collapses to a
    // 1-row exact moment table (Σx, Σx² per item and for the total) —
    // map-side combined, nothing downstream scales with rows. Variances
    // and α assemble as mirrored double chains over those exact
    // integers.
    "etl_cronbach_alpha" -> QueryDef.withOracle(
      """WITH it AS (
        |  SELECT l_orderkey,
        |    CAST(floor(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 + 0.5)
        |      AS BIGINT) AS x1,
        |    CAST(count(*) AS BIGINT) AS x2,
        |    CAST(floor(sum(CAST(l_discount AS DECIMAL(18,2))) * 100 + 0.5)
        |      AS BIGINT) AS x3
        |  FROM lineitem GROUP BY 1),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
        |    CAST(sum(x3) AS BIGINT) AS s3,
        |    CAST(sum(x1 * x1) AS BIGINT) AS q1,
        |    CAST(sum(x2 * x2) AS BIGINT) AS q2,
        |    CAST(sum(x3 * x3) AS BIGINT) AS q3,
        |    CAST(sum((x1 + x2 + x3) * (x1 + x2 + x3)) AS BIGINT) AS qt
        |  FROM it),
        |v AS (
        |  SELECT n,
        |    (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1) AS v1,
        |    (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n) / (n - 1) AS v2,
        |    (CAST(q3 AS DOUBLE) - CAST(s3 AS DOUBLE) * s3 / n) / (n - 1) AS v3,
        |    (CAST(qt AS DOUBLE) - (CAST(s1 AS DOUBLE) + s2 + s3)
        |      * (CAST(s1 AS DOUBLE) + s2 + s3) / n) / (n - 1) AS vt
        |  FROM m)
        |SELECT n AS n_orders,
        |  round(v1, 9) AS var_qty, round(v2, 9) AS var_lines,
        |  round(v3, 9) AS var_disc, round(vt, 9) AS var_total,
        |  round(3.0 / 2 * (1 - (v1 + v2 + v3) / vt), 9) AS alpha
        |FROM v""".stripMargin) { (s, dir) =>
      val it = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(floor(sum(col("l_quantity").cast(DecimalType(18, 2))) * 100 + 0.5)
            .cast(LongType).as("x1"),
          count(lit(1)).as("x2"),
          floor(sum(col("l_discount").cast(DecimalType(18, 2))) * 100 + 0.5)
            .cast(LongType).as("x3"))
      val xt = col("x1") + col("x2") + col("x3")
      val m = it.agg(count(lit(1)).as("n"),
        sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
        sum(col("x3")).as("s3"),
        sum(col("x1") * col("x1")).as("q1"),
        sum(col("x2") * col("x2")).as("q2"),
        sum(col("x3") * col("x3")).as("q3"),
        sum(xt * xt).as("qt"))
      def va(q: String, sc: String) =
        (col(q).cast(DoubleType) - col(sc).cast(DoubleType) * col(sc) / col("n")) /
          (col("n") - 1)
      val sTot = col("s1").cast(DoubleType) + col("s2") + col("s3")
      val v = m.select(col("n"),
        va("q1", "s1").as("v1"), va("q2", "s2").as("v2"),
        va("q3", "s3").as("v3"),
        ((col("qt").cast(DoubleType) - sTot * sTot / col("n")) / (col("n") - 1))
          .as("vt"))
      v.select(col("n").as("n_orders"),
        round(col("v1"), 9).as("var_qty"), round(col("v2"), 9).as("var_lines"),
        round(col("v3"), 9).as("var_disc"), round(col("vt"), 9).as("var_total"),
        round(lit(3.0) / 2 * (lit(1) - (col("v1") + col("v2") + col("v3"))
          / col("vt")), 9).as("alpha"))
    },

    // ------------------------------------------------------------------
    // Cohen's kappa — chance-corrected agreement between two raters,
    // the standard screen before trusting any labeling operation
    // (coder consistency in a survey shop, heuristic-vs-heuristic in a
    // data pipeline). Raters here are two deterministic document
    // screens: A = length > 600 chars, B = > 100 tokens (the TextOps
    // tokenizer). ONE corpus agg collapses to the 2×2 agreement table
    // (four exact longs); p_o, p_e and κ assemble on that single row
    // as mirrored double chains.
    "etl_cohens_kappa" -> QueryDef.withOracle(
      """WITH r AS (
        |  SELECT CASE WHEN length(text) > 300 THEN 1 ELSE 0 END AS a,
        |    CASE WHEN len(regexp_extract_all(lower(text), '[a-z0-9]+')) > 55
        |         THEN 1 ELSE 0 END AS b
        |  FROM documents),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(a * b) AS BIGINT) AS n11,
        |    CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
        |    CAST(sum((1 - a) * b) AS BIGINT) AS n01,
        |    CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
        |  FROM r),
        |k AS (
        |  SELECT n, n11, n10, n01, n00,
        |    CAST(n11 + n00 AS DOUBLE) / n AS po,
        |    (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
        |      + CAST(n01 + n00 AS DOUBLE) * (n10 + n00)) / n / n AS pe
        |  FROM m)
        |SELECT n, n11 AS n_both, n10 AS n_only_a, n01 AS n_only_b,
        |  n00 AS n_neither,
        |  round(po, 9) AS po, round(pe, 9) AS pe,
        |  round((po - pe) / (1 - pe), 9) AS kappa
        |FROM k""".stripMargin) { (s, dir) =>
      val r = Tables.documents(s, dir).select(
        when(length(col("text")) > 300, 1L).otherwise(0L).as("a"),
        when(size(TextOps.tokens(col("text"))) > 55, 1L).otherwise(0L).as("b"))
      val m = r.agg(count(lit(1)).as("n"),
        sum(col("a") * col("b")).as("n11"),
        sum(col("a") * (lit(1) - col("b"))).as("n10"),
        sum((lit(1) - col("a")) * col("b")).as("n01"),
        sum((lit(1) - col("a")) * (lit(1) - col("b"))).as("n00"))
      val k = m.select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        ((col("n11") + col("n00")).cast(DoubleType) / col("n")).as("po"),
        (((col("n11") + col("n10")).cast(DoubleType) * (col("n11") + col("n01"))
          + (col("n01") + col("n00")).cast(DoubleType) * (col("n10") + col("n00")))
          / col("n") / col("n")).as("pe"))
      k.select(col("n"), col("n11").as("n_both"), col("n10").as("n_only_a"),
        col("n01").as("n_only_b"), col("n00").as("n_neither"),
        round(col("po"), 9).as("po"), round(col("pe"), 9).as("pe"),
        round((col("po") - col("pe")) / (lit(1) - col("pe")), 9).as("kappa"))
    },

    // ------------------------------------------------------------------
    // Composite small-area estimation — the workhorse when a domain's
    // own sample is too thin to publish: shrink the domain's direct
    // estimate toward the synthetic (model-domain) estimate with
    // weight w = n_d / (n_d + K) (K = 20, the prior strength), so big
    // domains keep their data and small domains borrow strength (Rao's
    // composite estimator, the step before a full Fay-Herriot model).
    // Domains = nation × market segment on customer balances; the
    // synthetic level is the segment mean. ONE corpus-scale keyed agg
    // at domain grain (exact ×100 fixed-point sums); the segment
    // re-aggregation and the shrinkage ride the ≤|nations|×|segments|
    // bookkeeping relation.
    "etl_small_area_composite" -> QueryDef.withOracle(
      """WITH dom AS (
        |  SELECT n.n_name, c.c_mktsegment,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS sfp
        |  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        |  GROUP BY 1, 2),
        |seg AS (
        |  SELECT c_mktsegment, CAST(sum(n) AS BIGINT) AS n_seg,
        |    CAST(sum(sfp) AS BIGINT) AS sfp_seg
        |  FROM dom GROUP BY 1)
        |SELECT d.n_name, d.c_mktsegment, d.n,
        |  round(CAST(d.sfp AS DOUBLE) / d.n / 100, 9) AS direct,
        |  round(CAST(s.sfp_seg AS DOUBLE) / s.n_seg / 100, 9) AS synthetic,
        |  round(CAST(d.n AS DOUBLE) / (d.n + 20), 9) AS w,
        |  round(CAST(d.n AS DOUBLE) / (d.n + 20)
        |      * (CAST(d.sfp AS DOUBLE) / d.n / 100)
        |    + (1 - CAST(d.n AS DOUBLE) / (d.n + 20))
        |      * (CAST(s.sfp_seg AS DOUBLE) / s.n_seg / 100), 9) AS composite
        |FROM dom d JOIN seg s ON s.c_mktsegment = d.c_mktsegment""".stripMargin
    ) { (s, dir) =>
      val dom = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey"), col("n_name"))),
          col("n_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("c_acctbal") * 100 + 0.5).cast(LongType)).as("sfp"))
        .persist() // the segment level re-aggregates this ≤125-row relation
      val seg = dom.groupBy(col("c_mktsegment"))
        .agg(sum(col("n")).as("n_seg"), sum(col("sfp")).as("sfp_seg"))
      val direct = col("sfp").cast(DoubleType) / col("n") / 100
      val synth = col("sfp_seg").cast(DoubleType) / col("n_seg") / 100
      val w = col("n").cast(DoubleType) / (col("n") + 20)
      dom.join(broadcast(seg), Seq("c_mktsegment"))
        .select(col("n_name"), col("c_mktsegment"), col("n"),
          round(direct, 9).as("direct"),
          round(synth, 9).as("synthetic"),
          round(w, 9).as("w"),
          round(w * direct + (lit(1) - w) * synth, 9).as("composite"))
    },

    // ------------------------------------------------------------------
    // Contribution-to-change decomposition (waterfall) — the standard
    // "which categories drove the total's move" publication table:
    // per-brand 1995→1996 revenue deltas as exact ×10⁴ fixed-point
    // longs (additive by construction: brand deltas sum to the total
    // delta exactly, which a float decomposition cannot promise), each
    // brand's share of the total change ×10⁹-snapped. ONE filtered
    // corpus agg (shipdate range pushed to the scan) at brand grain;
    // the 1-row total broadcasts back over the ≤|brands| relation.
    "etl_contribution" -> QueryDef.withOracle(
      """WITH b AS (
        |  SELECT p.p_brand,
        |    CAST(sum(CASE WHEN year(l_shipdate) = 1995 THEN
        |      CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
        |        AS BIGINT) ELSE 0 END) AS BIGINT) AS r0,
        |    CAST(sum(CASE WHEN year(l_shipdate) = 1996 THEN
        |      CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
        |        AS BIGINT) ELSE 0 END) AS BIGINT) AS r1
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |  WHERE year(l_shipdate) IN (1995, 1996)
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(r0) AS BIGINT) AS t0,
        |               CAST(sum(r1) AS BIGINT) AS t1 FROM b)
        |SELECT b.p_brand,
        |  CAST(b.r0 AS DOUBLE) / 10000 AS rev0,
        |  CAST(b.r1 AS DOUBLE) / 10000 AS rev1,
        |  CAST(b.r1 - b.r0 AS DOUBLE) / 10000 AS delta,
        |  floor(CAST(b.r1 - b.r0 AS DOUBLE) / (t.t1 - t.t0)
        |    * 1000000000 + 0.5) / 1.0e9 AS share_of_change
        |FROM b CROSS JOIN tot t""".stripMargin) { (s, dir) =>
      val fp = floor(col("l_extendedprice") * (lit(1) - col("l_discount"))
        * 10000 + 0.5).cast(LongType)
      val b = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1995-01-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1997-01-01").cast(TimestampType))
        .join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
          col("p_partkey") === col("l_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          sum(when(year(col("l_shipdate")) === 1995, fp).otherwise(0L)).as("r0"),
          sum(when(year(col("l_shipdate")) === 1996, fp).otherwise(0L)).as("r1"))
        .persist() // the 1-row total re-reads this ≤|brands| relation
      val tot = b.agg(sum(col("r0")).as("t0"), sum(col("r1")).as("t1"))
      b.crossJoin(broadcast(tot))
        .select(col("p_brand"),
          (col("r0").cast(DoubleType) / 10000).as("rev0"),
          (col("r1").cast(DoubleType) / 10000).as("rev1"),
          ((col("r1") - col("r0")).cast(DoubleType) / 10000).as("delta"),
          (floor((col("r1") - col("r0")).cast(DoubleType) / (col("t1") - col("t0"))
            * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("share_of_change"))
    },

    // ------------------------------------------------------------------
    // Henderson 13-term trend filter — the X-11 trend extractor proper
    // (etl_seasonal_ma's 2×12 MA is the opening move; Henderson is what
    // the published trend-cycle actually uses: minimum-roughness
    // weights that pass cubics exactly). Weights are the EXACT
    // rationals w_j = (16−j²)(49−j²)(64−j²)(81−j²) / 16930368 — the
    // usual published 5-dp decimals sum to 1.00002 and only
    // approximately reproduce cubics; the integer numerators do both
    // EXACTLY (Round9InvariantSpec proves the cubic-reproduction
    // identity in BigInt). Monthly order revenue as exact ×100 longs →
    // each interior month's trend is ONE exact integer dot product
    // (partitioning-invariant by construction, no float MA drift),
    // only then divided out to a double. The corpus collapses to the
    // monthly relation in one agg; the filter is a 13-row
    // literal-weights join on integer month arithmetic (no row_number
    // needed — calendar gaps self-exclude via the full-window count).
    "etl_henderson_trend" -> QueryDef.withOracle(
      s"""WITH m AS (
        |  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
        |      AS ym,
        |    CAST(floor(epoch(date_trunc('month', o_orderdate))) AS BIGINT)
        |      AS mo_s,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS fp
        |  FROM orders GROUP BY 1, 2),
        |w AS (
        |  SELECT CAST(o AS BIGINT) AS off, CAST(wfp AS BIGINT) AS wfp
        |  FROM (VALUES ${HendersonW.map { case (o, v) => s"($o, $v)" }
               .mkString(", ")}) t(o, wfp)),
        |h AS (
        |  SELECT m.ym, m.mo_s, m.fp,
        |    CAST(sum(CAST(w.wfp AS HUGEINT) * m2.fp) AS DOUBLE) AS s,
        |    CAST(count(*) AS BIGINT) AS nterms
        |  FROM m JOIN w ON TRUE JOIN m m2 ON m2.ym = m.ym + w.off
        |  GROUP BY 1, 2, 3 HAVING count(*) = 13)
        |SELECT mo_s, CAST(fp AS DOUBLE) / 100 AS revenue,
        |  s / $HendersonDenom / 100 AS henderson_trend
        |FROM h""".stripMargin) { (s, dir) =>
      import s.implicits._
      val w = HendersonW.toDF("off", "wfp")
      val m = Tables.orders(s, dir)
        .groupBy(
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast(LongType).as("ym"),
          unix_timestamp(date_trunc("month", col("o_orderdate"))).as("mo_s"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast(LongType))
          .as("fp"))
        .persist() // both sides of the 13-offset self-join
      val m2 = m.select(col("ym").as("ym2"), col("fp").as("fp2"))
      // weight numerators (~4e6) × sf10d monthly cents (~4.3e11) put
      // single terms near 2e18 and the 13-term dot past 2⁶³ — the
      // spearman accumulation class (round-14 sf10d etl battery):
      // DECIMAL(38)/HUGEINT products, converted to double ONCE
      val dec38h = DecimalType(38, 0)
      m.crossJoin(broadcast(w)) // 13-row literal weights relation
        .join(m2, col("ym2") === col("ym") + col("off"))
        .groupBy(col("ym"), col("mo_s"), col("fp"))
        .agg(sum(col("wfp").cast(dec38h) * col("fp2").cast(dec38h))
          .cast(DoubleType).as("s"),
          count(lit(1)).as("nterms"))
        .filter(col("nterms") === 13)
        .select(col("mo_s"), (col("fp").cast(DoubleType) / 100).as("revenue"),
          (col("s") / HendersonDenom / 100).as("henderson_trend"))
    },

    // ------------------------------------------------------------------
    // Superlative price indices — Törnqvist (geometric, average-
    // expenditure-share weighted) and Walsh (√(q₀q₁) basket), the two
    // indices that close the family etl_price_index opens (Laspeyres/
    // Paasche/Fisher): superlative indices are what agencies publish
    // when both periods' baskets are observed. Same part-year relation
    // and ×10⁶/×10² fixed-point discipline; the brand expenditure
    // totals broadcast back over the ≤|parts-per-brand| relation, and
    // every float term (share·ln-relative, p₁√(q₀q₁)) is ×10¹²/-snapped
    // to a long BEFORE its sum so the reduction is exact and
    // partitioning-invariant — an unordered double sum would not be.
    "etl_tornqvist" -> QueryDef.withOracle(
      s"""WITH ${partYearSql(1995, 1996)},
        |${matchedSql("pp", 1995, 1996, 2)},
        |pb AS (
        |  SELECT p.p_brand, pp.p0, pp.p1, pp.q0, pp.q1,
        |    CAST(pp.p0 AS HUGEINT) * pp.q0 AS v0,
        |    CAST(pp.p1 AS HUGEINT) * pp.q1 AS v1
        |  FROM pp JOIN part p ON p.p_partkey = pp.l_partkey),
        |tot AS (
        |  SELECT p_brand, CAST(sum(v0) AS DOUBLE) AS tv0,
        |    CAST(sum(v1) AS DOUBLE) AS tv1
        |  FROM pb GROUP BY 1),
        |terms AS (
        |  SELECT pb.p_brand,
        |    CAST(floor((pb.v0 / t.tv0 + pb.v1 / t.tv1) / 2
        |      * ln(CAST(pb.p1 AS DOUBLE) / pb.p0) * 1e12 + 0.5) AS BIGINT)
        |      AS lt_fp,
        |    CAST(floor(pb.p1 * sqrt(CAST(pb.q0 AS DOUBLE) * pb.q1) + 0.5)
        |      AS BIGINT) AS w1_fp,
        |    CAST(floor(pb.p0 * sqrt(CAST(pb.q0 AS DOUBLE) * pb.q1) + 0.5)
        |      AS BIGINT) AS w0_fp
        |  FROM pb JOIN tot t ON t.p_brand = pb.p_brand)
        |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts,
        |  floor(100 * exp(CAST(sum(lt_fp) AS DOUBLE) / 1e12) * 1000000 + 0.5)
        |    / 1.0e6 AS tornqvist,
        |  floor(100 * CAST(sum(CAST(w1_fp AS HUGEINT)) AS DOUBLE)
        |    / CAST(sum(CAST(w0_fp AS HUGEINT)) AS DOUBLE) * 1000000 + 0.5)
        |    / 1.0e6 AS walsh
        |FROM terms GROUP BY 1""".stripMargin) { (s, dir) =>
      val dec38 = DecimalType(38, 0)
      val pp = matchedParts(partYears(s, dir, 1995, 1996), 1995, 1996, 2)
      val pb = pp
        .join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
          col("p_partkey") === col("l_partkey"))
        .select(col("p_brand"), col("p0"), col("p1"), col("q0"), col("q1"),
          (col("p0").cast(dec38) * col("q0")).cast(dec38).as("v0"),
          (col("p1").cast(dec38) * col("q1")).cast(dec38).as("v1"))
        .persist() // brand totals AND per-part terms read this once each
      val tot = pb.groupBy(col("p_brand"))
        .agg(sum(col("v0")).cast(DoubleType).as("tv0"),
          sum(col("v1")).cast(DoubleType).as("tv1"))
      pb.join(broadcast(tot), Seq("p_brand")) // ≤|brands| totals
        .select(col("p_brand"),
          floor((col("v0").cast(DoubleType) / col("tv0")
              + col("v1").cast(DoubleType) / col("tv1")) / 2
            * log(col("p1").cast(DoubleType) / col("p0")) * lit(1.0e12)
            + 0.5).cast(LongType).as("lt_fp"),
          floor(col("p1") * sqrt(col("q0").cast(DoubleType) * col("q1"))
            + 0.5).cast(LongType).as("w1_fp"),
          floor(col("p0") * sqrt(col("q0").cast(DoubleType) * col("q1"))
            + 0.5).cast(LongType).as("w0_fp"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_parts"),
          (floor(lit(100) * exp(sum(col("lt_fp")).cast(DoubleType) / lit(1.0e12))
            * 1000000 + 0.5) / lit(1.0e6)).as("tornqvist"),
          (floor(lit(100) * sum(col("w1_fp").cast(dec38)).cast(DoubleType)
            / sum(col("w0_fp").cast(dec38)).cast(DoubleType)
            * 1000000 + 0.5) / lit(1.0e6)).as("walsh"))
    },

    // ------------------------------------------------------------------
    // Strength of trend / strength of seasonality — the Hyndman
    // decomposition diagnostics (F_T = max(0, 1−Var(R)/Var(T+R)),
    // F_S = max(0, 1−Var(R)/Var(S+R)) on the log-additive components),
    // the one-number screens an agency reads before deciding a series
    // is worth seasonally adjusting at all. Rides the exact
    // etl_seasonal_decompose component chain (monthly grain, 2×12 MA
    // trend, normalized SI factors); each month's log-components are
    // ×10⁹-snapped longs and the variances are exact integer
    // (n·Σx²−(Σx)²)/n² sums in DECIMAL(38), so the single-row output
    // is partitioning-invariant. Corpus collapses to months in one
    // agg; everything after is bookkeeping-scale.
    "etl_seasonal_strength" -> QueryDef.withOracle(
      s"""WITH ${movingAvgSql("CAST(month(o_orderdate) AS BIGINT) AS mo")},
        |$seasonalFactorsSql,
        |lg AS (
        |  SELECT
        |    CAST(floor(ln(si.ma) * 1e9 + 0.5) AS BIGINT) AS lt_fp,
        |    CAST(floor(ln(fac.seasonal) * 1e9 + 0.5) AS BIGINT) AS ls_fp,
        |    CAST(floor((ln(si.total) - ln(si.ma) - ln(fac.seasonal)) * 1e9
        |      + 0.5) AS BIGINT) AS lr_fp
        |  FROM si JOIN fac ON fac.mo = si.mo),
        |v AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(*) * sum(CAST(lr_fp AS HUGEINT) * lr_fp)
        |      - sum(CAST(lr_fp AS HUGEINT)) * sum(CAST(lr_fp AS HUGEINT))
        |      AS DOUBLE) AS vr,
        |    CAST(count(*) * sum(CAST(lt_fp + lr_fp AS HUGEINT) * (lt_fp + lr_fp))
        |      - sum(CAST(lt_fp + lr_fp AS HUGEINT))
        |        * sum(CAST(lt_fp + lr_fp AS HUGEINT)) AS DOUBLE) AS vtr,
        |    CAST(count(*) * sum(CAST(ls_fp + lr_fp AS HUGEINT) * (ls_fp + lr_fp))
        |      - sum(CAST(ls_fp + lr_fp AS HUGEINT))
        |        * sum(CAST(ls_fp + lr_fp AS HUGEINT)) AS DOUBLE) AS vsr
        |  FROM lg)
        |SELECT n,
        |  floor(greatest(0, 1 - vr / vtr) * 1e9 + 0.5) / 1.0e9
        |    AS trend_strength,
        |  floor(greatest(0, 1 - vr / vsr) * 1e9 + 0.5) / 1.0e9
        |    AS seasonal_strength
        |FROM v""".stripMargin) { (s, dir) =>
      val dec38 = DecimalType(38, 0)
      val si = movingAvg(s, dir,
        month(col("o_orderdate")).cast(LongType).as("mo"))
        .withColumn("si_fp",
          floor(col("total") / col("ma") * lit(1.0e9) + lit(0.5)).cast(LongType))
        .persist() // months-bounded; feeds factors and the log-components
      val fac = seasonalFactors(si)
      val lg = si.join(broadcast(fac), Seq("mo"))
        .select(
          floor(log(col("ma")) * lit(1.0e9) + 0.5).cast(LongType).as("lt_fp"),
          floor(log(col("seasonal")) * lit(1.0e9) + 0.5).cast(LongType)
            .as("ls_fp"),
          floor((log(col("total")) - log(col("ma")) - log(col("seasonal")))
            * lit(1.0e9) + 0.5).cast(LongType).as("lr_fp"))
      def varFp(c: Column): Column =
        (count(lit(1)) * sum((c.cast(dec38) * c).cast(dec38))
          - sum(c.cast(dec38)) * sum(c.cast(dec38))).cast(DoubleType)
      val v = lg.agg(count(lit(1)).as("n"),
        varFp(col("lr_fp")).as("vr"),
        varFp(col("lt_fp") + col("lr_fp")).as("vtr"),
        varFp(col("ls_fp") + col("lr_fp")).as("vsr"))
      v.select(col("n"),
        (floor(greatest(lit(0), lit(1) - col("vr") / col("vtr")) * lit(1.0e9)
          + 0.5) / lit(1.0e9)).as("trend_strength"),
        (floor(greatest(lit(0), lit(1) - col("vr") / col("vsr")) * lit(1.0e9)
          + 0.5) / lit(1.0e9)).as("seasonal_strength"))
    },

    // ------------------------------------------------------------------
    // Cochran-Armitage trend test — does a binary outcome rate move
    // monotonically across ORDERED categories (the dose-response screen
    // chi-square independence cannot see: etl_chisq_independence treats
    // categories as unordered). Outcome = order finalized (status 'F'),
    // ordered exposure = priority rank 1..5 parsed from the prefix.
    // ONE corpus agg collapses to ≤5 rows (map-side combine); T, its
    // null variance and Z are exact-integer sums off that tiny
    // relation, so the statistic is partitioning-invariant by
    // construction. Per-level rates ship alongside the 1-row Z via a
    // broadcast cross join.
    "etl_cochran_armitage" -> QueryDef.withOracle(
      """WITH g AS (
        |  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS t,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS r
        |  FROM orders GROUP BY 1),
        |s AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(r) AS BIGINT) AS rr,
        |    CAST(sum(t * n) AS BIGINT) AS tn,
        |    CAST(sum(t * t * n) AS BIGINT) AS t2n,
        |    CAST(sum(t * r) AS BIGINT) AS tr
        |  FROM g)
        |SELECT g.t AS priority_rank, g.n, g.r,
        |  floor(CAST(g.r AS DOUBLE) / g.n * 1e9 + 0.5) / 1.0e9 AS rate,
        |  floor((tr - CAST(rr AS DOUBLE) * tn / nn)
        |    / sqrt(CAST(rr AS DOUBLE) / nn * (1 - CAST(rr AS DOUBLE) / nn)
        |        * (t2n - CAST(tn AS DOUBLE) * tn / nn))
        |    * 1e9 + 0.5) / 1.0e9 AS z_trend
        |FROM g CROSS JOIN s""".stripMargin) { (s, dir) =>
      val g = Tables.orders(s, dir)
        .groupBy(substring(col("o_orderpriority"), 1, 1).cast(LongType).as("t"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("r"))
        .persist() // ≤5 rows; feeds the stat AND the per-level output
      val st = g.agg(sum(col("n")).as("nn"), sum(col("r")).as("rr"),
        sum(col("t") * col("n")).as("tn"),
        sum(col("t") * col("t") * col("n")).as("t2n"),
        sum(col("t") * col("r")).as("tr"))
      g.crossJoin(broadcast(st))
        .select(col("t").as("priority_rank"), col("n"), col("r"),
          (floor(col("r").cast(DoubleType) / col("n") * lit(1.0e9) + 0.5)
            / lit(1.0e9)).as("rate"),
          (floor((col("tr") - col("rr").cast(DoubleType) * col("tn") / col("nn"))
            / sqrt(col("rr").cast(DoubleType) / col("nn")
                * (lit(1) - col("rr").cast(DoubleType) / col("nn"))
                * (col("t2n") - col("tn").cast(DoubleType) * col("tn") / col("nn")))
            * lit(1.0e9) + 0.5) / lit(1.0e9)).as("z_trend"))
    },

    // ------------------------------------------------------------------
    // Intraclass correlation ICC(1,1) — the one-way random-effects
    // reliability coefficient (how much of account-balance variance is
    // BETWEEN nations vs within), the design-clustering number that
    // feeds etl_design_effect's deff = 1 + (m̄−1)·ICC. Unbalanced
    // groups use the ANOVA estimator with k₀ = (N − Σn²/N)/(a−1).
    // ONE keyed corpus agg of exact ×100-fixed-point sums (count, Σx,
    // Σx²) collapses to ≤|nations| rows; MSB/MSW/ICC are bookkeeping
    // arithmetic on that relation's exact integers.
    "etl_icc" -> QueryDef.withOracle(
      """WITH g AS (
        |  SELECT c_nationkey,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS sx,
        |    CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS HUGEINT)
        |      * CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS HUGEINT) AS sxx
        |  FROM customer GROUP BY 1),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS a, CAST(sum(n) AS BIGINT) AS nn,
        |    CAST(sum(sx) AS BIGINT) AS tsx, CAST(sum(sxx) AS DOUBLE) AS tsxx,
        |    CAST(sum(n * n) AS BIGINT) AS sn2,
        |    CAST(sum(CAST(floor(CAST(sx AS DOUBLE) * sx / n + 0.5) AS BIGINT))
        |      AS BIGINT) AS ssb_raw
        |  FROM g),
        |c AS (
        |  SELECT a, nn,
        |    (CAST(ssb_raw AS DOUBLE) - CAST(tsx AS DOUBLE) * tsx / nn)
        |      / (a - 1) / 10000 AS msb,
        |    (tsxx - CAST(ssb_raw AS DOUBLE)) / (nn - a) / 10000 AS msw,
        |    (CAST(nn AS DOUBLE) - CAST(sn2 AS DOUBLE) / nn) / (a - 1) AS k0
        |  FROM s)
        |SELECT a AS n_groups, nn AS n_rows,
        |  floor(msb * 1e6 + 0.5) / 1.0e6 AS ms_between,
        |  floor(msw * 1e6 + 0.5) / 1.0e6 AS ms_within,
        |  floor(k0 * 1e9 + 0.5) / 1.0e9 AS k0,
        |  floor((msb - msw) / (msb + (k0 - 1) * msw) * 1e9 + 0.5) / 1.0e9
        |    AS icc
        |FROM c""".stripMargin) { (s, dir) =>
      val dec38 = DecimalType(38, 0)
      val xf = floor(col("c_acctbal") * 100 + 0.5).cast(LongType)
      val g = Tables.customer(s, dir)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"), sum(xf).as("sx"),
          sum((xf.cast(dec38) * xf).cast(dec38)).as("sxx"))
      // per-group sx²/n is NOT integral — and DuckDB's HUGEINT divide
      // truncates while Spark's Decimal divide rounds, so neither
      // integral form can match. Both engines instead compute the term
      // as a double from the SAME exact integers (IEEE-deterministic),
      // snap it to a long, and sum exactly — partitioning-invariant.
      val st = g.agg(count(lit(1)).as("a"), sum(col("n")).as("nn"),
        sum(col("sx")).as("tsx"), sum(col("sxx")).cast(DoubleType).as("tsxx"),
        sum(col("n") * col("n")).as("sn2"),
        sum(floor(col("sx").cast(DoubleType) * col("sx") / col("n") + 0.5)
          .cast(LongType)).as("ssb_raw"))
      val c = st.select(col("a"), col("nn"),
        ((col("ssb_raw").cast(DoubleType)
          - col("tsx").cast(DoubleType) * col("tsx") / col("nn"))
          / (col("a") - 1) / 10000).as("msb"),
        ((col("tsxx") - col("ssb_raw").cast(DoubleType)) / (col("nn") - col("a"))
          / 10000).as("msw"),
        ((col("nn").cast(DoubleType) - col("sn2").cast(DoubleType) / col("nn"))
          / (col("a") - 1)).as("k0"))
      c.select(col("a").as("n_groups"), col("nn").as("n_rows"),
        (floor(col("msb") * lit(1.0e6) + 0.5) / lit(1.0e6)).as("ms_between"),
        (floor(col("msw") * lit(1.0e6) + 0.5) / lit(1.0e6)).as("ms_within"),
        (floor(col("k0") * lit(1.0e9) + 0.5) / lit(1.0e9)).as("k0"),
        (floor((col("msb") - col("msw"))
          / (col("msb") + (col("k0") - 1) * col("msw")) * lit(1.0e9) + 0.5)
          / lit(1.0e9)).as("icc"))
    },

    // ------------------------------------------------------------------
    // ROC curve + AUC — the threshold-free classifier evaluation the
    // linkage/dedup screens need before picking a cutoff: score =
    // event value, positive class = purchases, negative = clicks (the
    // etl_mann_whitney cohorts; AUC is U/(n₁n₀), so this measures what
    // that test tests). The corpus collapses to the 2-dp-bounded score
    // domain in ONE map-side-combinable agg; cumulative TP/FP ride a
    // window over that DOMAIN-bounded relation (the etl_mann_whitney
    // bookkeeping argument — never corpus rows), and AUC is the exact
    // integer trapezoid Σ Δfp·(tp+tp_prev) / (2·P·N), so every row and
    // the area are partitioning-invariant with NO float accumulation.
    "etl_roc_curve" -> QueryDef.withOracle(
      """WITH g AS (
        |  SELECT value,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS fc,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS tc
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY value),
        |c AS (
        |  SELECT value, fc, tc,
        |    CAST(sum(tc) OVER o AS BIGINT) AS tp,
        |    CAST(sum(fc) OVER o AS BIGINT) AS fp,
        |    CAST(coalesce(sum(tc) OVER p, 0) AS BIGINT) AS tp_prev,
        |    CAST(coalesce(sum(fc) OVER p, 0) AS BIGINT) AS fp_prev
        |  FROM g
        |  WINDOW o AS (ORDER BY value DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    p AS (ORDER BY value DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |t AS (SELECT CAST(sum(tc) AS BIGINT) AS pos,
        |             CAST(sum(fc) AS BIGINT) AS neg FROM g),
        |a AS (SELECT CAST(sum((fp - fp_prev) * (tp + tp_prev)) AS BIGINT)
        |        AS auc2 FROM c)
        |SELECT c.value AS threshold, c.tp, c.fp,
        |  floor(CAST(c.tp AS DOUBLE) / t.pos * 1e9 + 0.5) / 1.0e9 AS tpr,
        |  floor(CAST(c.fp AS DOUBLE) / t.neg * 1e9 + 0.5) / 1.0e9 AS fpr,
        |  floor(CAST(a.auc2 AS DOUBLE) / (2.0 * t.pos * t.neg) * 1e9 + 0.5)
        |    / 1.0e9 AS auc
        |FROM c CROSS JOIN t CROSS JOIN a""".stripMargin) { (s, dir) =>
      val g = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(col("value"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("fc"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("tc"))
      // score-DOMAIN-bounded window (2-dp grid), not corpus rows
      val o = Window.orderBy(col("value").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val p = Window.orderBy(col("value").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val c = g.withColumn("tp", sum(col("tc")).over(o))
        .withColumn("fp", sum(col("fc")).over(o))
        .withColumn("tp_prev", coalesce(sum(col("tc")).over(p), lit(0L)))
        .withColumn("fp_prev", coalesce(sum(col("fc")).over(p), lit(0L)))
        .persist() // feeds the trapezoid agg AND the per-threshold rows
      val t = g.agg(sum(col("tc")).as("pos"), sum(col("fc")).as("neg"))
      val a = c.agg(sum((col("fp") - col("fp_prev"))
        * (col("tp") + col("tp_prev"))).as("auc2"))
      c.crossJoin(broadcast(t)).crossJoin(broadcast(a))
        .select(col("value").as("threshold"), col("tp"), col("fp"),
          (floor(col("tp").cast(DoubleType) / col("pos") * lit(1.0e9) + 0.5)
            / lit(1.0e9)).as("tpr"),
          (floor(col("fp").cast(DoubleType) / col("neg") * lit(1.0e9) + 0.5)
            / lit(1.0e9)).as("fpr"),
          (floor(col("auc2").cast(DoubleType)
            / (lit(2.0) * col("pos") * col("neg")) * lit(1.0e9) + 0.5)
            / lit(1.0e9)).as("auc"))
    },

    // ------------------------------------------------------------------
    // Systematic PPS sampling — n draws with probability proportional
    // to size (account balance), the workhorse establishment-survey
    // design (large units near-certainties, small ones proportionally
    // rare). Units order by md5 (deterministic "random" systematic
    // order — reruns and engines agree on every draw); selection
    // points sit at odd multiples of X/(2n), and a unit is hit
    // f(cum)−f(cum−x) times with f(c) = min(n, ceil((2nc−X)/2X)) —
    // ALL exact integer arithmetic, so the sample is
    // partitioning-invariant with no float boundary anywhere. The
    // cumulative size uses the 16-way BUCKETED prefix sum (the
    // pipe_token_budget plan): per-bucket local windows + a 16-row
    // offset relation — no single-task corpus sort at any scale.
    "etl_pps_sample" -> QueryDef.withOracle(
      """WITH t AS (
        |  SELECT s_suppkey, s_name,
        |    CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) AS x,
        |    md5(CAST(s_suppkey AS VARCHAR)) AS m
        |  FROM supplier WHERE s_acctbal > 0),
        |w AS (
        |  SELECT s_suppkey, s_name, x,
        |    CAST(sum(x) OVER (ORDER BY m, s_suppkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum
        |  FROM t),
        |tot AS (SELECT CAST(sum(x) AS BIGINT) AS xx,
        |               CAST(count(*) AS BIGINT) AS nu FROM t),
        |h AS (
        |  SELECT w.s_suppkey, w.s_name, w.x, w.cum, tot.xx, tot.nu,
        |    least(24, greatest(0, 2 * 24 * w.cum - tot.xx + 2 * tot.xx - 1)
        |      // (2 * tot.xx)) -
        |    least(24, greatest(0, 2 * 24 * (w.cum - w.x) - tot.xx
        |      + 2 * tot.xx - 1) // (2 * tot.xx)) AS n_hits
        |  FROM w CROSS JOIN tot)
        |SELECT s_suppkey, s_name, x, cum, n_hits,
        |  floor(24.0 * x / xx * 1e9 + 0.5) / 1.0e9 AS expected_hits,
        |  floor(CAST(xx AS DOUBLE) / (24 * x) * 1e6 + 0.5) / 1.0e6
        |    AS design_weight
        |FROM h WHERE n_hits >= 1""".stripMargin) { (s, dir) =>
      val n = 24L
      val t = Tables.supplier(s, dir)
        .filter(col("s_acctbal") > 0)
        .select(col("s_suppkey"), col("s_name"),
          floor(col("s_acctbal") * 100 + 0.5).cast(LongType).as("x"),
          md5(col("s_suppkey").cast(StringType).cast(BinaryType)).as("m"))
        .withColumn("bkt",
          conv(substring(col("m"), 1, 1), 16, 10).cast(IntegerType))
        .persist() // one scan feeds local cumsums, offsets and the total
      // bucketed prefix sum (pipe_token_budget): local window per
      // (bkt), 16-row offset relation, never one corpus-sorting task
      val wLoc = Window.partitionBy(col("bkt"))
        .orderBy(col("m").asc, col("s_suppkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wOff = Window.orderBy(col("bkt").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = t.groupBy(col("bkt")).agg(sum(col("x")).as("btotal"))
        .select(col("bkt"),
          coalesce(sum(col("btotal")).over(wOff), lit(0L)).as("off"))
      val tot = t.agg(sum(col("x")).as("xx"), count(lit(1)).as("nu"))
      val w = t.withColumn("cum_local", sum(col("x")).over(wLoc))
        .join(broadcast(offs), Seq("bkt"))
        .select(col("s_suppkey"), col("s_name"), col("x"),
          (col("off") + col("cum_local")).as("cum"))
        .crossJoin(broadcast(tot))
      // integer floor-div: both operands are non-negative by the
      // greatest(0, …) guard, so Spark div ≡ DuckDB // here
      val withHits = w.withColumn("n_hits",
        least(lit(n), expr(s"(greatest(0L, 2 * $n * cum - xx + 2 * xx - 1)) " +
          "div (2 * xx)"))
          - least(lit(n), expr(s"(greatest(0L, 2 * $n * (cum - x) - xx " +
            "+ 2 * xx - 1)) div (2 * xx)")))
      withHits.filter(col("n_hits") >= 1)
        .select(col("s_suppkey"), col("s_name"), col("x"), col("cum"),
          col("n_hits"),
          (floor(lit(24.0) * col("x") / col("xx") * lit(1.0e9) + 0.5)
            / lit(1.0e9)).as("expected_hits"),
          (floor(col("xx").cast(DoubleType) / (lit(n) * col("x")) * lit(1.0e6)
            + 0.5) / lit(1.0e6)).as("design_weight"))
    },

    // ------------------------------------------------------------------
    // Fay-Herriot small-area EBLUP — THE area-level model of official
    // small-area estimation (etl_small_area_composite is the fixed-
    // weight opening move; FH ESTIMATES the shrinkage from the data):
    // per-nation direct mean balances ȳᵢ with sampling variances
    // ψᵢ = s²ᵢ/nᵢ, the between-area variance σ²ᵥ by the Prasad-Rao
    // moment estimator (intercept-only: max(0, [Σeᵢ² − (1−1/m)Σψᵢ]
    // /(m−1))), shrinkage γᵢ = σ²ᵥ/(σ²ᵥ+ψᵢ), and EBLUP = γᵢȳᵢ +
    // (1−γᵢ)·β̂ with β̂ the precision-weighted GLS mean. ONE corpus
    // agg of exact fixed-point moments; every cross-area float sum
    // (Σeᵢ², Σwᵢ, Σwᵢȳᵢ) snaps its terms to longs first, so the
    // m-row bookkeeping stage is partitioning-invariant.
    "etl_fay_herriot" -> QueryDef.withOracle(
      """WITH g AS (
        |  SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS sx,
        |    CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS HUGEINT)
        |      * CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS HUGEINT)
        |      AS sxx
        |  FROM customer GROUP BY 1),
        |a AS (
        |  SELECT c_nationkey, n,
        |    CAST(floor(CAST(sx AS DOUBLE) / n / 100 * 1e6 + 0.5) AS BIGINT)
        |      AS dir_fp,
        |    CAST(floor((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
        |      / (n - 1) / 10000 / n * 1e6 + 0.5) AS BIGINT) AS psi_fp
        |  FROM g),
        |st AS (
        |  SELECT CAST(count(*) AS BIGINT) AS m, CAST(sum(dir_fp) AS BIGINT)
        |    AS sdir, CAST(sum(psi_fp) AS BIGINT) AS spsi FROM a),
        |e2 AS (
        |  SELECT CAST(sum(CAST(floor(
        |    (a.dir_fp / 1e6 - CAST(st.sdir AS DOUBLE) / st.m / 1e6)
        |    * (a.dir_fp / 1e6 - CAST(st.sdir AS DOUBLE) / st.m / 1e6)
        |    * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS se2
        |  FROM a CROSS JOIN st),
        |sv AS (
        |  SELECT greatest(0,
        |    (e2.se2 / 1e6 - st.spsi / 1e6 * (1 - 1.0 / st.m)) / (st.m - 1))
        |    AS s2v, st.m AS m
        |  FROM e2 CROSS JOIN st),
        |wts AS (
        |  SELECT a.c_nationkey, a.n, a.dir_fp, a.psi_fp, sv.s2v,
        |    CAST(floor(1.0 / (sv.s2v + a.psi_fp / 1e6) * 1e9 + 0.5) AS BIGINT)
        |      AS w_fp,
        |    CAST(floor(a.dir_fp / 1e6 / (sv.s2v + a.psi_fp / 1e6) * 1e9 + 0.5)
        |      AS BIGINT) AS yw_fp
        |  FROM a CROSS JOIN sv),
        |bw AS (
        |  SELECT CAST(sum(w_fp) AS BIGINT) AS sw,
        |    CAST(sum(yw_fp) AS BIGINT) AS syw FROM wts)
        |SELECT w.c_nationkey, w.n,
        |  w.dir_fp / 1.0e6 AS direct,
        |  w.psi_fp / 1.0e6 AS psi,
        |  floor(w.s2v * 1e6 + 0.5) / 1.0e6 AS sigma2_v,
        |  floor(w.s2v / (w.s2v + w.psi_fp / 1e6) * 1e9 + 0.5) / 1.0e9
        |    AS gamma,
        |  floor((w.s2v / (w.s2v + w.psi_fp / 1e6) * (w.dir_fp / 1e6)
        |    + (1 - w.s2v / (w.s2v + w.psi_fp / 1e6))
        |      * (CAST(b.syw AS DOUBLE) / b.sw)) * 1e6 + 0.5) / 1.0e6
        |    AS eblup
        |FROM wts w CROSS JOIN bw b""".stripMargin) { (s, dir) =>
      val dec38 = DecimalType(38, 0)
      val xf = floor(col("c_acctbal") * 100 + 0.5).cast(LongType)
      val g = Tables.customer(s, dir)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"), sum(xf).as("sx"),
          sum((xf.cast(dec38) * xf).cast(dec38)).as("sxx"))
      val a = g.select(col("c_nationkey"), col("n"),
        floor(col("sx").cast(DoubleType) / col("n") / 100 * lit(1.0e6) + 0.5)
          .cast(LongType).as("dir_fp"),
        floor((col("sxx").cast(DoubleType)
          - col("sx").cast(DoubleType) * col("sx") / col("n"))
          / (col("n") - 1) / 10000 / col("n") * lit(1.0e6) + 0.5)
          .cast(LongType).as("psi_fp"))
        .persist() // ≤|nations| rows; read by every bookkeeping stage
      val st = a.agg(count(lit(1)).as("m"), sum(col("dir_fp")).as("sdir"),
        sum(col("psi_fp")).as("spsi"))
      val dev = (col("dir_fp") / lit(1.0e6)
        - col("sdir").cast(DoubleType) / col("m") / lit(1.0e6))
      val e2 = a.crossJoin(broadcast(st))
        .agg(sum(floor(dev * dev * lit(1.0e6) + 0.5).cast(LongType)).as("se2"))
      val sv = e2.crossJoin(broadcast(st))
        .select(greatest(lit(0),
          (col("se2") / lit(1.0e6) - col("spsi") / lit(1.0e6)
            * (lit(1) - lit(1.0) / col("m"))) / (col("m") - 1)).as("s2v"),
          col("m"))
      val wts = a.crossJoin(broadcast(sv))
        .select(col("c_nationkey"), col("n"), col("dir_fp"), col("psi_fp"),
          col("s2v"),
          floor(lit(1.0) / (col("s2v") + col("psi_fp") / lit(1.0e6))
            * lit(1.0e9) + 0.5).cast(LongType).as("w_fp"),
          floor(col("dir_fp") / lit(1.0e6)
            / (col("s2v") + col("psi_fp") / lit(1.0e6)) * lit(1.0e9) + 0.5)
            .cast(LongType).as("yw_fp"))
        .persist() // the GLS-mean agg AND the per-area output
      val bw = wts.agg(sum(col("w_fp")).as("sw"), sum(col("yw_fp")).as("syw"))
      val gamma = col("s2v") / (col("s2v") + col("psi_fp") / lit(1.0e6))
      wts.crossJoin(broadcast(bw))
        .select(col("c_nationkey"), col("n"),
          (col("dir_fp") / lit(1.0e6)).as("direct"),
          (col("psi_fp") / lit(1.0e6)).as("psi"),
          (floor(col("s2v") * lit(1.0e6) + 0.5) / lit(1.0e6)).as("sigma2_v"),
          (floor(gamma * lit(1.0e9) + 0.5) / lit(1.0e9)).as("gamma"),
          (floor((gamma * (col("dir_fp") / lit(1.0e6))
            + (lit(1) - gamma) * (col("syw").cast(DoubleType) / col("sw")))
            * lit(1.0e6) + 0.5) / lit(1.0e6)).as("eblup"))
    },

    // ------------------------------------------------------------------
    // Theil-Sen robust trend — median-of-pairwise-slopes over the
    // monthly revenue series per return flag (the robust companion to
    // etl_regression_ols the way etl_mad_robust is to etl_outlier_clamp:
    // one wild month moves OLS, not the pairwise median; 29% breakdown).
    // Corpus collapses to ≤|months| exact cent sums per flag in ONE
    // keyed agg; the pairwise self-join, slope medians and intercept
    // medians all ride that calendar-bounded relation (months², not
    // rows², ~3.5k pairs per flag). Slopes are exact-cent differences
    // divided as identically-sequenced doubles; medians use explicit
    // rank selection with full deterministic tiebreaks.
    "etl_theil_sen" -> QueryDef.withOracle(
      s"""WITH $monthlyRevenueSql,
        |pr AS (
        |  SELECT a.f, a.mi AS mi_a, b.mi AS mi_b,
        |    CAST(b.rev_c - a.rev_c AS DOUBLE) / (b.mi - a.mi) AS slope
        |  FROM mo a JOIN mo b ON b.f = a.f AND b.mi > a.mi),
        |rs AS (
        |  SELECT f, slope,
        |    row_number() OVER (PARTITION BY f
        |      ORDER BY slope ASC, mi_a ASC, mi_b ASC) AS rn,
        |    count(*) OVER (PARTITION BY f) AS np
        |  FROM pr),
        |sl AS (
        |  SELECT f, max(np) AS n_pairs,
        |    (max(CASE WHEN rn = (np + 1) // 2 THEN slope END)
        |     + max(CASE WHEN rn = (np + 2) // 2 THEN slope END)) / 2.0 AS slope
        |  FROM rs GROUP BY f),
        |ic AS (
        |  SELECT mo.f, mo.rev_c - sl.slope * mo.mi AS b0, mo.mi,
        |    row_number() OVER (PARTITION BY mo.f
        |      ORDER BY mo.rev_c - sl.slope * mo.mi ASC, mo.mi ASC) AS rn,
        |    count(*) OVER (PARTITION BY mo.f) AS nm
        |  FROM mo JOIN sl ON sl.f = mo.f),
        |b0 AS (
        |  SELECT f, max(nm) AS n_months,
        |    (max(CASE WHEN rn = (nm + 1) // 2 THEN b0 END)
        |     + max(CASE WHEN rn = (nm + 2) // 2 THEN b0 END)) / 2.0 AS b0
        |  FROM ic GROUP BY f)
        |SELECT sl.f AS l_returnflag, b0.n_months, sl.n_pairs,
        |  floor(sl.slope / 100 * 1e6 + 0.5) / 1.0e6 AS sen_slope,
        |  floor(b0.b0 / 100 * 1e2 + 0.5) / 1.0e2 AS sen_intercept
        |FROM sl JOIN b0 ON b0.f = sl.f""".stripMargin) { (s, dir) =>
      val mo = monthlyRevenue(s, dir)
        .persist() // ≤|months|·|flags| rows; pair join + intercept pass
      val pr = mo.as("a").join(mo.as("b"),
          col("b.f") === col("a.f") && col("b.mi") > col("a.mi"))
        .select(col("a.f").as("f"), col("a.mi").as("mi_a"),
          col("b.mi").as("mi_b"),
          ((col("b.rev_c") - col("a.rev_c")).cast(DoubleType)
            / (col("b.mi") - col("a.mi"))).as("slope"))
      val wS = Window.partitionBy(col("f"))
        .orderBy(col("slope").asc, col("mi_a").asc, col("mi_b").asc)
      val wF = Window.partitionBy(col("f"))
      val rs = pr.withColumn("rn", row_number().over(wS))
        .withColumn("np", count(lit(1)).over(
          wF.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      val sl = rs.groupBy(col("f"))
        .agg(max(col("np")).as("n_pairs"),
          ((max(when(col("rn") === floor((col("np") + 1) / 2), col("slope")))
            + max(when(col("rn") === floor((col("np") + 2) / 2), col("slope"))))
            / lit(2.0)).as("slope"))
      val b0v = (col("rev_c") - col("slope") * col("mi")).as("b0")
      val ic = mo.join(broadcast(sl), Seq("f"))
        .select(col("f"), b0v, col("mi"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("f")).orderBy(col("b0").asc, col("mi").asc)))
        .withColumn("nm", count(lit(1)).over(
          wF.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      val b0 = ic.groupBy(col("f"))
        .agg(max(col("nm")).as("n_months"),
          ((max(when(col("rn") === floor((col("nm") + 1) / 2), col("b0")))
            + max(when(col("rn") === floor((col("nm") + 2) / 2), col("b0"))))
            / lit(2.0)).as("b0"))
      sl.join(b0, Seq("f"))
        .select(col("f").as("l_returnflag"), col("n_months"), col("n_pairs"),
          (floor(col("slope") / 100 * lit(1.0e6) + 0.5) / lit(1.0e6))
            .as("sen_slope"),
          (floor(col("b0") / 100 * lit(1.0e2) + 0.5) / lit(1.0e2))
            .as("sen_intercept"))
    },

    // ------------------------------------------------------------------
    // McNemar's test — paired-proportion change on the SAME subjects
    // (do users reach a high-value purchase at a different rate than a
    // high-value view, net of those who did both?): the within-subject
    // companion to the
    // independent-sample ev_ab_ttest / etl_chisq_independence. One
    // user-keyed agg to per-user (clicked, purchased) flags, one global
    // rollup to the 2×2 concordant/discordant cells — the test only
    // reads the discordant b and c: χ² = (|b−c|−1)²/(b+c) with the
    // continuity correction, all from exact BIGINTs until the final
    // 1-row divide.
    "etl_mcnemar" -> QueryDef.withOracle(
      """WITH u AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' AND value >= 90
        |      THEN 1 ELSE 0 END) AS hc,
        |    max(CASE WHEN event_type = 'view' AND value >= 90
        |      THEN 1 ELSE 0 END) AS hp
        |  FROM events GROUP BY 1),
        |c AS (
        |  SELECT
        |    CAST(sum(hc * hp) AS BIGINT) AS n_both,
        |    CAST(sum(hc * (1 - hp)) AS BIGINT) AS n_hi_purchase_only,
        |    CAST(sum((1 - hc) * hp) AS BIGINT) AS n_hi_view_only,
        |    CAST(sum((1 - hc) * (1 - hp)) AS BIGINT) AS n_neither,
        |    CAST(count(*) AS BIGINT) AS n_users
        |  FROM u)
        |SELECT n_users, n_both, n_hi_purchase_only, n_hi_view_only, n_neither,
        |  CASE WHEN n_hi_purchase_only + n_hi_view_only = 0 THEN 0.0
        |    ELSE floor((abs(CAST(n_hi_purchase_only AS DOUBLE) - n_hi_view_only) - 1)
        |      * (abs(CAST(n_hi_purchase_only AS DOUBLE) - n_hi_view_only) - 1)
        |      / (n_hi_purchase_only + n_hi_view_only) * 1e6 + 0.5) / 1.0e6 END AS chi2,
        |  CASE WHEN n_hi_purchase_only + n_hi_view_only = 0 THEN 0.0
        |    ELSE floor((abs(CAST(n_hi_purchase_only AS DOUBLE) - n_hi_view_only) - 1)
        |      * (abs(CAST(n_hi_purchase_only AS DOUBLE) - n_hi_view_only) - 1)
        |      / (n_hi_purchase_only + n_hi_view_only) * 1e6 + 0.5) / 1.0e6 END
        |    > 3.841459 AS reject_marginal_homogeneity
        |FROM c""".stripMargin) { (s, dir) =>
      val u = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" && col("value") >= 90,
            1L).otherwise(0L)).as("hc"),
          max(when(col("event_type") === "view" && col("value") >= 90,
            1L).otherwise(0L)).as("hp"))
      val c = u.agg(
        sum(col("hc") * col("hp")).as("n_both"),
        sum(col("hc") * (lit(1L) - col("hp"))).as("n_hi_purchase_only"),
        sum((lit(1L) - col("hc")) * col("hp")).as("n_hi_view_only"),
        sum((lit(1L) - col("hc")) * (lit(1L) - col("hp"))).as("n_neither"),
        count(lit(1)).as("n_users"))
      val dd = abs(col("n_hi_purchase_only").cast(DoubleType)
        - col("n_hi_view_only")) - 1
      // a saturated panel (every user in both margins) has no discordant
      // pairs: the statistic is undefined — report 0, don't divide
      val chi2 = when(col("n_hi_purchase_only") + col("n_hi_view_only") === 0L,
        lit(0.0)).otherwise(
        floor(dd * dd / (col("n_hi_purchase_only") + col("n_hi_view_only"))
          * lit(1.0e6) + 0.5) / lit(1.0e6))
      c.select(col("n_users"), col("n_both"), col("n_hi_purchase_only"),
        col("n_hi_view_only"), col("n_neither"), chi2.as("chi2"),
        (chi2 > 3.841459).as("reject_marginal_homogeneity"))
    },

    // ------------------------------------------------------------------
    // X-11-style seasonal adjustment — the full composed pass the
    // published SA series actually goes through, assembling the pieces
    // this surface already proves one at a time (etl_seasonal_ma's
    // 2×12 MA, etl_seasonal_decompose's ratio-to-MA factors,
    // etl_henderson_trend's exact-rational trend smoother): (1) first
    // trend = 2×12 centered MA as an EXACT ×24 integer window sum over
    // monthly cent totals, (2) SI ratios ×10⁹-snapped, (3) seasonal
    // factors = per-calendar-month SI means normalized to mean 1,
    // (4) SA series = y/factor snapped back to exact cents, (5) final
    // trend = Henderson-13 over the SA cents as ONE exact integer dot
    // product, (6) irregular = SA/trend. Corpus collapses to the
    // monthly relation in one agg; every later stage rides that
    // calendar-bounded bookkeeping (global-order windows over ≤|months|
    // rows, a 13-row literal-weights join — nothing row-scaled).
    "etl_x11_adjust" -> QueryDef.withOracle(
      s"""WITH m AS (
        |  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
        |      AS ym,
        |    CAST(floor(epoch(date_trunc('month', o_orderdate))) AS BIGINT)
        |      AS mo_s,
        |    CAST(month(o_orderdate) AS BIGINT) AS mo,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS fp
        |  FROM orders GROUP BY 1, 2, 3),
        |w AS (
        |  SELECT ym, mo_s, mo, fp,
        |    lag(fp, 6) OVER o + 2 * lag(fp, 5) OVER o + 2 * lag(fp, 4) OVER o
        |      + 2 * lag(fp, 3) OVER o + 2 * lag(fp, 2) OVER o
        |      + 2 * lag(fp, 1) OVER o + 2 * fp
        |      + 2 * lead(fp, 1) OVER o + 2 * lead(fp, 2) OVER o
        |      + 2 * lead(fp, 3) OVER o + 2 * lead(fp, 4) OVER o
        |      + 2 * lead(fp, 5) OVER o + lead(fp, 6) OVER o AS ma24
        |  FROM m WINDOW o AS (ORDER BY ym ASC)),
        |si AS (
        |  SELECT ym, mo, CAST(floor(CAST(fp AS DOUBLE) * 24 / ma24
        |    * 1000000000 + 0.5) AS BIGINT) AS si_fp
        |  FROM w WHERE ma24 IS NOT NULL),
        |f AS (
        |  SELECT mo,
        |    CAST(floor(CAST(sum(si_fp) AS BIGINT) / count(*) + 0.5) AS BIGINT)
        |      AS m_fp
        |  FROM si GROUP BY mo),
        |nrm AS (SELECT CAST(sum(m_fp) AS BIGINT) AS fsum,
        |               CAST(count(*) AS BIGINT) AS nmo FROM f),
        |fac AS (
        |  SELECT f.mo, f.m_fp * CAST(nrm.nmo AS DOUBLE) / nrm.fsum AS seasonal
        |  FROM f CROSS JOIN nrm),
        |sa AS (
        |  SELECT m.ym, m.mo_s, m.fp, fac.seasonal,
        |    CAST(floor(CAST(m.fp AS DOUBLE) / fac.seasonal + 0.5) AS BIGINT)
        |      AS sa_c
        |  FROM m JOIN fac ON fac.mo = m.mo),
        |hw AS (
        |  SELECT CAST(o AS BIGINT) AS off, CAST(wfp AS BIGINT) AS wfp
        |  FROM (VALUES ${HendersonW.map { case (o, v) => s"($o, $v)" }
               .mkString(", ")}) t(o, wfp)),
        |h AS (
        |  SELECT a.ym, a.mo_s, a.fp, a.seasonal, a.sa_c,
        |    CAST(sum(CAST(hw.wfp AS HUGEINT) * b.sa_c) AS DOUBLE) AS hdot
        |  FROM sa a JOIN hw ON TRUE JOIN sa b ON b.ym = a.ym + hw.off
        |  GROUP BY 1, 2, 3, 4, 5 HAVING count(*) = 13)
        |SELECT mo_s, CAST(fp AS DOUBLE) / 100 AS revenue,
        |  floor(seasonal * 1000000000 + 0.5) / 1.0e9 AS seasonal_factor,
        |  CAST(sa_c AS DOUBLE) / 100 AS seasonally_adjusted,
        |  floor(hdot / $HendersonDenom + 0.5) / 100.0 AS trend,
        |  floor(CAST(sa_c AS DOUBLE) * $HendersonDenom / hdot * 1e9 + 0.5)
        |    / 1.0e9 AS irregular
        |FROM h""".stripMargin) { (s, dir) =>
      import s.implicits._
      val m = Tables.orders(s, dir)
        .groupBy(
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast(LongType).as("ym"),
          unix_timestamp(date_trunc("month", col("o_orderdate"))).as("mo_s"),
          month(col("o_orderdate")).cast(LongType).as("mo"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast(LongType))
          .as("fp"))
        .persist() // monthly bookkeeping: MA window + factor join + filter
      val o = Window.orderBy(col("ym").asc)
      def lg(k: Int) = lag(col("fp"), k).over(o)
      def ld(k: Int) = lead(col("fp"), k).over(o)
      val ma24 = lg(6) + lit(2) * lg(5) + lit(2) * lg(4) + lit(2) * lg(3) +
        lit(2) * lg(2) + lit(2) * lg(1) + lit(2) * col("fp") +
        lit(2) * ld(1) + lit(2) * ld(2) + lit(2) * ld(3) + lit(2) * ld(4) +
        lit(2) * ld(5) + ld(6)
      val si = m.withColumn("ma24", ma24)
        .filter(col("ma24").isNotNull)
        .select(col("ym"), col("mo"),
          floor(col("fp").cast(DoubleType) * 24 / col("ma24") * lit(1.0e9)
            + 0.5).cast(LongType).as("si_fp"))
      val f = si.groupBy(col("mo"))
        .agg(floor(sum(col("si_fp")) / count(lit(1)) + 0.5)
          .cast(LongType).as("m_fp"))
      val nrm = f.agg(sum(col("m_fp")).as("fsum"), count(lit(1)).as("nmo"))
      val fac = f.crossJoin(broadcast(nrm))
        .select(col("mo"),
          (col("m_fp") * col("nmo").cast(DoubleType) / col("fsum"))
            .as("seasonal"))
      val sa = m.join(broadcast(fac), Seq("mo"))
        .select(col("ym"), col("mo_s"), col("fp"), col("seasonal"),
          floor(col("fp").cast(DoubleType) / col("seasonal") + 0.5)
            .cast(LongType).as("sa_c"))
        .persist() // both sides of the 13-offset Henderson self-join
      val hw = HendersonW.toDF("off", "wfp")
      val sb = sa.select(col("ym").as("ym2"), col("sa_c").as("sa2"))
      // the Henderson dot overflows 2⁶³ at sf10d (see
      // etl_henderson_trend): DECIMAL(38)/HUGEINT products, double once
      val dec38x = DecimalType(38, 0)
      sa.crossJoin(broadcast(hw))
        .join(sb, col("ym2") === col("ym") + col("off"))
        .groupBy(col("ym"), col("mo_s"), col("fp"), col("seasonal"),
          col("sa_c"))
        .agg(sum(col("wfp").cast(dec38x) * col("sa2").cast(dec38x))
          .cast(DoubleType).as("hdot"),
          count(lit(1)).as("nterms"))
        .filter(col("nterms") === 13)
        .select(col("mo_s"), (col("fp").cast(DoubleType) / 100).as("revenue"),
          (floor(col("seasonal") * lit(1.0e9) + 0.5) / lit(1.0e9))
            .as("seasonal_factor"),
          (col("sa_c").cast(DoubleType) / 100).as("seasonally_adjusted"),
          // cents snap, not ×1e6: the sf10d trend (~4.7e10) + 6
          // decimals exceeds a double's 16 significant digits (the
          // round()/seasonal class) — 2 decimals at this magnitude is
          // exact until 2^53/100
          (floor(col("hdot") / HendersonDenom + 0.5) / lit(100.0))
            .as("trend"),
          (floor(col("sa_c").cast(DoubleType) * HendersonDenom / col("hdot")
            * lit(1.0e9) + 0.5) / lit(1.0e9)).as("irregular"))
    },

    // ------------------------------------------------------------------
    // Tabular CUSUM control chart of monthly mean quantity per return
    // flag — the small-persistent-shift detector the Shewhart chart
    // (etl_control_chart) is blind to (a 0.5σ drift never crosses a 3σ
    // limit but accumulates here). The clamped recursion
    // C⁺_t = max(0, C⁺_{t−1} + x_t − μ − k) is NOT folded: by the
    // reflected-walk identity C⁺_t = S_t − min(0, min_{j≤t} S_j) with
    // S_t = Σ(x_i − μ − k), so both sides become EXACT-BIGINT prefix
    // sums/mins once terms are put on the common denominator nm
    // (term = nm·xfp − Σxfp − nm·kfp): the whole walk is two windows
    // over the ≤|flags|×|months| bookkeeping relation, order-invariant
    // integer arithmetic, no recursive replay needed. k = 0.5σ̂ and the
    // decision interval h = 4σ̂ snap ×10⁶ to BIGINTs; signal compares
    // exact integers (C⁺ > nm·hfp). One corpus scan; everything after
    // rides the months relation.
    "etl_cusum_chart" -> QueryDef.withOracle(
      """WITH g AS (
        |  SELECT l_returnflag AS f,
        |    CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT) AS mi,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s
        |  FROM lineitem GROUP BY 1, 2),
        |x AS (
        |  SELECT f, mi,
        |    CAST(floor(CAST(s AS DOUBLE) / n * 1e6 + 0.5) AS BIGINT) AS xfp
        |  FROM g),
        |a AS (
        |  SELECT f, CAST(count(*) AS BIGINT) AS nm,
        |    CAST(sum(xfp) AS BIGINT) AS sx,
        |    CAST(sum(xfp * xfp) AS BIGINT) AS sxx
        |  FROM x GROUP BY 1),
        |p AS (
        |  SELECT f, nm, sx,
        |    CAST(floor(0.5 * sqrt(CAST(nm * sxx - sx * sx AS DOUBLE)) / nm
        |      + 0.5) AS BIGINT) AS kfp,
        |    CAST(floor(4.0 * sqrt(CAST(nm * sxx - sx * sx AS DOUBLE)) / nm
        |      + 0.5) AS BIGINT) AS hfp
        |  FROM a),
        |w AS (
        |  SELECT x.f, x.mi, x.xfp, p.nm, p.sx, p.kfp, p.hfp,
        |    sum(p.nm * x.xfp - p.sx - p.nm * p.kfp)
        |      OVER (PARTITION BY x.f ORDER BY x.mi ASC) AS sp,
        |    sum(p.sx - p.nm * x.xfp - p.nm * p.kfp)
        |      OVER (PARTITION BY x.f ORDER BY x.mi ASC) AS sn
        |  FROM x JOIN p ON p.f = x.f),
        |c AS (
        |  SELECT f, mi, xfp, nm, hfp,
        |    sp - least(CAST(0 AS BIGINT), min(sp)
        |      OVER (PARTITION BY f ORDER BY mi ASC)) AS cp,
        |    sn - least(CAST(0 AS BIGINT), min(sn)
        |      OVER (PARTITION BY f ORDER BY mi ASC)) AS cn
        |  FROM w)
        |SELECT f, mi, xfp / 1.0e6 AS xbar,
        |  floor(CAST(cp AS DOUBLE) / nm + 0.5) / 1.0e6 AS cusum_hi,
        |  floor(CAST(cn AS DOUBLE) / nm + 0.5) / 1.0e6 AS cusum_lo,
        |  CASE WHEN cp > nm * hfp THEN 'signal_high'
        |       WHEN cn > nm * hfp THEN 'signal_low'
        |       ELSE 'in' END AS status
        |FROM c""".stripMargin) { (s, dir) =>
      val g = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag").as("f"),
          (year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
            .cast(LongType).as("mi"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(LongType)).as("s"))
      val x = g.select(col("f"), col("mi"),
        floor(col("s").cast(DoubleType) / col("n") * lit(1.0e6) + 0.5)
          .cast(LongType).as("xfp"))
      val a = x.groupBy(col("f"))
        .agg(count(lit(1)).as("nm"), sum(col("xfp")).as("sx"),
          sum(col("xfp") * col("xfp")).as("sxx"))
      val sig = sqrt((col("nm") * col("sxx") - col("sx") * col("sx"))
        .cast(DoubleType))
      val p = a.select(col("f"), col("nm"), col("sx"),
        floor(lit(0.5) * sig / col("nm") + 0.5).cast(LongType).as("kfp"),
        floor(lit(4.0) * sig / col("nm") + 0.5).cast(LongType).as("hfp"))
      // windows ride the ≤|flags|×|months| bookkeeping relation
      val wS = Window.partitionBy(col("f")).orderBy(col("mi").asc)
      val w = x.join(broadcast(p), Seq("f"))
        .select(col("f"), col("mi"), col("xfp"), col("nm"), col("hfp"),
          sum(col("nm") * col("xfp") - col("sx") - col("nm") * col("kfp"))
            .over(wS).as("sp"),
          sum(col("sx") - col("nm") * col("xfp") - col("nm") * col("kfp"))
            .over(wS).as("sn"))
      val c = w.select(col("f"), col("mi"), col("xfp"), col("nm"),
        col("hfp"),
        (col("sp") - least(lit(0L), min(col("sp")).over(wS))).as("cp"),
        (col("sn") - least(lit(0L), min(col("sn")).over(wS))).as("cn"))
      c.select(col("f"), col("mi"),
        (col("xfp") / lit(1.0e6)).as("xbar"),
        (floor(col("cp").cast(DoubleType) / col("nm") + 0.5) / lit(1.0e6))
          .as("cusum_hi"),
        (floor(col("cn").cast(DoubleType) / col("nm") + 0.5) / lit(1.0e6))
          .as("cusum_lo"),
        when(col("cp") > col("nm") * col("hfp"), "signal_high")
          .when(col("cn") > col("nm") * col("hfp"), "signal_low")
          .otherwise("in").as("status"))
    },

    // ------------------------------------------------------------------
    // Friedman rank test of monthly mean quantity across return flags —
    // the ≥3-treatment repeated-measures companion to
    // etl_wilcoxon_signed_rank (months are blocks, flags are
    // treatments; ranking WITHIN each month removes between-month level
    // shifts that would drown etl_kruskal_wallis). Only complete blocks
    // (all k flags present) rank. Within-block midranks in the exact
    // ×2 integer form (rank2 = 2·cnt_smaller + cnt_eq + 1, k−1
    // comparisons per row on the bounded block relation); per-flag rank
    // sums carried as exact 2R_j, so χ² = 3·Σ(2R)²/(nk(k+1)) − 3n(k+1)
    // assembles from exact BIGINTs; the within-block tie correction
    // C = 1 − Σ(t³−t)/(nk(k²−1)) likewise. Doubles only in the two
    // final divisions, ×10⁹ snapped. One corpus scan to the
    // |months|×|flags| relation; everything after is bookkeeping.
    "etl_friedman_test" -> QueryDef.withOracle(
      """WITH g AS (
        |  SELECT CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT)
        |      AS mi,
        |    l_returnflag AS f,
        |    CAST(floor(CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE)
        |      / count(*) * 1e6 + 0.5) AS BIGINT) AS xfp
        |  FROM lineitem GROUP BY 1, 2),
        |k AS (SELECT CAST(count(DISTINCT f) AS BIGINT) AS k FROM g),
        |cb AS (
        |  SELECT mi FROM g CROSS JOIN k GROUP BY mi, k.k
        |  HAVING count(*) = max(k.k)),
        |r AS (
        |  SELECT g.mi, g.f,
        |    2 * (SELECT count(*) FROM g g2
        |         WHERE g2.mi = g.mi AND g2.xfp < g.xfp)
        |      + (SELECT count(*) FROM g g2
        |         WHERE g2.mi = g.mi AND g2.xfp = g.xfp) + 1 AS rank2
        |  FROM g JOIN cb ON cb.mi = g.mi),
        |rj AS (
        |  SELECT f, CAST(sum(rank2) AS BIGINT) AS r2j FROM r GROUP BY 1),
        |ties AS (
        |  SELECT CAST(coalesce(sum(t * t * t - t), 0) AS BIGINT) AS tie
        |  FROM (SELECT CAST(count(*) AS BIGINT) AS t
        |        FROM g JOIN cb ON cb.mi = g.mi GROUP BY g.mi, g.xfp)),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n FROM cb),
        |s2 AS (SELECT CAST(sum(r2j * r2j) AS BIGINT) AS sr2 FROM rj)
        |SELECT agg.n AS n_blocks, k.k, k.k - 1 AS dof,
        |  floor((3.0 * sr2 / (CAST(agg.n AS DOUBLE) * k.k * (k.k + 1))
        |    - 3.0 * agg.n * (k.k + 1)) * 1e9 + 0.5) / 1.0e9 AS chi2,
        |  floor((3.0 * sr2 / (CAST(agg.n AS DOUBLE) * k.k * (k.k + 1))
        |    - 3.0 * agg.n * (k.k + 1))
        |    / (1.0 - CAST(tie AS DOUBLE)
        |       / (CAST(agg.n AS DOUBLE) * k.k * (k.k * k.k - 1)))
        |    * 1e9 + 0.5) / 1.0e9 AS chi2_adj
        |FROM agg CROSS JOIN k CROSS JOIN s2 CROSS JOIN ties""".stripMargin) {
      (s, dir) =>
      val g = Tables.lineitem(s, dir)
        .groupBy((year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
          .cast(LongType).as("mi"), col("l_returnflag").as("f"))
        .agg(floor(sum(col("l_quantity").cast(LongType)).cast(DoubleType)
          / count(lit(1)) * lit(1.0e6) + 0.5).cast(LongType).as("xfp"))
        .persist() // |months|×|flags| bookkeeping: feeds k, blocks, ranks
      val k = g.agg(countDistinct(col("f")).as("k"))
      val cb = g.crossJoin(broadcast(k)).groupBy(col("mi"), col("k"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") === col("k"))
        .select(col("mi"))
      val gb = g.join(cb, Seq("mi"))
      // within-block midranks: self-join over the bounded block relation
      val g2 = gb.select(col("mi").as("mi2"), col("xfp").as("xfp2"))
      val r = gb.join(g2, col("mi2") === col("mi"))
        .groupBy(col("mi"), col("f"))
        .agg((lit(2L) * sum(when(col("xfp2") < col("xfp"), 1L).otherwise(0L))
          + sum(when(col("xfp2") === col("xfp"), 1L).otherwise(0L)) + 1L)
          .as("rank2"))
      val rj = r.groupBy(col("f")).agg(sum(col("rank2")).as("r2j"))
      val ties = gb.groupBy(col("mi"), col("xfp"))
        .agg(count(lit(1)).as("t"))
        .agg(coalesce(sum(col("t") * col("t") * col("t") - col("t")),
          lit(0L)).as("tie"))
      val agg = cb.agg(count(lit(1)).as("n"))
      val s2 = rj.agg(sum(col("r2j") * col("r2j")).as("sr2"))
      val nD = col("n").cast(DoubleType)
      val chi2 = lit(3.0) * col("sr2") / (nD * col("k") * (col("k") + 1)) -
        lit(3.0) * col("n") * (col("k") + 1)
      agg.crossJoin(broadcast(k)).crossJoin(broadcast(s2))
        .crossJoin(broadcast(ties))
        .select(col("n").as("n_blocks"), col("k"),
          (col("k") - 1).as("dof"),
          (floor(chi2 * lit(1.0e9) + 0.5) / lit(1.0e9)).as("chi2"),
          (floor(chi2
            / (lit(1.0) - col("tie").cast(DoubleType)
              / (nD * col("k") * (col("k") * col("k") - 1)))
            * lit(1.0e9) + 0.5) / lit(1.0e9)).as("chi2_adj"))
    },

    // ------------------------------------------------------------------
    // Benjamini-Hochberg FDR control over a battery of per-type
    // mean-shift screens — the multiple-testing correction every
    // agency/monitoring stack needs once it runs a test PER series
    // (this repo now ships dozens): raw α=0.05 on m series false-alarms
    // at 1−0.95^m. The battery: per event type, a Welch z of daily
    // counts in the first vs second calendar half (exact integer
    // moments; the ev_diff_in_diff midpoint split). Two-sided p comes
    // from the Numerical-Recipes erfc rational approximation — a pure
    // rational-polynomial+exp chain mirrored verbatim in the oracle and
    // ×10⁹-snapped (the text_bigram_lm ln/exp discipline). BH then
    // ranks the m snapped p's (deterministic type tiebreak), finds
    // k* = max{i : p_i ≤ α·i/m} with a window over the m-row relation,
    // and rejects ranks ≤ k* — the step-up rule, so a rejected series
    // can sit ABOVE its own threshold when a later rank passes. One
    // corpus scan; everything after is m-row bookkeeping.
    "etl_benjamini_hochberg" -> QueryDef.withOracle(
      """WITH d AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT (min(day) + max(day)) // 2 AS mid FROM d),
        |h AS (
        |  SELECT event_type,
        |    CASE WHEN day <= mid THEN 0 ELSE 1 END AS half, n
        |  FROM d CROSS JOIN b),
        |m AS (
        |  SELECT event_type, half, CAST(count(*) AS BIGINT) AS nd,
        |    CAST(sum(n) AS BIGINT) AS s1, CAST(sum(n * n) AS BIGINT) AS s2
        |  FROM h GROUP BY 1, 2),
        |zt AS (
        |  SELECT a.event_type,
        |    (CAST(b2.s1 AS DOUBLE) / b2.nd - CAST(a.s1 AS DOUBLE) / a.nd)
        |    / sqrt((CAST(a.s2 AS DOUBLE) / a.nd
        |            - (CAST(a.s1 AS DOUBLE) / a.nd)
        |              * (CAST(a.s1 AS DOUBLE) / a.nd)) / (a.nd - 1)
        |         + (CAST(b2.s2 AS DOUBLE) / b2.nd
        |            - (CAST(b2.s1 AS DOUBLE) / b2.nd)
        |              * (CAST(b2.s1 AS DOUBLE) / b2.nd)) / (b2.nd - 1))
        |      AS z
        |  FROM m a JOIN m b2 ON b2.event_type = a.event_type
        |  WHERE a.half = 0 AND b2.half = 1 AND a.nd > 1 AND b2.nd > 1),
        |pv AS (
        |  SELECT event_type, z,
        |    CAST(floor(
        |      (1.0 / (1.0 + abs(z) / 1.4142135623730951 / 2.0))
        |      * exp(-(abs(z) / 1.4142135623730951)
        |            * (abs(z) / 1.4142135623730951)
        |        - 1.26551223 + (1.0 / (1.0 + abs(z) / 1.4142135623730951 / 2.0))
        |        * (1.00002368 + (1.0 / (1.0 + abs(z) / 1.4142135623730951 / 2.0))
        |        * (0.37409196 + (1.0 / (1.0 + abs(z) / 1.4142135623730951 / 2.0))
        |        * (0.09678418 + (1.0 / (1.0 + abs(z) / 1.4142135623730951 / 2.0))
        |        * (-0.18628806 + (1.0 / (1.0 + abs(z) / 1.4142135623730951 / 2.0))
        |        * (0.27886807 + (1.0 / (1.0 + abs(z) / 1.4142135623730951 / 2.0))
        |        * (-1.13520398 + (1.0 / (1.0 + abs(z) / 1.4142135623730951 / 2.0))
        |        * (1.48851587 + (1.0 / (1.0 + abs(z) / 1.4142135623730951 / 2.0))
        |        * (-0.82215223 + (1.0 / (1.0 + abs(z) / 1.4142135623730951 / 2.0))
        |        * 0.17087277)))))))))
        |      * 1e9 + 0.5) AS BIGINT) AS pfp
        |  FROM zt),
        |rk AS (
        |  SELECT event_type, z, pfp,
        |    row_number() OVER (ORDER BY pfp ASC, event_type ASC) AS i,
        |    CAST(count(*) OVER () AS BIGINT) AS mm
        |  FROM pv),
        |th AS (
        |  SELECT *, CAST(floor(i * 5.0e7 / mm + 0.5) AS BIGINT) AS thr
        |  FROM rk),
        |ks AS (
        |  SELECT *, max(CASE WHEN pfp <= thr THEN i ELSE 0 END)
        |    OVER () AS kstar
        |  FROM th)
        |SELECT event_type,
        |  floor(z * 1e6 + 0.5) / 1.0e6 AS z,
        |  pfp / 1.0e9 AS p,
        |  CAST(i AS BIGINT) AS rank,
        |  thr / 1.0e9 AS bh_thresh,
        |  i <= kstar AS rejected
        |FROM ks""".stripMargin) { (s, dir) =>
      val d = Tables.eventsTimed(s, dir)
        .groupBy(col("event_type"), expr("ts_s div 86400").as("day"))
        .agg(count(lit(1)).as("n"))
      val b = d.agg(expr("(min(day) + max(day)) div 2").as("mid"))
      val m = d.crossJoin(broadcast(b))
        .groupBy(col("event_type"),
          when(col("day") <= col("mid"), 0).otherwise(1).as("half"))
        .agg(count(lit(1)).as("nd"), sum(col("n")).as("s1"),
          sum(col("n") * col("n")).as("s2"))
      val m0 = m.filter(col("half") === 0 && col("nd") > 1)
        .select(col("event_type"), col("nd").as("and"), col("s1").as("as1"),
          col("s2").as("as2"))
        .withColumnRenamed("and", "and_")
      val m1 = m.filter(col("half") === 1 && col("nd") > 1)
        .select(col("event_type"), col("nd").as("bnd"), col("s1").as("bs1"),
          col("s2").as("bs2"))
      val meanA = col("as1").cast(DoubleType) / col("and_")
      val meanB = col("bs1").cast(DoubleType) / col("bnd")
      val varA = (col("as2").cast(DoubleType) / col("and_") - meanA * meanA) /
        (col("and_") - 1)
      val varB = (col("bs2").cast(DoubleType) / col("bnd") - meanB * meanB) /
        (col("bnd") - 1)
      val zt = m0.join(m1, Seq("event_type"))
        .select(col("event_type"),
          ((meanB - meanA) / sqrt(varA + varB)).as("z"))
      // NR erfc rational approximation; identical operation order to
      // the oracle's expression, then the ×10⁹ snap
      val x = abs(col("z")) / lit(1.4142135623730951)
      val t = lit(1.0) / (lit(1.0) + x / lit(2.0))
      val poly = lit(-1.26551223) + t * (lit(1.00002368) + t *
        (lit(0.37409196) + t * (lit(0.09678418) + t * (lit(-0.18628806) +
        t * (lit(0.27886807) + t * (lit(-1.13520398) + t *
        (lit(1.48851587) + t * (lit(-0.82215223) + t * lit(0.17087277)))))))))
      val pv = zt.select(col("event_type"), col("z"),
        floor(t * exp(-x * x + poly) * lit(1.0e9) + 0.5).cast(LongType)
          .as("pfp"))
      // m-row bookkeeping windows: the battery has one row per series
      val wR = Window.orderBy(col("pfp").asc, col("event_type").asc)
      val wAll = Window.partitionBy()
      val rk = pv
        .withColumn("i", row_number().over(wR))
        .withColumn("mm", count(lit(1)).over(wAll))
      val th = rk.withColumn("thr",
        floor(col("i") * lit(5.0e7) / col("mm") + 0.5).cast(LongType))
      val ks = th.withColumn("kstar",
        max(when(col("pfp") <= col("thr"), col("i")).otherwise(0))
          .over(wAll))
      ks.select(col("event_type"),
        (floor(col("z") * lit(1.0e6) + 0.5) / lit(1.0e6)).as("z"),
        (col("pfp") / lit(1.0e9)).as("p"),
        col("i").cast(LongType).as("rank"),
        (col("thr") / lit(1.0e9)).as("bh_thresh"),
        (col("i") <= col("kstar")).as("rejected"))
    },

    // ------------------------------------------------------------------
    // X-11 D8 stable-seasonality F-test — the diagnostic an agency
    // runs BEFORE publishing a seasonally adjusted series (X-13ARIMA's
    // D8/M7 gate): a one-way ANOVA of the SI ratios (the
    // etl_seasonal_decompose chain) across calendar months. A large F
    // says the month-to-month SI differences are systematic (stable
    // seasonality exists); the X-11 rule-of-thumb F > 7 is the
    // "identifiable seasonality" decision. SI ratios are the ×10⁹
    // exact longs of the decompose chain; per-month sums stay exact
    // BIGINTs, squared sums accumulate in DECIMAL(38)/HUGEINT (a
    // single si² term is ~4·10¹⁸ — a raw long sum would saturate),
    // and the F assembly is a 1-row divide with the ×10⁹ snap. The
    // decision boolean compares the SNAPPED F, so both engines decide
    // from the identical number. Corpus → monthly relation in one
    // agg; everything after is months-bounded bookkeeping.
    "etl_x11_ftest" -> QueryDef.withOracle(
      s"""WITH ${movingAvgSql("CAST(month(o_orderdate) AS BIGINT) AS mo")},
        |si AS (
        |  SELECT mo, CAST(floor(total / ma * 1000000000 + 0.5) AS BIGINT) AS si_fp
        |  FROM w WHERE ma IS NOT NULL),
        |g AS (
        |  SELECT mo, CAST(count(*) AS BIGINT) AS n_j,
        |    CAST(sum(si_fp) AS BIGINT) AS s_j,
        |    CAST(sum(CAST(si_fp AS HUGEINT) * si_fp) AS DOUBLE) AS ss_j
        |  FROM si GROUP BY 1),
        |t AS (
        |  SELECT CAST(sum(n_j) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
        |    CAST(CAST(sum(s_j) AS HUGEINT) AS DOUBLE) AS s, sum(ss_j) AS ss,
        |    sum(CAST(s_j AS DOUBLE) * s_j / n_j) AS sgm
        |  FROM g)
        |SELECT n, k, k - 1 AS df_between, n - k AS df_within,
        |  floor((sgm - s * s / n) / (k - 1)
        |      / ((ss - sgm) / (n - k)) * 1000000000 + 0.5) / 1.0e9 AS f_stable,
        |  floor((sgm - s * s / n) / (k - 1)
        |      / ((ss - sgm) / (n - k)) * 1000000000 + 0.5) / 1.0e9 > 7.0
        |    AS seasonality_identifiable
        |FROM t""".stripMargin) { (s, dir) =>
      val si = movingAvg(s, dir,
        month(col("o_orderdate")).cast(LongType).as("mo"))
        .select(col("mo"),
          floor(col("total") / col("ma") * lit(1.0e9) + lit(0.5))
            .cast(LongType).as("si_fp"))
      val dec38 = DecimalType(38, 0)
      val g = si.groupBy(col("mo"))
        .agg(count(lit(1)).as("n_j"), sum(col("si_fp")).as("s_j"),
          sum((col("si_fp") * col("si_fp")).cast(dec38))
            .cast(DoubleType).as("ss_j"))
      val fExpr = floor((col("sgm") - col("s") * col("s") / col("n"))
        / (col("k") - 1) / ((col("ss") - col("sgm")) / (col("n") - col("k")))
        * lit(1.0e9) + lit(0.5)) / lit(1.0e9)
      g.agg(sum(col("n_j")).as("n"), count(lit(1)).as("k"),
          sum(col("s_j")).cast(dec38).cast(DoubleType).as("s"),
          sum(col("ss_j")).as("ss"),
          sum(col("s_j").cast(DoubleType) * col("s_j") / col("n_j")).as("sgm"))
        .select(col("n"), col("k"), (col("k") - 1).as("df_between"),
          (col("n") - col("k")).as("df_within"),
          fExpr.as("f_stable"),
          (fExpr > 7.0).as("seasonality_identifiable"))
    },

    // ------------------------------------------------------------------
    // Cochrane-Orcutt AR(1)-corrected trend regression — what to do
    // AFTER etl_durbin_watson says the monthly OLS residuals are
    // autocorrelated (OLS slopes stay unbiased but their SEs lie; the
    // quasi-differenced GLS fixes the inference): ρ̂ = Σe_t·e_{t−1}/Σe²
    // from the shared monthlyOls residual relation, ×10⁹-SNAPPED so
    // both engines transform with the IDENTICAL value, then OLS on the
    // quasi-differences y*_t = y_t·10⁹ − ρ_fp·y_{t−1}, x*_t = mi·10⁹ −
    // ρ_fp·(mi−1) with the first month dropped (Cochrane-Orcutt, not
    // Prais-Winsten — the √(1−ρ²) first-obs scaling would put ONE
    // float row in otherwise exact-integer moments). Every moment is
    // an exact DECIMAL(38)/HUGEINT sum (x*y* terms reach 10³²); β and
    // the back-transformed intercept α = α*/(10⁹ − ρ_fp) assemble in
    // doubles with identical operand order and snap for output.
    "etl_cochrane_orcutt" -> QueryDef.withOracle(
      s"""WITH $monthlyOlsSql,
        |le AS (
        |  SELECT f, e_fp,
        |    lag(e_fp) OVER (PARTITION BY f ORDER BY mi ASC) AS pe
        |  FROM r),
        |rho AS (
        |  SELECT f,
        |    CAST(floor(
        |      CAST(CAST(sum(CASE WHEN pe IS NOT NULL
        |        THEN CAST(e_fp AS HUGEINT) * pe END) AS HUGEINT) AS DOUBLE)
        |      / CAST(CAST(sum(CASE WHEN pe IS NOT NULL
        |        THEN CAST(pe AS HUGEINT) * pe END) AS HUGEINT) AS DOUBLE)
        |      * 1000000000 + 0.5) AS BIGINT) AS rho_fp
        |  FROM le GROUP BY f),
        |q AS (
        |  SELECT mo.f, mo.mi, rho.rho_fp, mo.rev_c,
        |    lag(mo.rev_c) OVER (PARTITION BY mo.f ORDER BY mo.mi ASC) AS py,
        |    lag(mo.mi) OVER (PARTITION BY mo.f ORDER BY mo.mi ASC) AS px
        |  FROM mo JOIN rho ON rho.f = mo.f),
        |tq AS (
        |  SELECT f, rho_fp,
        |    CAST(rev_c AS HUGEINT) * 1000000000 - CAST(rho_fp AS HUGEINT) * py
        |      AS ys,
        |    CAST(mi AS HUGEINT) * 1000000000 - CAST(rho_fp AS HUGEINT) * px
        |      AS xs
        |  FROM q WHERE py IS NOT NULL),
        |mm AS (
        |  SELECT f, max(rho_fp) AS rho_fp, CAST(count(*) AS BIGINT) AS n2,
        |    CAST(CAST(sum(xs) AS HUGEINT) AS DOUBLE) AS sx,
        |    CAST(CAST(sum(ys) AS HUGEINT) AS DOUBLE) AS sy,
        |    CAST(CAST(sum(xs * ys) AS HUGEINT) AS DOUBLE) AS sxy,
        |    CAST(CAST(sum(xs * xs) AS HUGEINT) AS DOUBLE) AS sxx
        |  FROM tq GROUP BY f),
        |cfit AS (
        |  SELECT f, rho_fp, n2,
        |    (n2 * sxy - sx * sy) / (n2 * sxx - sx * sx) AS beta,
        |    (sy - (n2 * sxy - sx * sy) / (n2 * sxx - sx * sx) * sx) / n2
        |      AS astar
        |  FROM mm)
        |SELECT f AS l_returnflag, n2 AS n_quasi_months,
        |  rho_fp / 1.0e9 AS rho,
        |  floor(beta / 100 * 1e6 + 0.5) / 1.0e6 AS beta_dollars_per_month,
        |  floor(astar / (1000000000 - rho_fp) / 100 * 1e2 + 0.5) / 1.0e2
        |    AS intercept_dollars
        |FROM cfit""".stripMargin) { (s, dir) =>
      val dec38 = DecimalType(38, 0)
      val wF = Window.partitionBy(col("f")).orderBy(col("mi").asc)
      val le = monthlyOlsResiduals(s, dir)
        .select(col("f"), col("e_fp"), lag(col("e_fp"), 1).over(wF).as("pe"))
      val rho = le.groupBy(col("f"))
        .agg(floor(
          sum(when(col("pe").isNotNull,
            col("e_fp").cast(dec38) * col("pe").cast(dec38)))
            .cast(DoubleType)
          / sum(when(col("pe").isNotNull,
            col("pe").cast(dec38) * col("pe").cast(dec38)))
            .cast(DoubleType)
          * lit(1000000000L) + lit(0.5)).cast(LongType).as("rho_fp"))
      val mo = monthlyRevenue(s, dir)
      val q = mo.join(broadcast(rho), Seq("f"))
        .withColumn("py", lag(col("rev_c"), 1).over(wF))
        .withColumn("px", lag(col("mi"), 1).over(wF))
        .filter(col("py").isNotNull)
      val tq = q.select(col("f"), col("rho_fp"),
        (col("rev_c").cast(dec38) * lit(1000000000L)
          - col("rho_fp").cast(dec38) * col("py").cast(dec38)).as("ys"),
        (col("mi").cast(dec38) * lit(1000000000L)
          - col("rho_fp").cast(dec38) * col("px").cast(dec38)).as("xs"))
      val mm = tq.groupBy(col("f"))
        .agg(max(col("rho_fp")).as("rho_fp"), count(lit(1)).as("n2"),
          sum(col("xs")).cast(DoubleType).as("sx"),
          sum(col("ys")).cast(DoubleType).as("sy"),
          sum(col("xs") * col("ys")).cast(DoubleType).as("sxy"),
          sum(col("xs") * col("xs")).cast(DoubleType).as("sxx"))
      val bNum = col("n2") * col("sxy") - col("sx") * col("sy")
      val bDen = col("n2") * col("sxx") - col("sx") * col("sx")
      val fit = mm.select(col("f"), col("rho_fp"), col("n2"),
        (bNum / bDen).as("beta"),
        ((col("sy") - bNum / bDen * col("sx")) / col("n2")).as("astar"))
      fit.select(col("f").as("l_returnflag"), col("n2").as("n_quasi_months"),
        (col("rho_fp") / lit(1.0e9)).as("rho"),
        (floor(col("beta") / 100 * lit(1.0e6) + lit(0.5)) / lit(1.0e6))
          .as("beta_dollars_per_month"),
        (floor(col("astar") / (lit(1000000000L) - col("rho_fp")) / 100
          * lit(1.0e2) + lit(0.5)) / lit(1.0e2)).as("intercept_dollars"))
    },

    // ------------------------------------------------------------------
    // Empirical-Bayes beta-binomial shrinkage — the small-area
    // estimator for PROPORTIONS (etl_fay_herriot is its Gaussian
    // sibling for means): per-nation high-balance rates k/n shrink
    // toward the cross-nation prior, with small nations shrinking
    // hardest — exactly how an agency publishes per-domain rates
    // without letting a 12-customer cell swing to 0% or 100%. The
    // Beta(α, β) prior fits by method of moments on the ×10⁹-snapped
    // raw rates (snapped FIRST so the cross-nation mean/variance are
    // exact integer sums — rate² sums reach 10²⁰, DECIMAL(38)/
    // HUGEINT): α+β = m(1−m)/v − 1, α = m(α+β); the published
    // shrunken rate (k+α)/(n+α+β) then snaps ×10⁹. One corpus agg to
    // the ≤|nations| cell relation; the prior is a 1-row anchor.
    "etl_eb_shrinkage" -> QueryDef.withOracle(
      """WITH cell AS (
        |  SELECT c_nationkey AS nation,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS k
        |  FROM customer GROUP BY 1),
        |p AS (
        |  SELECT nation, n, k,
        |    CAST(floor(CAST(k AS DOUBLE) * 1000000000 / n + 0.5) AS BIGINT)
        |      AS p_fp
        |  FROM cell),
        |mo AS (
        |  SELECT CAST(count(*) AS BIGINT) AS ng,
        |    CAST(sum(p_fp) AS BIGINT) AS s1,
        |    CAST(CAST(sum(CAST(p_fp AS HUGEINT) * p_fp) AS HUGEINT)
        |      AS DOUBLE) AS s2
        |  FROM p),
        |pr AS (
        |  SELECT ng,
        |    CAST(s1 AS DOUBLE) / ng / 1e9 AS m,
        |    (s2 - CAST(s1 AS DOUBLE) * s1 / ng) / (ng - 1) / 1e18 AS v
        |  FROM mo WHERE ng > 1),
        |ab AS (
        |  SELECT m, v, m * (1 - m) / v - 1 AS ab_sum,
        |    m * (m * (1 - m) / v - 1) AS alpha
        |  FROM pr WHERE v > 0)
        |SELECT p.nation, p.n, p.k,
        |  floor(CAST(p.p_fp AS DOUBLE) / 1e9 * 1e9 + 0.5) / 1.0e9 AS raw_rate,
        |  floor(ab.alpha * 1e6 + 0.5) / 1.0e6 AS alpha,
        |  floor((ab.ab_sum - ab.alpha) * 1e6 + 0.5) / 1.0e6 AS beta,
        |  floor((p.k + ab.alpha) / (p.n + ab.ab_sum) * 1e9 + 0.5) / 1.0e9
        |    AS shrunk_rate
        |FROM p CROSS JOIN ab""".stripMargin) { (s, dir) =>
      val cell = Tables.customer(s, dir)
        .groupBy(col("c_nationkey").as("nation"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("c_acctbal") > 5000, 1L).otherwise(0L)).as("k"))
      val p = cell.withColumn("p_fp",
        floor(col("k").cast(DoubleType) * lit(1000000000L) / col("n")
          + lit(0.5)).cast(LongType))
        .persist() // ≤|nations| cells; feeds the prior + the output
      val dec38 = DecimalType(38, 0)
      val mo = p.agg(count(lit(1)).as("ng"), sum(col("p_fp")).as("s1"),
        sum(col("p_fp").cast(dec38) * col("p_fp").cast(dec38))
          .cast(DoubleType).as("s2"))
      val pr = mo.filter(col("ng") > 1)
        .select(col("ng"),
          (col("s1").cast(DoubleType) / col("ng") / lit(1.0e9)).as("m"),
          ((col("s2") - col("s1").cast(DoubleType) * col("s1") / col("ng"))
            / (col("ng") - 1) / lit(1.0e18)).as("v"))
      val ab = pr.filter(col("v") > 0)
        .select(col("m"), col("v"),
          (col("m") * (lit(1) - col("m")) / col("v") - 1).as("ab_sum"),
          (col("m") * (col("m") * (lit(1) - col("m")) / col("v") - 1))
            .as("alpha"))
      p.crossJoin(broadcast(ab))
        .select(col("nation"), col("n"), col("k"),
          (floor(col("p_fp").cast(DoubleType) / lit(1.0e9) * lit(1.0e9)
            + lit(0.5)) / lit(1.0e9)).as("raw_rate"),
          (floor(col("alpha") * lit(1.0e6) + lit(0.5)) / lit(1.0e6))
            .as("alpha"),
          (floor((col("ab_sum") - col("alpha")) * lit(1.0e6) + lit(0.5))
            / lit(1.0e6)).as("beta"),
          (floor((col("k") + col("alpha")) / (col("n") + col("ab_sum"))
            * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("shrunk_rate"))
    },

    // ------------------------------------------------------------------
    // X-11 M7 combined seasonality test — the published decision rule
    // behind "is this series seasonal enough to adjust" (X-13ARIMA's
    // D8B table + M7 quality statistic): on the COMPLETE calendar
    // years of the SI panel (partial boundary years drop — the MA
    // trim makes them partial; both engines apply the same HAVING
    // count = 12 rule), a balanced two-way ANOVA without replication
    // gives F_stable (between months — the D8 numerator on the same
    // panel) and F_moving (between years — moving seasonality), and
    // M7 = √((7/F_s + 3·F_m/F_s)/2): identifiable seasonality iff
    // M7 < 1. Row/column/total sums of the ×10⁹ SI longs stay exact
    // (DECIMAL(38)/HUGEINT for the squared accumulations); the three
    // SS terms assemble in doubles with identical operand order and
    // every published number (F_s, F_m, M7) snaps ×10⁶ BEFORE the
    // boolean, so both engines decide from the identical value.
    "etl_x11_m7" -> QueryDef.withOracle(
      s"""WITH ${movingAvgSql("CAST(month(o_orderdate) AS BIGINT) AS mo",
          "CAST(year(o_orderdate) AS BIGINT) AS yr")},
        |si AS (
        |  SELECT mo, yr,
        |    CAST(floor(total / ma * 1000000000 + 0.5) AS BIGINT) AS si_fp
        |  FROM w WHERE ma IS NOT NULL),
        |cy AS (SELECT yr FROM si GROUP BY yr HAVING count(*) = 12),
        |p AS (SELECT si.* FROM si JOIN cy USING (yr)),
        |ry AS (SELECT yr, CAST(sum(si_fp) AS BIGINT) AS r_y FROM p GROUP BY 1),
        |cm AS (SELECT mo, CAST(sum(si_fp) AS BIGINT) AS c_m FROM p GROUP BY 1),
        |tt AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(CAST(sum(si_fp) AS HUGEINT) AS DOUBLE) AS t,
        |    CAST(sum(CAST(si_fp AS HUGEINT) * si_fp) AS DOUBLE) AS sq,
        |    CAST((SELECT count(*) FROM cy) AS BIGINT) AS ny
        |  FROM p),
        |ss AS (
        |  SELECT tt.n, tt.ny, CAST(tt.n // 12 AS BIGINT) AS nyv,
        |    tt.sq - tt.t * tt.t / tt.n AS sst,
        |    (SELECT sum(CAST(r_y AS DOUBLE) * r_y / 12) FROM ry)
        |      - tt.t * tt.t / tt.n AS ssy,
        |    (SELECT sum(CAST(c_m AS DOUBLE) * c_m / tt.ny) FROM cm)
        |      - tt.t * tt.t / tt.n AS ssm
        |  FROM tt),
        |f AS (
        |  SELECT n, ny,
        |    floor(ssm / 11 / ((sst - ssm - ssy) / (11 * (ny - 1)))
        |      * 1000000 + 0.5) / 1.0e6 AS f_stable,
        |    floor(ssy / (ny - 1) / ((sst - ssm - ssy) / (11 * (ny - 1)))
        |      * 1000000 + 0.5) / 1.0e6 AS f_moving
        |  FROM ss)
        |SELECT n, ny AS n_years, f_stable, f_moving,
        |  floor(sqrt((7.0 / f_stable + 3.0 * f_moving / f_stable) / 2)
        |    * 1000000 + 0.5) / 1.0e6 AS m7,
        |  floor(sqrt((7.0 / f_stable + 3.0 * f_moving / f_stable) / 2)
        |    * 1000000 + 0.5) / 1.0e6 < 1.0 AS seasonality_identifiable
        |FROM f""".stripMargin) { (s, dir) =>
      val si = movingAvg(s, dir,
        month(col("o_orderdate")).cast(LongType).as("mo"),
        year(col("o_orderdate")).cast(LongType).as("yr"))
        .select(col("mo"), col("yr"),
          floor(col("total") / col("ma") * lit(1.0e9) + lit(0.5))
            .cast(LongType).as("si_fp"))
        .persist() // months-bounded panel; feeds 4 bookkeeping aggs
      val cy = si.groupBy(col("yr")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") === 12).select(col("yr"))
      val p = si.join(broadcast(cy), Seq("yr"))
      val dec38 = DecimalType(38, 0)
      val ry = p.groupBy(col("yr")).agg(sum(col("si_fp")).as("r_y"))
        .agg(sum(col("r_y").cast(DoubleType) * col("r_y") / 12).as("sry"))
      val cm = p.groupBy(col("mo")).agg(sum(col("si_fp")).as("c_m"))
      val ttBase = p.agg(count(lit(1)).as("n"),
        sum(col("si_fp")).cast(dec38).cast(DoubleType).as("t"),
        sum((col("si_fp") * col("si_fp")).cast(dec38))
          .cast(DoubleType).as("sq"))
      val nyDf = cy.agg(count(lit(1)).as("ny"))
      val cmAgg = cm.crossJoin(broadcast(nyDf))
        .agg(sum(col("c_m").cast(DoubleType) * col("c_m") / col("ny")).as("scm"),
          max(col("ny")).as("ny"))
      val ss = ttBase.crossJoin(broadcast(ry)).crossJoin(broadcast(cmAgg))
        .select(col("n"), col("ny"),
          (col("sq") - col("t") * col("t") / col("n")).as("sst"),
          (col("sry") - col("t") * col("t") / col("n")).as("ssy"),
          (col("scm") - col("t") * col("t") / col("n")).as("ssm"))
      val fs = floor(col("ssm") / 11 / ((col("sst") - col("ssm") - col("ssy"))
        / (lit(11) * (col("ny") - 1))) * lit(1.0e6) + lit(0.5)) / lit(1.0e6)
      val fm = floor(col("ssy") / (col("ny") - 1)
        / ((col("sst") - col("ssm") - col("ssy"))
          / (lit(11) * (col("ny") - 1))) * lit(1.0e6) + lit(0.5)) / lit(1.0e6)
      val f = ss.select(col("n"), col("ny").as("n_years"),
        fs.as("f_stable"), fm.as("f_moving"))
      val m7 = floor(sqrt((lit(7.0) / col("f_stable")
        + lit(3.0) * col("f_moving") / col("f_stable")) / 2)
        * lit(1.0e6) + lit(0.5)) / lit(1.0e6)
      f.select(col("n"), col("n_years"), col("f_stable"), col("f_moving"),
        m7.as("m7"), (m7 < 1.0).as("seasonality_identifiable"))
    },

    // ------------------------------------------------------------------
    // STL seasonal decomposition (Cleveland et al. 1990) — the
    // loess-based rung above the X-11 family (etl_seasonal_decompose /
    // etl_x11_adjust): additive trend + seasonal + remainder on the
    // monthly revenue series, with BOTH smoothers as genuine local
    // weighted linear regressions instead of fixed moving averages.
    // One STL inner pass: (1) cycle-subseries loess — each calendar
    // month's subseries across years smoothed with a tricube-weighted
    // degree-1 loess (half-width 2 years); (2) the 2×12 centered
    // low-pass over the smoothed subseries values, subtracted to strip
    // level leakage → seasonal; (3) trend loess (half-width 6 months,
    // STL's q_t ≈ 1.5·period) on the deseasonalized series. Months are
    // uniformly spaced, so each loess collapses to a FIXED weight
    // vector: the tricube weights are computed ONCE here in Scala,
    // ×10⁶-snapped, and inlined as integer literals into BOTH the
    // Spark plan and the DuckDB oracle — no cross-engine pow() drift
    // is possible, and every weighted sum is a row-local integer
    // combination of window lags (order-invariant by construction).
    // Edge months renormalize through the weighted-LS sums (Sw, Sx,
    // Sxx carry presence indicators), exactly how loess handles
    // boundaries. The series is normalized by its mean first (exact
    // cent-sums), so fixed-point magnitudes are SF-INVARIANT: the same
    // ×10⁶ scale works at 100 TB because z ≈ O(1) however large the
    // monthly totals grow. The corpus collapses to the 80-row monthly
    // relation in the first aggregate; everything after is
    // calendar-bounded bookkeeping.
    // ------------------------------------------------------------------
    // Dalenius-Hodges cum-√f stratification — the survey-design rung
    // below etl_stratified_alloc: that operator allocates a sample
    // GIVEN strata; this one CONSTRUCTS them. Order totals bin into 30
    // equal-width cells over the exact cent range (integer width
    // (mx−mn)//30+1, so the max lands in cell 29); each cell's √f
    // snaps ×10⁶ to a long, the classic rule then cuts the cumulative
    // √f at quarters of its total, stratum = ceil(4·cum/T) clamped to
    // 4 — every step after the one corpus agg is exact integer
    // arithmetic on the ≤30-row cell relation. Published per stratum:
    // exact cent bounds, unit count, cell count, and the ×10⁶-snapped
    // √f share the cut rule consumed.
    "etl_dalenius_hodges" -> QueryDef.withOracle(
      """WITH p AS (
        |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS pc
        |  FROM orders),
        |r AS (
        |  SELECT CAST(min(pc) AS BIGINT) AS mn,
        |    (CAST(max(pc) AS BIGINT) - CAST(min(pc) AS BIGINT)) // 30 + 1
        |      AS wd
        |  FROM p),
        |f AS (
        |  SELECT (p.pc - r.mn) // r.wd AS bin, r.mn AS mn, r.wd AS wd,
        |    CAST(count(*) AS BIGINT) AS fj
        |  FROM p CROSS JOIN r GROUP BY 1, 2, 3),
        |q AS (
        |  SELECT bin, mn, wd, fj,
        |    CAST(floor(sqrt(CAST(fj AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
        |      AS sqf
        |  FROM f),
        |c AS (
        |  SELECT bin, mn, wd, fj, sqf,
        |    sum(sqf) OVER (ORDER BY bin ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(sqf) OVER () AS tot
        |  FROM q),
        |h AS (
        |  SELECT CASE WHEN (cum * 4 + tot - 1) // tot > 4 THEN 4
        |    ELSE (cum * 4 + tot - 1) // tot END AS stratum,
        |    bin, mn, wd, fj, sqf, tot
        |  FROM c)
        |SELECT CAST(stratum AS BIGINT) AS stratum,
        |  CAST(min(mn + bin * wd) AS BIGINT) AS lo_cents,
        |  CAST(max(mn + (bin + 1) * wd) AS BIGINT) AS hi_cents,
        |  CAST(sum(fj) AS BIGINT) AS n_units,
        |  CAST(count(*) AS BIGINT) AS n_cells,
        |  floor(CAST(sum(sqf) AS DOUBLE) / max(tot) * 1e6 + 0.5) / 1.0e6
        |    AS sqf_share
        |FROM h GROUP BY 1""".stripMargin) { (s, dir) =>
      val p = Tables.orders(s, dir)
        .select(floor(col("o_totalprice") * 100 + lit(0.5)).cast(LongType)
          .as("pc"))
      val r = p.agg(min(col("pc")).as("mn"),
        (expr("(max(pc) - min(pc)) div 30") + lit(1)).as("wd"))
      val f = p.crossJoin(broadcast(r))
        .groupBy(expr("(pc - mn) div wd").as("bin"), col("mn"), col("wd"))
        .agg(count(lit(1)).as("fj"))
      val q = f.withColumn("sqf",
        floor(sqrt(col("fj").cast(DoubleType)) * lit(1.0e6) + lit(0.5))
          .cast(LongType))
      val wCum = Window.orderBy(col("bin").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.orderBy(col("bin").asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val c = q.withColumn("cum", sum(col("sqf")).over(wCum))
        .withColumn("tot", sum(col("sqf")).over(wAll))
      val h = c.withColumn("stratum",
        when(expr("(cum * 4 + tot - 1) div tot") > 4, lit(4L))
          .otherwise(expr("(cum * 4 + tot - 1) div tot")))
      h.groupBy(col("stratum"))
        .agg(min(col("mn") + col("bin") * col("wd")).as("lo_cents"),
          max(col("mn") + (col("bin") + 1) * col("wd")).as("hi_cents"),
          sum(col("fj")).as("n_units"), count(lit(1)).as("n_cells"),
          (floor(sum(col("sqf")).cast(DoubleType) / max(col("tot"))
            * lit(1.0e6) + lit(0.5)) / lit(1.0e6)).as("sqf_share"))
    },

    // ------------------------------------------------------------------
    // Carli + Dutot elementary price indices — the two pre-Jevons
    // formulas still quoted in every CPI manual (Carli, the arithmetic
    // mean of relatives, is upward-biased and famously non-reversible;
    // Dutot, the ratio of average prices, is what most price panels
    // compute first), completing the elementary-aggregate family next
    // to etl_jevons_index's geometric mean on the SAME matched-part
    // 1995/1996 unit-value relation. Dutot is exact (×10⁶ micro-unit
    // long sums, one division); each Carli relative snaps ×10⁹ to a
    // long before the order-invariant integer sum.
    "etl_carli_dutot" -> QueryDef.withOracle(
      s"""WITH ${partYearSql(1995, 1996)},
        |${matchedSql("pp", 1995, 1996, 0)},
        |t AS (
        |  SELECT p.p_brand, pp.p0, pp.p1,
        |    CAST(floor(CAST(pp.p1 AS DOUBLE) / pp.p0 * 1e9 + 0.5) AS BIGINT)
        |      AS rel_fp
        |  FROM pp JOIN part p ON p.p_partkey = pp.l_partkey)
        |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts,
        |  round(100 * CAST(sum(rel_fp) AS BIGINT) / 1.0e9 / count(*), 6)
        |    AS carli,
        |  round(100 * CAST(sum(p1) AS DOUBLE) / CAST(sum(p0) AS BIGINT), 6)
        |    AS dutot
        |FROM t GROUP BY p_brand""".stripMargin) { (s, dir) =>
      val pp = matchedParts(partYears(s, dir, 1995, 1996), 1995, 1996, 0)
      pp.join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
          col("p_partkey") === col("l_partkey"))
        .select(col("p_brand"), col("p0"), col("p1"),
          floor(col("p1").cast(DoubleType) / col("p0") * lit(1.0e9)
            + lit(0.5)).cast(LongType).as("rel_fp"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_parts"), sum(col("rel_fp")).as("sr"),
          sum(col("p1")).as("s1"), sum(col("p0")).as("s0"))
        .select(col("p_brand"), col("n_parts"),
          round(lit(100) * col("sr").cast(DoubleType) / lit(1.0e9)
            / col("n_parts"), 6).as("carli"),
          round(lit(100) * col("s1").cast(DoubleType) / col("s0"), 6)
            .as("dutot"))
    },

    // ------------------------------------------------------------------
    // Fleiss' kappa — multi-rater agreement, the generalization
    // etl_cohens_kappa (2 raters) can't provide when three or more
    // annotation pipelines label the same corpus. Raters here are
    // three deterministic doc-quality heuristics, each bucketing into
    // {low, mid, high} with INTEGER cross-multiplied thresholds (e.g.
    // 100·alpha_chars vs 70·len — no float ratio ever compared):
    // length, alphabetic share, digit share. Per doc the category
    // counts n_ij give Σn_ij²; kappa closes over the corpus totals as
    //   κ = (3N(S2−3N) − 2Σc_j²) / (2(9N²−Σc_j²))
    // — exact DECIMAL(38) integers until the single final division
    // (N ≈ 10¹² makes 3N·S2 ≈ 10²⁵). One corpus agg, no windows, one
    // output row with the Landis-Koch read-off on the snapped κ.
    "etl_fleiss_kappa" -> QueryDef.withOracle(
      """WITH f AS (
        |  SELECT doc_id, length(text) AS lc,
        |    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS ac,
        |    length(regexp_replace(text, '[^0-9]', '', 'g')) AS dc
        |  FROM documents WHERE length(text) > 0),
        |rt AS (
        |  SELECT doc_id,
        |    CASE WHEN lc < 200 THEN 0 WHEN lc < 500 THEN 1 ELSE 2 END AS r1,
        |    CASE WHEN 100 * ac < 70 * lc THEN 0
        |         WHEN 100 * ac < 85 * lc THEN 1 ELSE 2 END AS r2,
        |    CASE WHEN 100 * dc >= 5 * lc THEN 0
        |         WHEN 100 * dc >= 1 * lc THEN 1 ELSE 2 END AS r3
        |  FROM f),
        |nc AS (
        |  SELECT doc_id,
        |    CAST((r1 = 0) AS BIGINT) + CAST((r2 = 0) AS BIGINT)
        |      + CAST((r3 = 0) AS BIGINT) AS n0,
        |    CAST((r1 = 1) AS BIGINT) + CAST((r2 = 1) AS BIGINT)
        |      + CAST((r3 = 1) AS BIGINT) AS n1,
        |    CAST((r1 = 2) AS BIGINT) + CAST((r2 = 2) AS BIGINT)
        |      + CAST((r3 = 2) AS BIGINT) AS n2
        |  FROM rt),
        |m AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(n0 * n0 + n1 * n1 + n2 * n2) AS HUGEINT) AS s2,
        |    CAST(sum(n0) AS HUGEINT) AS c0, CAST(sum(n1) AS HUGEINT) AS c1,
        |    CAST(sum(n2) AS HUGEINT) AS c2
        |  FROM nc),
        |k AS (
        |  SELECT n, s2, c0, c1, c2,
        |    CAST(3 * n * (s2 - 3 * n) - 2 * (c0*c0 + c1*c1 + c2*c2)
        |      AS DOUBLE)
        |      / CAST(2 * (9 * n * n - (c0*c0 + c1*c1 + c2*c2)) AS DOUBLE)
        |      AS kap
        |  FROM m)
        |SELECT CAST(n AS BIGINT) AS n_docs,
        |  floor(CAST(s2 - 3 * n AS DOUBLE) / (6 * CAST(n AS DOUBLE)) * 1e9
        |    + 0.5) / 1.0e9 AS p_bar,
        |  floor(CAST(c0*c0 + c1*c1 + c2*c2 AS DOUBLE)
        |    / (9 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) * 1e9 + 0.5)
        |    / 1.0e9 AS p_e,
        |  floor(kap * 1e9 + 0.5) / 1.0e9 AS kappa,
        |  CASE WHEN floor(kap * 1e9 + 0.5) >= 800000000 THEN 'almost_perfect'
        |       WHEN floor(kap * 1e9 + 0.5) >= 600000000 THEN 'substantial'
        |       WHEN floor(kap * 1e9 + 0.5) >= 400000000 THEN 'moderate'
        |       WHEN floor(kap * 1e9 + 0.5) >= 200000000 THEN 'fair'
        |       ELSE 'slight_or_poor' END AS agreement
        |FROM k""".stripMargin) { (s, dir) =>
      val dec38 = DecimalType(38, 0)
      val f = Tables.documents(s, dir)
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), length(col("text")).cast(LongType).as("lc"),
          length(regexp_replace(col("text"), "[^A-Za-z]", ""))
            .cast(LongType).as("ac"),
          length(regexp_replace(col("text"), "[^0-9]", ""))
            .cast(LongType).as("dc"))
      val rt = f.select(col("doc_id"),
        when(col("lc") < 200, 0L).when(col("lc") < 500, 1L).otherwise(2L)
          .as("r1"),
        when(lit(100) * col("ac") < lit(70) * col("lc"), 0L)
          .when(lit(100) * col("ac") < lit(85) * col("lc"), 1L).otherwise(2L)
          .as("r2"),
        when(lit(100) * col("dc") >= lit(5) * col("lc"), 0L)
          .when(lit(100) * col("dc") >= lit(1) * col("lc"), 1L).otherwise(2L)
          .as("r3"))
      def cnt(cat: Long) =
        (col("r1") === cat).cast(LongType) + (col("r2") === cat).cast(LongType) +
          (col("r3") === cat).cast(LongType)
      val nc = rt.select(col("doc_id"), cnt(0).as("n0"), cnt(1).as("n1"),
        cnt(2).as("n2"))
      val m = nc.agg(count(lit(1)).cast(dec38).as("n"),
        sum(col("n0") * col("n0") + col("n1") * col("n1")
          + col("n2") * col("n2")).cast(dec38).as("s2"),
        sum(col("n0")).cast(dec38).as("c0"),
        sum(col("n1")).cast(dec38).as("c1"),
        sum(col("n2")).cast(dec38).as("c2"))
      val csq = col("c0") * col("c0") + col("c1") * col("c1") +
        col("c2") * col("c2")
      val kap = (lit(3).cast(dec38) * col("n") * (col("s2") - lit(3) * col("n"))
          - lit(2) * csq).cast(DoubleType) /
        (lit(2).cast(dec38) * (lit(9).cast(dec38) * col("n") * col("n") - csq))
          .cast(DoubleType)
      val kapFp = floor(kap * lit(1.0e9) + lit(0.5))
      m.select(col("n").cast(LongType).as("n_docs"),
        (floor((col("s2") - lit(3) * col("n")).cast(DoubleType)
          / (lit(6) * col("n").cast(DoubleType)) * lit(1.0e9) + lit(0.5))
          / lit(1.0e9)).as("p_bar"),
        (floor(csq.cast(DoubleType)
          / (lit(9) * col("n").cast(DoubleType) * col("n").cast(DoubleType))
          * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("p_e"),
        (kapFp / lit(1.0e9)).as("kappa"),
        when(kapFp >= 8.0e8, "almost_perfect")
          .when(kapFp >= 6.0e8, "substantial")
          .when(kapFp >= 4.0e8, "moderate")
          .when(kapFp >= 2.0e8, "fair")
          .otherwise("slight_or_poor").as("agreement"))
    },

    // ------------------------------------------------------------------
    // Deming regression — errors-in-BOTH-variables line fit (λ = 1),
    // the method-comparison regression measurement agencies use where
    // OLS is biased by construction (OLS assumes x is error-free;
    // regressing 1996 unit values on 1995 unit values, both are noisy
    // measurements of the same part's price level, and the OLS slope
    // attenuates toward 0). Same matched-part ×10⁶ unit-value relation
    // as etl_price_index; per brand the centered moments Sxx, Syy, Sxy
    // are exact DECIMAL(38) integers (n·Σx² − (Σx)² ≈ 10²² at these
    // magnitudes), the closed-form slope
    //   β = (Syy − Sxx + √((Syy−Sxx)² + 4Sxy²)) / (2Sxy)
    // assembles in doubles with identical operand order and snaps
    // ×10⁹; the intercept uses the SNAPPED slope. Pearson r published
    // alongside (the attenuation diagnostic).
    "etl_deming_regression" -> QueryDef.withOracle(
      s"""WITH ${partYearSql(1995, 1996)},
        |${matchedSql("pp", 1995, 1996, 0)},
        |m AS (
        |  SELECT p.p_brand, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(pp.p0) AS BIGINT) AS sx,
        |    CAST(sum(pp.p1) AS BIGINT) AS sy,
        |    CAST(sum(CAST(pp.p0 AS HUGEINT) * pp.p0) AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(pp.p1 AS HUGEINT) * pp.p1) AS HUGEINT) AS syy,
        |    CAST(sum(CAST(pp.p0 AS HUGEINT) * pp.p1) AS HUGEINT) AS sxy
        |  FROM pp JOIN part p ON p.p_partkey = pp.l_partkey
        |  GROUP BY 1),
        |c AS (
        |  SELECT p_brand, n, sx, sy,
        |    CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS cxx,
        |    CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE) AS cyy,
        |    CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) AS cxy
        |  FROM m WHERE n > 2),
        |b AS (
        |  SELECT p_brand, n, sx, sy, cxx, cyy, cxy,
        |    CAST(floor((cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
        |      + 4 * cxy * cxy)) / (2 * cxy) * 1e9 + 0.5) AS BIGINT) AS bs
        |  FROM c WHERE cxy <> 0 AND cxx > 0 AND cyy > 0)
        |SELECT p_brand, n AS n_parts,
        |  bs / 1.0e9 AS slope,
        |  floor((CAST(sy AS DOUBLE) - bs / 1e9 * sx) / n / 1e6 * 1e6 + 0.5)
        |    / 1.0e6 AS intercept,
        |  floor(cxy / sqrt(cxx * cyy) * 1e9 + 0.5) / 1.0e9 AS pearson_r
        |FROM b""".stripMargin) { (s, dir) =>
      val dec38 = DecimalType(38, 0)
      val pp = matchedParts(partYears(s, dir, 1995, 1996), 1995, 1996, 0)
      val m = pp
        .join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
          col("p_partkey") === col("l_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          sum(col("p0")).as("sx"), sum(col("p1")).as("sy"),
          sum(col("p0").cast(dec38) * col("p0")).as("sxx"),
          sum(col("p1").cast(dec38) * col("p1")).as("syy"),
          sum(col("p0").cast(dec38) * col("p1")).as("sxy"))
      val c = m.filter(col("n") > 2)
        .select(col("p_brand"), col("n"), col("sx"), col("sy"),
          (col("n").cast(dec38) * col("sxx")
            - col("sx").cast(dec38) * col("sx")).cast(DoubleType).as("cxx"),
          (col("n").cast(dec38) * col("syy")
            - col("sy").cast(dec38) * col("sy")).cast(DoubleType).as("cyy"),
          (col("n").cast(dec38) * col("sxy")
            - col("sx").cast(dec38) * col("sy")).cast(DoubleType).as("cxy"))
      val bsRaw = (col("cyy") - col("cxx")
        + sqrt((col("cyy") - col("cxx")) * (col("cyy") - col("cxx"))
          + lit(4) * col("cxy") * col("cxy"))) / (lit(2) * col("cxy"))
      val b = c.filter(col("cxy") =!= 0 && col("cxx") > 0 && col("cyy") > 0)
        .withColumn("bs",
          floor(bsRaw * lit(1.0e9) + lit(0.5)).cast(LongType))
      b.select(col("p_brand"), col("n").as("n_parts"),
        (col("bs") / lit(1.0e9)).as("slope"),
        (floor((col("sy").cast(DoubleType) - col("bs") / lit(1.0e9)
          * col("sx")) / col("n") / lit(1.0e6) * lit(1.0e6) + lit(0.5))
          / lit(1.0e6)).as("intercept"),
        (floor(col("cxy") / sqrt(col("cxx") * col("cyy")) * lit(1.0e9)
          + lit(0.5)) / lit(1.0e9)).as("pearson_r"))
    },

    // ------------------------------------------------------------------
    // Process capability indices Cp / Cpk — the verdict layer on top
    // of the etl_control_chart family: the chart asks "is the process
    // stable", capability asks "does the stable process FIT the spec"
    // (Cp = spec width / 6σ ignores centering; Cpk = the worse
    // one-sided margin / 3σ is what the customer experiences; the
    // classic acceptance bar is Cpk ≥ 1.33). Process variable =
    // lineitem quantity per return flag against fixed specs
    // LSL = 5, USL = 45; μ and σ close over exact integer moments
    // (population σ via (nΣq² − (Σq)²)/n² in pinned operand order),
    // every index ×10⁶-snapped before the verdict. One map-side-
    // combined corpus agg; nothing after it is row-scaled.
    "etl_cpk" -> QueryDef.withOracle(
      """WITH m AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
        |    CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
        |      AS HUGEINT) AS sqq
        |  FROM lineitem GROUP BY 1),
        |c AS (
        |  SELECT l_returnflag, n,
        |    CAST(sq AS DOUBLE) / n AS mu,
        |    sqrt(CAST(n * sqq - CAST(sq AS HUGEINT) * sq AS DOUBLE)) / n
        |      AS sigma
        |  FROM m WHERE n > 1)
        |SELECT l_returnflag, n,
        |  floor(mu * 1e6 + 0.5) / 1.0e6 AS mu,
        |  floor(sigma * 1e6 + 0.5) / 1.0e6 AS sigma,
        |  floor(40 / (6 * sigma) * 1e6 + 0.5) / 1.0e6 AS cp,
        |  floor(least((45 - mu) / (3 * sigma), (mu - 5) / (3 * sigma))
        |    * 1e6 + 0.5) / 1.0e6 AS cpk,
        |  floor(least((45 - mu) / (3 * sigma), (mu - 5) / (3 * sigma))
        |    * 1e6 + 0.5) >= 1333333 AS capable
        |FROM c WHERE sigma > 0""".stripMargin) { (s, dir) =>
      val dec38 = DecimalType(38, 0)
      val q = col("l_quantity").cast(LongType)
      val m = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(q).as("sq"),
          sum(q.cast(dec38) * q).as("sqq"))
      val c = m.filter(col("n") > 1)
        .select(col("l_returnflag"), col("n"),
          (col("sq").cast(DoubleType) / col("n")).as("mu"),
          (sqrt((col("n").cast(dec38) * col("sqq")
            - col("sq").cast(dec38) * col("sq")).cast(DoubleType))
            / col("n")).as("sigma"))
      val cpk = least((lit(45) - col("mu")) / (lit(3) * col("sigma")),
        (col("mu") - lit(5)) / (lit(3) * col("sigma")))
      c.filter(col("sigma") > 0)
        .select(col("l_returnflag"), col("n"),
          (floor(col("mu") * lit(1.0e6) + lit(0.5)) / lit(1.0e6)).as("mu"),
          (floor(col("sigma") * lit(1.0e6) + lit(0.5)) / lit(1.0e6))
            .as("sigma"),
          (floor(lit(40) / (lit(6) * col("sigma")) * lit(1.0e6) + lit(0.5))
            / lit(1.0e6)).as("cp"),
          (floor(cpk * lit(1.0e6) + lit(0.5)) / lit(1.0e6)).as("cpk"),
          (floor(cpk * lit(1.0e6) + lit(0.5)) >= lit(1333333.0))
            .as("capable"))
    },

    // ------------------------------------------------------------------
    // Hotelling T² multivariate control chart — the 2-D upgrade of
    // etl_control_chart that catches what two univariate charts CANNOT:
    // a month whose quantity and price are each within their own 3σ
    // bands but jointly off the correlation ellipse. Variables are
    // subgroup (month) means of quantity and price (dollars); the
    // pooled within-month covariance follows etl_control_chart's
    // exact discipline — each month's (Σx)(Σy)/n cross term snaps to a
    // BIGINT pre-sum (×10⁶ in quantity² units, ×10³ in $² and q·$
    // units), so the across-month reductions are order-invariant
    // integer sums — and T²_j = n_j·d'S⁻¹d uses the closed-form 2×2
    // inverse in pinned doubles, ×10⁶-snapped before the χ²₂
    // 3σ-equivalent 11.829 verdict. ONE corpus scan; everything after
    // is the ≤|months| relation and a 1-row pooled anchor.
    "etl_hotelling_t2" -> QueryDef.withOracle(
      """WITH g AS (
        |  SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS mon,
        |    CAST(count(*) AS BIGINT) AS n_j,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
        |    CAST(sum(CAST(l_quantity AS BIGINT)
        |      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sqq,
        |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS sp,
        |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS HUGEINT)
        |      * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |      AS HUGEINT) AS spp,
        |    CAST(sum(CAST(l_quantity AS BIGINT)
        |      * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS sqp
        |  FROM lineitem GROUP BY 1),
        |w AS (
        |  SELECT mon, n_j, sq, sp,
        |    sqq * 1000000
        |      - CAST(floor(CAST(sq AS DOUBLE) * sq / n_j * 1e6 + 0.5)
        |        AS BIGINT) AS vq_fp,
        |    CAST(floor((CAST(spp AS DOUBLE)
        |      - CAST(sp AS DOUBLE) * sp / n_j) / 1e4 * 1e3 + 0.5) AS BIGINT)
        |      AS vp_fp,
        |    CAST(floor((CAST(sqp AS DOUBLE)
        |      - CAST(sq AS DOUBLE) * sp / n_j) / 1e2 * 1e3 + 0.5) AS BIGINT)
        |      AS vqp_fp
        |  FROM g),
        |t AS (
        |  SELECT CAST(sum(n_j) AS BIGINT) AS nn,
        |    CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(sq) AS BIGINT) AS tq, CAST(sum(sp) AS BIGINT) AS tp,
        |    CAST(sum(CAST(vq_fp AS HUGEINT)) AS DOUBLE) AS wq,
        |    CAST(sum(CAST(vp_fp AS HUGEINT)) AS DOUBLE) AS wp,
        |    CAST(sum(CAST(vqp_fp AS HUGEINT)) AS DOUBLE) AS wqp
        |  FROM w),
        |a AS (
        |  SELECT nn, m,
        |    CAST(tq AS DOUBLE) / nn AS mq,
        |    CAST(tp AS DOUBLE) / 100 / nn AS mp,
        |    wq / 1e6 / (nn - m) AS sxx,
        |    wp / 1e3 / (nn - m) AS syy,
        |    wqp / 1e3 / (nn - m) AS sxy
        |  FROM t),
        |r AS (
        |  SELECT w.mon, w.n_j,
        |    CAST(w.sq AS DOUBLE) / w.n_j - a.mq AS dq,
        |    CAST(w.sp AS DOUBLE) / 100 / w.n_j - a.mp AS dp,
        |    a.sxx, a.syy, a.sxy,
        |    a.sxx * a.syy - a.sxy * a.sxy AS det
        |  FROM w CROSS JOIN a)
        |SELECT mon, n_j AS n,
        |  floor(n_j * (dq * dq * syy - 2 * dq * dp * sxy + dp * dp * sxx)
        |    / det * 1e6 + 0.5) / 1.0e6 AS t2,
        |  floor(n_j * (dq * dq * syy - 2 * dq * dp * sxy + dp * dp * sxx)
        |    / det * 1e6 + 0.5) > 11829000 AS out_of_control
        |FROM r WHERE det > 0""".stripMargin) { (s, dir) =>
      val dec38 = DecimalType(38, 0)
      val q = col("l_quantity").cast(LongType)
      val pc = floor(col("l_extendedprice") * 100 + lit(0.5)).cast(LongType)
      val g = Tables.lineitem(s, dir)
        .select(date_format(col("l_shipdate"), "yyyy-MM").as("mon"),
          q.as("q"), pc.as("p"))
        .groupBy(col("mon"))
        .agg(count(lit(1)).as("n_j"), sum(col("q")).as("sq"),
          sum(col("q") * col("q")).as("sqq"),
          sum(col("p")).as("sp"),
          sum(col("p").cast(dec38) * col("p")).as("spp"),
          sum(col("q") * col("p")).as("sqp"))
      val w = g.select(col("mon"), col("n_j"), col("sq"), col("sp"),
        (col("sqq") * 1000000L
          - floor(col("sq").cast(DoubleType) * col("sq") / col("n_j")
            * lit(1.0e6) + lit(0.5)).cast(LongType)).as("vq_fp"),
        floor((col("spp").cast(DoubleType)
          - col("sp").cast(DoubleType) * col("sp") / col("n_j")) / lit(1.0e4)
          * lit(1.0e3) + lit(0.5)).cast(LongType).as("vp_fp"),
        floor((col("sqp").cast(DoubleType)
          - col("sq").cast(DoubleType) * col("sp") / col("n_j")) / lit(1.0e2)
          * lit(1.0e3) + lit(0.5)).cast(LongType).as("vqp_fp"))
        .persist() // ≤|months| bookkeeping: pooled anchor + per-month T²
      // the per-month snapped variance terms reach ~1e18 at sf10d, so
      // their cross-month sums cross 2⁶³ (round-14 sf10d etl battery):
      // DECIMAL(38)/HUGEINT accumulation, converted to double ONCE
      val t = w.agg(sum(col("n_j")).as("nn"), count(lit(1)).as("m"),
        sum(col("sq")).as("tq"), sum(col("sp")).as("tp"),
        sum(col("vq_fp").cast(dec38)).cast(DoubleType).as("wq"),
        sum(col("vp_fp").cast(dec38)).cast(DoubleType).as("wp"),
        sum(col("vqp_fp").cast(dec38)).cast(DoubleType).as("wqp"))
      val a = t.select(
        (col("tq").cast(DoubleType) / col("nn")).as("mq"),
        (col("tp").cast(DoubleType) / lit(100) / col("nn")).as("mp"),
        (col("wq") / lit(1.0e6) / (col("nn") - col("m"))).as("sxx"),
        (col("wp") / lit(1.0e3) / (col("nn") - col("m"))).as("syy"),
        (col("wqp") / lit(1.0e3) / (col("nn") - col("m"))).as("sxy"))
      val dq = col("sq").cast(DoubleType) / col("n_j") - col("mq")
      val dp = col("sp").cast(DoubleType) / lit(100) / col("n_j") - col("mp")
      val det = col("sxx") * col("syy") - col("sxy") * col("sxy")
      val t2 = col("n_j") * (dq * dq * col("syy")
        - lit(2) * dq * dp * col("sxy") + dp * dp * col("sxx")) / det
      w.crossJoin(broadcast(a))
        .withColumn("det", det)
        .filter(col("det") > 0)
        .select(col("mon"), col("n_j").as("n"),
          (floor(t2 * lit(1.0e6) + lit(0.5)) / lit(1.0e6)).as("t2"),
          (floor(t2 * lit(1.0e6) + lit(0.5)) > lit(11829000.0))
            .as("out_of_control"))
    },

    // ------------------------------------------------------------------
    // Western Electric run rules — the SIGNAL layer over
    // etl_control_chart's limits: a point inside 3σ is not evidence of
    // control (rule 1 alone misses slow drifts), so the classic zone
    // rules fire on RUNS — 2-of-3 beyond 2σ same side, 4-of-5 beyond
    // 1σ same side, 8 consecutive same side. Same pooled σ̂ build as
    // the chart (each month's (Σq)²/n term snapped pre-sum); the
    // standardized z = (x̄_j − x̿)/(σ̂/√n_j) snaps ×10⁶ to a long
    // FIRST, every zone indicator is then an exact integer comparison
    // and every rule a window COUNT of indicators over the ≤|months|
    // calendar relation — no float ever crosses a window boundary.
    "etl_we_rules" -> QueryDef.withOracle(
      """WITH g AS (
        |  SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS mon,
        |    CAST(count(*) AS BIGINT) AS n_j,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s_j,
        |    CAST(sum(CAST(l_quantity AS BIGINT)
        |      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS ss_j
        |  FROM lineitem GROUP BY 1),
        |t AS (
        |  SELECT CAST(sum(n_j) AS BIGINT) AS nn,
        |    CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(s_j) AS BIGINT) AS ss,
        |    CAST(sum(ss_j * 1000000 - CAST(floor(CAST(s_j AS DOUBLE) * s_j
        |      / n_j * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS wfp
        |  FROM g),
        |z AS (
        |  SELECT g.mon, g.n_j,
        |    CAST(floor((CAST(g.s_j AS DOUBLE) / g.n_j
        |        - CAST(t.ss AS DOUBLE) / t.nn)
        |      / sqrt(CAST(t.wfp AS DOUBLE) / 1e6 / (t.nn - t.m)
        |        / g.n_j) * 1e6 + 0.5) AS BIGINT) AS zfp
        |  FROM g CROSS JOIN t),
        |i AS (
        |  SELECT mon, n_j, zfp,
        |    CASE WHEN zfp > 2000000 THEN 1 ELSE 0 END AS hi2,
        |    CASE WHEN zfp < -2000000 THEN 1 ELSE 0 END AS lo2,
        |    CASE WHEN zfp > 1000000 THEN 1 ELSE 0 END AS hi1,
        |    CASE WHEN zfp < -1000000 THEN 1 ELSE 0 END AS lo1,
        |    CASE WHEN zfp > 0 THEN 1 ELSE 0 END AS hi0,
        |    CASE WHEN zfp < 0 THEN 1 ELSE 0 END AS lo0
        |  FROM z),
        |w AS (
        |  SELECT mon, n_j, zfp,
        |    abs(zfp) > 3000000 AS rule1,
        |    sum(hi2) OVER w3 >= 2 OR sum(lo2) OVER w3 >= 2 AS rule2,
        |    sum(hi1) OVER w5 >= 4 OR sum(lo1) OVER w5 >= 4 AS rule3,
        |    sum(hi0) OVER w8 = 8 OR sum(lo0) OVER w8 = 8 AS rule4
        |  FROM i
        |  WINDOW
        |    w3 AS (ORDER BY mon ASC ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
        |    w5 AS (ORDER BY mon ASC ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
        |    w8 AS (ORDER BY mon ASC ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
        |SELECT mon, n_j AS n, zfp / 1.0e6 AS z,
        |  rule1, rule2, rule3, rule4,
        |  rule1 OR rule2 OR rule3 OR rule4 AS any_signal
        |FROM w""".stripMargin) { (s, dir) =>
      val q = col("l_quantity").cast(LongType)
      val g = Tables.lineitem(s, dir)
        .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("mon"))
        .agg(count(lit(1)).as("n_j"), sum(q).as("s_j"),
          sum(q * q).as("ss_j"))
      val t = g.agg(sum(col("n_j")).as("nn"), count(lit(1)).as("m"),
        sum(col("s_j")).as("ss"),
        sum(col("ss_j") * 1000000L
          - floor(col("s_j").cast(DoubleType) * col("s_j") / col("n_j")
            * lit(1.0e6) + 0.5).cast(LongType)).as("wfp"))
      val zfp = floor((col("s_j").cast(DoubleType) / col("n_j")
          - col("ss").cast(DoubleType) / col("nn"))
        / sqrt(col("wfp").cast(DoubleType) / lit(1.0e6)
          / (col("nn") - col("m")) / col("n_j")) * lit(1.0e6) + lit(0.5))
        .cast(LongType)
      val z = g.crossJoin(broadcast(t))
        .select(col("mon"), col("n_j"), zfp.as("zfp"))
      def ind(c: org.apache.spark.sql.Column) = when(c, 1L).otherwise(0L)
      val i = z.select(col("mon"), col("n_j"), col("zfp"),
        ind(col("zfp") > 2000000L).as("hi2"),
        ind(col("zfp") < -2000000L).as("lo2"),
        ind(col("zfp") > 1000000L).as("hi1"),
        ind(col("zfp") < -1000000L).as("lo1"),
        ind(col("zfp") > 0L).as("hi0"), ind(col("zfp") < 0L).as("lo0"))
      def wN(n: Int) = Window.orderBy(col("mon").asc)
        .rowsBetween(-(n - 1), Window.currentRow)
      val w = i.select(col("mon"), col("n_j"), col("zfp"),
        (abs(col("zfp")) > 3000000L).as("rule1"),
        (sum(col("hi2")).over(wN(3)) >= 2 || sum(col("lo2")).over(wN(3)) >= 2)
          .as("rule2"),
        (sum(col("hi1")).over(wN(5)) >= 4 || sum(col("lo1")).over(wN(5)) >= 4)
          .as("rule3"),
        (sum(col("hi0")).over(wN(8)) === 8 || sum(col("lo0")).over(wN(8)) === 8)
          .as("rule4"))
      w.select(col("mon"), col("n_j").as("n"),
        (col("zfp") / lit(1.0e6)).as("z"),
        col("rule1"), col("rule2"), col("rule3"), col("rule4"),
        (col("rule1") || col("rule2") || col("rule3") || col("rule4"))
          .as("any_signal"))
    },

    "etl_stl_decompose" -> {
      import Loess.{betaSql, nbSql, sumsSql}
      val seasK = (-2 to 2).toSeq // subseries half-width: 2 years
      val trK = (-6 to 6).toSeq // trend half-width: 6 months
      val lpTerms = (("lag(c_fp, 6) OVER tw + lead(c_fp, 6) OVER tw") +:
        (-5 to 5).map(k => s"2 * ${nbSql("c_fp", k, "tw")}")).mkString(" + ")
      val oracle =
        s"""WITH m AS (
           |  SELECT CAST(floor(epoch(date_trunc('month', o_orderdate))) AS BIGINT)
           |      AS mo_s,
           |    CAST(month(o_orderdate) AS BIGINT) AS mo,
           |    CAST(year(o_orderdate) AS BIGINT) AS yr,
           |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS t,
           |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
           |      AS BIGINT) AS total_c
           |  FROM orders GROUP BY 1, 2, 3, 4),
           |anch AS (SELECT CAST(count(*) AS BIGINT) AS nm,
           |    CAST(sum(total_c) AS BIGINT) AS ysum FROM m),
           |z AS (SELECT m.*, anch.nm, anch.ysum,
           |    CAST(floor(CAST(total_c AS DOUBLE) * nm / ysum * 1000000 + 0.5)
           |      AS BIGINT) AS z_fp
           |  FROM m CROSS JOIN anch),
           |cs AS (SELECT *, ${sumsSql("z_fp", seasK, 2, "sub")}
           |  FROM z WINDOW sub AS (PARTITION BY mo ORDER BY yr)),
           |cv AS (SELECT mo_s, mo, yr, t, total_c, nm, ysum, z_fp,
           |    $betaSql AS c_fp FROM cs),
           |lp AS (SELECT *, $lpTerms AS lnum
           |  FROM cv WINDOW tw AS (ORDER BY t)),
           |sv AS (SELECT mo_s, t, total_c, nm, ysum, z_fp,
           |    z_fp - (c_fp - CAST(floor(CAST(lnum AS DOUBLE) / 24 + 0.5)
           |      AS BIGINT)) AS d_fp,
           |    c_fp - CAST(floor(CAST(lnum AS DOUBLE) / 24 + 0.5) AS BIGINT)
           |      AS s_fp
           |  FROM lp WHERE lnum IS NOT NULL),
           |tr AS (SELECT *, ${sumsSql("d_fp", trK, 6, "tw")}
           |  FROM sv WINDOW tw AS (ORDER BY t)),
           |tv AS (SELECT mo_s, total_c, nm, ysum, z_fp, s_fp,
           |    $betaSql AS t_fp FROM tr)
           |SELECT mo_s, CAST(total_c AS DOUBLE) / 100 AS total,
           |  floor(CAST(t_fp AS DOUBLE) / 1000000 * ysum / nm + 0.5) / 100.0
           |    AS trend,
           |  floor(CAST(s_fp AS DOUBLE) / 1000000 * ysum / nm + 0.5) / 100.0
           |    AS seasonal,
           |  floor(CAST(z_fp - s_fp - t_fp AS DOUBLE) / 1000000 * ysum / nm
           |    + 0.5) / 100.0 AS remainder
           |FROM tv""".stripMargin
      QueryDef.withOracle(oracle) { (s, dir) =>
        import Loess.{beta, nb, sums}
        val m = Tables.orders(s, dir)
          .groupBy(
            unix_timestamp(date_trunc("month", col("o_orderdate"))).as("mo_s"),
            month(col("o_orderdate")).cast(LongType).as("mo"),
            year(col("o_orderdate")).cast(LongType).as("yr"),
            (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
              .cast(LongType).as("t"))
          .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast(LongType))
            .as("total_c"))
        val anch = m.agg(count(lit(1)).as("nm"), sum(col("total_c")).as("ysum"))
        val z = m.crossJoin(broadcast(anch))
          .withColumn("z_fp", floor(col("total_c").cast(DoubleType)
            * col("nm") / col("ysum") * lit(1000000) + lit(0.5)).cast(LongType))
        val sub = Window.partitionBy(col("mo")).orderBy(col("yr").asc)
        val cv = z.select(Seq(col("mo_s"), col("mo"), col("yr"), col("t"),
            col("total_c"), col("nm"), col("ysum"), col("z_fp")) ++
            sums(col("z_fp"), seasK, 2, sub): _*)
          .withColumn("c_fp", beta)
        val tw = Window.orderBy(col("t").asc)
        val lnum = (Seq(nb(col("c_fp"), -6, tw), nb(col("c_fp"), 6, tw)) ++
          (-5 to 5).map(k => lit(2L) * nb(col("c_fp"), k, tw))).reduce(_ + _)
        val sv = cv.withColumn("lnum", lnum)
          .filter(col("lnum").isNotNull)
          .withColumn("s_fp", col("c_fp") -
            floor(col("lnum").cast(DoubleType) / 24 + lit(0.5)).cast(LongType))
          .withColumn("d_fp", col("z_fp") - col("s_fp"))
          .select(col("mo_s"), col("t"), col("total_c"), col("nm"),
            col("ysum"), col("z_fp"), col("d_fp"), col("s_fp"))
        val tv = sv.select(Seq(col("mo_s"), col("total_c"), col("nm"),
            col("ysum"), col("z_fp"), col("s_fp")) ++
            sums(col("d_fp"), trK, 6, tw): _*)
          .withColumn("t_fp", beta)
        def units(c: Column): Column =
          floor(c.cast(DoubleType) / 1000000 * col("ysum") / col("nm")
            + lit(0.5)) / lit(100.0)
        tv.select(col("mo_s"),
          (col("total_c").cast(DoubleType) / 100).as("total"),
          units(col("t_fp")).as("trend"),
          units(col("s_fp")).as("seasonal"),
          units(col("z_fp") - col("s_fp") - col("t_fp")).as("remainder"))
      }
    }
  )

  /** Exact Henderson-13 weight numerators w_j ∝ (16−j²)(49−j²)(64−j²)
    * (81−j²), offsets −6..6; [[HendersonDenom]] is their sum, so the
    * weights sum to exactly 1 and reproduce cubic polynomials exactly
    * in integer arithmetic (Round9InvariantSpec). */
  // defs (not vals): referenced while `defs` itself initializes, so a
  // val here would still be null/0 at that point
  private[graft] def HendersonW: Seq[(Int, Long)] = (-6 to 6).map { j =>
    j -> ((16L - j * j) * (49L - j * j) * (64L - j * j) * (81L - j * j))
  }
  private[graft] def HendersonDenom: Long = HendersonW.map(_._2).sum

  /** Denton PFD solve: minimize Σ(r_t − r_{t-1})² over benchmark
    * ratios r (x = r ∘ i) subject to iᵀr = A. Solves the dense
    * (n+1)×(n+1) KKT system [[D'D, i],[iᵀ, 0]][r; μ] = [0; A] by
    * Gaussian elimination with partial pivoting — n is a month count,
    * so this is driver-side bookkeeping arithmetic, never distributed
    * work. Exposed for DentonSpec's property checks. */
  /** Hodrick-Prescott trend: solves (I + λD'D)x = y where D is the
    * second-difference operator, by dense Gaussian elimination with
    * partial pivoting (n = months, calendar-bounded — the dentonPfd
    * solve discipline). D'D is assembled from its definition
    * Σ_j d_j d_jᵀ with d_j = e_j − 2e_{j+1} + e_{j+2}, so the banded
    * coefficients are correct by construction at the boundaries. */
  private[graft] def hpFilter(y: Array[Double], lam: Double): Array[Double] = {
    val n = y.length
    require(n >= 1)
    if (n <= 2) return y.clone() // D has no rows: trend = series
    val m = Array.ofDim[Double](n, n + 1) // augmented [A | y]
    for (t <- 0 until n) { m(t)(t) = 1.0; m(t)(n) = y(t) }
    for (j <- 0 until n - 2) {
      val idx = Array(j, j + 1, j + 2)
      val cf = Array(1.0, -2.0, 1.0)
      for (a <- 0 until 3; b <- 0 until 3)
        m(idx(a))(idx(b)) += lam * cf(a) * cf(b)
    }
    for (cIdx <- 0 until n) { // forward elimination, partial pivot
      val piv = (cIdx until n).maxBy(r => math.abs(m(r)(cIdx)))
      val tmp = m(cIdx); m(cIdx) = m(piv); m(piv) = tmp
      require(math.abs(m(cIdx)(cIdx)) > 1e-12, "singular HP system")
      for (r <- cIdx + 1 until n) {
        val f = m(r)(cIdx) / m(cIdx)(cIdx)
        for (c2 <- cIdx to n) m(r)(c2) -= f * m(cIdx)(c2)
      }
    }
    val sol = new Array[Double](n) // back substitution
    for (r <- n - 1 to 0 by -1) {
      var acc = m(r)(n)
      for (c2 <- r + 1 until n) acc -= m(r)(c2) * sol(c2)
      sol(r) = acc / m(r)(r)
    }
    sol
  }

  /** Calendar-bounded (mo_s, mfp) monthly-total collect shared by the
    * HP-filter family: exact cents per month, sorted by month. */
  private[graft] def hpBook(s: SparkSession, dir: String)
      : Array[org.apache.spark.sql.Row] =
    Tables.orders(s, dir)
      .groupBy(
        unix_timestamp(date_trunc("month", col("o_orderdate"))).as("mo_s"))
      .agg(sum(floor(col("o_totalprice") * lit(100) + lit(0.5))
        .cast(LongType)).as("mfp"))
      .collect().sortBy(_.getLong(0))

  /** Raw HP trend/cycle decomposition — the series shape etl_hp_filter
    * attests (HpFilterSpec pins its optimality properties). */
  private[graft] def hpFilterRaw(s: SparkSession, dir: String): DataFrame = {
    val book = hpBook(s, dir)
    val n = book.length
    val tot = book.map(_.getLong(1)).sum
    // mean-normalized z (≈1000 units, SF-invariant magnitudes)
    val z = book.map(r => r.getLong(1).toDouble * n / tot * 1000.0)
    val x = hpFilter(z, 129600.0)
    import s.implicits._
    book.indices.map { k =>
      (book(k).getLong(0), z(k), x(k), z(k) - x(k))
    }.toDF("mo_s", "series", "trend", "cycle")
  }

  /** Shared (yr, mo_s, mfp, cfp) bookkeeping collect for the Denton
    * family: the monthly indicator in exact cents and the annual
    * control in exact ×10⁴ fixed point — |years| × ≤12 rows. */
  private[graft] def dentonBook(s: SparkSession, dir: String)
      : Array[org.apache.spark.sql.Row] = {
    monthlyIndicator(s, dir).join(annualControl(s, dir), Seq("yr"))
      .select(col("yr"), col("mo_s"), col("mfp"), col("cfp"))
      .collect()
  }

  /** Raw Denton-benchmarked monthly series — the estimate shape
    * etl_denton_pfd attests (DentonSpec pins its properties). */
  private[graft] def dentonRaw(s: SparkSession, dir: String): DataFrame = {
    val book = dentonBook(s, dir)
    val out = book.groupBy(_.getInt(0)).toSeq.flatMap { case (yr, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      val i = sorted.map(_.getLong(2).toDouble / 100).toArray
      val a = sorted.head.getLong(3).toDouble / 10000
      val x = dentonPfd(i, a)
      sorted.indices.map(k => (sorted(k).getLong(1), yr, i(k), x(k)))
    }
    import s.implicits._
    out.toDF("mo_s", "yr", "monthly_raw", "denton_bench")
  }

  private[graft] def dentonPfd(i: Array[Double], a: Double): Array[Double] = {
    val n = i.length
    require(n >= 1)
    if (n == 1) return Array(a)
    val m = Array.ofDim[Double](n + 1, n + 2) // augmented [M | rhs]
    // D'D tridiagonal: 1 on the two corners, 2 inside, -1 off-diagonal
    for (t <- 0 until n) {
      m(t)(t) = if (t == 0 || t == n - 1) 1.0 else 2.0
      if (t > 0) m(t)(t - 1) = -1.0
      if (t < n - 1) m(t)(t + 1) = -1.0
      m(t)(n) = i(t)      // the constraint column (λ block)
      m(n)(t) = i(t)      // the constraint row
    }
    m(n)(n + 1) = a        // rhs: [0, …, 0, A]
    for (cIdx <- 0 to n) { // forward elimination, partial pivot
      val piv = (cIdx to n).maxBy(r => math.abs(m(r)(cIdx)))
      val tmp = m(cIdx); m(cIdx) = m(piv); m(piv) = tmp
      require(math.abs(m(cIdx)(cIdx)) > 1e-12, "singular KKT system")
      for (r <- cIdx + 1 to n) {
        val f = m(r)(cIdx) / m(cIdx)(cIdx)
        for (c2 <- cIdx to n + 1) m(r)(c2) -= f * m(cIdx)(c2)
      }
    }
    val sol = new Array[Double](n + 1) // back substitution
    for (r <- n to 0 by -1) {
      var acc = m(r)(n + 1)
      for (c2 <- r + 1 to n) acc -= m(r)(c2) * sol(c2)
      sol(r) = acc / m(r)(r)
    }
    Array.tabulate(n)(t => sol(t) * i(t))
  }

  /** Tie-averaged rank2 (= 2·average rank, always integral) of `v`
    * within group column `f`, computed WITHOUT a per-group whole-column
    * sort: per-(f, value) counts → per-flag range-bucket prefix offsets
    * (a ≤200·|f|-row bookkeeping window) → per-(f, bucket) local
    * cumulative counts over distinct VALUES (each bucket holds
    * ~distinct/200 values). rank2(v) = 2·(rows before v) + count(v) + 1.
    * Returns (f, v-named column, r2x/r2y) keyed by the value column for
    * the join back to rows. */
  private def avgRank2(df: org.apache.spark.sql.DataFrame,
      vCol: String,
      bounds: Option[(Double, Double)] = None): org.apache.spark.sql.DataFrame = {
    val r2Name = if (vCol == "v") "r2x" else "r2y"
    val counts = df.groupBy(col("f"), col(vCol)).agg(count(lit(1)).as("cnt"))
    // r17: like rankSelectByKey, the ranks are BUCKET-INVARIANT (any
    // monotone bucketing yields the same prefix counts), so a caller
    // with precomputed bounds skips this pass's min/max anchor job
    val (lo, hi) = bounds.getOrElse {
      val mmx = df.agg(min(col(vCol)).cast(DoubleType),
        max(col(vCol)).cast(DoubleType)).head()
      (mmx.getDouble(0), mmx.getDouble(1))
    }
    val withB = counts.withColumn("bkt", Relational.rangeBucket(
      col(vCol).cast(DoubleType), lo, hi, 200))
    val wOff = Window.partitionBy(col("f")).orderBy(col("bkt").asc)
    val offs = withB.groupBy(col("f"), col("bkt"))
      .agg(sum(col("cnt")).as("bcnt"))
      .select(col("f"), col("bkt"),
        coalesce(sum(col("bcnt"))
          .over(wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          .as("off"))
    val wLoc = Window.partitionBy(col("f"), col("bkt"))
      .orderBy(col(vCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    withB
      .withColumn("before_in_bkt", coalesce(sum(col("cnt")).over(wLoc), lit(0L)))
      .join(broadcast(offs), Seq("f", "bkt"))
      .select(col("f"), col(vCol),
        (lit(2L) * (col("off") + col("before_in_bkt")) + col("cnt") + 1L)
          .as(r2Name))
  }

  /** Multiplicative seasonal factors `(mo, seasonal)` from the ×10⁹
    * SI ratios `si_fp` per calendar month `mo`: the per-month mean,
    * rescaled so the 12 factors average 1. Oracle twin:
    * [[seasonalFactorsSql]]. */
  private def seasonalFactors(si: DataFrame): DataFrame = {
    val f = si.groupBy(col("mo"))
      .agg(floor(sum(col("si_fp")) / count(lit(1)) + lit(0.5))
        .cast(LongType).as("m_fp"))
    val nrm = f.agg(sum(col("m_fp")).as("fsum"))
    f.crossJoin(broadcast(nrm))
      .select(col("mo"), (col("m_fp") * lit(12.0) / col("fsum")).as("seasonal"))
  }

  /** DuckDB CTEs `si` (the SI ratios of [[movingAvgSql]]'s `w`), `f`,
    * `nrm` and `fac (mo, seasonal)`, mirroring [[seasonalFactors]]. */
  private def seasonalFactorsSql: String =
    """si AS (
      |  SELECT mo_s, mo, total, ma,
      |    CAST(floor(total / ma * 1000000000 + 0.5) AS BIGINT) AS si_fp
      |  FROM w WHERE ma IS NOT NULL),
      |f AS (
      |  SELECT mo,
      |    CAST(floor(CAST(sum(si_fp) AS BIGINT) / count(*) + 0.5) AS BIGINT)
      |      AS m_fp
      |  FROM si GROUP BY mo),
      |nrm AS (SELECT CAST(sum(m_fp) AS BIGINT) AS fsum FROM f),
      |fac AS (
      |  SELECT f.mo, f.m_fp * 12.0 / nrm.fsum AS seasonal
      |  FROM f CROSS JOIN nrm)""".stripMargin

  /** Each customer's order spend (exact decimal sum as a double) with
    * their nation: `(o_custkey, spend, c_custkey, c_nationkey,
    * n_nationkey, n_name)`, one custkey-keyed shuffle join plus the
    * broadcast nation dim. Oracle twin: [[nationSpendSql]]. */
  private def nationSpend(s: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
        .cast(DoubleType).as("spend"))
    val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
    val nat = Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))
    spend
      .join(cust, col("c_custkey") === col("o_custkey"))
      .join(broadcast(nat), col("n_nationkey") === col("c_nationkey"))
  }

  /** DuckDB CTEs `spend` and `j (n_name, custkey, spend)` mirroring
    * [[nationSpend]]. */
  private def nationSpendSql: String =
    """spend AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
      |  FROM orders GROUP BY 1),
      |j AS (
      |  SELECT n.n_name, s.o_custkey AS custkey, s.spend
      |  FROM spend s
      |  JOIN customer c ON c.c_custkey = s.o_custkey
      |  JOIN nation n ON n.n_nationkey = c.c_nationkey)""".stripMargin

  /** The centered 2×12 moving average of X-11 seasonal adjustment:
    * orders' monthly totals `(mo_s, keys…, total)` (exact decimal sums)
    * with `ma`, kept for the months that have six months on each side.
    * The MA is summed via explicit lag/lead terms in one left-associated
    * chain, NOT a window avg, so the double addition order is pinned on
    * both engines. The single-partition window is safe here: the
    * relation is one row per calendar month, bounded by the date span,
    * not the corpus. Callers snap money-magnitude outputs (total, ma) at
    * cents via floor(x·100 + 0.5)/100.0, not round(x, 6): at sf1d a
    * monthly total is ~4.3e9, and 6 decimals on top exceed a double's
    * 16 significant digits, where the engines' round() algorithms pick
    * different neighbouring doubles (round-14 sf1d sweep); the floor
    * idiom is pure IEEE ops, bit-identical on both engines and exact
    * until 2^53/100. Oracle twin: [[movingAvgSql]]. */
  private def movingAvg(s: SparkSession, dir: String, keys: Column*): DataFrame = {
    val m = Tables.orders(s, dir)
      .groupBy(unix_timestamp(date_trunc("month", col("o_orderdate"))).as("mo_s")
        +: keys: _*)
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
        .cast(DoubleType).as("total"))
    val o = Window.orderBy(col("mo_s").asc)
    val terms = lit(0.5) * lag(col("total"), 6).over(o) +
      lag(col("total"), 5).over(o) + lag(col("total"), 4).over(o) +
      lag(col("total"), 3).over(o) + lag(col("total"), 2).over(o) +
      lag(col("total"), 1).over(o) + col("total") +
      lead(col("total"), 1).over(o) + lead(col("total"), 2).over(o) +
      lead(col("total"), 3).over(o) + lead(col("total"), 4).over(o) +
      lead(col("total"), 5).over(o) + lit(0.5) * lead(col("total"), 6).over(o)
    m.withColumn("ma", terms / 12)
      .filter(col("ma").isNotNull)
  }

  /** DuckDB CTEs `m` (monthly totals, select items `keys` after `mo_s`)
    * and `w` (`m` plus the centered 2×12 `ma`, null at the ends),
    * mirroring [[movingAvg]]. */
  private def movingAvgSql(keys: String*): String =
    (("CAST(floor(epoch(date_trunc('month', o_orderdate))) AS BIGINT)\n      AS mo_s" +:
      keys) :+ "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total")
      .mkString("m AS (\n  SELECT ", ",\n    ",
        (1 to keys.size + 1).mkString("\n  FROM orders GROUP BY ", ", ", "),\n")) +
      """w AS (
        |  SELECT *,
        |    (0.5 * lag(total, 6) OVER o + lag(total, 5) OVER o + lag(total, 4) OVER o
        |      + lag(total, 3) OVER o + lag(total, 2) OVER o + lag(total, 1) OVER o
        |      + total + lead(total, 1) OVER o + lead(total, 2) OVER o
        |      + lead(total, 3) OVER o + lead(total, 4) OVER o + lead(total, 5) OVER o
        |      + 0.5 * lead(total, 6) OVER o) / 12 AS ma
        |  FROM m WINDOW o AS (ORDER BY mo_s))""".stripMargin

  /** The part-year price panel `(l_partkey, y, ep, qty)` of the
    * price-index family: lineitem shipped in years `y0`..`y1`, exact
    * DECIMAL(18,2) revenue and quantity sums per part and year, as
    * doubles. The ship-date filter is an explicit range, not
    * year(..).isin(..): the range pushes down to the parquet scan; a
    * year() wrap would not. Oracle twin: [[partYearSql]]. */
  private def partYears(s: SparkSession, dir: String, y0: Int, y1: Int): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit(s"$y0-01-01").cast(TimestampType) &&
        col("l_shipdate") < lit(s"${y1 + 1}-01-01").cast(TimestampType))
      .groupBy(col("l_partkey"), year(col("l_shipdate")).as("y"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("ep"),
        sum(col("l_quantity").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("qty"))

  /** Year-`y` value of panel column `c`, for a per-part pivot of
    * [[partYears]] (null when the part has no sales that year). */
  private def yv(y: Int, c: String): Column = max(when(col("y") === y, col(c)))

  /** Year-`y` unit value snapped to a ×10⁶ micro-unit long. */
  private def unitPrice(y: Int): Column =
    floor(yv(y, "ep") / yv(y, "qty") * 1000000 + 0.5).cast(LongType)

  /** Year-`y` quantity snapped to a ×10² long. */
  private def qtyFp(y: Int): Column = floor(yv(y, "qty") * 100 + 0.5).cast(LongType)

  /** Parts priced in both `y0` and `y1`: `(l_partkey, p0, p1, q0…,
    * ny)`, with the first `nq` of the quantities `q0, q1`, pivoted from
    * a panel holding no other years. Oracle twin: [[matchedSql]]. */
  private def matchedParts(py: DataFrame, y0: Int, y1: Int, nq: Int): DataFrame = {
    val qs = Seq(y0, y1).take(nq).zipWithIndex.map { case (y, i) => qtyFp(y).as(s"q$i") }
    py.groupBy(col("l_partkey"))
      .agg(unitPrice(y0).as("p0"),
        (unitPrice(y1).as("p1") +: qs :+ count(lit(1)).as("ny")): _*)
      .filter(col("ny") === 2)
  }

  /** DuckDB `py` CTE mirroring [[partYears]]. */
  private def partYearSql(y0: Int, y1: Int): String =
    s"""py AS (
       |  SELECT l_partkey, year(l_shipdate) AS y,
       |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS ep,
       |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
       |  FROM lineitem
       |  WHERE l_shipdate >= '$y0-01-01' AND l_shipdate < '${y1 + 1}-01-01'
       |  GROUP BY 1, 2)""".stripMargin

  /** SQL mirror of [[unitPrice]] over `py`. */
  private def unitPriceSql(y: Int): String =
    s"""CAST(floor(max(CASE WHEN y = $y THEN ep END)
       |      / max(CASE WHEN y = $y THEN qty END) * 1000000 + 0.5) AS BIGINT)""".stripMargin

  /** SQL mirror of [[qtyFp]] over `py`. */
  private def qtyFpSql(y: Int): String =
    s"CAST(floor(max(CASE WHEN y = $y THEN qty END) * 100 + 0.5) AS BIGINT)"

  /** CTE `name` mirroring [[matchedParts]] over `py`. */
  private def matchedSql(name: String, y0: Int, y1: Int, nq: Int): String =
    (Seq(s"${unitPriceSql(y0)} AS p0", s"${unitPriceSql(y1)} AS p1") ++
      Seq(y0, y1).take(nq).zipWithIndex.map { case (y, i) => s"${qtyFpSql(y)} AS q$i" })
      .mkString(s"$name AS (\n  SELECT l_partkey,\n    ", ",\n    ",
        s"\n  FROM py WHERE y IN ($y0, $y1) GROUP BY 1\n  HAVING count(*) = 2)")

  /** Monthly revenue per return flag `(f, mi, rev_c)`: `mi` is the
    * month index year·12 + month, `rev_c` the sum of exact-cent line
    * prices — ≤|months| rows per flag. Oracle twin:
    * [[monthlyRevenueSql]]. */
  private def monthlyRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag").as("f"),
        (year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
          .cast(LongType).as("mi"))
      .agg(sum(floor(col("l_extendedprice") * 100 + 0.5).cast(LongType))
        .as("rev_c"))

  /** DuckDB CTE `mo` mirroring [[monthlyRevenue]]. */
  private def monthlyRevenueSql: String =
    """mo AS (
      |  SELECT l_returnflag AS f,
      |    CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT) AS mi,
      |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS rev_c
      |  FROM lineitem GROUP BY 1, 2)""".stripMargin

  /** The Denton family's monthly indicator `(mo_s, yr, mfp)`: orders'
    * monthly totals in exact cents. */
  private def monthlyIndicator(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(
        unix_timestamp(date_trunc("month", col("o_orderdate"))).as("mo_s"),
        year(col("o_orderdate")).as("yr"))
      .agg(sum(floor(col("o_totalprice") * lit(100) + lit(0.5))
        .cast(LongType)).as("mfp"))

  /** The Denton family's annual control `(yr, cfp)`: each year's
    * order value rebuilt from its lines (price × discount × tax) in
    * exact ×10⁴ fixed point; an order without lines counts 0. Oracle
    * twin: [[annualControlSql]]. */
  private def annualControl(s: SparkSession, dir: String): DataFrame = {
    val lo = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount"))
        * (lit(1) + col("l_tax")) * lit(10000) + lit(0.5)).cast(LongType))
        .as("line_fp"))
    Tables.orders(s, dir)
      .join(lo, col("l_orderkey") === col("o_orderkey"), "left_outer")
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(sum(coalesce(col("line_fp"), lit(0L))).as("cfp"))
  }

  /** DuckDB CTEs `lo` and `ctl (yr, cfp)` mirroring [[annualControl]]. */
  private def annualControlSql: String =
    """lo AS (
      |  SELECT l_orderkey,
      |    CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
      |      * (1 + l_tax) * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS line_fp
      |  FROM lineitem GROUP BY l_orderkey),
      |ctl AS (
      |  SELECT year(o.o_orderdate) AS yr,
      |    CAST(sum(coalesce(lo.line_fp, 0)) AS BIGINT) AS cfp
      |  FROM orders o LEFT JOIN lo ON lo.l_orderkey = o.o_orderkey
      |  GROUP BY 1)""".stripMargin

  /** Shared oracle prefix for the monthly-OLS residual family
    * (etl_durbin_watson, etl_cooks_distance): the exact-cent monthly
    * revenue series per return flag ([[monthlyRevenueSql]]),
    * its per-flag OLS fit via the etl_regression_ols pinned double
    * chain, and the ×100-snapped residuals `e_fp` (BIGINT — squares go
    * HUGEINT at the use sites). One-sided edits fail verify. */
  private def monthlyOlsSql: String =
    s"""$monthlyRevenueSql,
      |m AS (
      |  SELECT f, CAST(count(*) AS BIGINT) AS n,
      |    CAST(CAST(sum(mi) AS HUGEINT) AS DOUBLE) AS sx,
      |    CAST(CAST(sum(rev_c) AS HUGEINT) AS DOUBLE) AS sy,
      |    CAST(CAST(sum(mi * rev_c) AS HUGEINT) AS DOUBLE) AS sxy,
      |    CAST(CAST(sum(mi * mi) AS HUGEINT) AS DOUBLE) AS sxx
      |  FROM mo GROUP BY f),
      |fit AS (
      |  SELECT f, n, sx, sxx,
      |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
      |    (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
      |      AS intercept
      |  FROM m),
      |r AS (
      |  SELECT mo.f, mo.mi, fit.n, fit.sx, fit.sxx,
      |    CAST(floor((CAST(mo.rev_c AS DOUBLE)
      |      - (fit.slope * mo.mi + fit.intercept)) * 100 + 0.5) AS BIGINT)
      |      AS e_fp
      |  FROM mo JOIN fit ON fit.f = mo.f)""".stripMargin

  /** Spark twin of [[monthlyOlsSql]]: (f, mi, n, sx, sxx, e_fp) — the
    * calendar-bounded residual relation (≤|months| rows per flag). */
  private def monthlyOlsResiduals(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val mo = monthlyRevenue(s, dir)
    val dec38 = DecimalType(38, 0)
    // sums over DECIMAL(38) inputs: exact like the oracle's HUGEINT
    // accumulation even where a raw long sum would saturate
    val m = mo.groupBy(col("f"))
      .agg(count(lit(1)).as("n"),
        sum(col("mi").cast(dec38)).cast(DoubleType).as("sx"),
        sum(col("rev_c").cast(dec38)).cast(DoubleType).as("sy"),
        sum((col("mi") * col("rev_c")).cast(dec38)).cast(DoubleType).as("sxy"),
        sum((col("mi") * col("mi")).cast(dec38)).cast(DoubleType).as("sxx"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    val fit = m.select(col("f"), col("n"), col("sx"), col("sxx"),
      (num / den).as("slope"),
      ((col("sy") - num / den * col("sx")) / col("n")).as("intercept"))
    mo.join(broadcast(fit), Seq("f"))
      .select(col("f"), col("mi"), col("n"), col("sx"), col("sxx"),
        floor((col("rev_c").cast(DoubleType)
          - (col("slope") * col("mi") + col("intercept"))) * 100 + 0.5)
          .cast(LongType).as("e_fp"))
  }
}

/** Shared fixed-weight loess machinery for the STL-family operators
  * (etl_stl_decompose, ev_stl_anomaly). On a uniformly spaced series a
  * tricube degree-1 loess collapses to a fixed weight vector, so the
  * weights are computed ONCE here, ×10⁶-snapped, and inlined as
  * integer literals into BOTH the Spark plan and the DuckDB oracle —
  * no cross-engine pow() drift is possible. Each smoothed value is
  * then a row-local weighted least squares over window lags: the five
  * sums (Sw, Sx, Sxx, Sy, Sxy, with presence indicators carrying
  * loess's boundary renormalization) are exact-integer combinations,
  * and only the final β₀ evaluation touches doubles (identical
  * operand order on both engines). */
private[operators] object Loess {
  /** tricube weight (1−u³)³ at integer offset k, half-width h,
    * snapped to a ×10⁶ integer literal shared by both engines */
  def w(k: Int, h: Int): Long = {
    val u = math.abs(k).toDouble / (h + 1)
    val v = 1.0 - u * u * u
    math.floor(v * v * v * 1e6 + 0.5).toLong
  }

  // ---- oracle-side (SQL text) generators --------------------------
  def nbSql(c: String, k: Int, win: String): String =
    if (k < 0) s"lag($c, ${-k}) OVER $win"
    else if (k > 0) s"lead($c, $k) OVER $win"
    else c

  /** The five weighted-LS sums over window `win` as SQL select items. */
  def sumsSql(c: String, ks: Seq[Int], h: Int, win: String): String = {
    def ind(k: Int, f: Long) =
      s"(CASE WHEN ${nbSql(c, k, win)} IS NOT NULL THEN $f ELSE 0 END)"
    def term(k: Int, f: Long) =
      s"($f * coalesce(${nbSql(c, k, win)}, 0))"
    val sw = ks.map(k => ind(k, w(k, h))).mkString(" + ")
    val sx = ks.map(k => ind(k, w(k, h) * k)).mkString(" + ")
    val sxx = ks.map(k => ind(k, w(k, h) * k * k)).mkString(" + ")
    val sy = ks.map(k => term(k, w(k, h))).mkString(" + ")
    val sxy = ks.map(k => term(k, w(k, h) * k)).mkString(" + ")
    s"CAST($sw AS BIGINT) AS sw, CAST($sx AS BIGINT) AS sx, " +
      s"CAST($sxx AS BIGINT) AS sxx, CAST($sy AS BIGINT) AS sy, " +
      s"CAST($sxy AS BIGINT) AS sxy"
  }

  /** Loess value at the center point (x = 0) from the sums, as a
    * snapped BIGINT; the det=0 guard can't fire on ≥2 distinct
    * offsets but is written identically on both engines. */
  val betaSql: String =
    """CAST(floor(CASE
      |    WHEN CAST(sw AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx = 0
      |    THEN CAST(sy AS DOUBLE) / sw
      |    ELSE (CAST(sxx AS DOUBLE) * sy - CAST(sx AS DOUBLE) * sxy)
      |      / (CAST(sw AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
      |  END + 0.5) AS BIGINT)""".stripMargin

  // ---- Spark-side (Column) builders -------------------------------
  def nb(c: Column, k: Int,
      win: org.apache.spark.sql.expressions.WindowSpec): Column =
    if (k < 0) lag(c, -k).over(win)
    else if (k > 0) lead(c, k).over(win) else c

  /** The five weighted-LS sums as aliased Columns (sw/sx/sxx/sy/sxy). */
  def sums(c: Column, ks: Seq[Int], h: Int,
      win: org.apache.spark.sql.expressions.WindowSpec): Seq[Column] = {
    def ind(k: Int, f: Long) =
      when(nb(c, k, win).isNotNull, lit(f)).otherwise(lit(0L))
    def term(k: Int, f: Long) = lit(f) * coalesce(nb(c, k, win), lit(0L))
    Seq(
      ks.map(k => ind(k, w(k, h))).reduce(_ + _).cast(LongType).as("sw"),
      ks.map(k => ind(k, w(k, h) * k)).reduce(_ + _).cast(LongType).as("sx"),
      ks.map(k => ind(k, w(k, h) * k * k)).reduce(_ + _).cast(LongType).as("sxx"),
      ks.map(k => term(k, w(k, h))).reduce(_ + _).cast(LongType).as("sy"),
      ks.map(k => term(k, w(k, h) * k)).reduce(_ + _).cast(LongType).as("sxy"))
  }

  /** Mirror of [[betaSql]] over the aliased sum columns. */
  def beta: Column = {
    val det = col("sw").cast(DoubleType) * col("sxx") -
      col("sx").cast(DoubleType) * col("sx")
    floor(when(det === 0.0, col("sy").cast(DoubleType) / col("sw"))
      .otherwise((col("sxx").cast(DoubleType) * col("sy") -
        col("sx").cast(DoubleType) * col("sxy")) / det) + lit(0.5))
      .cast(LongType)
  }
}
