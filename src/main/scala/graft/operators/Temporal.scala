package graft.operators

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Temporal operators over the event log: tumbling windows, gap-based
  * sessionization, funnels, as-of join, range join.
  *
  * The as-of join is the single-shuffle union+window formulation: tag
  * both sides, sort within the key partition by (ts, side), and carry
  * the last left-side row forward with `last(_, ignoreNulls)`. This is
  * the shape that scales — one shuffle on the join key, no per-key
  * loops, no range cross-product. The range join broadcasts the tiny
  * band table (non-equi broadcast join, never a cartesian of facts).
  */
object Temporal {

  private val dec2 = DecimalType(18, 2)

  /** Build an as-of join through the custom operator path
    * (plans/AsofJoin.scala): left-outer "latest right row with the
    * same key and time ≤ left time" with the given column names,
    * planned by the strategy GraftExtensions injects. */
  private[graft] def asofJoinNative(
      s: org.apache.spark.sql.SparkSession,
      left: org.apache.spark.sql.DataFrame,
      right: org.apache.spark.sql.DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String, rightTie: String,
      toleranceSec: Option[Long]): org.apache.spark.sql.DataFrame = {
    import graft.plans.AsofJoinPlan
    val lp = org.apache.spark.sql.GraftSqlBridge.analyzed(left)
    val rp = org.apache.spark.sql.GraftSqlBridge.analyzed(right)
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        n: String) = p.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"no column '$n' in ${p.output.map(_.name)}"))
    org.apache.spark.sql.GraftSqlBridge.ofRows(s,
      AsofJoinPlan(lp, rp, attr(lp, leftKey), attr(rp, rightKey),
        attr(lp, leftTime), attr(rp, rightTime), attr(rp, rightTie),
        toleranceSec))
  }

  val defs: Seq[(String, QueryDef)] = Seq(

    // ------------------------------------------------------------------
    "ev_window_agg" -> QueryDef.withOracle(
      """SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS win_start_s,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Tables.eventsTimed(s, dir)
        .groupBy(window(col("ts_us"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec2)).cast(DoubleType).as("sum_value"))
        .select(unix_timestamp(col("w.start")).as("win_start_s"),
          col("event_type"), col("n"), col("sum_value"))
    },

    // ------------------------------------------------------------------
    // Gap-based sessionization: a >30 min silence starts a new session.
    // Session ids are per-user ordinals → deterministic.
    "ev_sessionize" -> QueryDef.withOracle(
      """WITH e AS (
        |  SELECT user_id, event_id, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        |  FROM events),
        |g AS (
        |  SELECT *, CASE WHEN prev_s IS NULL OR ts_s - prev_s > 1800 THEN 1 ELSE 0 END AS new_sess
        |  FROM (SELECT *, lag(ts_s) OVER (PARTITION BY user_id
        |          ORDER BY ts_s ASC, event_id ASC) AS prev_s FROM e)),
        |t AS (
        |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY ts_s ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_seq
        |  FROM g)
        |SELECT user_id, CAST(sess_seq AS BIGINT) AS sess_seq,
        |  count(*) AS n_events,
        |  min(ts_s) AS sess_start_s, max(ts_s) AS sess_end_s,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sess_value
        |FROM t GROUP BY user_id, sess_seq""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_s").asc, col("event_id").asc)
      Tables.eventsTimed(s, dir)
        .withColumn("prev_s", lag(col("ts_s"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_s").isNull || col("ts_s") - col("prev_s") > 1800, 1).otherwise(0))
        .withColumn("sess_seq",
          sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sess_seq"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_s")).as("sess_start_s"),
          max(col("ts_s")).as("sess_end_s"),
          sum(col("value").cast(dec2)).cast(DoubleType).as("sess_value"))
    },

    // ------------------------------------------------------------------
    // Signup→purchase funnel: first purchase at-or-after first signup.
    // Two keyed aggregations + one keyed join — all on user_id.
    "ev_funnel" -> QueryDef.withOracle(
      """WITH su AS (
        |  SELECT user_id, min(CAST(floor(epoch(ts)) AS BIGINT)) AS signup_s
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |pu AS (
        |  SELECT e.user_id, su.signup_s,
        |    min(CAST(floor(epoch(e.ts)) AS BIGINT)) AS first_purchase_s
        |  FROM events e JOIN su ON e.user_id = su.user_id
        |  WHERE e.event_type = 'purchase'
        |    AND CAST(floor(epoch(e.ts)) AS BIGINT) >= su.signup_s
        |  GROUP BY e.user_id, su.signup_s)
        |SELECT user_id, signup_s, first_purchase_s,
        |  first_purchase_s - signup_s AS conversion_delay_s
        |FROM pu""".stripMargin) { (s, dir) =>
      val ev = Tables.eventsTimed(s, dir)
      val su = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts_s")).as("signup_s"))
      ev.filter(col("event_type") === "purchase")
        .join(su, "user_id")
        .filter(col("ts_s") >= col("signup_s"))
        .groupBy(col("user_id"), col("signup_s"))
        .agg(min(col("ts_s")).as("first_purchase_s"))
        .withColumn("conversion_delay_s", col("first_purchase_s") - col("signup_s"))
    },

    // ------------------------------------------------------------------
    // As-of join: each purchase matched to the user's most recent click
    // at-or-before it. Single shuffle on user_id via union+window.
    "asof_join" -> QueryDef.withOracle(
      asofSql("click_id, click_ts_s, ts_s - click_ts_s AS gap_s")) { (s, dir) =>
      latestClick(s, dir, "click_id", "click_ts_s")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts_s").as("purchase_ts_s"), col("click_id"), col("click_ts_s"),
          (col("ts_s") - col("click_ts_s")).as("gap_s"))
    },

    // ------------------------------------------------------------------
    // The SAME as-of semantics through the custom whole-operator path:
    // AsofJoinPlan (logical) → AsofJoinStrategy → AsofJoinExec — a
    // sort-merge physical operator with O(1) carried state per
    // partition (plans/AsofJoin.scala). Two keyed shuffles + two
    // per-partition sorts, both declared through
    // requiredChildDistribution/Ordering so bucketed inputs skip them;
    // vs the window formulation above, the right side STREAMS (no
    // per-user window buffer) and only purchases scan twice. Identical
    // oracle to asof_join — the custom exec must reproduce the window
    // plan's answer bit-for-bit (AsofNativeSpec also asserts
    // row-equality between the two operators and the physical shape).
    "asof_join_native" -> QueryDef.withOracle(
      asofSql("click_id, click_ts_s, ts_s - click_ts_s AS gap_s")) { (s, dir) =>
      val ev = Tables.eventsTimed(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts_s"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("r_user_id"),
          col("event_id").as("click_id"), col("ts_s").as("click_ts_s"))
      asofJoinNative(s, purchases, clicks,
        "user_id", "r_user_id", "ts_s", "click_ts_s", "click_id", None)
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts_s").as("purchase_ts_s"), col("click_id"), col("click_ts_s"),
          (col("ts_s") - col("click_ts_s")).as("gap_s"))
    },

    // ------------------------------------------------------------------
    // Cohort retention matrix: users bucketed by first-seen week, then
    // counted per (cohort, weeks-since-cohort) — the standard product
    // analytics triangle. Two keyed aggregations + one keyed join, all
    // on user_id / the (cohort, offset) pair; week ids are integer
    // division on floored epoch seconds (cross-engine exact).
    "ev_retention" -> QueryDef.withOracle(
      """WITH e AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS week
        |  FROM events),
        |f AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY user_id),
        |a AS (SELECT DISTINCT e.user_id, f.cohort_week,
        |        e.week - f.cohort_week AS week_offset
        |      FROM e JOIN f ON e.user_id = f.user_id)
        |SELECT cohort_week, week_offset, count(*) AS n_active
        |FROM a GROUP BY cohort_week, week_offset""".stripMargin) { (s, dir) =>
      val e = Tables.eventsTimed(s, dir)
        // integer div, not double-divide-then-truncate (boundary-safe)
        .select(col("user_id"), expr("ts_s div 604800").as("week"))
      val cohort = e.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
      e.join(cohort, "user_id")
        .select(col("user_id"), col("cohort_week"),
          (col("week") - col("cohort_week")).as("week_offset"))
        .distinct()
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(count(lit(1)).as("n_active"))
    },

    // ------------------------------------------------------------------
    // Outlier flagging from exact per-group moments (the q21 protocol:
    // decimal power sums → double mean/std with an expression shape
    // shared verbatim with the oracle). One aggregation + one broadcast
    // join back to the stream — no window over the full event log.
    "ev_anomaly" -> QueryDef.withOracle(
      """WITH stats AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(CAST(value AS DECIMAL(18,2))) AS s1,
        |    sum(CAST(value * value AS DECIMAL(18,4))) AS s2
        |  FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type, e.value,
        |  round((e.value - CAST(s.s1 AS DOUBLE) / s.n) /
        |    sqrt((CAST(s.s2 AS DOUBLE) - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE) / s.n)
        |         / (s.n - 1)), 9) AS z,
        |  abs((e.value - CAST(s.s1 AS DOUBLE) / s.n) /
        |    sqrt((CAST(s.s2 AS DOUBLE) - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE) / s.n)
        |         / (s.n - 1))) > 3 AS is_anomaly
        |FROM events e JOIN stats s ON e.event_type = s.event_type""".stripMargin) { (s, dir) =>
      val stats = Tables.events(s, dir)
        .groupBy(col("event_type").as("st_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec2)).as("s1"),
          sum((col("value") * col("value")).cast(DecimalType(18, 4))).as("s2"))
      val mean = col("s1").cast(DoubleType) / col("n")
      val variance = (col("s2").cast(DoubleType) -
        col("s1").cast(DoubleType) * col("s1").cast(DoubleType) / col("n")) /
        (col("n") - 1)
      val z = (col("value") - mean) / sqrt(variance)
      Tables.events(s, dir)
        .join(broadcast(stats), col("event_type") === col("st_type"))
        .select(col("event_id"), col("event_type"), col("value"),
          round(z, 9).as("z"), (abs(z) > 3).as("is_anomaly"))
    },

    // ------------------------------------------------------------------
    // Range join against a tiny band table: broadcast non-equi join.
    "range_join" -> QueryDef.withOracle(
      """SELECT b.band_label, count(*) AS n,
        |  CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e
        |JOIN (VALUES ('b0_low', 0, 100), ('b1_mid', 100, 200), ('b2_high', 200, 300),
        |             ('b3_vhigh', 300, 400), ('b4_top', 400, 1000000)) b(band_label, lo, hi)
        |  ON e.value >= b.lo AND e.value < b.hi
        |GROUP BY b.band_label""".stripMargin) { (s, dir) =>
      import s.implicits._
      val bands = Seq(
        ("b0_low", 0, 100), ("b1_mid", 100, 200), ("b2_high", 200, 300),
        ("b3_vhigh", 300, 400), ("b4_top", 400, 1000000))
        .toDF("band_label", "lo", "hi")
      Tables.events(s, dir)
        .join(broadcast(bands), col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy(col("band_label"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec2)).cast(DoubleType).as("sum_value"))
    },

    // ------------------------------------------------------------------
    // First-order Markov transition matrix over per-user event
    // sequences: P(next_type | type), the session-model behind
    // next-action prediction and funnel drop-off analysis. The lead()
    // window is per-user (bounded partitions), the transition table is
    // |types|² rows, and the probabilities divide exact integer counts
    // — one bounded window + one keyed agg at any corpus size.
    "ev_markov_transitions" -> QueryDef.withOracle(
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS next_type
        |  FROM events),
        |t AS (
        |  SELECT event_type AS from_type, next_type AS to_type,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round(n * 1.0 / (sum(n) OVER (PARTITION BY from_type)), 9) AS p
        |FROM t""".stripMargin) { (s, dir) =>
      val wSeq = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_s"), col("event_id"))
      val wFrom = Window.partitionBy(col("from_type"))
      Tables.eventsTimed(s, dir)
        .withColumn("next_type", lead(col("event_type"), 1).over(wSeq))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", round(col("n") * lit(1.0) / sum(col("n")).over(wFrom), 9))
    },

    // ------------------------------------------------------------------
    // Markov entropy rate — how predictable the event stream is, in
    // nats per step (the single number comparing session models: 0 =
    // deterministic clickpaths, ln|types| = white noise; the scalar
    // companion to ev_markov_transitions the way etl_gini is to
    // etl_lorenz_curve). Plug-in estimator H = Σᵢ πᵢ·Hᵢ with
    // Hᵢ = −Σⱼ p̂ᵢⱼ ln p̂ᵢⱼ and πᵢ the empirical from-state occupancy.
    // Same one bounded per-user lead window + |types|² keyed agg as
    // the transition matrix; each p·ln p term snaps ×10⁹ to a long
    // before its per-state sum, and each πᵢ·Hᵢ term snaps before the
    // ≤|types|-row global sum — both cross-row float accumulations are
    // exact-integer.
    "ev_markov_entropy" -> QueryDef.withOracle(
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS next_type
        |  FROM events),
        |t AS (
        |  SELECT event_type AS from_type, next_type AS to_type,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS ni FROM t GROUP BY 1),
        |h AS (
        |  SELECT t.from_type, r.ni,
        |    CAST(sum(CAST(floor((t.n * 1.0 / r.ni) * ln(t.n * 1.0 / r.ni)
        |      * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS s_fp
        |  FROM t JOIN r USING (from_type) GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(ni) AS BIGINT) AS nn FROM h),
        |e AS (
        |  SELECT CAST(sum(CAST(floor(CAST(h.ni AS DOUBLE) / tot.nn * (0 - h.s_fp)
        |    + 0.5) AS BIGINT)) AS BIGINT) AS rate_fp
        |  FROM h CROSS JOIN tot)
        |SELECT h.from_type, h.ni AS n_transitions,
        |  floor(CAST(h.ni AS DOUBLE) / tot.nn * 1e9 + 0.5) / 1.0e9 AS p_state,
        |  (0 - h.s_fp) / 1.0e9 AS h_state,
        |  e.rate_fp / 1.0e9 AS entropy_rate
        |FROM h CROSS JOIN tot CROSS JOIN e""".stripMargin) { (s, dir) =>
      val wSeq = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_s"), col("event_id"))
      val t = Tables.eventsTimed(s, dir)
        .withColumn("next_type", lead(col("event_type"), 1).over(wSeq))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val r = t.groupBy(col("from_type")).agg(sum(col("n")).as("ni"))
      val p = col("n") * lit(1.0) / col("ni")
      val h = t.join(broadcast(r), Seq("from_type"))
        .groupBy(col("from_type"), col("ni"))
        .agg(sum(floor(p * log(p) * lit(1.0e9) + 0.5).cast(LongType))
          .as("s_fp"))
        .persist() // ≤|types| rows; totals, the rate and the output
      val tot = h.agg(sum(col("ni")).as("nn"))
      val e = h.crossJoin(broadcast(tot))
        .agg(sum(floor(col("ni").cast(DoubleType) / col("nn")
          * (lit(0L) - col("s_fp")) + 0.5).cast(LongType)).as("rate_fp"))
      h.crossJoin(broadcast(tot)).crossJoin(broadcast(e))
        .select(col("from_type"), col("ni").as("n_transitions"),
          (floor(col("ni").cast(DoubleType) / col("nn") * lit(1.0e9) + 0.5)
            / lit(1.0e9)).as("p_state"),
          ((lit(0L) - col("s_fp")) / lit(1.0e9)).as("h_state"),
          (col("rate_fp") / lit(1.0e9)).as("entropy_rate"))
    },

    // ------------------------------------------------------------------
    // Kendall tau-b between the daily click and purchase series — the
    // rank-correlation companion to ev_autocorrelation's linear view
    // ("do heavy-click days tend to be heavy-purchase days" without
    // assuming linearity; tau's O(n²) pair count is exactly why it is
    // computed on the CALENDAR-BOUNDED daily relation, never raw
    // events). One corpus agg to (day, n_click, n_purchase); the day²
    // pair join rides that bookkeeping relation (broadcast one side —
    // days², not rows²); concordant/discordant/tie counts are exact
    // integers and only the final tau divides as doubles.
    "ev_kendall_tau" -> QueryDef.withOracle(
      s"""WITH $clickPurchaseDaysSql,
        |p AS (
        |  SELECT
        |    CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(CASE WHEN (b.x - a.x) * (b.y - a.y) > 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS concordant,
        |    CAST(sum(CASE WHEN (b.x - a.x) * (b.y - a.y) < 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS discordant,
        |    CAST(sum(CASE WHEN b.x = a.x THEN 1 ELSE 0 END) AS BIGINT) AS tied_x,
        |    CAST(sum(CASE WHEN b.y = a.y THEN 1 ELSE 0 END) AS BIGINT) AS tied_y
        |  FROM d a JOIN d b ON b.day > a.day),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM d)
        |SELECT nd.n_days, p.n_pairs, p.concordant, p.discordant,
        |  p.tied_x, p.tied_y,
        |  floor((p.concordant - p.discordant)
        |    / sqrt(CAST(p.n_pairs - p.tied_x AS DOUBLE)
        |           * (p.n_pairs - p.tied_y)) * 1e9 + 0.5) / 1.0e9 AS tau_b
        |FROM p CROSS JOIN nd""".stripMargin) { (s, dir) =>
      val d = clickPurchaseDays(s, dir)
        .persist() // calendar-bounded; both pair-join sides + the count
      val a = d.select(col("day").as("da"), col("x").as("xa"), col("y").as("ya"))
      val b = d.select(col("day").as("db"), col("x").as("xb"), col("y").as("yb"))
      val prod = (col("xb") - col("xa")) * (col("yb") - col("ya"))
      val p = a.join(broadcast(b), col("db") > col("da"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(prod > 0, 1L).otherwise(0L)).as("concordant"),
          sum(when(prod < 0, 1L).otherwise(0L)).as("discordant"),
          sum(when(col("xb") === col("xa"), 1L).otherwise(0L)).as("tied_x"),
          sum(when(col("yb") === col("ya"), 1L).otherwise(0L)).as("tied_y"))
      val nd = d.agg(count(lit(1)).as("n_days"))
      p.crossJoin(broadcast(nd))
        .select(col("n_days"), col("n_pairs"), col("concordant"),
          col("discordant"), col("tied_x"), col("tied_y"),
          (floor((col("concordant") - col("discordant"))
            / sqrt((col("n_pairs") - col("tied_x")).cast(DoubleType)
              * (col("n_pairs") - col("tied_y"))) * lit(1.0e9) + 0.5)
            / lit(1.0e9)).as("tau_b"))
    },

    // ------------------------------------------------------------------
    // Hill tail-index estimator — how heavy the value distribution's
    // upper tail is (α < 2 ⇒ infinite variance: the number that says
    // whether mean±3σ screens like ev_anomaly are even meaningful, and
    // the standard opening move of extreme-value analysis). Hill over
    // the k = 50 largest order statistics per type with the 51st as
    // threshold t: H = (1/k)·Σ_{v>t} cnt·ln(v/t) (ties AT t contribute
    // ln 1 = 0, so only the strictly-above slice sums), α = 1/H. The
    // corpus collapses ONCE to the bounded 2-dp (type, value, cnt)
    // domain relation; the top-of-tail window rides THAT (the
    // etl_mann_whitney bookkeeping argument), and each ln term snaps
    // ×10⁹ to a long × its exact multiplicity before the sum.
    "ev_hill_tail" -> QueryDef.withOracle(
      """WITH c AS (
        |  SELECT event_type, value, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events WHERE value > 0 GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, value, cnt,
        |    CAST(coalesce(sum(cnt) OVER (PARTITION BY event_type
        |      ORDER BY value DESC ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS BIGINT) AS above
        |  FROM c),
        |th AS (
        |  SELECT event_type, value AS t, above AS n_tail
        |  FROM w WHERE above < 51 AND above + cnt >= 51),
        |s AS (
        |  SELECT w.event_type, th.t, th.n_tail,
        |    CAST(sum(CAST(floor(ln(w.value / th.t) * 1000000000 + 0.5)
        |      AS BIGINT) * w.cnt) AS BIGINT) AS s_fp
        |  FROM w JOIN th USING (event_type) WHERE w.value > th.t
        |  GROUP BY 1, 2, 3)
        |SELECT event_type, CAST(50 AS BIGINT) AS k, t AS threshold, n_tail,
        |  floor(CAST(s_fp AS DOUBLE) / 50 / 1e9 * 1e9 + 0.5) / 1.0e9
        |    AS hill_h,
        |  CASE WHEN s_fp = 0 THEN 0.0
        |    ELSE floor(50.0 * 1e9 / s_fp * 1e6 + 0.5) / 1.0e6 END
        |    AS tail_index
        |FROM s""".stripMargin) { (s, dir) =>
      val c = Tables.events(s, dir)
        .filter(col("value") > 0)
        .groupBy(col("event_type"), col("value"))
        .agg(count(lit(1)).as("cnt"))
        .persist() // bounded 2-dp domain; the tail window + the term join
      val wAbove = Window.partitionBy(col("event_type"))
        .orderBy(col("value").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val w = c.withColumn("above", coalesce(sum(col("cnt")).over(wAbove),
        lit(0L)))
      val th = w.filter(col("above") < 51 && col("above") + col("cnt") >= 51)
        .select(col("event_type"), col("value").as("t"),
          col("above").as("n_tail"))
      val sFp = w.join(broadcast(th), Seq("event_type"))
        .filter(col("value") > col("t"))
        .groupBy(col("event_type"), col("t"), col("n_tail"))
        .agg(sum(floor(log(col("value") / col("t")) * lit(1.0e9) + 0.5)
          .cast(LongType) * col("cnt")).as("s_fp"))
      sFp.select(col("event_type"), lit(50L).as("k"),
        col("t").as("threshold"), col("n_tail"),
        (floor(col("s_fp").cast(DoubleType) / 50 / lit(1.0e9) * lit(1.0e9)
          + 0.5) / lit(1.0e9)).as("hill_h"),
        when(col("s_fp") === 0L, lit(0.0))
          .otherwise(floor(lit(50.0) * lit(1.0e9) / col("s_fp") * lit(1.0e6)
            + 0.5) / lit(1.0e6)).as("tail_index"))
    },

    // ------------------------------------------------------------------
    // Poisson dispersion test — are daily event counts actually
    // Poisson, or clumpy (the assumption check behind every rate-based
    // alert threshold; overdispersion means Poisson control limits
    // fire constantly)? Index of dispersion D = s²/x̄ over the per-type
    // daily counts; (N−1)·D ~ χ²_{N−1} under H₀, flagged with the
    // normal approximation |z| > 1.96 where z = √(2·(N−1)·D) −
    // √(2·(N−1)−1). ONE corpus agg to (type, day), then exact integer
    // moment sums over the calendar-bounded relation; the D/z double
    // chain is pinned and ×10⁶-snapped.
    "ev_dispersion_test" -> QueryDef.withOracle(
      s"""WITH ${dailyCountsSql("d")},
        |m AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
        |    CAST(sum(n) AS BIGINT) AS s1,
        |    CAST(sum(n * n) AS BIGINT) AS s2
        |  FROM d GROUP BY 1)
        |SELECT event_type, nd AS n_days,
        |  floor(CAST(s1 AS DOUBLE) / nd * 1e6 + 0.5) / 1.0e6 AS mean_daily,
        |  floor((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / nd) / (nd - 1)
        |    / (CAST(s1 AS DOUBLE) / nd) * 1e6 + 0.5) / 1.0e6 AS dispersion,
        |  floor((sqrt(2 * (nd - 1.0)
        |      * ((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / nd) / (nd - 1)
        |         / (CAST(s1 AS DOUBLE) / nd)))
        |    - sqrt(2 * (nd - 1.0) - 1)) * 1e6 + 0.5) / 1.0e6 AS z,
        |  abs(floor((sqrt(2 * (nd - 1.0)
        |      * ((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / nd) / (nd - 1)
        |         / (CAST(s1 AS DOUBLE) / nd)))
        |    - sqrt(2 * (nd - 1.0) - 1)) * 1e6 + 0.5) / 1.0e6) > 1.96
        |    AS overdispersed
        |FROM m""".stripMargin) { (s, dir) =>
      val m = dailyCounts(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("nd"), sum(col("n")).as("s1"),
          sum(col("n") * col("n")).as("s2"))
      val disp = (col("s2").cast(DoubleType)
        - col("s1").cast(DoubleType) * col("s1") / col("nd")) / (col("nd") - 1) /
        (col("s1").cast(DoubleType) / col("nd"))
      val z = floor((sqrt(lit(2) * (col("nd") - lit(1.0)) * disp)
        - sqrt(lit(2) * (col("nd") - lit(1.0)) - 1)) * lit(1.0e6) + 0.5) /
        lit(1.0e6)
      m.select(col("event_type"), col("nd").as("n_days"),
        (floor(col("s1").cast(DoubleType) / col("nd") * lit(1.0e6) + 0.5)
          / lit(1.0e6)).as("mean_daily"),
        (floor(disp * lit(1.0e6) + 0.5) / lit(1.0e6)).as("dispersion"),
        z.as("z"), (abs(z) > 1.96).as("overdispersed"))
    },

    // ------------------------------------------------------------------
    // Spectral entropy — ONE number per type for "seasonal or noisy?"
    // (the scalar the periodogram's 8-row profile collapses to: ≈0 when
    // one frequency carries everything, 1 under white noise; the
    // automatic triage before eyeballing ev_dft_spectrum, and the
    // feature a forecast-model selector thresholds on). H = −Σ share·
    // ln share / ln 8 over the SHARED exact-integer periodogram
    // relation (dftPowerSql verbatim — one-sided edits fail verify);
    // each share·ln share term ×10⁹-snaps to a long before the ≤8-row
    // sum. Everything after the corpus collapse is bookkeeping.
    "ev_spectral_entropy" -> QueryDef.withOracle(
      s"""WITH $dftPowerSql,
        |tp AS (SELECT event_type, CAST(sum(p_fp) AS BIGINT) AS ptot
        |       FROM p GROUP BY 1),
        |sh AS (
        |  SELECT p.event_type,
        |    CAST(sum(CASE WHEN p.p_fp = 0 THEN 0
        |      ELSE CAST(floor((CAST(p.p_fp AS DOUBLE) / tp.ptot)
        |        * ln(CAST(p.p_fp AS DOUBLE) / tp.ptot) * 1000000000 + 0.5)
        |        AS BIGINT) END) AS BIGINT) AS s_fp,
        |    CAST(count(*) AS BIGINT) AS nk
        |  FROM p JOIN tp USING (event_type) GROUP BY 1)
        |SELECT event_type, nk AS n_freqs,
        |  floor((0 - s_fp) / 1e9 / ln(CAST(nk AS DOUBLE)) * 1e9 + 0.5) / 1.0e9
        |    AS spectral_entropy
        |FROM sh""".stripMargin) { (s, dir) =>
      val p = dftPower(s, dir).persist() // ≤8·|types| rows
      val tp = p.groupBy(col("event_type")).agg(sum(col("p_fp")).as("ptot"))
      val share = col("p_fp").cast(DoubleType) / col("ptot")
      val sh = p.join(broadcast(tp), "event_type")
        .groupBy(col("event_type"))
        .agg(sum(when(col("p_fp") === 0L, 0L)
          .otherwise(floor(share * log(share) * lit(1.0e9) + 0.5)
            .cast(LongType))).as("s_fp"),
          count(lit(1)).as("nk"))
      sh.select(col("event_type"), col("nk").as("n_freqs"),
        (floor((lit(0L) - col("s_fp")) / lit(1.0e9)
          / log(col("nk").cast(DoubleType)) * lit(1.0e9) + 0.5)
          / lit(1.0e9)).as("spectral_entropy"))
    },

    // ------------------------------------------------------------------
    // Wald-Wolfowitz runs test — is the daily up/down pattern random,
    // or does it trend/oscillate (the nonparametric randomness check
    // run on residuals after every fit; too FEW runs = trending, too
    // MANY = oscillating)? Signs of day-over-day count changes per
    // type (zero changes dropped, the standard treatment), R = number
    // of sign runs, z = (R − μ)/σ with μ = 2n₊n₋/n + 1. The corpus
    // collapses once to (type, day); the lag window and run-boundary
    // count ride that calendar-bounded relation; all counts exact
    // integers, the z chain pinned doubles ×10⁶.
    "ev_runs_test" -> QueryDef.withOracle(
      s"""WITH ${dailyCountsSql("d")},
        |s AS (
        |  SELECT event_type, day,
        |    CASE WHEN n > lag(n) OVER w THEN 1
        |         WHEN n < lag(n) OVER w THEN -1 END AS sgn
        |  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day ASC)),
        |s2 AS (
        |  SELECT event_type, day, sgn,
        |    lag(sgn) OVER (PARTITION BY event_type ORDER BY day ASC)
        |      AS prev_sgn
        |  FROM s WHERE sgn IS NOT NULL),
        |m AS (
        |  SELECT event_type,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
        |    CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_down,
        |    CAST(sum(CASE WHEN prev_sgn IS NULL OR sgn <> prev_sgn
        |      THEN 1 ELSE 0 END) AS BIGINT) AS runs
        |  FROM s2 GROUP BY 1)
        |SELECT event_type, n, n_up, n_down, runs,
        |  floor((2.0 * n_up * n_down / n + 1) * 1e6 + 0.5) / 1.0e6
        |    AS expected_runs,
        |  floor((runs - (2.0 * n_up * n_down / n + 1))
        |    / sqrt((2.0 * n_up * n_down * (2.0 * n_up * n_down - n))
        |           / (CAST(n AS DOUBLE) * n * (n - 1))) * 1e6 + 0.5) / 1.0e6
        |    AS z,
        |  abs(floor((runs - (2.0 * n_up * n_down / n + 1))
        |    / sqrt((2.0 * n_up * n_down * (2.0 * n_up * n_down - n))
        |           / (CAST(n AS DOUBLE) * n * (n - 1))) * 1e6 + 0.5) / 1.0e6)
        |    > 1.96 AS reject_randomness
        |FROM m""".stripMargin) { (s, dir) =>
      val d = dailyCounts(s, dir)
      val w = Window.partitionBy(col("event_type")).orderBy(col("day").asc)
      val sgn = when(col("n") > lag(col("n"), 1).over(w), 1)
        .when(col("n") < lag(col("n"), 1).over(w), -1)
      val s2 = d.withColumn("sgn", sgn)
        .filter(col("sgn").isNotNull)
        .withColumn("prev_sgn", lag(col("sgn"), 1).over(w))
      val m = s2.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("n_up"),
          sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("n_down"),
          sum(when(col("prev_sgn").isNull ||
            col("sgn") =!= col("prev_sgn"), 1L).otherwise(0L)).as("runs"))
      val mu = lit(2.0) * col("n_up") * col("n_down") / col("n") + 1
      val sig = sqrt((lit(2.0) * col("n_up") * col("n_down")
        * (lit(2.0) * col("n_up") * col("n_down") - col("n")))
        / (col("n").cast(DoubleType) * col("n") * (col("n") - 1)))
      val z = floor((col("runs") - mu) / sig * lit(1.0e6) + 0.5) / lit(1.0e6)
      m.select(col("event_type"), col("n"), col("n_up"), col("n_down"),
        col("runs"),
        (floor(mu * lit(1.0e6) + 0.5) / lit(1.0e6)).as("expected_runs"),
        z.as("z"), (abs(z) > 1.96).as("reject_randomness"))
    },

    // ------------------------------------------------------------------
    // Turning-point test — the second nonparametric randomness check
    // next to ev_runs_test, counting strict local maxima/minima of the
    // daily count series per type (an iid series has E[T] = 2(n−2)/3,
    // Var = (16n−29)/90; too few turning points = smooth trend, too
    // many = high-frequency oscillation). Interior-point lag/lead
    // windows ride the calendar-bounded daily relation; counts exact
    // integers, z pinned ×10⁶. Ties break neither condition (strict
    // inequalities — the standard treatment).
    "ev_turning_points" -> QueryDef.withOracle(
      s"""WITH ${dailyCountsSql("d")},
        |s AS (
        |  SELECT event_type, n,
        |    lag(n) OVER w AS prev, lead(n) OVER w AS next
        |  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day ASC)),
        |m AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
        |    CAST(sum(CASE WHEN prev IS NOT NULL AND next IS NOT NULL
        |      AND ((n > prev AND n > next) OR (n < prev AND n < next))
        |      THEN 1 ELSE 0 END) AS BIGINT) AS t
        |  FROM s GROUP BY 1)
        |SELECT event_type, nd, t AS turning_points,
        |  floor(2.0 * (nd - 2) / 3 * 1e6 + 0.5) / 1.0e6 AS expected_tp,
        |  floor((t - 2.0 * (nd - 2) / 3)
        |    / sqrt((16.0 * nd - 29) / 90) * 1e6 + 0.5) / 1.0e6 AS z,
        |  abs(floor((t - 2.0 * (nd - 2) / 3)
        |    / sqrt((16.0 * nd - 29) / 90) * 1e6 + 0.5) / 1.0e6) > 1.96
        |    AS reject_randomness
        |FROM m""".stripMargin) { (s, dir) =>
      val d = dailyCounts(s, dir)
      val w = Window.partitionBy(col("event_type")).orderBy(col("day").asc)
      val sdf = d.select(col("event_type"), col("n"),
        lag(col("n"), 1).over(w).as("prev"), lead(col("n"), 1).over(w).as("next"))
      val isTp = col("prev").isNotNull && col("next").isNotNull &&
        ((col("n") > col("prev") && col("n") > col("next")) ||
         (col("n") < col("prev") && col("n") < col("next")))
      val m = sdf.groupBy(col("event_type"))
        .agg(count(lit(1)).as("nd"),
          sum(when(isTp, 1L).otherwise(0L)).as("t"))
      val mu = lit(2.0) * (col("nd") - 2) / 3
      val z = floor((col("t") - mu)
        / sqrt((lit(16.0) * col("nd") - 29) / 90) * lit(1.0e6) + 0.5) /
        lit(1.0e6)
      m.select(col("event_type"), col("nd"), col("t").as("turning_points"),
        (floor(mu * lit(1.0e6) + 0.5) / lit(1.0e6)).as("expected_tp"),
        z.as("z"), (abs(z) > 1.96).as("reject_randomness"))
    },

    // ------------------------------------------------------------------
    // Records test — are new daily-count highs arriving faster than an
    // exchangeable series would produce them (the trend detector that
    // needs NO distributional assumption at all: under iid, day k is a
    // record with probability exactly 1/k, so E[R] = H_n and
    // Var[R] = Σ(1/k − 1/k²))? The running-max window rides the
    // calendar-bounded daily relation; the harmonic expectation and
    // variance sum per-term ×10⁹-snapped integers (no cross-engine
    // double addition order), z pinned ×10⁶. Day 1 counts as a record
    // (k = 1 term included), ties are not records.
    "ev_records_test" -> QueryDef.withOracle(
      s"""WITH ${dailyCountsSql("d")},
        |s AS (
        |  SELECT event_type, n,
        |    CAST(row_number() OVER w AS BIGINT) AS k,
        |    max(n) OVER (PARTITION BY event_type ORDER BY day ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day ASC)),
        |m AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
        |    CAST(sum(CASE WHEN prev_max IS NULL OR n > prev_max
        |      THEN 1 ELSE 0 END) AS BIGINT) AS r,
        |    CAST(sum(CAST(floor(1e9 / CAST(k AS DOUBLE) + 0.5) AS BIGINT))
        |      AS BIGINT) AS exp_fp,
        |    CAST(sum(CAST(floor(1.0e9 * (k - 1) / (k * k) + 0.5) AS BIGINT))
        |      AS BIGINT) AS var_fp
        |  FROM s GROUP BY 1)
        |SELECT event_type, nd, r AS n_records,
        |  exp_fp / 1.0e9 AS expected_records,
        |  floor((CAST(r AS DOUBLE) - CAST(exp_fp AS DOUBLE) / 1e9)
        |    / sqrt(CAST(var_fp AS DOUBLE) / 1e9) * 1e6 + 0.5) / 1.0e6 AS z,
        |  floor((CAST(r AS DOUBLE) - CAST(exp_fp AS DOUBLE) / 1e9)
        |    / sqrt(CAST(var_fp AS DOUBLE) / 1e9) * 1e6 + 0.5) / 1.0e6 > 1.96
        |    AS trending_up
        |FROM m""".stripMargin) { (s, dir) =>
      val d = dailyCounts(s, dir)
      val w = Window.partitionBy(col("event_type")).orderBy(col("day").asc)
      val sdf = d.select(col("event_type"), col("n"),
        row_number().over(w).cast(LongType).as("k"),
        max(col("n")).over(w.rowsBetween(Window.unboundedPreceding, -1))
          .as("prev_max"))
      val m = sdf.groupBy(col("event_type"))
        .agg(count(lit(1)).as("nd"),
          sum(when(col("prev_max").isNull || col("n") > col("prev_max"), 1L)
            .otherwise(0L)).as("r"),
          sum(floor(lit(1.0e9) / col("k").cast(DoubleType) + 0.5)
            .cast(LongType)).as("exp_fp"),
          sum(floor(lit(1.0e9) * (col("k") - 1) / (col("k") * col("k")) + 0.5)
            .cast(LongType)).as("var_fp"))
      val z = floor((col("r").cast(DoubleType)
        - col("exp_fp").cast(DoubleType) / lit(1.0e9))
        / sqrt(col("var_fp").cast(DoubleType) / lit(1.0e9))
        * lit(1.0e6) + 0.5) / lit(1.0e6)
      m.select(col("event_type"), col("nd"), col("r").as("n_records"),
        (col("exp_fp") / lit(1.0e9)).as("expected_records"),
        z.as("z"), (z > 1.96).as("trending_up"))
    },

    // ------------------------------------------------------------------
    // Circular statistics of event hour-of-day per type — the peak-hour
    // question done right (an arithmetic mean of hours puts the average
    // of 23:00 and 01:00 at noon; the circular mean puts it at
    // midnight): mean direction from the resultant vector, mean
    // resultant length R̄ as the concentration scalar, and the Rayleigh
    // test z = nR̄² for "is there a daily rhythm at all". The corpus
    // collapses to 24·|types| (type, hour) counts, trig factors are
    // evaluated on the 24-value hour domain and snapped ×10⁹ FIRST
    // (the ev_dft_spectrum discipline — ≤24 libm calls, not one per
    // row), so the component sums are EXACT integers; atan2 runs on
    // the identical snapped components and the mean hour snaps ×10⁴.
    "ev_circular_stats" -> QueryDef.withOracle(
      """WITH g AS (
        |  SELECT event_type,
        |    (CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 3600 AS h,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |cs AS (
        |  SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n,
        |    CAST(sum(cnt * CAST(floor(cos(2.0 * pi() * h / 24)
        |      * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS c_fp,
        |    CAST(sum(cnt * CAST(floor(sin(2.0 * pi() * h / 24)
        |      * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS s_fp
        |  FROM g GROUP BY 1),
        |v AS (
        |  SELECT event_type, n,
        |    CAST(c_fp AS DOUBLE) / 1e9 AS cd,
        |    CAST(s_fp AS DOUBLE) / 1e9 AS sd
        |  FROM cs),
        |r AS (
        |  SELECT event_type, n,
        |    sqrt(cd * cd + sd * sd) / n AS rbar,
        |    atan2(sd, cd) AS a
        |  FROM v)
        |SELECT event_type, n,
        |  floor((CASE WHEN a < 0 THEN a + 2 * pi() ELSE a END)
        |    * 24 / (2 * pi()) * 1e4 + 0.5) / 1.0e4 AS mean_hour,
        |  floor(rbar * 1e6 + 0.5) / 1.0e6 AS rbar,
        |  floor(n * (rbar * rbar) * 1e6 + 0.5) / 1.0e6 AS rayleigh_z,
        |  n * (rbar * rbar) > 2.996 AS has_daily_rhythm
        |FROM r""".stripMargin) { (s, dir) =>
      val g = Tables.eventsTimed(s, dir)
        .groupBy(col("event_type"),
          expr("(ts_s % 86400) div 3600").as("h"))
        .agg(count(lit(1)).as("cnt"))
      val theta = lit(2.0) * lit(math.Pi) * col("h") / 24
      val cs = g.groupBy(col("event_type"))
        .agg(sum(col("cnt")).as("n"),
          sum(col("cnt")
            * floor(cos(theta) * lit(1.0e9) + 0.5).cast(LongType)).as("c_fp"),
          sum(col("cnt")
            * floor(sin(theta) * lit(1.0e9) + 0.5).cast(LongType)).as("s_fp"))
      val v = cs.select(col("event_type"), col("n"),
        (col("c_fp").cast(DoubleType) / lit(1.0e9)).as("cd"),
        (col("s_fp").cast(DoubleType) / lit(1.0e9)).as("sd"))
      val r = v.select(col("event_type"), col("n"),
        (sqrt(col("cd") * col("cd") + col("sd") * col("sd")) / col("n"))
          .as("rbar"),
        atan2(col("sd"), col("cd")).as("a"))
      val rz = col("n") * (col("rbar") * col("rbar"))
      r.select(col("event_type"), col("n"),
        (floor(when(col("a") < 0, col("a") + lit(2.0) * lit(math.Pi))
          .otherwise(col("a"))
          * 24 / (lit(2.0) * lit(math.Pi)) * lit(1.0e4) + 0.5) / lit(1.0e4))
          .as("mean_hour"),
        (floor(col("rbar") * lit(1.0e6) + 0.5) / lit(1.0e6)).as("rbar"),
        (floor(rz * lit(1.0e6) + 0.5) / lit(1.0e6)).as("rayleigh_z"),
        (rz > 2.996).as("has_daily_rhythm"))
    },

    // ------------------------------------------------------------------
    // Hurst exponent via rescaled-range (R/S) analysis of the daily
    // count series per type — long-range dependence in ONE number
    // (H ≈ 0.5 memoryless, > 0.5 persistent/trending, < 0.5
    // mean-reverting), the long-memory complement to the short-lag
    // ev_autocorrelation: the series is cut into complete blocks at
    // scales m ∈ {4, 8, 16}; within a block the cumulative deviations
    // run in ×m fixed point (m·n − Σn is EXACT, and they telescope to
    // 0 at the block end so the range always brackets 0), R/S per
    // block is a pinned double, per-scale means sum ×10⁶-snapped
    // integers, and H is the closed-form OLS slope of ln(R/S) on ln(m)
    // over the ≤3 snapped log points (products in HUGEINT/DECIMAL38 —
    // fp² terms overflow BIGINT). Zero-variance blocks are skipped
    // (S = 0 has no defined rescale); types with < 2 surviving scales
    // are dropped rather than shipped with a 0/0 slope.
    "ev_hurst" -> QueryDef.withOracle(
      s"""WITH ${dailyCountsSql("d")},
        |ix AS (
        |  SELECT event_type, day, n,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY day ASC) - 1 AS BIGINT) AS i,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nd
        |  FROM d),
        |e AS (
        |  SELECT ix.event_type, ix.day, ix.n, ix.nd,
        |    CAST(s.m AS BIGINT) AS m, ix.i // s.m AS b
        |  FROM ix CROSS JOIN (SELECT unnest([4, 8, 16]) AS m) s),
        |bs AS (
        |  SELECT event_type, m, b, CAST(sum(n) AS BIGINT) AS sb,
        |    CAST(count(*) AS BIGINT) AS cb
        |  FROM e GROUP BY 1, 2, 3),
        |w AS (
        |  SELECT e.event_type, e.m, e.b, e.nd, e.m * e.n - bs.sb AS dev,
        |    sum(e.m * e.n - bs.sb) OVER (PARTITION BY e.event_type, e.m, e.b
        |      ORDER BY e.day ASC) AS wcum
        |  FROM e JOIN bs ON bs.event_type = e.event_type AND bs.m = e.m
        |    AND bs.b = e.b
        |  WHERE bs.cb = e.m),
        |rb AS (
        |  SELECT event_type, m, b, max(nd) AS nd,
        |    CAST(max(wcum) - min(wcum) AS BIGINT) AS rm,
        |    CAST(sum(dev * dev) AS BIGINT) AS ssm
        |  FROM w GROUP BY event_type, m, b),
        |rs AS (
        |  SELECT event_type, m, nd,
        |    CAST(rm AS DOUBLE) / m / sqrt(CAST(ssm AS DOUBLE) / (m * m * m))
        |      AS rsv
        |  FROM rb WHERE ssm > 0),
        |a AS (
        |  SELECT event_type, m, max(nd) AS nd,
        |    CAST(sum(CAST(floor(rsv * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS sfp,
        |    CAST(count(*) AS BIGINT) AS nb
        |  FROM rs GROUP BY 1, 2),
        |pts AS (
        |  SELECT event_type, m, nd,
        |    CAST(floor(ln(CAST(m AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS xf,
        |    CAST(floor(ln(CAST(sfp AS DOUBLE) / nb / 1e6) * 1e9 + 0.5)
        |      AS BIGINT) AS yf,
        |    CAST(sfp AS DOUBLE) / nb / 1e6 AS avg_rs
        |  FROM a),
        |fit AS (
        |  SELECT event_type, max(nd) AS nd, CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(CAST(xf AS HUGEINT) * yf) AS HUGEINT) AS sxy,
        |    CAST(sum(CAST(xf AS HUGEINT) * xf) AS HUGEINT) AS sxx,
        |    CAST(sum(xf) AS BIGINT) AS sx, CAST(sum(yf) AS BIGINT) AS sy,
        |    max(CASE WHEN m = 4 THEN avg_rs END) AS a4,
        |    max(CASE WHEN m = 8 THEN avg_rs END) AS a8,
        |    max(CASE WHEN m = 16 THEN avg_rs END) AS a16
        |  FROM pts GROUP BY event_type)
        |SELECT event_type, nd, k,
        |  floor(a4 * 1e6 + 0.5) / 1.0e6 AS rs4,
        |  floor(a8 * 1e6 + 0.5) / 1.0e6 AS rs8,
        |  floor(a16 * 1e6 + 0.5) / 1.0e6 AS rs16,
        |  floor(CAST(k * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
        |    / CAST(k * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) * 1e4 + 0.5)
        |    / 1.0e4 AS hurst,
        |  floor(CAST(k * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
        |    / CAST(k * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) * 1e4 + 0.5)
        |    / 1.0e4 > 0.5 AS persistent
        |FROM fit WHERE k >= 2""".stripMargin) { (s, dir) =>
      val dec38 = DecimalType(38, 0)
      val d = dailyCounts(s, dir)
      val wT = Window.partitionBy(col("event_type")).orderBy(col("day").asc)
      val wAll = Window.partitionBy(col("event_type"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val ix = d.select(col("event_type"), col("day"), col("n"),
        (row_number().over(wT) - 1).cast(LongType).as("i"),
        count(lit(1)).over(wAll).as("nd"))
      import s.implicits._
      val scales = Seq(4, 8, 16).toDF("m")
      val e = ix.crossJoin(broadcast(scales))
        .select(col("event_type"), col("day"), col("n"), col("nd"),
          col("m").cast(LongType).as("m"), expr("i div m").as("b"))
      val bs = e.groupBy(col("event_type"), col("m"), col("b"))
        .agg(sum(col("n")).as("sb"), count(lit(1)).as("cb"))
      val wB = Window.partitionBy(col("event_type"), col("m"), col("b"))
        .orderBy(col("day").asc)
      val wd = e.join(bs, Seq("event_type", "m", "b"))
        .filter(col("cb") === col("m"))
        .select(col("event_type"), col("m"), col("b"), col("nd"),
          (col("m") * col("n") - col("sb")).as("dev"), col("day"))
        .withColumn("wcum", sum(col("dev")).over(wB))
      val rb = wd.groupBy(col("event_type"), col("m"), col("b"))
        .agg(max(col("nd")).as("nd"),
          (max(col("wcum")) - min(col("wcum"))).cast(LongType).as("rm"),
          sum(col("dev") * col("dev")).as("ssm"))
      val rs = rb.filter(col("ssm") > 0)
        .select(col("event_type"), col("m"), col("nd"),
          (col("rm").cast(DoubleType) / col("m")
            / sqrt(col("ssm").cast(DoubleType)
              / (col("m") * col("m") * col("m")))).as("rsv"))
      val a = rs.groupBy(col("event_type"), col("m"))
        .agg(max(col("nd")).as("nd"),
          sum(floor(col("rsv") * lit(1.0e6) + 0.5).cast(LongType)).as("sfp"),
          count(lit(1)).as("nb"))
      val pts = a.select(col("event_type"), col("m"), col("nd"),
        floor(log(col("m").cast(DoubleType)) * lit(1.0e9) + 0.5)
          .cast(LongType).as("xf"),
        floor(log(col("sfp").cast(DoubleType) / col("nb") / lit(1.0e6))
          * lit(1.0e9) + 0.5).cast(LongType).as("yf"),
        (col("sfp").cast(DoubleType) / col("nb") / lit(1.0e6)).as("avg_rs"))
      val fit = pts.groupBy(col("event_type"))
        .agg(max(col("nd")).as("nd"), count(lit(1)).as("k"),
          sum(col("xf").cast(dec38) * col("yf")).as("sxy"),
          sum(col("xf").cast(dec38) * col("xf")).as("sxx"),
          sum(col("xf")).as("sx"), sum(col("yf")).as("sy"),
          max(when(col("m") === 4, col("avg_rs"))).as("a4"),
          max(when(col("m") === 8, col("avg_rs"))).as("a8"),
          max(when(col("m") === 16, col("avg_rs"))).as("a16"))
      val hurst = floor(
        (col("k") * col("sxy") - col("sx").cast(dec38) * col("sy"))
          .cast(DoubleType)
        / (col("k") * col("sxx") - col("sx").cast(dec38) * col("sx"))
          .cast(DoubleType) * lit(1.0e4) + 0.5) / lit(1.0e4)
      fit.filter(col("k") >= 2)
        .select(col("event_type"), col("nd"), col("k"),
          (floor(col("a4") * lit(1.0e6) + 0.5) / lit(1.0e6)).as("rs4"),
          (floor(col("a8") * lit(1.0e6) + 0.5) / lit(1.0e6)).as("rs8"),
          (floor(col("a16") * lit(1.0e6) + 0.5) / lit(1.0e6)).as("rs16"),
          hurst.as("hurst"), (hurst > 0.5).as("persistent"))
    },

    // ------------------------------------------------------------------
    // As-of join with a lookback tolerance: the standard market-data /
    // attribution variant — a click only matches a purchase within the
    // trailing 10 minutes; staler matches degrade to no-match rather
    // than attributing to ancient history. Same single-shuffle
    // union+window plan as asof_join; the tolerance is a row-local
    // post-filter on the already-found latest match (NOT a second
    // window), so the cost is identical.
    "asof_join_tolerance" -> QueryDef.withOracle(
      asofSql(
        """CASE WHEN ts_s - click_ts_s <= 600 THEN click_id END AS click_id,
          |  CASE WHEN ts_s - click_ts_s <= 600 THEN click_ts_s END AS click_ts_s,
          |  CASE WHEN ts_s - click_ts_s <= 600 THEN ts_s - click_ts_s END AS gap_s"""
          .stripMargin)) { (s, dir) =>
      val inTol = col("ts_s") - col("raw_ts") <= 600
      latestClick(s, dir, "raw_id", "raw_ts")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts_s").as("purchase_ts_s"),
          when(inTol, col("raw_id")).as("click_id"),
          when(inTol, col("raw_ts")).as("click_ts_s"),
          when(inTol, col("ts_s") - col("raw_ts")).as("gap_s"))
    },

    // ------------------------------------------------------------------
    // Hopping (sliding) window aggregation: 1-hour windows every 15
    // minutes, so each event lands in exactly 4 overlapping windows.
    // Spark's native window(slideDuration) replicates the row per
    // containing window BEFORE the keyed agg — the fan-out is a
    // row-local ×4, then partial aggregation combines map-side; the
    // exchange carries (window, type) groups, never the replicated
    // events.
    "ev_sliding_window_agg" -> QueryDef.withOracle(
      """WITH e AS (
        |  SELECT event_type, value, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
        |w AS (
        |  SELECT event_type, value,
        |    (t // 900 - unnest(range(0, 4))) * 900 AS win_start_s
        |  FROM e)
        |SELECT win_start_s, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Tables.eventsTimed(s, dir)
        .groupBy(window(col("ts_us"), "1 hour", "15 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec2)).cast(DoubleType).as("sum_value"))
        .select(unix_timestamp(col("w.start")).as("win_start_s"),
          col("event_type"), col("n"), col("sum_value"))
    },

    // ------------------------------------------------------------------
    // Peak concurrency per event type: every event holds a resource
    // for 30 minutes; find the maximum simultaneous holders and the
    // first time it occurs. The classic +1/−1 boundary sweep — but the
    // running sum is computed as a DISTRIBUTED prefix sum (the q28
    // pattern): deltas are pre-summed per distinct timestamp (which
    // also kills same-instant ordering ambiguity), range-bucketed on
    // literal bounds, per-bucket partials become running offsets over
    // a ≤types×64-row bookkeeping relation, and each task scans only
    // its own bucket. No task ever sorts a type's whole timeline —
    // the single-partition-window formulation the oracle uses would.
    "ev_peak_concurrency" -> QueryDef.withOracle(
      """WITH e AS (
        |  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
        |d AS (
        |  SELECT event_type, t, 1 AS delta FROM e
        |  UNION ALL SELECT event_type, t + 1800, -1 FROM e),
        |g AS (SELECT event_type, t, CAST(sum(delta) AS BIGINT) AS net
        |      FROM d GROUP BY 1, 2),
        |r AS (SELECT event_type, t,
        |        CAST(sum(net) OVER (PARTITION BY event_type ORDER BY t) AS BIGINT) AS conc
        |      FROM g),
        |p AS (SELECT event_type, CAST(max(conc) AS BIGINT) AS peak FROM r GROUP BY 1)
        |SELECT r.event_type, p.peak AS peak, CAST(min(r.t) AS BIGINT) AS first_peak_t
        |FROM r JOIN p ON p.event_type = r.event_type AND r.conc = p.peak
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val e = Tables.eventsTimed(s, dir).select(col("event_type"), col("ts_s").as("t"))
      val d = e.select(col("event_type"), col("t"), lit(1L).as("delta"))
        .unionByName(e.select(col("event_type"), (col("t") + 1800L).as("t"),
          lit(-1L).as("delta")))
      // net delta per distinct instant: order within an instant can no
      // longer matter, and the sweep length halves
      val g = d.groupBy(col("event_type"), col("t")).agg(sum(col("delta")).as("net"))
        .persist()
      val mmx = g.agg(min(col("t")), max(col("t"))).head()
      val (mn, mx) = (mmx.getLong(0), mmx.getLong(1))
      val nb = 64
      val bkt =
        if (mx > mn)
          least(lit(nb - 1),
            floor((col("t") - mn) / ((mx - mn).toDouble / nb)).cast(IntegerType))
        else lit(0)
      val gb = g.withColumn("bkt", bkt)
      val wOff = Window.partitionBy(col("event_type")).orderBy(col("bkt").asc)
      val offs = gb.groupBy(col("event_type"), col("bkt")).agg(sum(col("net")).as("bnet"))
        .select(col("event_type"), col("bkt"),
          coalesce(sum(col("bnet"))
            .over(wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("off"))
      val wLoc = Window.partitionBy(col("event_type"), col("bkt")).orderBy(col("t").asc)
      val r = gb.join(broadcast(offs), Seq("event_type", "bkt"))
        .withColumn("conc", sum(col("net")).over(wLoc) + col("off"))
        .select(col("event_type"), col("t"), col("conc"))
        .persist()
      val p = r.groupBy(col("event_type")).agg(max(col("conc")).as("peak"))
      r.join(broadcast(p), Seq("event_type"))
        .filter(col("conc") === col("peak"))
        .groupBy(col("event_type"), col("peak"))
        .agg(min(col("t")).as("first_peak_t"))
        .select(col("event_type"), col("peak"), col("first_peak_t"))
    },

    // ------------------------------------------------------------------
    // Cumulative distinct users by day — the "running reach" metric.
    // COUNT(DISTINCT) OVER a running window doesn't exist (and a naive
    // rewrite re-scans history per day); the scale formulation: each
    // user collapses to their FIRST-seen day (one keyed agg with
    // map-side combine), days collapse to first-appearance counts, and
    // the running sum rides the calendar-bounded day relation. The
    // corpus crosses exactly one exchange.
    "ev_cumulative_users" -> QueryDef.withOracle(
      """WITH fs AS (
        |  SELECT user_id, min(CAST(date_trunc('day', ts) AS DATE)) AS first_day
        |  FROM events GROUP BY 1),
        |d AS (
        |  SELECT first_day AS day, CAST(count(*) AS BIGINT) AS new_users
        |  FROM fs GROUP BY 1)
        |SELECT strftime(day, '%Y-%m-%d') AS day, new_users,
        |  CAST(sum(new_users) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cumulative_users
        |FROM d""".stripMargin) { (s, dir) =>
      val d = Tables.eventsTimed(s, dir)
        .groupBy(col("user_id"))
        .agg(min(to_date(col("ts_us"))).as("first_day"))
        .groupBy(col("first_day").as("day"))
        .agg(count(lit(1)).as("new_users"))
      // single-partition window over one row per calendar day —
      // bounded by the date span, not the corpus (q28/etl_seasonal_ma
      // bookkeeping-window argument)
      val w = Window.orderBy(col("day").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("new_users"),
        sum(col("new_users")).over(w).as("cumulative_users"))
    },

    // ------------------------------------------------------------------
    // Panel densification + last-observation-carried-forward — the
    // gap-fill every time-series publication runs before seasonal
    // adjustment or rate calculation. The corpus collapses to per-
    // (user, day) aggregates first; the dense grid is user-dim ×
    // calendar built row-locally (1-row bounds broadcast + explode —
    // never a fact-scale cross join); the forward-fill window
    // partitions by user, so each partition is calendar-bounded (≤ span
    // days) no matter how large the corpus — the per-series sort can
    // never become a hot task.
    "ev_gap_fill" -> QueryDef.withOracle(
      """WITH daily AS (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |dense AS (
        |  SELECT u.user_id, CAST(unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM (SELECT DISTINCT user_id FROM daily) u CROSS JOIN b)
        |SELECT d.user_id, strftime(d.day, '%Y-%m-%d') AS day,
        |  q.n IS NOT NULL AS observed,
        |  coalesce(q.n, 0) AS n,
        |  round(coalesce(q.day_value, 0), 9) AS day_value,
        |  round(last_value(q.day_value IGNORE NULLS) OVER (
        |    PARTITION BY d.user_id ORDER BY d.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 9) AS locf_value
        |FROM dense d LEFT JOIN daily q
        |  ON q.user_id = d.user_id AND q.day = d.day""".stripMargin) { (s, dir) =>
      val daily = Tables.eventsTimed(s, dir)
        .groupBy(col("user_id"), to_date(col("ts_us")).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec2)).cast(DoubleType).as("day_value"))
        .persist() // read 3×: bounds, user dim, fill join
      val bounds = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      val dense = daily.select(col("user_id")).distinct()
        .crossJoin(broadcast(bounds)) // 1-row bounds — row-local fan-out
        .select(col("user_id"),
          explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dense.join(daily, Seq("user_id", "day"), "left_outer")
        .select(col("user_id"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n").isNotNull.as("observed"),
          coalesce(col("n"), lit(0L)).as("n"),
          round(coalesce(col("day_value"), lit(0.0)), 9).as("day_value"),
          round(last(col("day_value"), ignoreNulls = true).over(w), 9)
            .as("locf_value"))
    },

    // ------------------------------------------------------------------
    // Welch two-sample t-test between event populations (purchase vs
    // view values) — the A/B-readout primitive. Everything derives
    // from exact DECIMAL power sums in ONE corpus agg (n, Σx, Σx² per
    // group — the q21 moment protocol), then closed-form driver-free
    // double math: Welch's t and the Welch–Satterthwaite df are
    // identical expressions on both engines. No per-row p-values, no
    // UDFs, no second scan.
    "ev_ab_ttest" -> QueryDef.withOracle(
      s"""WITH $abArmsSql
        |SELECT n_a, n_b, mean_a, mean_b,
        |  round((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b), 9) AS t_stat,
        |  round(pow(var_a / n_a + var_b / n_b, 2)
        |    / (pow(var_a / n_a, 2) / (n_a - 1) + pow(var_b / n_b, 2) / (n_b - 1)),
        |    9) AS df_welch
        |FROM ab""".stripMargin) { (s, dir) =>
      val se2 = col("var_a") / col("n_a") + col("var_b") / col("n_b")
      abArms(s, dir)
        .select(col("n_a"), col("n_b"), col("mean_a"), col("mean_b"),
          round((col("mean_a") - col("mean_b")) / sqrt(se2), 9).as("t_stat"),
          round(pow(se2, 2) /
            (pow(col("var_a") / col("n_a"), 2) / (col("n_a") - 1) +
             pow(col("var_b") / col("n_b"), 2) / (col("n_b") - 1)), 9).as("df_welch"))
    },

    // ------------------------------------------------------------------
    // Cochran–Mantel–Haenszel stratified 2×2×K test + Mantel-Haenszel
    // common odds ratio — the standard confounder-adjusted complement
    // to etl_odds_ratio (exposure = user parity, outcome = purchase,
    // strata = day-of-week). Per-stratum cells are exact longs from ONE
    // keyed agg; each stratum's E[a], Var[a], ad/n, bc/n are mirrored
    // double chains snapped to fixed point BEFORE the cross-stratum
    // sums (≤7 bookkeeping rows), so the statistic is
    // addition-order-free on both engines. Scale: one map-side-combined
    // scan agg; everything after is K-row bookkeeping.
    "ev_cmh_test" -> QueryDef.withOracle(
      """WITH e AS (
        |  SELECT ((CAST(floor(epoch(ts)) AS BIGINT) // 86400) % 7) AS dow,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS ex,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS suc
        |  FROM events),
        |t AS (
        |  SELECT dow,
        |    CAST(sum(ex * suc) AS BIGINT) AS a,
        |    CAST(sum(ex * (1 - suc)) AS BIGINT) AS b,
        |    CAST(sum((1 - ex) * suc) AS BIGINT) AS c,
        |    CAST(sum((1 - ex) * (1 - suc)) AS BIGINT) AS d
        |  FROM e GROUP BY dow),
        |f AS (SELECT a, b, c, d, a + b + c + d AS n FROM t),
        |s AS (
        |  SELECT CAST(count(*) AS INT) AS k_strata,
        |    CAST(sum(a) AS BIGINT) AS sum_a,
        |    CAST(sum(CAST(floor((a - CAST(a + b AS DOUBLE) * (a + c) / n)
        |      * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS numfp,
        |    CAST(sum(CAST(floor(CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d)
        |      / (CAST(n AS DOUBLE) * n * (n - 1)) * 1000000 + 0.5) AS BIGINT))
        |      AS BIGINT) AS varfp,
        |    CAST(sum(CAST(floor(CAST(a AS DOUBLE) * d / n * 1000000000 + 0.5)
        |      AS BIGINT)) AS BIGINT) AS rfp,
        |    CAST(sum(CAST(floor(CAST(b AS DOUBLE) * c / n * 1000000000 + 0.5)
        |      AS BIGINT)) AS BIGINT) AS sfp
        |  FROM f)
        |SELECT k_strata, sum_a,
        |  round((numfp / 1.0e6) * (numfp / 1.0e6) / (varfp / 1.0e6), 6) AS chi2_cmh,
        |  round(CAST(rfp AS DOUBLE) / sfp, 6) AS or_mh
        |FROM s""".stripMargin) { (s, dir) =>
      val e = Tables.eventsTimed(s, dir).select(
        (expr("ts_s div 86400") % 7).as("dow"),
        when(col("user_id") % 2 === 0, 1).otherwise(0).as("ex"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("suc"))
      val t = e.groupBy(col("dow")).agg(
        sum(col("ex") * col("suc")).as("a"),
        sum(col("ex") * (lit(1) - col("suc"))).as("b"),
        sum((lit(1) - col("ex")) * col("suc")).as("c"),
        sum((lit(1) - col("ex")) * (lit(1) - col("suc"))).as("d"))
        .withColumn("n", col("a") + col("b") + col("c") + col("d"))
      val abD = (col("a") + col("b")).cast(DoubleType)
      val nD = col("n").cast(DoubleType)
      val fp = t.agg(
        count(lit(1)).cast(IntegerType).as("k_strata"),
        sum(col("a")).as("sum_a"),
        sum(floor((col("a") - abD * (col("a") + col("c")) / col("n"))
          * 1000000 + 0.5).cast(LongType)).as("numfp"),
        sum(floor(abD * (col("c") + col("d")) * (col("a") + col("c"))
            * (col("b") + col("d")) / (nD * col("n") * (col("n") - 1))
          * 1000000 + 0.5).cast(LongType)).as("varfp"),
        sum(floor(col("a").cast(DoubleType) * col("d") / col("n")
          * 1000000000L + 0.5).cast(LongType)).as("rfp"),
        sum(floor(col("b").cast(DoubleType) * col("c") / col("n")
          * 1000000000L + 0.5).cast(LongType)).as("sfp"))
      fp.select(col("k_strata"), col("sum_a"),
        round((col("numfp") / lit(1.0e6)) * (col("numfp") / lit(1.0e6))
          / (col("varfp") / lit(1.0e6)), 6).as("chi2_cmh"),
        round(col("rfp").cast(DoubleType) / col("sfp"), 6).as("or_mh"))
    },

    // ------------------------------------------------------------------
    // Page–Hinkley drift detector over the daily mean-value series —
    // the sequential change-of-mean monitor (the CUSUM family's
    // running-mean variant every stream-quality stack ships). Daily
    // means snap to exact micro-units (cents × 1e4 // count); the
    // running mean, the PH cumulative deviation mₜ, its running
    // minimum and the alarm margin are ALL exact integer window folds
    // (cumsum + integer div + running min), so the trace is
    // bit-deterministic on both engines with zero float accumulation.
    // The single-partition windows ride the ≤|days| daily relation —
    // bookkeeping-bounded, never corpus-bounded.
    "ev_page_hinkley" -> QueryDef.withOracle(
      """WITH d AS (
        |  SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS day,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1),
        |x AS (SELECT day, (cents * 10000) // cnt AS xm FROM d),
        |r AS (
        |  SELECT day, xm,
        |    xm - (sum(xm) OVER (ORDER BY day
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          // (row_number() OVER (ORDER BY day))) AS term
        |  FROM x),
        |p AS (
        |  SELECT day, xm, CAST(sum(term) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS mt
        |  FROM r),
        |q AS (
        |  SELECT day, xm, mt, min(mt) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mmin
        |  FROM p)
        |SELECT day, round(xm / 1.0e6, 6) AS day_mean,
        |  CAST(mt - mmin AS BIGINT) AS ph_micro,
        |  CAST(CASE WHEN mt - mmin > 50000 THEN 1 ELSE 0 END AS INT) AS alarm
        |FROM q""".stripMargin) { (s, dir) =>
      val d = Tables.eventsTimed(s, dir)
        .groupBy(expr("ts_s div 86400").as("day"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast(LongType)).as("cents"),
          count(lit(1)).as("cnt"))
      // daily relation (≤ |days| rows): single-partition windows are
      // bookkeeping-bounded here by construction
      val wCum = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wOrd = Window.orderBy(col("day"))
      d.select(col("day"), expr("(cents * 10000) div cnt").as("xm"))
        .withColumn("cx", sum(col("xm")).over(wCum))
        .withColumn("k", row_number().over(wOrd).cast(LongType))
        .withColumn("term", col("xm") - expr("cx div k"))
        .withColumn("mt", sum(col("term")).over(wCum))
        .withColumn("mmin", min(col("mt")).over(wCum))
        .select(col("day"), round(col("xm") / lit(1.0e6), 6).as("day_mean"),
          (col("mt") - col("mmin")).cast(LongType).as("ph_micro"),
          when(col("mt") - col("mmin") > 50000L, 1).otherwise(0)
            .cast(IntegerType).as("alarm"))
    },

    // ------------------------------------------------------------------
    // Welch's one-way ANOVA (unequal variances) across event types —
    // the heteroscedastic complement to etl_anova_oneway (which assumes
    // pooled variance): F* from variance-weighted group means with the
    // Welch–Satterthwaite denominator df. Group moments are exact
    // (cents → DECIMAL(38) sums, cast to double once); the K-group
    // folds (weights, weighted means, the two correction sums) snap to
    // fixed point before summation so the cross-group reductions are
    // order-free. Scale: one keyed agg → K-row bookkeeping → 1 row.
    "ev_welch_anova" -> QueryDef.withOracle(
      """WITH g AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS HUGEINT)) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS HUGEINT)
        |           * CAST(floor(value * 100 + 0.5) AS HUGEINT)) AS DOUBLE) AS s2
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT event_type, n, s1 / n / 100.0 AS mean,
        |    (s2 - s1 * s1 / n) / (n - 1) / 10000.0 AS var
        |  FROM g WHERE n > 1),
        |w AS (
        |  SELECT n, mean,
        |    CAST(floor(CAST(n AS DOUBLE) / var * 1000000 + 0.5) AS BIGINT) AS wfp,
        |    CAST(floor(CAST(n AS DOUBLE) / var * mean * 1000000 + 0.5) AS BIGINT) AS wmfp
        |  FROM m),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(wfp) AS BIGINT) AS wsum, CAST(sum(wmfp) AS BIGINT) AS wmsum
        |  FROM w),
        |t2 AS (
        |  SELECT t.k, t.wsum,
        |    CAST(sum(CAST(floor((wfp / 1.0e6)
        |      * (mean - CAST(wmsum AS DOUBLE) / wsum)
        |      * (mean - CAST(wmsum AS DOUBLE) / wsum) * 1000000 + 0.5)
        |      AS BIGINT)) AS BIGINT) AS afp,
        |    CAST(sum(CAST(floor((1 - (wfp / 1.0e6) / (wsum / 1.0e6))
        |      * (1 - (wfp / 1.0e6) / (wsum / 1.0e6)) / (n - 1)
        |      * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS bfp
        |  FROM w CROSS JOIN tot t GROUP BY t.k, t.wsum)
        |SELECT CAST(k AS INT) AS k_groups, CAST(k - 1 AS INT) AS df1,
        |  round((afp / 1.0e6 / (k - 1))
        |    / (1 + 2.0 * (k - 2) / (CAST(k AS DOUBLE) * k - 1) * (bfp / 1.0e9)), 6)
        |    AS f_welch,
        |  round((CAST(k AS DOUBLE) * k - 1) / (3.0 * (bfp / 1.0e9)), 6) AS df2_welch
        |FROM t2""".stripMargin) { (s, dir) =>
      val dec38 = DecimalType(38, 0)
      val vfp = floor(col("value") * 100 + 0.5).cast(LongType)
      val g = Tables.events(s, dir).groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(vfp.cast(dec38)).cast(DoubleType).as("s1"),
        sum(vfp.cast(dec38) * vfp.cast(dec38)).cast(DoubleType).as("s2"))
      val m = g.filter(col("n") > 1).select(col("n"),
        (col("s1") / col("n") / lit(100.0)).as("mean"),
        ((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1)
          / lit(10000.0)).as("var"))
      val w = m.select(col("n"), col("mean"),
        floor(col("n").cast(DoubleType) / col("var") * 1000000 + 0.5)
          .cast(LongType).as("wfp"),
        floor(col("n").cast(DoubleType) / col("var") * col("mean")
          * 1000000 + 0.5).cast(LongType).as("wmfp"))
      val tot = w.agg(count(lit(1)).as("k"),
        sum(col("wfp")).as("wsum"), sum(col("wmfp")).as("wmsum"))
      val mbar = col("wmsum").cast(DoubleType) / col("wsum")
      val t2 = w.crossJoin(broadcast(tot)) // K-row × 1-row bookkeeping
        .groupBy(col("k"), col("wsum")).agg(
          sum(floor((col("wfp") / lit(1.0e6)) * (col("mean") - mbar)
            * (col("mean") - mbar) * 1000000 + 0.5).cast(LongType)).as("afp"),
          sum(floor((lit(1) - (col("wfp") / lit(1.0e6)) / (col("wsum") / lit(1.0e6)))
            * (lit(1) - (col("wfp") / lit(1.0e6)) / (col("wsum") / lit(1.0e6)))
            / (col("n") - 1) * 1000000000L + 0.5).cast(LongType)).as("bfp"))
      val kD = col("k").cast(DoubleType)
      t2.select(col("k").cast(IntegerType).as("k_groups"),
        (col("k") - 1).cast(IntegerType).as("df1"),
        round((col("afp") / lit(1.0e6) / (col("k") - 1))
          / (lit(1) + lit(2.0) * (col("k") - 2) / (kD * col("k") - 1)
            * (col("bfp") / lit(1.0e9))), 6).as("f_welch"),
        round((kD * col("k") - 1) / (lit(3.0) * (col("bfp") / lit(1.0e9))), 6)
          .as("df2_welch"))
    },

    // ------------------------------------------------------------------
    // Cochran's Q — the k-related-binary-treatments test (on a given
    // active day, did the same subject click AND view AND purchase?):
    // the binary repeated-measures complement to etl_friedman_test.
    // Subjects are (user, day) cells — the granularity where the flags
    // actually vary (every user in a long window eventually does
    // everything, degenerating Q's denominator to 0). Per-subject 0/1
    // flags from ONE keyed agg (max of conditionals, map-side
    // combined); Q's numerator/denominator are EXACT integer folds
    // (column sums, Σ row-sum², grand total), so the statistic is a
    // single mirrored double chain over a 1-row relation — zero float
    // accumulation.
    "ev_cochran_q" -> QueryDef.withOracle(
      """WITH f AS (
        |  SELECT user_id, (CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS day,
        |    CAST(max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x1,
        |    CAST(max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS x2,
        |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS x3
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_subjects,
        |    CAST(sum(x1) AS BIGINT) AS c1, CAST(sum(x2) AS BIGINT) AS c2,
        |    CAST(sum(x3) AS BIGINT) AS c3,
        |    CAST(sum((x1 + x2 + x3) * (x1 + x2 + x3)) AS BIGINT) AS sr2,
        |    CAST(sum(x1 + x2 + x3) AS BIGINT) AS nn
        |  FROM f)
        |SELECT n_subjects, nn AS grand_total,
        |  floor(2.0 * (3 * (CAST(c1 AS DOUBLE) * c1 + CAST(c2 AS DOUBLE) * c2
        |      + CAST(c3 AS DOUBLE) * c3) - CAST(nn AS DOUBLE) * nn)
        |    / (3.0 * nn - sr2) * 1000000 + 0.5) / 1.0e6 AS q_stat,
        |  CAST(2 AS INT) AS df
        |FROM t""".stripMargin) { (s, dir) =>
      def flag(t: String) =
        max(when(col("event_type") === t, 1).otherwise(0)).cast(LongType)
      val f = Tables.eventsTimed(s, dir)
        .groupBy(col("user_id"), expr("ts_s div 86400").as("day"))
        .agg(flag("click").as("x1"), flag("view").as("x2"),
          flag("purchase").as("x3"))
      val r = col("x1") + col("x2") + col("x3")
      val t = f.agg(count(lit(1)).as("n_subjects"),
        sum(col("x1")).as("c1"), sum(col("x2")).as("c2"),
        sum(col("x3")).as("c3"),
        sum(r * r).as("sr2"), sum(r).as("nn"))
      t.select(col("n_subjects"), col("nn").as("grand_total"),
        (floor(lit(2.0) * (lit(3) * (col("c1").cast(DoubleType) * col("c1")
            + col("c2").cast(DoubleType) * col("c2")
            + col("c3").cast(DoubleType) * col("c3"))
            - col("nn").cast(DoubleType) * col("nn"))
          / (lit(3.0) * col("nn") - col("sr2")) * lit(1000000) + lit(0.5))
          / lit(1.0e6)).as("q_stat"),
        lit(2).cast(IntegerType).as("df"))
    },

    // ------------------------------------------------------------------
    // Brier score + reliability (calibration) curve — the probability-
    // forecast quality readout next to etl_roc_curve's ranking quality.
    // The forecast is a deterministic per-event pseudo-probability
    // (event_id % 100 → pc/100) against the purchase outcome, so every
    // per-bin quantity is EXACT integer arithmetic: the per-event Brier
    // numerator (pc − 100y)² is an integer ≤ 1e4, bin sums are exact
    // longs, and only the final per-bin divisions run in mirrored
    // snapped doubles. One map-side-combined agg, 10 bookkeeping rows.
    "ev_brier_calibration" -> QueryDef.withOracle(
      """WITH e AS (
        |  SELECT CAST(event_id % 100 AS BIGINT) AS pc,
        |    CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
        |      AS BIGINT) AS y
        |  FROM events),
        |b AS (
        |  SELECT pc // 10 AS bin, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(pc) AS BIGINT) AS sp, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum((pc - 100 * y) * (pc - 100 * y)) AS BIGINT) AS sq
        |  FROM e GROUP BY 1)
        |SELECT CAST(bin AS BIGINT) AS bin, n,
        |  floor(CAST(sp AS DOUBLE) / n / 100.0 * 1000000000 + 0.5) / 1.0e9
        |    AS mean_p,
        |  floor(CAST(sy AS DOUBLE) / n * 1000000000 + 0.5) / 1.0e9
        |    AS frac_pos,
        |  floor((CAST(sp AS DOUBLE) / n / 100.0 - CAST(sy AS DOUBLE) / n)
        |    * 1000000000 + 0.5) / 1.0e9 AS calib_gap,
        |  floor(CAST(sq AS DOUBLE) / n / 10000.0 * 1000000000 + 0.5) / 1.0e9
        |    AS brier
        |FROM b""".stripMargin) { (s, dir) =>
      val e = Tables.events(s, dir).select(
        (col("event_id") % 100).cast(LongType).as("pc"),
        when(col("event_type") === "purchase", 1).otherwise(0)
          .cast(LongType).as("y"))
      val b = e.groupBy(expr("pc div 10").as("bin")).agg(
        count(lit(1)).as("n"), sum(col("pc")).as("sp"),
        sum(col("y")).as("sy"),
        sum((col("pc") - lit(100) * col("y"))
          * (col("pc") - lit(100) * col("y"))).as("sq"))
      b.select(col("bin").cast(LongType).as("bin"), col("n"),
        (floor(col("sp").cast(DoubleType) / col("n") / lit(100.0)
          * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("mean_p"),
        (floor(col("sy").cast(DoubleType) / col("n") * lit(1.0e9)
          + lit(0.5)) / lit(1.0e9)).as("frac_pos"),
        (floor((col("sp").cast(DoubleType) / col("n") / lit(100.0)
          - col("sy").cast(DoubleType) / col("n")) * lit(1.0e9)
          + lit(0.5)) / lit(1.0e9)).as("calib_gap"),
        (floor(col("sq").cast(DoubleType) / col("n") / lit(10000.0)
          * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("brier"))
    },

    // ------------------------------------------------------------------
    // Matthews correlation + the full confusion readout for a
    // deterministic threshold classifier (pseudo-score ≥ 0.5 predicts
    // purchase — the decision-threshold view next to etl_roc_curve's
    // ranking view and ev_brier_calibration's probability view). The
    // four confusion cells are exact longs from ONE map-side-combined
    // agg; MCC / accuracy / precision / recall / F1 assemble in
    // mirrored snapped double chains over the 1-row cell relation.
    "ev_mcc_confusion" -> QueryDef.withOracle(
      """WITH e AS (
        |  SELECT CAST(CASE WHEN event_id % 100 >= 50 THEN 1 ELSE 0 END
        |      AS BIGINT) AS p,
        |    CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
        |      AS BIGINT) AS y
        |  FROM events),
        |c AS (
        |  SELECT CAST(sum(p * y) AS BIGINT) AS tp,
        |    CAST(sum(p * (1 - y)) AS BIGINT) AS fp,
        |    CAST(sum((1 - p) * y) AS BIGINT) AS fn,
        |    CAST(sum((1 - p) * (1 - y)) AS BIGINT) AS tn
        |  FROM e)
        |SELECT tp, fp, fn, tn,
        |  floor((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
        |    / sqrt((CAST(tp AS DOUBLE) + fp) * (CAST(tp AS DOUBLE) + fn)
        |      * (CAST(tn AS DOUBLE) + fp) * (CAST(tn AS DOUBLE) + fn))
        |    * 1000000000 + 0.5) / 1.0e9 AS mcc,
        |  floor((CAST(tp AS DOUBLE) + tn) / (tp + fp + fn + tn)
        |    * 1000000000 + 0.5) / 1.0e9 AS accuracy,
        |  floor(CAST(tp AS DOUBLE) / (tp + fp) * 1000000000 + 0.5) / 1.0e9
        |    AS precision_,
        |  floor(CAST(tp AS DOUBLE) / (tp + fn) * 1000000000 + 0.5) / 1.0e9
        |    AS recall_,
        |  floor(2.0 * tp / (2.0 * tp + fp + fn) * 1000000000 + 0.5) / 1.0e9
        |    AS f1
        |FROM c""".stripMargin) { (s, dir) =>
      val e = Tables.events(s, dir).select(
        when(col("event_id") % 100 >= 50, 1).otherwise(0)
          .cast(LongType).as("p"),
        when(col("event_type") === "purchase", 1).otherwise(0)
          .cast(LongType).as("y"))
      val c = e.agg(
        sum(col("p") * col("y")).as("tp"),
        sum(col("p") * (lit(1) - col("y"))).as("fp"),
        sum((lit(1) - col("p")) * col("y")).as("fn"),
        sum((lit(1) - col("p")) * (lit(1) - col("y"))).as("tn"))
      def d(c0: String) = col(c0).cast(DoubleType)
      def snap9(x: org.apache.spark.sql.Column) =
        floor(x * lit(1.0e9) + lit(0.5)) / lit(1.0e9)
      c.select(col("tp"), col("fp"), col("fn"), col("tn"),
        snap9((d("tp") * col("tn") - d("fp") * col("fn"))
          / sqrt((d("tp") + col("fp")) * (d("tp") + col("fn"))
            * (d("tn") + col("fp")) * (d("tn") + col("fn")))).as("mcc"),
        snap9((d("tp") + col("tn"))
          / (col("tp") + col("fp") + col("fn") + col("tn"))).as("accuracy"),
        snap9(d("tp") / (col("tp") + col("fp"))).as("precision_"),
        snap9(d("tp") / (col("tp") + col("fn"))).as("recall_"),
        snap9(lit(2.0) * col("tp")
          / (lit(2.0) * col("tp") + col("fp") + col("fn"))).as("f1"))
    },

    // ------------------------------------------------------------------
    // Newey-West HAC long-run variance of the daily mean-value series —
    // the autocorrelation-robust standard error every macro time-series
    // release quotes (Bartlett kernel, L = 3). Daily means in exact
    // micro-units; the demeaning anchor is an exact integer floor-div
    // of a 1-row (n, Σx) broadcast; the lag products accumulate in
    // DECIMAL(38)/HUGEINT (micro² crosses 2⁶³ — the spearman
    // discipline) and convert to double ONCE; γ₀/LRV/se assemble in a
    // mirrored snapped chain. Windows ride the ≤|days| daily relation.
    "ev_newey_west" -> QueryDef.withOracle(
      """WITH d AS (
        |  SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS day,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1),
        |x AS (SELECT day, (cents * 10000) // cnt AS xm FROM d),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS nd,
        |  CAST(sum(xm) AS BIGINT) AS sx FROM x),
        |dv AS (SELECT x.day, x.xm - (a.sx // a.nd) AS dd, a.nd
        |  FROM x CROSS JOIN a),
        |l AS (
        |  SELECT day, nd, dd,
        |    lag(dd, 1) OVER (ORDER BY day) AS d1,
        |    lag(dd, 2) OVER (ORDER BY day) AS d2,
        |    lag(dd, 3) OVER (ORDER BY day) AS d3
        |  FROM dv),
        |g AS (
        |  SELECT CAST(max(nd) AS BIGINT) AS nd,
        |    CAST(sum(CAST(dd AS HUGEINT) * dd) AS DOUBLE) AS g0,
        |    CAST(sum(CAST(dd AS HUGEINT) * d1) AS DOUBLE) AS g1,
        |    CAST(sum(CAST(dd AS HUGEINT) * d2) AS DOUBLE) AS g2,
        |    CAST(sum(CAST(dd AS HUGEINT) * d3) AS DOUBLE) AS g3
        |  FROM l)
        |SELECT nd AS n_days,
        |  floor(g0 / nd / 1.0e12 * 1000000 + 0.5) / 1.0e6 AS gamma0,
        |  floor((g0 + 2 * (0.75 * g1 + 0.5 * g2 + 0.25 * g3)) / nd / 1.0e12
        |    * 1000000 + 0.5) / 1.0e6 AS lrv,
        |  floor(sqrt((g0 + 2 * (0.75 * g1 + 0.5 * g2 + 0.25 * g3))
        |    / nd / 1.0e12 / nd) * 1000000000 + 0.5) / 1.0e9 AS se_nw
        |FROM g""".stripMargin) { (s, dir) =>
      val dec38 = DecimalType(38, 0)
      val d = Tables.eventsTimed(s, dir)
        .groupBy(expr("ts_s div 86400").as("day"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast(LongType)).as("cents"),
          count(lit(1)).as("cnt"))
      val x = d.select(col("day"), expr("(cents * 10000) div cnt").as("xm"))
        .persist() // ≤|days| bookkeeping; feeds the anchor AND the lags
      val a = x.agg(count(lit(1)).as("nd"), sum(col("xm")).as("sx"))
      val dv = x.crossJoin(broadcast(a)) // 1-row (n, Σx) demeaning anchor
        .select(col("day"), (col("xm") - expr("sx div nd")).as("dd"), col("nd"))
      val w = Window.orderBy(col("day")) // ≤|days| daily relation
      val l = dv
        .withColumn("d1", lag(col("dd"), 1).over(w))
        .withColumn("d2", lag(col("dd"), 2).over(w))
        .withColumn("d3", lag(col("dd"), 3).over(w))
      def gsum(c: String) =
        sum(col("dd").cast(dec38) * col(c).cast(dec38)).cast(DoubleType)
      val g = l.agg(max(col("nd")).as("nd"),
        gsum("dd").as("g0"), gsum("d1").as("g1"),
        gsum("d2").as("g2"), gsum("d3").as("g3"))
      val lrv = col("g0") + lit(2) * (lit(0.75) * col("g1")
        + lit(0.5) * col("g2") + lit(0.25) * col("g3"))
      g.select(col("nd").as("n_days"),
        (floor(col("g0") / col("nd") / lit(1.0e12) * lit(1000000)
          + lit(0.5)) / lit(1.0e6)).as("gamma0"),
        (floor(lrv / col("nd") / lit(1.0e12) * lit(1000000) + lit(0.5))
          / lit(1.0e6)).as("lrv"),
        (floor(sqrt(lrv / col("nd") / lit(1.0e12) / col("nd"))
          * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("se_nw"))
    },

    // ------------------------------------------------------------------
    // CUPED variance reduction — the standard pre-experiment covariate
    // adjustment every experimentation platform applies before the
    // t-test (Deng et al.): per-user pre-period spend X (first half of
    // the observation window) predicts post-period spend Y; the
    // adjusted metric Y − θ(X − X̄) with θ = cov(X,Y)/var(X) keeps the
    // same mean but sheds corr(X,Y)² of the variance. Determinism: the
    // window midpoint is exact integer arithmetic on ts; per-event
    // values snap ×100 to exact longs; per-user (x, y) are exact long
    // sums; the five pooled moments accumulate in DECIMAL(38)/HUGEINT
    // (the spearman discipline — x²-sums outgrow BIGINT with the
    // corpus) and convert to double ONCE; θ/variances then assemble in
    // mirrored double chains. Scale shape: one corpus scan → one
    // user-keyed agg (map-side combined) → a 1-row moment relation;
    // nothing user-scale moves after the first agg.
    "ev_cuped" -> QueryDef.withOracle(
      """WITH e AS (
        |  SELECT user_id, CAST(epoch_ns(ts) AS BIGINT) AS tsn,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS vfp
        |  FROM events),
        |b AS (SELECT min(tsn) + (max(tsn) - min(tsn)) // 2 AS mid FROM e),
        |u AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN e.tsn <= b.mid THEN vfp ELSE 0 END) AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN e.tsn > b.mid THEN vfp ELSE 0 END) AS BIGINT) AS y
        |  FROM e CROSS JOIN b GROUP BY user_id),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS DOUBLE) AS sx,
        |    CAST(CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS DOUBLE) AS sy,
        |    CAST(CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS DOUBLE) AS sxx,
        |    CAST(CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS DOUBLE) AS sxy,
        |    CAST(CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS DOUBLE) AS syy
        |  FROM u)
        |SELECT n AS n_users,
        |  floor((CAST(n AS DOUBLE) * sxy - sx * sy)
        |      / (CAST(n AS DOUBLE) * sxx - sx * sx) * 1000000000 + 0.5)
        |    / 1.0e9 AS theta,
        |  floor((CAST(n AS DOUBLE) * syy - sy * sy)
        |      / (CAST(n AS DOUBLE) * n) / 10000.0 * 1000000 + 0.5)
        |    / 1.0e6 AS var_y,
        |  floor(((CAST(n AS DOUBLE) * syy - sy * sy)
        |        / (CAST(n AS DOUBLE) * n) / 10000.0
        |      - ((CAST(n AS DOUBLE) * sxy - sx * sy)
        |          / (CAST(n AS DOUBLE) * n) / 10000.0)
        |        * ((CAST(n AS DOUBLE) * sxy - sx * sy)
        |          / (CAST(n AS DOUBLE) * n) / 10000.0)
        |        / ((CAST(n AS DOUBLE) * sxx - sx * sx)
        |          / (CAST(n AS DOUBLE) * n) / 10000.0)) * 1000000 + 0.5)
        |    / 1.0e6 AS var_adj,
        |  floor((CAST(n AS DOUBLE) * sxy - sx * sy)
        |      * (CAST(n AS DOUBLE) * sxy - sx * sy)
        |      / ((CAST(n AS DOUBLE) * sxx - sx * sx)
        |         * (CAST(n AS DOUBLE) * syy - sy * sy))
        |      * 1000000000 + 0.5) / 1.0e9 AS var_reduction
        |FROM m""".stripMargin) { (s, dir) =>
      val dec38 = DecimalType(38, 0)
      val e = Tables.events(s, dir).select(col("user_id"), col("ts"),
        floor(col("value") * 100 + 0.5).cast(LongType).as("vfp"))
      val b = e.agg(expr("min(ts) + (max(ts) - min(ts)) div 2").as("mid"))
      val u = e.crossJoin(broadcast(b)) // 1-row window-midpoint anchor
        .groupBy(col("user_id"))
        .agg(sum(when(col("ts") <= col("mid"), col("vfp")).otherwise(0L)).as("x"),
          sum(when(col("ts") > col("mid"), col("vfp")).otherwise(0L)).as("y"))
      val m = u.agg(count(lit(1)).as("n"),
        sum(col("x").cast(dec38)).cast(DoubleType).as("sx"),
        sum(col("y").cast(dec38)).cast(DoubleType).as("sy"),
        sum(col("x").cast(dec38) * col("x").cast(dec38))
          .cast(DoubleType).as("sxx"),
        sum(col("x").cast(dec38) * col("y").cast(dec38))
          .cast(DoubleType).as("sxy"),
        sum(col("y").cast(dec38) * col("y").cast(dec38))
          .cast(DoubleType).as("syy"))
      val nD = col("n").cast(DoubleType)
      val covFp2 = (nD * col("sxy") - col("sx") * col("sy")) / (nD * col("n")) / lit(10000.0)
      val vxFp2 = (nD * col("sxx") - col("sx") * col("sx")) / (nD * col("n")) / lit(10000.0)
      val vyFp2 = (nD * col("syy") - col("sy") * col("sy")) / (nD * col("n")) / lit(10000.0)
      m.select(col("n").as("n_users"),
        (floor((nD * col("sxy") - col("sx") * col("sy"))
          / (nD * col("sxx") - col("sx") * col("sx"))
          * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("theta"),
        (floor(vyFp2 * lit(1.0e6) + lit(0.5)) / lit(1.0e6)).as("var_y"),
        (floor((vyFp2 - covFp2 * covFp2 / vxFp2) * lit(1.0e6) + lit(0.5))
          / lit(1.0e6)).as("var_adj"),
        (floor((nD * col("sxy") - col("sx") * col("sy"))
            * (nD * col("sxy") - col("sx") * col("sy"))
          / ((nD * col("sxx") - col("sx") * col("sx"))
            * (nD * col("syy") - col("sy") * col("sy")))
          * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("var_reduction"))
    },

    // ------------------------------------------------------------------
    // RFM (recency / frequency / monetary) quintile segmentation — the
    // standard behavioral-cohort cut. Each quintile is a GLOBAL
    // ntile(5) over the user population, which is corpus-scale, so a
    // direct window (one task sorting every user) is out; each metric
    // instead rides the q34 distributed-rank plan (200 literal range
    // buckets → per-bucket offsets → local row_number + offset = exact
    // global rank → ntile in closed form). Three metrics = three
    // bounded-fan rank passes over the already-aggregated user
    // relation; the events table is scanned once.
    "ev_rfm" -> QueryDef.withOracle(
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(count(*) AS BIGINT) AS freq,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary,
        |    max(CAST(floor(epoch(ts)) AS BIGINT)) AS last_s
        |  FROM events GROUP BY 1),
        |g AS (SELECT max(CAST(floor(epoch(ts)) AS BIGINT)) AS gmax FROM events),
        |r AS (
        |  SELECT u.user_id, u.freq, u.monetary,
        |    CAST((g.gmax - u.last_s) // 86400 AS BIGINT) AS recency_days
        |  FROM u CROSS JOIN g),
        |q AS (
        |  SELECT user_id, recency_days, freq, monetary,
        |    CAST(ntile(5) OVER (ORDER BY recency_days ASC, user_id ASC) AS BIGINT) AS r_q,
        |    CAST(ntile(5) OVER (ORDER BY freq ASC, user_id ASC) AS BIGINT) AS f_q,
        |    CAST(ntile(5) OVER (ORDER BY monetary ASC, user_id ASC) AS BIGINT) AS m_q
        |  FROM r)
        |SELECT user_id, recency_days, freq, monetary, r_q, f_q, m_q,
        |  r_q * 100 + f_q * 10 + m_q AS rfm_code
        |FROM q""".stripMargin) { (s, dir) =>
      val ev = Tables.eventsTimed(s, dir)
      val u = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("freq"),
          sum(col("value").cast(dec2)).cast(DoubleType).as("monetary"),
          max(col("ts_s")).as("last_s"))
      val gmax = ev.agg(max(col("ts_s")).as("gmax"))
      val base = u.crossJoin(broadcast(gmax)) // 1-row global anchor
        .select(col("user_id"), col("freq"), col("monetary"),
          floor((col("gmax") - col("last_s")) / 86400).cast(LongType).as("recency_days"))
        .persist() // each rank pass min/maxes AND re-reads its input —
      // without the cut, pass 3 would recompute the events scan and
      // both earlier passes several times over
      val withQ = Seq(("recency_days", "r_q"), ("freq", "f_q"), ("monetary", "m_q"))
        .foldLeft(base) { case (df, (metric, qName)) =>
          distributedNtile(df, metric, "user_id", 5, qName).persist()
        }
      withQ.withColumn("rfm_code",
        col("r_q") * 100 + col("f_q") * 10 + col("m_q"))
    },

    // ------------------------------------------------------------------
    // Kaplan-Meier survival per signup-week cohort — the product-limit
    // estimator S(t) = Π (1 − d_i/n_i) over event times. Event of
    // interest: the user's FIRST high-value purchase (value ≥ 90);
    // users who never convert are right-censored at the observation
    // end — the time-to-conversion curve, with real censoring. Scale
    // shape: the corpus crosses two keyed aggs (per-user first-seen /
    // first-conversion, then per-(cohort, hour) counts); the KM
    // windows ride the calendar-bounded (cohort × duration-hour)
    // relation — bookkeeping rows, never users. Determinism: d_i/n_i
    // are integer ratios (identical doubles), each ln term snaps to
    // ×10⁶ fixed point (exact long cumsum — the text_bigram_lm
    // discipline), exp at the end; a d=n full-extinction row (only
    // ever the cohort's last) short-circuits to exactly 0.0 instead of
    // pushing ln(0) through the sum.
    "ev_survival" -> QueryDef.withOracle(
      s"""WITH ${riskTableSql("d_converted")},
        |t AS (
        |  SELECT *, CASE WHEN d_converted < n_at_risk
        |    THEN CAST(floor(ln(1.0 - d_converted * 1.0 / n_at_risk) * 1000000) AS BIGINT)
        |    ELSE 0 END AS term_fp FROM k),
        |s AS (
        |  SELECT *, sum(term_fp) OVER (PARTITION BY cohort_week ORDER BY t_hours ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
        |SELECT cohort_week, t_hours, n_at_risk, d_converted, c_censored,
        |  CASE WHEN d_converted = n_at_risk THEN 0.0
        |       ELSE round(exp(cum / 1000000.0), 6) END AS surv
        |FROM s""".stripMargin) { (s, dir) =>
      val k = riskTable(s, dir, "d_converted")
      val termFp = when(col("d_converted") < col("n_at_risk"),
        floor(log(lit(1.0) - col("d_converted") * lit(1.0) / col("n_at_risk")) * 1000000)
          .cast(LongType)).otherwise(lit(0L))
      k.withColumn("term_fp", termFp)
        .withColumn("cum",
          sum(col("term_fp")).over(
            cohortHours.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("cohort_week"), col("t_hours"), col("n_at_risk"),
          col("d_converted"), col("c_censored"),
          when(col("d_converted") === col("n_at_risk"), lit(0.0))
            .otherwise(round(exp(col("cum") / 1000000.0), 6)).as("surv"))
    },

    // ------------------------------------------------------------------
    // Nelson-Aalen cumulative hazard — the estimator survival analysts
    // publish NEXT TO Kaplan-Meier (ev_survival): H(t) = Σ d_i/n_i
    // accumulates hazard directly (better small-sample behavior, and
    // exp(−H) gives the Fleming-Harrington survival curve), plus its
    // variance Σ d_i/n_i². Identical risk-set machinery to ev_survival
    // (cohorted event-time table, bookkeeping windows over the
    // calendar-bounded relation); each d/n and d/n² term snaps to a
    // ×10⁹ long BEFORE the cumulative sum so the curve is exact-
    // integer partitioning-invariant — no float accumulation, unlike
    // the KM product which needs the ln/exp trick.
    "ev_nelson_aalen" -> QueryDef.withOracle(
      s"""WITH ${riskTableSql("d_events")},
        |t AS (
        |  SELECT *,
        |    CAST(floor(CAST(d_events AS DOUBLE) / n_at_risk * 1e9 + 0.5)
        |      AS BIGINT) AS h_fp,
        |    CAST(floor(CAST(d_events AS DOUBLE) / n_at_risk / n_at_risk * 1e9
        |      + 0.5) AS BIGINT) AS v_fp
        |  FROM k),
        |s AS (
        |  SELECT *,
        |    CAST(sum(h_fp) OVER o AS BIGINT) AS cum_h,
        |    CAST(sum(v_fp) OVER o AS BIGINT) AS cum_v
        |  FROM t WINDOW o AS (PARTITION BY cohort_week ORDER BY t_hours ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT cohort_week, t_hours, n_at_risk, d_events, c_censored,
        |  cum_h / 1.0e9 AS cum_hazard,
        |  cum_v / 1.0e9 AS hazard_var,
        |  round(exp(-cum_h / 1.0e9), 6) AS fh_surv
        |FROM s""".stripMargin) { (s, dir) =>
      val k = riskTable(s, dir, "d_events")
      val cumW = cohortHours.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      k.withColumn("h_fp",
          floor(col("d_events").cast(DoubleType) / col("n_at_risk") * lit(1.0e9)
            + 0.5).cast(LongType))
        .withColumn("v_fp",
          floor(col("d_events").cast(DoubleType) / col("n_at_risk")
            / col("n_at_risk") * lit(1.0e9) + 0.5).cast(LongType))
        .withColumn("cum_h", sum(col("h_fp")).over(cumW))
        .withColumn("cum_v", sum(col("v_fp")).over(cumW))
        .select(col("cohort_week"), col("t_hours"), col("n_at_risk"),
          col("d_events"), col("c_censored"),
          (col("cum_h") / lit(1.0e9)).as("cum_hazard"),
          (col("cum_v") / lit(1.0e9)).as("hazard_var"),
          round(exp(-col("cum_h") / lit(1.0e9)), 6).as("fh_surv"))
    },

    // ------------------------------------------------------------------
    // Kaplan-Meier with Greenwood 95% confidence bands — the published
    // form of ev_survival (no agency or product team ships a survival
    // curve without its band). Same risk-set machinery; Greenwood's
    // variance accumulates Σ d/(n(n−d)) with each term ×10¹²-snapped
    // to a long BEFORE the cumulative window (exact-integer, like the
    // KM ln-product chain), and the band is S·exp(±1.96·se(log S)) —
    // the log-scale form that keeps the limits inside [0,1] without
    // clipping artifacts. Bounded bookkeeping after the one corpus agg.
    "ev_survival_ci" -> QueryDef.withOracle(
      s"""WITH ${riskTableSql("d_converted")},
        |t AS (
        |  SELECT *, CASE WHEN d_converted < n_at_risk
        |    THEN CAST(floor(ln(1.0 - d_converted * 1.0 / n_at_risk) * 1000000) AS BIGINT)
        |    ELSE 0 END AS term_fp,
        |  CASE WHEN d_converted < n_at_risk
        |    THEN CAST(floor(CAST(d_converted AS DOUBLE) / n_at_risk
        |      / (n_at_risk - d_converted) * 1e12 + 0.5) AS BIGINT)
        |    ELSE 0 END AS gw_fp FROM k),
        |s AS (
        |  SELECT *,
        |    CAST(sum(term_fp) OVER o AS BIGINT) AS cum,
        |    CAST(sum(gw_fp) OVER o AS BIGINT) AS cum_gw
        |  FROM t WINDOW o AS (PARTITION BY cohort_week ORDER BY t_hours ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT cohort_week, t_hours, n_at_risk, d_converted,
        |  CASE WHEN d_converted = n_at_risk THEN 0.0
        |       ELSE round(exp(cum / 1000000.0), 6) END AS surv,
        |  CASE WHEN d_converted = n_at_risk THEN 0.0
        |       ELSE floor(exp(cum / 1000000.0)
        |         * exp(-1.96 * sqrt(cum_gw / 1e12)) * 1e6 + 0.5) / 1.0e6
        |       END AS ci_lo,
        |  CASE WHEN d_converted = n_at_risk THEN 0.0
        |       ELSE least(1.0, floor(exp(cum / 1000000.0)
        |         * exp(1.96 * sqrt(cum_gw / 1e12)) * 1e6 + 0.5) / 1.0e6)
        |       END AS ci_hi
        |FROM s""".stripMargin) { (s, dir) =>
      val k = riskTable(s, dir, "d_converted")
      val termFp = when(col("d_converted") < col("n_at_risk"),
        floor(log(lit(1.0) - col("d_converted") * lit(1.0) / col("n_at_risk")) * 1000000)
          .cast(LongType)).otherwise(lit(0L))
      val gwFp = when(col("d_converted") < col("n_at_risk"),
        floor(col("d_converted").cast(DoubleType) / col("n_at_risk")
          / (col("n_at_risk") - col("d_converted")) * lit(1.0e12) + 0.5)
          .cast(LongType)).otherwise(lit(0L))
      val cumW = cohortHours.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val surv = exp(col("cum") / 1000000.0)
      k.withColumn("term_fp", termFp).withColumn("gw_fp", gwFp)
        .withColumn("cum", sum(col("term_fp")).over(cumW))
        .withColumn("cum_gw", sum(col("gw_fp")).over(cumW))
        .select(col("cohort_week"), col("t_hours"), col("n_at_risk"),
          col("d_converted"),
          when(col("d_converted") === col("n_at_risk"), lit(0.0))
            .otherwise(round(surv, 6)).as("surv"),
          when(col("d_converted") === col("n_at_risk"), lit(0.0))
            .otherwise(floor(surv * exp(lit(-1.96)
              * sqrt(col("cum_gw") / lit(1.0e12))) * lit(1.0e6) + 0.5)
              / lit(1.0e6)).as("ci_lo"),
          when(col("d_converted") === col("n_at_risk"), lit(0.0))
            .otherwise(least(lit(1.0), floor(surv * exp(lit(1.96)
              * sqrt(col("cum_gw") / lit(1.0e12))) * lit(1.0e6) + 0.5)
              / lit(1.0e6))).as("ci_hi"))
    },

    // ------------------------------------------------------------------
    // Last-touch attribution: each purchase is credited to the same
    // user's most recent preceding touch event (click/view/signup)
    // within a 7-day lookback, else 'organic'. The carry-forward is
    // the asof_join formulation folded into ONE stream: a single
    // user-keyed shuffle, last(_, ignoreNulls) over the (ts, id)-
    // ordered partition — no per-purchase range join, no second scan.
    "ev_attribution" -> QueryDef.withOracle(
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        |  FROM events),
        |t AS (
        |  SELECT *,
        |    last_value(CASE WHEN event_type IN ('click', 'view', 'signup')
        |      THEN event_id END IGNORE NULLS) OVER w AS touch_id,
        |    last_value(CASE WHEN event_type IN ('click', 'view', 'signup')
        |      THEN ts_s END IGNORE NULLS) OVER w AS touch_s,
        |    last_value(CASE WHEN event_type IN ('click', 'view', 'signup')
        |      THEN event_type END IGNORE NULLS) OVER w AS touch_type
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_s ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, ts_s,
        |  CASE WHEN touch_s IS NOT NULL AND ts_s - touch_s <= 604800
        |       THEN touch_type ELSE 'organic' END AS channel,
        |  CASE WHEN touch_s IS NOT NULL AND ts_s - touch_s <= 604800
        |       THEN touch_id END AS touch_event_id,
        |  CASE WHEN touch_s IS NOT NULL AND ts_s - touch_s <= 604800
        |       THEN ts_s - touch_s END AS touch_age_s
        |FROM t WHERE event_type = 'purchase'""".stripMargin) { (s, dir) =>
      val touch = col("event_type").isin("click", "view", "signup")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_s").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val attributed = col("touch_s").isNotNull &&
        col("ts_s") - col("touch_s") <= 604800L
      Tables.eventsTimed(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts_s"))
        .withColumn("touch_id", last(when(touch, col("event_id")), ignoreNulls = true).over(w))
        .withColumn("touch_s", last(when(touch, col("ts_s")), ignoreNulls = true).over(w))
        .withColumn("touch_type", last(when(touch, col("event_type")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_s"),
          when(attributed, col("touch_type")).otherwise("organic").as("channel"),
          when(attributed, col("touch_id")).as("touch_event_id"),
          when(attributed, col("ts_s") - col("touch_s")).as("touch_age_s"))
    },

    // ------------------------------------------------------------------
    // Hour-of-week seasonality profile: (day-of-week, hour-of-day)
    // activity heatmap with event counts and exact value sums — the
    // capacity-planning / anomaly-baseline read of the event stream.
    // Pure integer arithmetic on floored epoch seconds (epoch day 0 =
    // Thursday, so dow = (day + 4) % 7 puts Sunday at 0), never
    // engine-local date parts — one map-side-combined 168-group agg.
    "ev_seasonality_profile" -> QueryDef.withOracle(
      """WITH e AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, value
        |  FROM events)
        |SELECT CAST(((ts_s // 86400) + 4) % 7 AS INT) AS dow,
        |  CAST((ts_s % 86400) // 3600 AS INT) AS hour,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM e GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Tables.eventsTimed(s, dir)
        .select(
          ((expr("ts_s div 86400") + 4) % 7).cast(IntegerType).as("dow"),
          expr("(ts_s % 86400) div 3600").cast(IntegerType).as("hour"),
          col("value"))
        .groupBy(col("dow"), col("hour"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec2)).cast(DoubleType).as("sum_value"))
    },

    // ------------------------------------------------------------------
    // LINEAR multi-touch attribution: every touch (click/view/signup)
    // in the 7 days before a purchase shares the purchase's credit
    // equally; untouched purchases credit 'organic'. The purchase ×
    // touch pair join is keyed on user_id (per-user history bounded —
    // the ev_sessionize contract) with the range predicate applied
    // post-join; per-purchase touch counts ride a window partitioned
    // by the purchase id (rows per purchase ≤ the user's touches).
    // Per-pair credits are FIXED-POINT (floor(10⁶/n + 0.5) longs) so
    // the per-channel credit sums are exact and order-invariant.
    "ev_attribution_linear" -> QueryDef.withOracle(
      s"""WITH $touchSql,
        |pairs AS (
        |  SELECT p.event_id, p.ts_s, t.touch_id, t.touch_type
        |  FROM p LEFT JOIN t ON t.user_id = p.user_id
        |    AND t.touch_s <= p.ts_s AND t.touch_s >= p.ts_s - 604800),
        |cr AS (
        |  SELECT event_id, touch_id, touch_type,
        |    count(touch_id) OVER (PARTITION BY event_id) AS n
        |  FROM pairs)
        |SELECT coalesce(touch_type, 'organic') AS channel,
        |  CAST(count(*) AS BIGINT) AS n_touchpoints,
        |  CAST(sum(CASE WHEN touch_id IS NULL THEN 1000000
        |    ELSE CAST(floor(1000000.0 / n + 0.5) AS BIGINT) END) AS BIGINT)
        |    / 1.0e6 AS credit
        |FROM cr GROUP BY 1""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("event_id"))
      touchPairs(s, dir)
        .select(col("event_id"), col("touch_id"), col("touch_type"))
        .withColumn("n", count(col("touch_id")).over(w))
        .groupBy(coalesce(col("touch_type"), lit("organic")).as("channel"))
        .agg(count(lit(1)).as("n_touchpoints"),
          (sum(when(col("touch_id").isNull, 1000000L)
            .otherwise(floor(lit(1000000.0) / col("n") + 0.5).cast(LongType)))
            / lit(1.0e6)).as("credit"))
    },

    // ------------------------------------------------------------------
    // Bounded-lag EWMA smoothing per user (α-decay over the last ≤16
    // events): the classic trend signal, formulated so it stays a
    // window expression — collect the ≤16-value tail, weight by the
    // literal 0.7^lag sequence row-locally. Per-user window partitions
    // (per-user history is bounded, same contract as ev_sessionize /
    // q8); the ≤16-term weighted sum is left-folded in a fixed order,
    // so the double math is engine-identical before the 9-dp round.
    "ev_ewma" -> QueryDef.withOracle(
      """WITH e AS (
        |  SELECT event_id, user_id, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        |  FROM events WHERE value IS NOT NULL),
        |w AS (
        |  SELECT event_id, user_id, ts_s, value,
        |    list(value) OVER (PARTITION BY user_id
        |      ORDER BY ts_s ASC, event_id ASC
        |      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS tail
        |  FROM e)
        |SELECT event_id, user_id, ts_s, value,
        |  CAST(len(tail) AS BIGINT) AS n_window,
        |  round(
        |    list_sum(list_transform(range(1, len(tail) + 1),
        |      i -> tail[CAST(i AS INT)] * pow(0.7, len(tail) - i))) /
        |    list_sum(list_transform(range(1, len(tail) + 1),
        |      i -> pow(0.7, len(tail) - i))), 9) AS ewma
        |FROM w""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_s").asc, col("event_id").asc)
        .rowsBetween(-15, Window.currentRow)
      val tail = col("tail")
      val len = size(tail)
      val num = aggregate(sequence(lit(1), len), lit(0.0),
        (acc, i) => acc + element_at(tail, i) * pow(lit(0.7), (len - i).cast(DoubleType)))
      val den = aggregate(sequence(lit(1), len), lit(0.0),
        (acc, i) => acc + pow(lit(0.7), (len - i).cast(DoubleType)))
      // null `value`s are filtered identically on BOTH engines: Spark's
      // collect_list drops nulls while DuckDB's list() window keeps
      // them, so an unfiltered null would shift the tail and diverge —
      // the EWMA is defined over non-null observations by contract
      Tables.eventsTimed(s, dir)
        .filter(col("value").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts_s"), col("value"),
          collect_list(col("value")).over(w).as("tail"))
        .select(col("event_id"), col("user_id"), col("ts_s"), col("value"),
          len.cast(LongType).as("n_window"),
          round(num / den, 9).as("ewma"))
    },

    // ------------------------------------------------------------------
    // DAU / rolling-7-day / rolling-28-day EXACT active users per day,
    // plus the DAU/MAU stickiness ratio. Rolling distinct is done the
    // scalable way: each distinct (user, day) activity explodes into
    // the ≤7 (or ≤28) window-END days it supports, then one
    // count-distinct per end-day — a bounded constant-factor blowup of
    // the deduped activity table, never a per-day rescan, and every agg
    // partial-aggregates map-side. Day-grain relations are calendar-
    // bounded bookkeeping; the bounds crop partial leading windows.
    "ev_dau_stickiness" -> QueryDef.withOracle(
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
        |  FROM events),
        |bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM ud),
        |dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY day),
        |w7 AS (
        |  SELECT e.day, count(DISTINCT e.user_id) AS wau7 FROM (
        |    SELECT ud.user_id, ud.day + x.o AS day
        |    FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS o) x) e
        |  CROSS JOIN bounds b WHERE e.day BETWEEN b.d0 AND b.d1 GROUP BY e.day),
        |w28 AS (
        |  SELECT e.day, count(DISTINCT e.user_id) AS mau28 FROM (
        |    SELECT ud.user_id, ud.day + x.o AS day
        |    FROM ud CROSS JOIN (SELECT unnest(range(0, 28)) AS o) x) e
        |  CROSS JOIN bounds b WHERE e.day BETWEEN b.d0 AND b.d1 GROUP BY e.day)
        |SELECT d.day, d.dau, w7.wau7, w28.mau28,
        |  round(CAST(d.dau AS DOUBLE) / w28.mau28, 9) AS stickiness
        |FROM dau d JOIN w7 ON w7.day = d.day JOIN w28 ON w28.day = d.day""".stripMargin) { (s, dir) =>
      val ud = Tables.eventsTimed(s, dir)
        .select(col("user_id"), expr("ts_s div 86400").as("day"))
        .distinct().persist() // shared by all three actives aggs
      val bounds = ud.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      def rolling(n: Int, name: String) = ud
        .select(col("user_id"),
          explode(sequence(col("day"), col("day") + (n - 1))).as("day"))
        .crossJoin(broadcast(bounds))
        .filter(col("day").between(col("d0"), col("d1")))
        .groupBy(col("day")).agg(countDistinct(col("user_id")).as(name))
      val dau = ud.groupBy(col("day")).agg(countDistinct(col("user_id")).as("dau"))
      dau.join(rolling(7, "wau7"), "day").join(rolling(28, "mau28"), "day")
        .select(col("day"), col("dau"), col("wau7"), col("mau28"),
          round(col("dau").cast(DoubleType) / col("mau28"), 9).as("stickiness"))
    },

    // ------------------------------------------------------------------
    // Growth accounting: each week's actives split into new / retained
    // / resurrected, plus churned = last week's actives who went
    // silent. One distinct (user, week) pass; the classifying lag rides
    // per-user windows (bounded per user); weekly totals and the
    // churn lag ride the calendar-bounded week relation.
    "ev_growth_accounting" -> QueryDef.withOracle(
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS week
        |  FROM events),
        |cls AS (
        |  SELECT user_id, week,
        |    lag(week) OVER (PARTITION BY user_id ORDER BY week) AS prev_week
        |  FROM uw),
        |wk AS (
        |  SELECT week,
        |    CAST(count(*) AS BIGINT) AS n_active,
        |    CAST(sum(CASE WHEN prev_week IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |    CAST(sum(CASE WHEN prev_week = week - 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |    CAST(sum(CASE WHEN prev_week IS NOT NULL AND prev_week < week - 1
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        |  FROM cls GROUP BY week)
        |SELECT week, n_active, n_new, n_retained, n_resurrected,
        |  coalesce(lag(n_active) OVER (ORDER BY week), 0) - n_retained AS n_churned
        |FROM wk""".stripMargin) { (s, dir) =>
      val uw = Tables.eventsTimed(s, dir)
        .select(col("user_id"), expr("ts_s div 604800").as("week"))
        .distinct()
      val wUser = Window.partitionBy(col("user_id")).orderBy(col("week").asc)
      val wk = uw
        .withColumn("prev_week", lag(col("week"), 1).over(wUser))
        .groupBy(col("week"))
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("prev_week").isNull, 1L).otherwise(0L)).as("n_new"),
          sum(when(col("prev_week") === col("week") - 1, 1L).otherwise(0L))
            .as("n_retained"),
          sum(when(col("prev_week").isNotNull && col("prev_week") < col("week") - 1,
            1L).otherwise(0L)).as("n_resurrected"))
      // churn lag over the handful of calendar weeks — bookkeeping
      val wWeek = Window.orderBy(col("week").asc)
      wk.withColumn("n_churned",
          coalesce(lag(col("n_active"), 1).over(wWeek), lit(0L)) - col("n_retained"))
        .select(col("week"), col("n_active"), col("n_new"), col("n_retained"),
          col("n_resurrected"), col("n_churned"))
    },

    // ------------------------------------------------------------------
    // Three-step ORDERED funnel (signup → first click at-or-after →
    // first purchase at-or-after that click): the k-step extension of
    // ev_funnel. Each step is one filtered keyed aggregation joined to
    // the previous step's anchor — step k's work is bounded by step
    // k-1's survivors, all shuffles on user_id, no windows over the
    // event log. Ties on the floored second resolve identically on
    // both engines because the anchor is the step MINIMUM.
    "ev_funnel3" -> QueryDef.withOracle(
      """WITH su AS (
        |  SELECT user_id, min(CAST(floor(epoch(ts)) AS BIGINT)) AS signup_s
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |ck AS (
        |  SELECT e.user_id, su.signup_s,
        |    min(CAST(floor(epoch(e.ts)) AS BIGINT)) AS click_s
        |  FROM events e JOIN su ON e.user_id = su.user_id
        |  WHERE e.event_type = 'click'
        |    AND CAST(floor(epoch(e.ts)) AS BIGINT) >= su.signup_s
        |  GROUP BY e.user_id, su.signup_s),
        |pu AS (
        |  SELECT e.user_id, ck.signup_s, ck.click_s,
        |    min(CAST(floor(epoch(e.ts)) AS BIGINT)) AS purchase_s
        |  FROM events e JOIN ck ON e.user_id = ck.user_id
        |  WHERE e.event_type = 'purchase'
        |    AND CAST(floor(epoch(e.ts)) AS BIGINT) >= ck.click_s
        |  GROUP BY e.user_id, ck.signup_s, ck.click_s)
        |SELECT user_id, signup_s, click_s, purchase_s,
        |  purchase_s - signup_s AS total_delay_s
        |FROM pu""".stripMargin) { (s, dir) =>
      val ev = Tables.eventsTimed(s, dir)
      val su = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts_s")).as("signup_s"))
      val ck = ev.filter(col("event_type") === "click")
        .join(su, "user_id")
        .filter(col("ts_s") >= col("signup_s"))
        .groupBy(col("user_id"), col("signup_s"))
        .agg(min(col("ts_s")).as("click_s"))
      ev.filter(col("event_type") === "purchase")
        .join(ck, "user_id")
        .filter(col("ts_s") >= col("click_s"))
        .groupBy(col("user_id"), col("signup_s"), col("click_s"))
        .agg(min(col("ts_s")).as("purchase_s"))
        .withColumn("total_delay_s", col("purchase_s") - col("signup_s"))
    },

    // ------------------------------------------------------------------
    // CUSUM changepoint screen per event type: cumulative deviation of
    // daily counts from the type's mean rate; the |cusum| peak marks
    // the most likely level-shift day (Page's classic statistic over
    // the daily grain). The corpus pays ONE map-side-combined
    // (type, day) count; every window after that rides the
    // calendar-bounded type×day relation. Deviations stay in exact
    // integer space (n·D − T, the clean common-denominator trick) so
    // the running sum is order-invariant; the ÷D happens once at
    // output, snapped to ×10⁹ fixed point.
    "ev_changepoint_cusum" -> QueryDef.withOracle(
      s"""WITH ${dailyCountsSql("d")},
        |t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |             CAST(sum(n) AS BIGINT) AS total FROM d GROUP BY event_type),
        |c AS (
        |  SELECT d.event_type, d.day, d.n, t.n_days,
        |    CAST(sum(d.n * t.n_days - t.total) OVER (PARTITION BY d.event_type
        |      ORDER BY d.day ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cusum_fp
        |  FROM d JOIN t USING (event_type)),
        |m AS (SELECT event_type, max(abs(cusum_fp)) AS mx
        |      FROM c GROUP BY event_type)
        |SELECT c.event_type, c.day, c.n,
        |  CAST(floor(CAST(c.cusum_fp AS DOUBLE) * 1000000000 / c.n_days + 0.5)
        |    AS BIGINT) / 1.0e9 AS cusum,
        |  abs(c.cusum_fp) = m.mx AS is_peak
        |FROM c JOIN m USING (event_type)""".stripMargin) { (s, dir) =>
      val d = dailyCounts(s, dir)
        .persist() // type×day bookkeeping; feeds totals + the cusum walk
      val t = d.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"), sum(col("n")).as("total"))
      val wc = Window.partitionBy(col("event_type")).orderBy(col("day").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val c = d.join(broadcast(t), "event_type")
        .withColumn("cusum_fp",
          sum(col("n") * col("n_days") - col("total")).over(wc))
      val m = c.groupBy(col("event_type")).agg(max(abs(col("cusum_fp"))).as("mx"))
      c.join(broadcast(m), "event_type")
        .select(col("event_type"), col("day"), col("n"),
          (floor(col("cusum_fp").cast(DoubleType) * lit(1.0e9) / col("n_days")
            + lit(0.5)).cast(LongType) / lit(1.0e9)).as("cusum"),
          (abs(col("cusum_fp")) === col("mx")).as("is_peak"))
    },

    // ------------------------------------------------------------------
    // Daily-count autocorrelation per event type at lags 1 and 7 (the
    // seasonality screen that justifies ev_forecast_snaive's weekly
    // lag): ACF_L = Σ dev_t·dev_{t+L} / Σ dev_t², with deviations in
    // the exact-integer common-denominator form dev = n_t·D − T (the
    // ev_changepoint_cusum discipline — the shared ×D scale cancels in
    // the ratio, so no double mean ever enters). One map-side-combined
    // (type, day) count; lag pairs are a calendar self-join of the
    // bookkeeping relation; numerator/denominator are exact long sums,
    // the ratio snaps ×10⁹.
    "ev_autocorrelation" -> QueryDef.withOracle(
      s"""WITH ${dailyCountsSql("d")},
        |${acfSql("1, 7")}
        |SELECT n.event_type, CAST(n.lag AS INT) AS lag, n.n_pairs,
        |  CAST(floor(CAST(n.sp AS DOUBLE) * 1000000000 / den.ss + 0.5) AS BIGINT)
        |    / 1.0e9 AS acf
        |FROM num n JOIN den USING (event_type)""".stripMargin) { (s, dir) =>
      val d = dailyCounts(s, dir)
        .persist() // type×day bookkeeping; totals + both join sides
      val t = typeTotals(d)
      val v = deviations(d, t)
      val den = v.groupBy(col("event_type"))
        .agg(sum(col("dev") * col("dev")).as("ss"))
      import s.implicits._
      val num = lagProducts(v, Seq(1, 7).toDF("lag"), count(lit(1)).as("n_pairs"))
      num.join(broadcast(den), "event_type")
        .select(col("event_type"), col("lag").cast(IntegerType).as("lag"),
          col("n_pairs"),
          (floor(col("sp").cast(DoubleType) * lit(1.0e9) / col("ss")
            + lit(0.5)).cast(LongType) / lit(1.0e9)).as("acf"))
    },

    // ------------------------------------------------------------------
    // Ljung-Box white-noise test — "is there ANY autocorrelation left"
    // (the residual-diagnostic gate after every forecast fit, and the
    // pre-test before bothering with ARIMA): Q = n(n+2)·Σ_{k≤6}
    // r_k²/(n−k) over the daily-count series per event type. ACF
    // deviations are exact integer products (the ev_autocorrelation
    // discipline), each r_k snaps ×10⁹ before squaring, and the six
    // r²/(n−k) terms snap to longs before their sum — Q assembles from
    // exact integers, flagged against the χ²₆ 95% critical value with
    // both sides engine-identical. Corpus collapses to (type, day) in
    // one agg; the lag self-join rides that bookkeeping relation.
    "ev_ljung_box" -> QueryDef.withOracle(
      s"""WITH ${dailyCountsSql("d")},
        |${acfSql("1, 2, 3, 4, 5, 6")},
        |r AS (
        |  SELECT n.event_type, n.lag, t.nd,
        |    CAST(floor(CAST(n.sp AS DOUBLE) * 1000000000 / den.ss + 0.5)
        |      AS BIGINT) AS r_fp
        |  FROM num n JOIN den USING (event_type) JOIN t USING (event_type)),
        |s AS (
        |  SELECT event_type, nd, CAST(count(*) AS BIGINT) AS df,
        |    CAST(sum(CAST(floor(CAST(r_fp AS DOUBLE) * r_fp / (nd - lag)
        |      / 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS s_fp
        |  FROM r GROUP BY event_type, nd)
        |SELECT event_type, nd AS n_days, df,
        |  floor(CAST(nd AS DOUBLE) * (nd + 2) * s_fp / 1e9 * 1e6 + 0.5) / 1.0e6
        |    AS q_stat,
        |  floor(CAST(nd AS DOUBLE) * (nd + 2) * s_fp / 1e9 * 1e6 + 0.5) / 1.0e6
        |    > 12.591587 AS reject_white_noise
        |FROM s""".stripMargin) { (s, dir) =>
      val d = dailyCounts(s, dir)
        .persist() // type×day bookkeeping; totals + both lag-join sides
      val t = typeTotals(d)
      val v = deviations(d, t)
        .persist() // both sides of the 6-lag self-join + the denominator
      val den = v.groupBy(col("event_type"))
        .agg(sum(col("dev") * col("dev")).as("ss"))
      import s.implicits._
      val num = lagProducts(v, (1 to 6).toDF("lag"))
      val r = num.join(broadcast(den), "event_type")
        .join(broadcast(t.select(col("event_type"), col("nd"))), "event_type")
        .select(col("event_type"), col("lag"), col("nd"),
          floor(col("sp").cast(DoubleType) * lit(1.0e9) / col("ss") + 0.5)
            .cast(LongType).as("r_fp"))
      // nd is functionally dependent on event_type — group on both
      val st = r.groupBy(col("event_type"), col("nd"))
        .agg(count(lit(1)).as("df"),
          sum(floor(col("r_fp").cast(DoubleType) * col("r_fp")
            / (col("nd") - col("lag")) / lit(1.0e9) + 0.5).cast(LongType))
            .as("s_fp"))
      val q = floor(col("nd").cast(DoubleType) * (col("nd") + 2) * col("s_fp")
        / lit(1.0e9) * lit(1.0e6) + 0.5) / lit(1.0e6)
      st.select(col("event_type"), col("nd").as("n_days"), col("df"),
        q.as("q_stat"), (q > 12.591587).as("reject_white_noise"))
    },

    // ------------------------------------------------------------------
    // Periodogram (discrete Fourier power spectrum) over the per-type
    // daily-count series — the frequency-domain companion to
    // ev_autocorrelation (a weekly cycle is one ACF spike at lag 7 but
    // a full peak profile here; this is the table that TELLS you which
    // seasonal period to hand ev_holtwinters_forecast). For k = 1..8:
    // P(k) = C_k² + S_k² with C_k = Σ_t dev_t·cos(2πkt/N),
    // S_k likewise with sin. Determinism discipline: the trig factor
    // itself snaps ×10⁹ to a long FIRST (a 1-ulp libm difference dies
    // at the snap, the exact-integer ACF argument extended to trig), so
    // dev·cos_fp products and their sums are EXACT integers (DECIMAL /
    // HUGEINT — dev is already ×N-scaled); only the final power and
    // share divide as identically-sequenced doubles. Corpus collapses
    // to (type, day) in one agg; the day-index window and the 8-freq
    // cross join ride bounded bookkeeping relations.
    "ev_dft_spectrum" -> QueryDef.withOracle(
      s"""WITH $dftPowerSql,
        |tp AS (
        |  SELECT event_type, CAST(sum(p_fp) AS BIGINT) AS ptot,
        |    CAST(max(p_fp) AS BIGINT) AS pmax FROM p GROUP BY 1)
        |SELECT p.event_type, CAST(p.k AS INT) AS k,
        |  floor(CAST(p.nd AS DOUBLE) / p.k * 1e6 + 0.5) / 1.0e6 AS period_days,
        |  p.p_fp AS power,
        |  floor(CAST(p.p_fp AS DOUBLE) / tp.ptot * 1e9 + 0.5) / 1.0e9
        |    AS power_share,
        |  p.p_fp = tp.pmax AS is_peak
        |FROM p JOIN tp USING (event_type)""".stripMargin) { (s, dir) =>
      val p = dftPower(s, dir)
        .persist() // ≤ 8·|types| rows; totals + output
      val tp = p.groupBy(col("event_type"))
        .agg(sum(col("p_fp")).as("ptot"), max(col("p_fp")).as("pmax"))
      p.join(broadcast(tp), "event_type")
        .select(col("event_type"), col("k").cast(IntegerType).as("k"),
          (floor(col("nd").cast(DoubleType) / col("k") * lit(1.0e6) + 0.5)
            / lit(1.0e6)).as("period_days"),
          col("p_fp").as("power"),
          (floor(col("p_fp").cast(DoubleType) / col("ptot") * lit(1.0e9) + 0.5)
            / lit(1.0e9)).as("power_share"),
          (col("p_fp") === col("pmax")).as("is_peak"))
    },

    // ------------------------------------------------------------------
    // Partial autocorrelation (lags 1-3) — the ARIMA order-
    // identification companion to ev_autocorrelation: PACF at lag k is
    // the correlation left after regressing out the shorter lags,
    // computed by the Durbin-Levinson recursion unrolled to k=3 as ONE
    // pinned closed-form double chain per engine. The r₁..r₃ inputs
    // are the exact-integer ACF deviations snapped ×10⁹ (identical on
    // both engines), so the recursion — φ22 = (r2−r1²)/(1−r1²),
    // φ33 = (r3−φ21·r2−φ22·r1)/(1−φ21·r1−φ22·r2) — is IEEE-identical
    // term by term. Same bookkeeping-scale lag self-join as the ACF.
    "ev_pacf" -> QueryDef.withOracle(
      s"""WITH ${dailyCountsSql("d")},
        |${acfSql("1, 2, 3")},
        |r AS (
        |  SELECT n.event_type,
        |    max(CASE WHEN lag = 1 THEN CAST(floor(CAST(sp AS DOUBLE)
        |      * 1000000000 / den.ss + 0.5) AS BIGINT) END) / 1.0e9 AS r1,
        |    max(CASE WHEN lag = 2 THEN CAST(floor(CAST(sp AS DOUBLE)
        |      * 1000000000 / den.ss + 0.5) AS BIGINT) END) / 1.0e9 AS r2,
        |    max(CASE WHEN lag = 3 THEN CAST(floor(CAST(sp AS DOUBLE)
        |      * 1000000000 / den.ss + 0.5) AS BIGINT) END) / 1.0e9 AS r3
        |  FROM num n JOIN den USING (event_type)
        |  GROUP BY n.event_type),
        |p2 AS (
        |  SELECT event_type, r1, r2, r3,
        |    (r2 - r1 * r1) / (1 - r1 * r1) AS f22
        |  FROM r),
        |p3 AS (
        |  SELECT *, r1 * (1 - f22) AS f21 FROM p2)
        |SELECT event_type,
        |  floor(r1 * 1e9 + 0.5) / 1.0e9 AS pacf1,
        |  floor(f22 * 1e9 + 0.5) / 1.0e9 AS pacf2,
        |  floor((r3 - f21 * r2 - f22 * r1) / (1 - f21 * r1 - f22 * r2) * 1e9
        |    + 0.5) / 1.0e9 AS pacf3
        |FROM p3""".stripMargin) { (s, dir) =>
      val d = dailyCounts(s, dir)
        .persist()
      val t = typeTotals(d)
      val v = deviations(d, t)
        .persist()
      val den = v.groupBy(col("event_type"))
        .agg(sum(col("dev") * col("dev")).as("ss"))
      import s.implicits._
      val num = lagProducts(v, (1 to 3).toDF("lag"))
      def rk(k: Int) = (max(when(col("lag") === k,
        floor(col("sp").cast(DoubleType) * lit(1.0e9) / col("ss") + 0.5)
          .cast(LongType))) / lit(1.0e9)).as(s"r$k")
      val r = num.join(broadcast(den), "event_type")
        .groupBy(col("event_type"))
        .agg(rk(1), rk(2), rk(3))
      val p2 = r.withColumn("f22",
        (col("r2") - col("r1") * col("r1")) / (lit(1) - col("r1") * col("r1")))
      val p3 = p2.withColumn("f21", col("r1") * (lit(1) - col("f22")))
      p3.select(col("event_type"),
        (floor(col("r1") * lit(1.0e9) + 0.5) / lit(1.0e9)).as("pacf1"),
        (floor(col("f22") * lit(1.0e9) + 0.5) / lit(1.0e9)).as("pacf2"),
        (floor((col("r3") - col("f21") * col("r2") - col("f22") * col("r1"))
          / (lit(1) - col("f21") * col("r1") - col("f22") * col("r2"))
          * lit(1.0e9) + 0.5) / lit(1.0e9)).as("pacf3"))
    },

    // ------------------------------------------------------------------
    // Seasonal-naive forecast backtest per event type: predict day d's
    // count with day d−7's (the standard baseline every real forecast
    // must beat) and report the error profile — MAE, bias, and MAE
    // relative to the mean daily level. One map-side-combined
    // (type, day) count; the backtest is a calendar self-join of that
    // bookkeeping relation with itself shifted 7 days, so nothing
    // after the first agg scales with the corpus. Errors stay in exact
    // integer space; divisions snap to ×10⁹ fixed point at output.
    "ev_forecast_snaive" -> QueryDef.withOracle(
      s"""WITH ${dailyCountsSql("d")},
        |j AS (
        |  SELECT a.event_type, a.day, a.n, b.n AS pred
        |  FROM d a JOIN d b
        |    ON b.event_type = a.event_type AND b.day = a.day - 7)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_eval,
        |  CAST(floor(CAST(sum(abs(n - pred)) AS DOUBLE) * 1000000000
        |    / count(*) + 0.5) AS BIGINT) / 1.0e9 AS mae,
        |  CAST(floor(CAST(sum(n - pred) AS DOUBLE) * 1000000000
        |    / count(*) + 0.5) AS BIGINT) / 1.0e9 AS bias,
        |  CAST(floor(CAST(sum(abs(n - pred)) AS DOUBLE) * 1000000000
        |    / CAST(sum(n) AS DOUBLE) + 0.5) AS BIGINT) / 1.0e9 AS rel_mae
        |FROM j GROUP BY event_type""".stripMargin) { (s, dir) =>
      val d = dailyCounts(s, dir)
        .persist() // type×day bookkeeping; both join sides
      val j = d.as("a").join(d.as("b"),
        col("b.event_type") === col("a.event_type")
          && col("b.day") === col("a.day") - 7)
        .select(col("a.event_type").as("event_type"),
          col("a.n").as("n"), col("b.n").as("pred"))
      def snap(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
        floor(num.cast(DoubleType) * lit(1.0e9) / den + lit(0.5))
          .cast(LongType) / lit(1.0e9)
      j.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_eval"),
          sum(abs(col("n") - col("pred"))).as("sad"),
          sum(col("n") - col("pred")).as("sd"),
          sum(col("n")).as("sn"))
        .select(col("event_type"), col("n_eval"),
          snap(col("sad"), col("n_eval")).as("mae"),
          snap(col("sd"), col("n_eval")).as("bias"),
          snap(col("sad"), col("sn").cast(DoubleType)).as("rel_mae"))
    },

    // ------------------------------------------------------------------
    // Cohort LTV curve: for each weekly signup cohort, cumulative
    // purchase revenue per cohort member by week of age — the
    // lifetime-value table behind every retention-economics dashboard.
    // Corpus-scale work is two keyed aggregations (first-week per user,
    // then cohort×age revenue); the cumulative window rides the
    // weeks×weeks bookkeeping grid, never the event log. Revenue sums
    // are exact DECIMAL (the q21 protocol) and the per-user ratio is
    // fixed-point-rounded.
    "ev_cohort_ltv" -> QueryDef.withOracle(
      """WITH e AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS week,
        |    event_type, value
        |  FROM events),
        |f AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY user_id),
        |cs AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_users
        |       FROM f GROUP BY cohort_week),
        |rev AS (
        |  SELECT f.cohort_week, e.week - f.cohort_week AS age_weeks,
        |    CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS rev
        |  FROM e JOIN f ON e.user_id = f.user_id
        |  WHERE e.event_type = 'purchase'
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT r.cohort_week, r.age_weeks, cs.cohort_users,
        |    CAST(sum(CAST(r2.rev AS DECIMAL(18,6))) AS DOUBLE) AS cum_rev
        |  FROM rev r
        |  JOIN rev r2 ON r2.cohort_week = r.cohort_week
        |             AND r2.age_weeks <= r.age_weeks
        |  JOIN cs ON cs.cohort_week = r.cohort_week
        |  GROUP BY 1, 2, 3)
        |SELECT cohort_week, age_weeks, cohort_users,
        |  round(cum_rev, 6) AS cum_revenue,
        |  floor(cum_rev / cohort_users * 1000000000 + 0.5) / 1.0e9
        |    AS ltv_per_user
        |FROM c""".stripMargin) { (s, dir) =>
      val e = Tables.eventsTimed(s, dir)
        .select(col("user_id"), expr("ts_s div 604800").as("week"),
          col("event_type"), col("value"))
      val f = e.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
        .persist() // user→cohort map: feeds sizes and the revenue join
      val cs = f.groupBy(col("cohort_week")).agg(count(lit(1)).as("cohort_users"))
      val rev = e.filter(col("event_type") === "purchase")
        .join(f, "user_id")
        .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("age_weeks"))
        .agg(sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("rev"))
      // weeks² bookkeeping grid: the window is bounded by the calendar,
      // not the corpus
      val wCum = Window.partitionBy(col("cohort_week")).orderBy(col("age_weeks").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rev
        .withColumn("cum_rev",
          sum(col("rev").cast(DecimalType(18, 6))).over(wCum).cast(DoubleType))
        .join(broadcast(cs), Seq("cohort_week"))
        .select(col("cohort_week"), col("age_weeks"), col("cohort_users"),
          round(col("cum_rev"), 6).as("cum_revenue"),
          (floor(col("cum_rev") / col("cohort_users") * lit(1.0e9) + lit(0.5))
            / lit(1.0e9)).as("ltv_per_user"))
    },

    // ------------------------------------------------------------------
    // Audience overlap between event types: |users(a) ∩ users(b)| and
    // Jaccard for every unordered type pair — "do clickers also buy?".
    // The scale shape is per-user combination generation: ONE shuffle
    // to (user → distinct type set), then each user emits C(t,2) pair
    // rows with t ≤ |event-type domain| (a small constant), and a
    // final pair-keyed count. No user×user or type×type join ever
    // touches the corpus; totals ride a broadcast of the |types|-row
    // relation.
    "ev_user_overlap" -> QueryDef.withOracle(
      """WITH ut AS (
        |  SELECT DISTINCT user_id, event_type FROM events),
        |tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
        |        FROM ut GROUP BY event_type),
        |p AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    CAST(count(*) AS BIGINT) AS n_both
        |  FROM ut a JOIN ut b
        |    ON b.user_id = a.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, p.n_both,
        |  ta.n_users AS n_a, tb.n_users AS n_b,
        |  floor(CAST(p.n_both AS DOUBLE)
        |      / (ta.n_users + tb.n_users - p.n_both)
        |      * 1000000000 + 0.5) / 1.0e9 AS jaccard
        |FROM p
        |JOIN tot ta ON ta.event_type = p.type_a
        |JOIN tot tb ON tb.event_type = p.type_b""".stripMargin) { (s, dir) =>
      val ut = Tables.events(s, dir)
        .select(col("user_id"), col("event_type")).distinct()
      val tot = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n_users"))
      // row-local pair generation from each user's sorted type array —
      // t ≤ |type domain| keeps the explode constant-factor
      val pairs = ut.groupBy(col("user_id"))
        .agg(sort_array(collect_set(col("event_type"))).as("types"))
        .select(explode(expr(
          """flatten(transform(types, (a, i) ->
            |  transform(slice(types, i + 2, size(types)), b ->
            |    named_struct('type_a', a, 'type_b', b))))""".stripMargin)).as("pr"))
        .select(col("pr.type_a"), col("pr.type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_both"))
      pairs
        .join(broadcast(tot.select(col("event_type").as("type_a"),
          col("n_users").as("n_a"))), Seq("type_a"))
        .join(broadcast(tot.select(col("event_type").as("type_b"),
          col("n_users").as("n_b"))), Seq("type_b"))
        .select(col("type_a"), col("type_b"), col("n_both"),
          col("n_a"), col("n_b"),
          (floor(col("n_both").cast(DoubleType)
            / (col("n_a") + col("n_b") - col("n_both"))
            * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("jaccard"))
    },

    // ------------------------------------------------------------------
    // Inter-arrival profile per event type: exact median / p90 / mean
    // of the gaps between a user's successive same-type events — the
    // burstiness read behind rate limiting and session-gap tuning.
    // Gaps come from a (user, type)-partitioned lag (high-cardinality
    // key, bounded per-partition); the exact percentiles use the
    // factored q28 selection plan (range buckets + offsets + hot-bucket
    // local sorts — never a whole-type sort); the mean is an exact
    // integer sum snapped at output.
    "ev_interarrival_stats" -> QueryDef.withOracle(
      """WITH g AS (
        |  SELECT event_type, user_id, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        |  FROM events),
        |gap AS (
        |  SELECT event_type, user_id, event_id,
        |    ts_s - lag(ts_s) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts_s, event_id) AS gap
        |  FROM g),
        |d AS (SELECT event_type, gap, user_id, event_id
        |      FROM gap WHERE gap IS NOT NULL),
        |r AS (
        |  SELECT event_type, gap,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY gap, user_id, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM d)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n_gaps,
        |  (max(CASE WHEN rn = (n + 1) // 2 THEN gap END)
        |   + max(CASE WHEN rn = (n + 2) // 2 THEN gap END)) / 2.0
        |    AS median_gap_s,
        |  CAST(max(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN gap END)
        |    AS BIGINT) AS p90_gap_s,
        |  floor(CAST(sum(gap) AS DOUBLE) * 1000000000 / max(n) + 0.5)
        |    / 1.0e9 AS mean_gap_s
        |FROM r GROUP BY event_type""".stripMargin) { (s, dir) =>
      val e = Tables.eventsTimed(s, dir)
        .select(col("event_type"), col("user_id"), col("event_id"), col("ts_s"))
      val wLag = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts_s").asc, col("event_id").asc)
      val d = e
        .withColumn("gap", col("ts_s") - lag(col("ts_s"), 1).over(wLag))
        .filter(col("gap").isNotNull)
        .select(col("event_type"), col("gap"), col("user_id"), col("event_id"))
        .persist() // feeds the selection pass and the exact-mean agg
      val sel = Relational.rankSelectByKey(d, "event_type", "gap",
        Seq("user_id", "event_id"),
        n => array(floor((n + 1) / 2), floor((n + 2) / 2),
          ceil(n * lit(0.9)).cast(LongType)))
      val stats = sel.groupBy(col("event_type"))
        .agg(max(col("n")).as("n_gaps"),
          ((max(when(col("pos") === floor((col("n") + 1) / 2), col("gap")))
            + max(when(col("pos") === floor((col("n") + 2) / 2), col("gap"))))
            / lit(2.0)).as("median_gap_s"),
          max(when(col("pos") === ceil(col("n") * lit(0.9)).cast(LongType),
            col("gap"))).as("p90_gap_s"))
      val means = d.groupBy(col("event_type"))
        .agg(sum(col("gap")).as("sg"), count(lit(1)).as("cnt"))
      stats.join(broadcast(means), Seq("event_type"))
        .select(col("event_type"), col("n_gaps"), col("median_gap_s"),
          col("p90_gap_s"),
          (floor(col("sg").cast(DoubleType) * lit(1.0e9) / col("n_gaps")
            + lit(0.5)) / lit(1.0e9)).as("mean_gap_s"))
    },

    // ------------------------------------------------------------------
    // Daily OHLC bars per event type — the time-series compaction every
    // metrics store runs at ingest. The whole operator is ONE keyed
    // aggregation of associative functions: min_by/max_by on a
    // zero-padded "(ts_s, event_id)" string key pick deterministic
    // open/close (lexicographic order == numeric order for fixed-width
    // non-negatives, identical in both engines), high/low/volume are
    // plain min/max/count. Map-side partial aggregation means each of
    // a 1000 executors ships at most days×types bar rows — no window,
    // no per-group sort, nothing corpus-scale crosses the exchange.
    "ev_ohlc" -> QueryDef.withOracle(
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    printf('%020d|%020d', CAST(floor(epoch(ts)) AS BIGINT), event_id) AS ord,
        |    value
        |  FROM events)
        |SELECT event_type, day,
        |  round(arg_min(value, ord), 9) AS open,
        |  round(max(value), 9) AS high,
        |  round(min(value), 9) AS low,
        |  round(arg_max(value, ord), 9) AS close,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
        |FROM e GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Tables.eventsTimed(s, dir)
        .select(col("event_type"), expr("ts_s div 86400").as("day"),
          format_string("%020d|%020d", col("ts_s"), col("event_id")).as("ord"),
          col("value"))
        .groupBy(col("event_type"), col("day"))
        .agg(
          round(min_by(col("value"), col("ord")), 9).as("open"),
          round(max(col("value")), 9).as("high"),
          round(min(col("value")), 9).as("low"),
          round(max_by(col("value"), col("ord")), 9).as("close"),
          count(lit(1)).as("n_events"),
          sum(col("value").cast(dec2)).cast(DoubleType).as("volume"))
    },

    // ------------------------------------------------------------------
    // Time-weighted average value per user: each event's value holds
    // until the next event, so the mean is Σ(value·gap)/Σgap — the
    // correct average for irregularly-sampled gauges (balance, queue
    // depth), where the arithmetic mean over-weights bursts. Gaps come
    // from a user-partitioned lead (high-cardinality key, bounded
    // per-user partitions); products are snapped to fixed point BEFORE
    // the sum so both engines add identical micro-unit integers in any
    // order, and the final ratio is 1e9-snapped.
    "ev_time_weighted_avg" -> QueryDef.withOracle(
      """WITH e AS (
        |  SELECT user_id, event_id, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        |  FROM events),
        |g AS (
        |  SELECT user_id, value,
        |    lead(ts_s) OVER (PARTITION BY user_id
        |      ORDER BY ts_s, event_id) - ts_s AS gap
        |  FROM e),
        |w AS (
        |  SELECT user_id,
        |    sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT) * gap) AS wsum,
        |    sum(gap) AS span_s, count(*) AS n_held
        |  FROM g WHERE gap IS NOT NULL GROUP BY user_id)
        |SELECT user_id, CAST(span_s AS BIGINT) AS span_s,
        |  CAST(n_held AS BIGINT) AS n_held,
        |  floor(CAST(wsum AS DOUBLE) / 1000000 / span_s * 1000000000 + 0.5)
        |    / 1.0e9 AS twa_value
        |FROM w WHERE span_s > 0""".stripMargin) { (s, dir) =>
      val wLead = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_s").asc, col("event_id").asc)
      Tables.eventsTimed(s, dir)
        .select(col("user_id"), col("event_id"), col("value"), col("ts_s"))
        .withColumn("gap", lead(col("ts_s"), 1).over(wLead) - col("ts_s"))
        .filter(col("gap").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          sum(floor(col("value") * lit(1000000) + lit(0.5)).cast(LongType)
            * col("gap")).as("wsum"),
          sum(col("gap")).as("span_s"),
          count(lit(1)).as("n_held"))
        .filter(col("span_s") > 0)
        .select(col("user_id"), col("span_s"), col("n_held"),
          (floor(col("wsum").cast(DoubleType) / lit(1000000) / col("span_s")
            * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("twa_value"))
    },

    // ------------------------------------------------------------------
    // Top-10 three-step event-type paths: the most common (a → b → c)
    // transitions across all user timelines — sequence mining's first
    // question. Trigrams come from a user-partitioned double-lead (the
    // Markov-transition shape one step deeper); the global count
    // relation is bounded by |types|³ (a constant), so the final top-10
    // sort runs over ≤125 bookkeeping rows, never the corpus.
    "ev_path_topk" -> QueryDef.withOracle(
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_id
        |  FROM events),
        |t AS (
        |  SELECT user_id, event_type AS step1,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts_s, event_id) AS step2,
        |    lead(event_type, 2) OVER (PARTITION BY user_id
        |      ORDER BY ts_s, event_id) AS step3
        |  FROM e),
        |c AS (
        |  SELECT step1, step2, step3, count(*) AS n
        |  FROM t WHERE step3 IS NOT NULL GROUP BY 1, 2, 3)
        |SELECT step1, step2, step3, n,
        |  CAST(row_number() OVER (ORDER BY n DESC, step1, step2, step3)
        |    AS BIGINT) AS rank
        |FROM c
        |ORDER BY n DESC, step1, step2, step3 LIMIT 10""".stripMargin) { (s, dir) =>
      val wLead = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_s").asc, col("event_id").asc)
      val paths = Tables.eventsTimed(s, dir)
        .select(col("user_id"), col("event_type"), col("ts_s"), col("event_id"))
        .withColumn("step2", lead(col("event_type"), 1).over(wLead))
        .withColumn("step3", lead(col("event_type"), 2).over(wLead))
        .filter(col("step3").isNotNull)
        .groupBy(col("event_type").as("step1"), col("step2"), col("step3"))
        .agg(count(lit(1)).as("n"))
      // ≤|types|³ rows: the global window is bookkeeping, not corpus
      paths
        .withColumn("rank", row_number().over(Window.orderBy(
          col("n").desc, col("step1").asc, col("step2").asc, col("step3").asc)))
        .filter(col("rank") <= 10)
        .select(col("step1"), col("step2"), col("step3"), col("n"), col("rank"))
    },

    // ------------------------------------------------------------------
    // Duplicate-event suppression under a delivery-retry tolerance:
    // an event is a retry echo when the SAME (user, type) fired within
    // 5 s before it — the at-least-once cleanup every event pipeline
    // runs at ingest. Lag-based (each event compares to its immediate
    // same-key predecessor): one shuffle on the high-cardinality
    // (user, type) key, bounded per-key partitions, and the verdict is
    // row-local after the lag. The streaming twin is
    // dropDuplicatesWithinWatermark (StreamingSpec); this is the batch
    // backfill that must agree with it on replay.
    "ev_dedup_tolerance" -> QueryDef.withOracle(
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        |  FROM events),
        |g AS (
        |  SELECT *,
        |    ts_s - lag(ts_s) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts_s, event_id) AS gap
        |  FROM e)
        |SELECT event_id, user_id, event_type, ts_s,
        |  coalesce(gap <= 5, FALSE) AS is_echo
        |FROM g""".stripMargin) { (s, dir) =>
      val wLag = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts_s").asc, col("event_id").asc)
      Tables.eventsTimed(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts_s"))
        .withColumn("gap", col("ts_s") - lag(col("ts_s"), 1).over(wLag))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts_s"),
          coalesce(col("gap") <= 5, lit(false)).as("is_echo"))
    },

    // ------------------------------------------------------------------
    // A/B power analysis — the experiment-design companion to
    // ev_ab_ttest: from the observed arm means/variances (purchase vs
    // view, same arms and exact decimal moment sums as the t-test),
    // the per-arm sample size needed to detect the observed effect at
    // α=5% two-sided with 80% power (n = 2(z_α/2+z_β)²·s²_pool/δ²),
    // and the minimum detectable effect at the CURRENT sizes
    // (mde = (z_α/2+z_β)·√(var_a/n_a + var_b/n_b)). ONE corpus agg with
    // map-side partials; everything after runs on two 1-row relations.
    // z quantiles are shared literal constants, the double chain is
    // mirrored verbatim, outputs round(…, 9)-snapped.
    "ev_power_analysis" -> QueryDef.withOracle(
      s"""WITH $abArmsSql
        |SELECT n_a, n_b, mean_a, mean_b,
        |  round(mean_a - mean_b, 9) AS delta,
        |  CAST(ceil(
        |    2 * (1.959963985 + 0.841621234) * (1.959963985 + 0.841621234)
        |      * ((var_a + var_b) / 2)
        |      / ((mean_a - mean_b) * (mean_a - mean_b))) AS BIGINT)
        |    AS n_required_per_arm,
        |  round((1.959963985 + 0.841621234)
        |    * sqrt(var_a / n_a + var_b / n_b), 9) AS mde
        |FROM ab""".stripMargin) { (s, dir) =>
      val z = lit(1.959963985) + lit(0.841621234)
      val delta = col("mean_a") - col("mean_b")
      abArms(s, dir)
        .select(col("n_a"), col("n_b"), col("mean_a"), col("mean_b"),
          round(delta, 9).as("delta"),
          ceil(lit(2) * z * z * ((col("var_a") + col("var_b")) / lit(2))
            / (delta * delta)).as("n_required_per_arm"),
          round(z * sqrt(col("var_a") / col("n_a")
            + col("var_b") / col("n_b")), 9).as("mde"))
    },

    // ------------------------------------------------------------------
    // Bot/automation screening — population-relative anomaly flags per
    // user (absolute thresholds rot as traffic drifts; production bot
    // screens compare each account to the live population): event rate
    // above 1.1× the population mean, inter-event gaps more regular
    // than 0.95× the mean coefficient of variation (machines are
    // metronomes, humans are bursty), and volume above 1.1× the mean.
    // Score = flag count, bot verdict at ≥2. ONE user-keyed lag + ONE
    // keyed agg over exact integers; per-user rate/CV snap to ×10⁹
    // longs BEFORE the population averages so the 1-row reference is
    // order-invariant; flags compare doubles assembled from exact
    // integers on both engines.
    "ev_bot_score" -> QueryDef.withOracle(
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        |  FROM events),
        |g AS (
        |  SELECT user_id, ts_s,
        |    ts_s - lag(ts_s) OVER (PARTITION BY user_id
        |      ORDER BY ts_s, event_id) AS gap
        |  FROM e),
        |u AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(max(ts_s) - min(ts_s) AS BIGINT) AS span,
        |    CAST(sum(gap * gap) AS BIGINT) AS sg2
        |  FROM g GROUP BY user_id
        |  HAVING count(*) >= 10 AND max(ts_s) > min(ts_s)),
        |f AS (
        |  SELECT user_id, n, span, sg2,
        |    CAST(floor(n * 60.0 / span * 1000000000 + 0.5) AS BIGINT) AS epm_fp,
        |    CAST(floor(
        |      sqrt(greatest(CAST(sg2 AS DOUBLE) / (n - 1)
        |          - (CAST(span AS DOUBLE) / (n - 1))
        |            * (CAST(span AS DOUBLE) / (n - 1)), 0))
        |        / (CAST(span AS DOUBLE) / (n - 1)) * 1000000000 + 0.5)
        |      AS BIGINT) AS cv_fp
        |  FROM u),
        |pop AS (
        |  SELECT CAST(count(*) AS BIGINT) AS users,
        |    CAST(sum(epm_fp) AS BIGINT) AS s_epm,
        |    CAST(sum(cv_fp) AS BIGINT) AS s_cv,
        |    CAST(sum(n) AS BIGINT) AS s_n
        |  FROM f)
        |SELECT f.user_id, f.n AS n_events,
        |  CAST(f.epm_fp AS DOUBLE) / 1.0e9 AS events_per_min,
        |  CAST(f.cv_fp AS DOUBLE) / 1.0e9 AS gap_cv,
        |  CAST(f.epm_fp AS DOUBLE) > 1.1 * (CAST(p.s_epm AS DOUBLE) / p.users)
        |    AS rate_flag,
        |  CAST(f.cv_fp AS DOUBLE) < 0.95 * (CAST(p.s_cv AS DOUBLE) / p.users)
        |    AS regular_flag,
        |  CAST(f.n AS DOUBLE) > 1.1 * (CAST(p.s_n AS DOUBLE) / p.users)
        |    AS volume_flag,
        |  CAST((CASE WHEN CAST(f.epm_fp AS DOUBLE)
        |        > 1.1 * (CAST(p.s_epm AS DOUBLE) / p.users) THEN 1 ELSE 0 END)
        |    + (CASE WHEN CAST(f.cv_fp AS DOUBLE)
        |        < 0.95 * (CAST(p.s_cv AS DOUBLE) / p.users) THEN 1 ELSE 0 END)
        |    + (CASE WHEN CAST(f.n AS DOUBLE)
        |        > 1.1 * (CAST(p.s_n AS DOUBLE) / p.users) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS score,
        |  (CASE WHEN CAST(f.epm_fp AS DOUBLE)
        |        > 1.1 * (CAST(p.s_epm AS DOUBLE) / p.users) THEN 1 ELSE 0 END)
        |    + (CASE WHEN CAST(f.cv_fp AS DOUBLE)
        |        < 0.95 * (CAST(p.s_cv AS DOUBLE) / p.users) THEN 1 ELSE 0 END)
        |    + (CASE WHEN CAST(f.n AS DOUBLE)
        |        > 1.1 * (CAST(p.s_n AS DOUBLE) / p.users) THEN 1 ELSE 0 END)
        |    >= 2 AS is_bot
        |FROM f CROSS JOIN pop p""".stripMargin) { (s, dir) =>
      val wLag = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_s").asc, col("event_id").asc)
      val g = Tables.eventsTimed(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_s"))
        .withColumn("gap", col("ts_s") - lag(col("ts_s"), 1).over(wLag))
      val u = g.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          (max(col("ts_s")) - min(col("ts_s"))).as("span"),
          sum(col("gap") * col("gap")).as("sg2"))
        .filter(col("n") >= 10 && col("span") > 0)
      val meanGap = col("span").cast(DoubleType) / (col("n") - 1)
      val f = u.select(col("user_id"), col("n"), col("span"), col("sg2"),
        floor(col("n") * lit(60.0) / col("span") * lit(1.0e9) + lit(0.5))
          .cast(LongType).as("epm_fp"),
        floor(sqrt(greatest(col("sg2").cast(DoubleType) / (col("n") - 1)
            - meanGap * meanGap, lit(0)))
          / meanGap * lit(1.0e9) + lit(0.5)).cast(LongType).as("cv_fp"))
        .persist() // feeds the 1-row population reference and the verdicts
      val pop = f.agg(count(lit(1)).as("users"),
        sum(col("epm_fp")).as("s_epm"), sum(col("cv_fp")).as("s_cv"),
        sum(col("n")).as("s_n"))
      val rateF = col("epm_fp").cast(DoubleType) >
        lit(1.1) * (col("s_epm").cast(DoubleType) / col("users"))
      val regF = col("cv_fp").cast(DoubleType) <
        lit(0.95) * (col("s_cv").cast(DoubleType) / col("users"))
      val volF = col("n").cast(DoubleType) >
        lit(1.1) * (col("s_n").cast(DoubleType) / col("users"))
      f.crossJoin(broadcast(pop))
        .select(col("user_id"), col("n").as("n_events"),
          (col("epm_fp").cast(DoubleType) / lit(1.0e9)).as("events_per_min"),
          (col("cv_fp").cast(DoubleType) / lit(1.0e9)).as("gap_cv"),
          rateF.as("rate_flag"), regF.as("regular_flag"),
          volF.as("volume_flag"),
          (when(rateF, 1).otherwise(0) + when(regF, 1).otherwise(0)
            + when(volF, 1).otherwise(0)).cast(LongType).as("score"),
          ((when(rateF, 1).otherwise(0) + when(regF, 1).otherwise(0)
            + when(volF, 1).otherwise(0)) >= 2).as("is_bot"))
    },

    // ------------------------------------------------------------------
    // Time-decay multi-touch attribution — completes the family
    // (ev_attribution last-touch, ev_attribution_linear equal-split):
    // each touch inside the 7-day lookback earns exp(−Δt/τ), τ=1 day,
    // normalized per conversion — the industry default when recency
    // should matter but not winner-take-all. Same two filtered scans +
    // one user-keyed interval join as the linear op; per-touch decay
    // snaps to a ×10⁶ long, the per-conversion normalizer is a
    // high-cardinality event_id window, and each SHARE is an exact
    // integer division (×10⁹ fp) so the per-channel credit sums are
    // order-invariant longs, never a float accumulation.
    "ev_attribution_decay" -> QueryDef.withOracle(
      s"""WITH $touchSql,
        |pairs AS (
        |  SELECT p.event_id, t.touch_id, t.touch_type,
        |    CASE WHEN t.touch_id IS NULL THEN NULL
        |      ELSE CAST(floor(exp(-(p.ts_s - t.touch_s) / 86400.0) * 1000000
        |        + 0.5) AS BIGINT) END AS w_fp
        |  FROM p LEFT JOIN t ON t.user_id = p.user_id
        |    AND t.touch_s <= p.ts_s AND t.touch_s >= p.ts_s - 604800),
        |cr AS (
        |  SELECT event_id, touch_id, touch_type, w_fp,
        |    CAST(sum(w_fp) OVER (PARTITION BY event_id) AS BIGINT) AS wtot
        |  FROM pairs)
        |SELECT coalesce(touch_type, 'organic') AS channel,
        |  CAST(count(*) AS BIGINT) AS n_touchpoints,
        |  CAST(sum(CASE WHEN touch_id IS NULL THEN 1000000000
        |    ELSE (1000000000 * w_fp) // wtot END) AS BIGINT) / 1.0e9 AS credit
        |FROM cr GROUP BY 1""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("event_id"))
      touchPairs(s, dir)
        .select(col("event_id"), col("touch_id"), col("touch_type"),
          when(col("touch_id").isNull, lit(null))
            .otherwise(floor(exp(-(col("ts_s") - col("touch_s"))
              / lit(86400.0)) * lit(1000000) + lit(0.5)).cast(LongType))
            .as("w_fp"))
        .withColumn("wtot", sum(col("w_fp")).over(w))
        .groupBy(coalesce(col("touch_type"), lit("organic")).as("channel"))
        .agg(count(lit(1)).as("n_touchpoints"),
          (sum(when(col("touch_id").isNull, lit(1000000000L))
            .otherwise(expr("(1000000000L * w_fp) div wtot")))
            / lit(1.0e9)).as("credit"))
    },

    // ------------------------------------------------------------------
    // Stationary distribution of the behavior Markov chain — where the
    // user population settles long-run, the chain-level summary that
    // turns ev_markov_transitions' matrix into ONE ranking of states.
    // 12 synchronous power iterations in 2^20 fixed point (the
    // graph_pagerank discipline — bit-identical across partitionings
    // and engines, so the unrolled CTE oracle is exact): one
    // corpus-scale user-keyed lead builds the |types|² transition
    // relation ONCE; every iteration after that multiplies a ≤|types|-
    // row vector against it — pure bookkeeping, exact integer
    // contributions via (π·n) div n_i. Output normalizes the fixed
    // point to probabilities, ×10⁹ snapped.
    "ev_markov_steady_state" -> QueryDef.withOracle {
      def stepSql(i: Int): String =
        s"""p${i + 1} AS (
           |  SELECT c.to_type AS t,
           |    CAST(sum((p.pi * c.n) // tt.n_i) AS BIGINT) AS pi
           |  FROM c JOIN p$i p ON p.t = c.from_type
           |  JOIN tot tt ON tt.from_type = c.from_type
           |  GROUP BY c.to_type)""".stripMargin
      s"""WITH seq AS (
         |  SELECT user_id, event_type,
         |    lead(event_type) OVER (PARTITION BY user_id
         |      ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS next_type
         |  FROM events),
         |c AS (
         |  SELECT event_type AS from_type, next_type AS to_type,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
         |tot AS (
         |  SELECT from_type, CAST(sum(n) AS BIGINT) AS n_i
         |  FROM c GROUP BY from_type),
         |p0 AS (SELECT DISTINCT from_type AS t, CAST(1048576 AS BIGINT) AS pi
         |  FROM c),
         |${(0 until 12).map(stepSql).mkString(",\n")},
         |z AS (SELECT CAST(sum(pi) AS BIGINT) AS zz FROM p12)
         |SELECT p.t AS event_type, p.pi AS pi_fp,
         |  floor(CAST(p.pi AS DOUBLE) / z.zz * 1000000000 + 0.5) / 1.0e9
         |    AS pi
         |FROM p12 p CROSS JOIN z""".stripMargin
    } { (s, dir) =>
      val wSeq = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_s"), col("event_id"))
      // ONE corpus aggregation builds the transition counts; the
      // 12-round power iteration then runs on the driver over the
      // |types|² ≤ 25-row matrix (bounded by the event-type DOMAIN,
      // not the corpus — the same bounded-bookkeeping argument as the
      // HP/Denton solves). Exact integer arithmetic identical to the
      // oracle's unrolled CTEs: (pi·n) div n_i floor-divided per edge,
      // summed per target (integer addition is order-free). This
      // replaces 12 eagerly-checkpointed micro-jobs (pure scheduling
      // latency at any corpus size) with zero extra cluster work.
      val cRows = Tables.eventsTimed(s, dir)
        .withColumn("next_type", lead(col("event_type"), 1).over(wSeq))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"),
          col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .collect() // bounded: |event-type domain|² rows
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val nI = cRows.groupBy(_._1).map { case (f, rs) => f -> rs.map(_._3).sum }
      var pi: Map[String, Long] =
        cRows.map(_._1).distinct.map(_ -> 1048576L).toMap
      for (_ <- 0 until 12) {
        pi = cRows.toSeq
          .flatMap { case (f, t, n) =>
            pi.get(f).map(p0 => t -> Math.floorDiv(p0 * n, nI(f)))
          }
          .groupBy(_._1).map { case (t, ms) => t -> ms.map(_._2).sum }
      }
      val zz = pi.values.sum
      import s.implicits._
      pi.toSeq.sortBy(_._1)
        .map { case (t, p0) =>
          (t, p0, math.floor(p0.toDouble / zz * 1.0e9 + 0.5) / 1.0e9)
        }
        .toDF("event_type", "pi_fp", "pi")
    },

    // ------------------------------------------------------------------
    // Holt linear-trend exponential smoothing per event type — the
    // trend-aware upgrade of ev_ewma and the level+slope forecast the
    // seasonal-naive backtest benchmarks against. The recurrence
    // (l' = αy + (1−α)(l+b); b' = β(l'−l) + (1−β)b, α=0.3 β=0.1,
    // l₂=y₂ b₂=y₂−y₁) is inherently sequential, so it runs as a
    // row-local fold over each type's calendar-bounded daily-count
    // array (ONE corpus agg builds the arrays; the fold is |days| FLOPs
    // per type — the ev_ewma bookkeeping argument). The DuckDB oracle
    // replays the identical IEEE chain as a recursive CTE, so the
    // doubles match bit-for-bit before the round(…, 9) snap.
    "ev_holt_forecast" -> QueryDef.withOracle(
      s"""WITH ${dailyCountsSql("e")},
        |${dailyArraysSql("e")},
        |rec AS (
        |  WITH RECURSIVE $holtRecursion
        |  SELECT * FROM h)
        |SELECT r.event_type, a.nd AS n_days,
        |  round(r.l, 9) AS level, round(r.b, 9) AS trend,
        |  round(r.l + r.b, 9) AS fc_1, round(r.l + 7 * r.b, 9) AS fc_7
        |FROM rec r JOIN a ON a.event_type = r.event_type AND r.i = a.nd"""
        .stripMargin) { (s, dir) =>
      val daily = dailyCounts(s, dir)
      val a = dailyArrays(daily, 2)
      val v = dailyValues
      val folded = holt(v)
      a.select(col("event_type"), col("nd").as("n_days"),
          folded.as("h"))
        .select(col("event_type"), col("n_days"),
          round(col("h.l"), 9).as("level"), round(col("h.b"), 9).as("trend"),
          round(col("h.l") + col("h.b"), 9).as("fc_1"),
          round(col("h.l") + lit(7) * col("h.b"), 9).as("fc_7"))
    },

    // ------------------------------------------------------------------
    // Damped-trend Holt (Gardner-McKenzie, φ = 0.9) — the exponential-
    // smoothing family's missing rung between ev_holt_forecast's
    // linear trend (which extrapolates a straight line forever — the
    // documented failure mode of long-horizon Holt) and the flat SES:
    // the trend decays geometrically, so the h-step forecast
    // approaches a finite asymptote l + φ/(1−φ)·b. Same fold
    // discipline as ev_holt_forecast (α = 0.3, β = 0.1): a left fold
    // over the per-type sorted daily array in Spark, replayed
    // bit-for-bit by the oracle's recursive CTE with identical operand
    // order; the 7-step damping sum Σφ^i is an unrolled Horner chain
    // written with the SAME literal arithmetic on both engines (no
    // pow() — cross-libm pow is not trusted at the last ulp).
    "ev_holt_damped" -> QueryDef.withOracle(
      s"""WITH ${dailyCountsSql("e")},
        |${dailyArraysSql("e")},
        |rec AS (
        |  WITH RECURSIVE h(event_type, i, l, b) AS (
        |    SELECT event_type, CAST(2 AS BIGINT), v[2],
        |      v[2] - v[1]
        |    FROM a WHERE nd >= 2
        |    UNION ALL
        |    SELECT h.event_type, h.i + 1,
        |      0.3 * a.v[CAST(h.i + 1 AS INT)]
        |        + 0.7 * (h.l + 0.9 * h.b),
        |      0.1 * ((0.3 * a.v[CAST(h.i + 1 AS INT)]
        |          + 0.7 * (h.l + 0.9 * h.b)) - h.l)
        |        + 0.9 * (0.9 * h.b)
        |    FROM h JOIN a ON a.event_type = h.event_type
        |    WHERE h.i < a.nd)
        |  SELECT * FROM h)
        |SELECT r.event_type, a.nd AS n_days,
        |  round(r.l, 9) AS level, round(r.b, 9) AS trend,
        |  round(r.l + 0.9 * r.b, 9) AS fc_1,
        |  round(r.l + 0.9 * (1 + 0.9 * (1 + 0.9 * (1 + 0.9 * (1 + 0.9
        |    * (1 + 0.9 * (1 + 0.9)))))) * r.b, 9) AS fc_7,
        |  round(r.l + 0.9 / 0.1 * r.b, 9) AS fc_inf
        |FROM rec r JOIN a ON a.event_type = r.event_type AND r.i = a.nd"""
        .stripMargin) { (s, dir) =>
      val daily = dailyCounts(s, dir)
      val a = dailyArrays(daily, 2)
      val v = dailyValues
      val folded = aggregate(
        slice(v, lit(3), greatest(size(v) - 2, lit(0))), holtInit(v),
        (acc, x) => {
          val lNew = lit(0.3) * x + lit(0.7) * (acc("l") + lit(0.9) * acc("b"))
          struct(lNew.as("l"),
            (lit(0.1) * (lNew - acc("l")) + lit(0.9) * (lit(0.9) * acc("b")))
              .as("b"))
        })
      val s7 = lit(0.9) * (lit(1) + lit(0.9) * (lit(1) + lit(0.9) * (lit(1)
        + lit(0.9) * (lit(1) + lit(0.9) * (lit(1) + lit(0.9)
        * (lit(1) + lit(0.9)))))))
      a.select(col("event_type"), col("nd").as("n_days"),
          folded.as("h"))
        .select(col("event_type"), col("n_days"),
          round(col("h.l"), 9).as("level"), round(col("h.b"), 9).as("trend"),
          round(col("h.l") + lit(0.9) * col("h.b"), 9).as("fc_1"),
          round(col("h.l") + s7 * col("h.b"), 9).as("fc_7"),
          round(col("h.l") + lit(0.9) / lit(0.1) * col("h.b"), 9)
            .as("fc_inf"))
    },

    // ------------------------------------------------------------------
    // Exponential-smoothing model selection — the step agencies run
    // BEFORE publishing any smoothed series: race SES (α=0.3), Holt
    // (α=0.3, β=0.1) and damped Holt (φ=0.9) on in-sample one-step-
    // ahead squared error and pick the winner (the poor man's ETS/AIC;
    // with equal parameter counts ± 1, SSE ordering is the AIC
    // ordering for these three). ALL THREE folds ride in ONE
    // left-fold state struct (l₁,s₁ | l₂,b₂,s₂ | l₃,b₃,s₃) over the
    // per-type sorted daily array — one corpus agg, one pass — and the
    // oracle's single recursive CTE carries the identical 8 fields, so
    // every error term is bit-equal. Verdicts compare the ×10⁶-SNAPPED
    // SSEs (engine-stable ties broken ses → holt → damped).
    "ev_ets_select" -> QueryDef.withOracle(
      s"""WITH ${dailyCountsSql("e")},
        |${dailyArraysSql("e")},
        |rec AS (
        |  WITH RECURSIVE h(event_type, i, l1, s1, l2, b2, s2, l3, b3, s3) AS (
        |    SELECT event_type, CAST(2 AS BIGINT),
        |      v[2], CAST(0 AS DOUBLE),
        |      v[2], v[2] - v[1], CAST(0 AS DOUBLE),
        |      v[2], v[2] - v[1], CAST(0 AS DOUBLE)
        |    FROM a WHERE nd >= 3
        |    UNION ALL
        |    SELECT h.event_type, h.i + 1,
        |      0.3 * a.v[CAST(h.i + 1 AS INT)] + 0.7 * h.l1,
        |      h.s1 + (a.v[CAST(h.i + 1 AS INT)] - h.l1)
        |        * (a.v[CAST(h.i + 1 AS INT)] - h.l1),
        |      0.3 * a.v[CAST(h.i + 1 AS INT)] + 0.7 * (h.l2 + h.b2),
        |      0.1 * ((0.3 * a.v[CAST(h.i + 1 AS INT)]
        |          + 0.7 * (h.l2 + h.b2)) - h.l2) + 0.9 * h.b2,
        |      h.s2 + (a.v[CAST(h.i + 1 AS INT)] - (h.l2 + h.b2))
        |        * (a.v[CAST(h.i + 1 AS INT)] - (h.l2 + h.b2)),
        |      0.3 * a.v[CAST(h.i + 1 AS INT)]
        |        + 0.7 * (h.l3 + 0.9 * h.b3),
        |      0.1 * ((0.3 * a.v[CAST(h.i + 1 AS INT)]
        |          + 0.7 * (h.l3 + 0.9 * h.b3)) - h.l3)
        |        + 0.9 * (0.9 * h.b3),
        |      h.s3 + (a.v[CAST(h.i + 1 AS INT)] - (h.l3 + 0.9 * h.b3))
        |        * (a.v[CAST(h.i + 1 AS INT)] - (h.l3 + 0.9 * h.b3))
        |    FROM h JOIN a ON a.event_type = h.event_type
        |    WHERE h.i < a.nd)
        |  SELECT * FROM h),
        |f AS (
        |  SELECT r.event_type, a.nd AS n_days,
        |    CAST(floor(r.s1 * 1e6 + 0.5) AS BIGINT) AS f1,
        |    CAST(floor(r.s2 * 1e6 + 0.5) AS BIGINT) AS f2,
        |    CAST(floor(r.s3 * 1e6 + 0.5) AS BIGINT) AS f3
        |  FROM rec r JOIN a ON a.event_type = r.event_type AND r.i = a.nd)
        |SELECT event_type, n_days,
        |  f1 / 1.0e6 AS sse_ses, f2 / 1.0e6 AS sse_holt,
        |  f3 / 1.0e6 AS sse_damped,
        |  CASE WHEN f1 <= f2 AND f1 <= f3 THEN 'ses'
        |       WHEN f2 <= f3 THEN 'holt' ELSE 'damped' END AS best_model
        |FROM f""".stripMargin) { (s, dir) =>
      val daily = dailyCounts(s, dir)
      val a = dailyArrays(daily, 3)
      val v = dailyValues
      val init = struct(
        element_at(v, 2).as("l1"), lit(0.0).as("s1"),
        element_at(v, 2).as("l2"),
        (element_at(v, 2) - element_at(v, 1)).as("b2"), lit(0.0).as("s2"),
        element_at(v, 2).as("l3"),
        (element_at(v, 2) - element_at(v, 1)).as("b3"), lit(0.0).as("s3"))
      val folded = aggregate(
        slice(v, lit(3), greatest(size(v) - 2, lit(0))), init,
        (acc, x) => {
          val e1 = x - acc("l1")
          val l2n = lit(0.3) * x + lit(0.7) * (acc("l2") + acc("b2"))
          val e2 = x - (acc("l2") + acc("b2"))
          val l3n = lit(0.3) * x + lit(0.7) * (acc("l3") + lit(0.9) * acc("b3"))
          val e3 = x - (acc("l3") + lit(0.9) * acc("b3"))
          struct(
            (lit(0.3) * x + lit(0.7) * acc("l1")).as("l1"),
            (acc("s1") + e1 * e1).as("s1"),
            l2n.as("l2"),
            (lit(0.1) * (l2n - acc("l2")) + lit(0.9) * acc("b2")).as("b2"),
            (acc("s2") + e2 * e2).as("s2"),
            l3n.as("l3"),
            (lit(0.1) * (l3n - acc("l3")) + lit(0.9) * (lit(0.9) * acc("b3")))
              .as("b3"),
            (acc("s3") + e3 * e3).as("s3"))
        })
      val f = a.select(col("event_type"), col("nd").as("n_days"),
          folded.as("h"))
        .select(col("event_type"), col("n_days"),
          floor(col("h.s1") * lit(1.0e6) + lit(0.5)).cast(LongType).as("f1"),
          floor(col("h.s2") * lit(1.0e6) + lit(0.5)).cast(LongType).as("f2"),
          floor(col("h.s3") * lit(1.0e6) + lit(0.5)).cast(LongType).as("f3"))
      f.select(col("event_type"), col("n_days"),
        (col("f1") / lit(1.0e6)).as("sse_ses"),
        (col("f2") / lit(1.0e6)).as("sse_holt"),
        (col("f3") / lit(1.0e6)).as("sse_damped"),
        when(col("f1") <= col("f2") && col("f1") <= col("f3"), "ses")
          .when(col("f2") <= col("f3"), "holt")
          .otherwise("damped").as("best_model"))
    },

    // ------------------------------------------------------------------
    // Theta-method forecast (θ=2, the M3-competition winner): per event
    // type, decompose the daily-count series into the OLS trend line
    // (theta-0) and the double-curvature theta-2 line 2y_t − (a+b·t),
    // SES (α=0.5) the theta-2 line, and average the flat SES level
    // with the line's extrapolation at the horizon. The regression
    // sums Σy, Σt·y are EXACT longs off the calendar-bounded daily
    // relation (Σt, Σt² are closed-form in n), so slope/intercept are
    // engine-identical doubles; the SES chain is the ev_holt_forecast
    // discipline — a left fold over the sorted per-type array in
    // Spark, replayed bit-for-bit by a recursive CTE in the oracle.
    // One corpus agg; everything after is days-per-type bookkeeping.
    "ev_theta_forecast" -> QueryDef.withOracle(
      s"""WITH ${dailyCountsSql("e")},
        |${dailyArraysSql("e", "CAST(sum(n) AS BIGINT) AS sy")},
        |tidx AS (
        |  SELECT event_type, n, row_number() OVER (
        |    PARTITION BY event_type ORDER BY day) AS t FROM e),
        |ty AS (
        |  SELECT event_type, CAST(sum(t * n) AS BIGINT) AS sty
        |  FROM tidx GROUP BY event_type),
        |reg AS (
        |  SELECT a.event_type, a.v, a.nd, a.sy, ty.sty,
        |    a.nd * (a.nd + 1) // 2 AS stn,
        |    a.nd * (a.nd + 1) * (2 * a.nd + 1) // 6 AS st2
        |  FROM a JOIN ty ON ty.event_type = a.event_type
        |  WHERE a.nd >= 2),
        |ab AS (
        |  SELECT event_type, v, nd,
        |    CAST(nd * sty - stn * sy AS DOUBLE)
        |      / (nd * st2 - stn * stn) AS ib,
        |    (CAST(sy AS DOUBLE) - CAST(nd * sty - stn * sy AS DOUBLE)
        |      / (nd * st2 - stn * stn) * stn) / nd AS ia
        |  FROM reg),
        |rec AS (
        |  WITH RECURSIVE h(event_type, i, l) AS (
        |    SELECT event_type, CAST(1 AS BIGINT),
        |      2 * v[1] - (ia + ib * 1)
        |    FROM ab
        |    UNION ALL
        |    SELECT h.event_type, h.i + 1,
        |      0.5 * (2 * ab.v[CAST(h.i + 1 AS INT)]
        |        - (ab.ia + ab.ib * (h.i + 1))) + 0.5 * h.l
        |    FROM h JOIN ab ON ab.event_type = h.event_type
        |    WHERE h.i < ab.nd)
        |  SELECT * FROM h)
        |SELECT r.event_type, ab.nd AS n_days,
        |  round(ab.ib, 9) AS slope, round(ab.ia, 9) AS intercept,
        |  round(r.l, 9) AS ses_level,
        |  round(0.5 * r.l + 0.5 * (ab.ia + ab.ib * (ab.nd + 1)), 9) AS fc_1,
        |  round(0.5 * r.l + 0.5 * (ab.ia + ab.ib * (ab.nd + 7)), 9) AS fc_7
        |FROM rec r JOIN ab ON ab.event_type = r.event_type AND r.i = ab.nd"""
        .stripMargin) { (s, dir) =>
      val daily = dailyCounts(s, dir)
      val a = dailyArrays(daily, 2, sum(col("n")).as("sy"))
      val v = dailyValues
      // Σt·y as an exact long via an indexed fold (acc = (t, sty))
      val sty = aggregate(
        transform(col("arr"), e => e("n")),
        struct(lit(0L).as("t"), lit(0L).as("s")),
        (acc, x) => struct((acc("t") + 1L).as("t"),
          (acc("s") + (acc("t") + 1L) * x).as("s")),
        acc => acc("s"))
      val withReg = a
        .withColumn("v", v)
        .withColumn("sty", sty)
        .withColumn("stn", expr("nd * (nd + 1) div 2"))
        .withColumn("st2", expr("nd * (nd + 1) * (2 * nd + 1) div 6"))
        .withColumn("ib",
          (col("nd") * col("sty") - col("stn") * col("sy")).cast(DoubleType)
            / (col("nd") * col("st2") - col("stn") * col("stn")))
        .withColumn("ia",
          (col("sy").cast(DoubleType)
            - (col("nd") * col("sty") - col("stn") * col("sy")).cast(DoubleType)
              / (col("nd") * col("st2") - col("stn") * col("stn")) * col("stn"))
            / col("nd"))
      // SES over the theta-2 line: acc = (i, l); z_i = 2v_i − (a+b·i)
      val folded = aggregate(
        slice(col("v"), lit(2), greatest(col("nd").cast(IntegerType) - 1, lit(0))),
        struct(lit(1L).as("i"),
          (lit(2) * element_at(col("v"), 1)
            - (col("ia") + col("ib") * lit(1))).as("l")),
        (acc, x) => {
          val iNew = acc("i") + 1L
          struct(iNew.as("i"),
            (lit(0.5) * (lit(2) * x - (col("ia") + col("ib") * iNew))
              + lit(0.5) * acc("l")).as("l"))
        })
      withReg.select(col("event_type"), col("nd").as("n_days"),
          round(col("ib"), 9).as("slope"), round(col("ia"), 9).as("intercept"),
          folded.getField("l").as("l"), col("ia"), col("ib"), col("nd"))
        .select(col("event_type"), col("n_days"),
          col("slope"), col("intercept"),
          round(col("l"), 9).as("ses_level"),
          round(lit(0.5) * col("l")
            + lit(0.5) * (col("ia") + col("ib") * (col("nd") + 1)), 9).as("fc_1"),
          round(lit(0.5) * col("l")
            + lit(0.5) * (col("ia") + col("ib") * (col("nd") + 7)), 9).as("fc_7"))
    },

    // ------------------------------------------------------------------
    // Forecast-method backtest — the "measure, don't guess" table for
    // the forecast family: hold out the LAST 7 calendar days, fit Holt
    // (α=0.3 β=0.1, the ev_holt_forecast recurrence) on the rest,
    // score Holt (level + h·trend at calendar horizon h),
    // seasonal-naive (same weekday last week) and Holt-Winters (level
    // + h·trend + rotating weekly seasonal, the hwFold recurrence) on
    // the holdout by MAE.
    // One corpus agg builds the (type, day) counts; the folds and the
    // per-day scoring ride the calendar-bounded bookkeeping relation.
    // Each absolute error snaps to a ×10⁶ long BEFORE the per-method
    // mean so the comparison is order-invariant.
    "ev_forecast_eval" -> QueryDef.withOracle(
      s"""WITH ${dailyCountsSql("e")},
        |bd AS (SELECT max(day) - 7 AS cut FROM e),
        |tr AS (SELECT e.* FROM e CROSS JOIN bd WHERE e.day <= bd.cut),
        |te AS (SELECT e.* FROM e CROSS JOIN bd WHERE e.day > bd.cut),
        |${dailyArraysSql("tr", "max(day) AS last_day")},
        |rec AS (
        |  WITH RECURSIVE $holtRecursion
        |  SELECT h.event_type, h.l, h.b, a.last_day
        |  FROM h JOIN a ON a.event_type = h.event_type AND h.i = a.nd),
        |rec2 AS (
        |  WITH RECURSIVE ${hwRecursion("hw")}
        |  SELECT hw.event_type, hw.l AS l2, hw.b AS b2,
        |    hw.s1, hw.s2, hw.s3, hw.s4, hw.s5, hw.s6, hw.s7,
        |    a.last_day AS last_day2, a.nd
        |  FROM hw JOIN a ON a.event_type = hw.event_type AND hw.i = a.nd),
        |sc AS (
        |  SELECT te.event_type, te.day,
        |    CAST(floor(abs(te.n - (r.l + (te.day - r.last_day) * r.b))
        |      * 1000000 + 0.5) AS BIGINT) AS err_holt,
        |    CAST(floor(abs(te.n - coalesce(p.n, 0)) * 1000000 + 0.5)
        |      AS BIGINT) AS err_snaive,
        |    CAST(floor(abs(te.n - (r2.l2 + (te.day - r2.last_day2) * r2.b2
        |      + (${hwSlotCase("r2",
                   "((r2.nd + te.day - r2.last_day2 - 1) % 7) + 1")})))
        |      * 1000000 + 0.5) AS BIGINT) AS err_hw
        |  FROM te
        |  JOIN rec r ON r.event_type = te.event_type
        |  JOIN rec2 r2 ON r2.event_type = te.event_type
        |  LEFT JOIN e p ON p.event_type = te.event_type
        |    AND p.day = te.day - 7),
        |m AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(err_holt) AS BIGINT) AS sh,
        |    CAST(sum(err_snaive) AS BIGINT) AS ss,
        |    CAST(sum(err_hw) AS BIGINT) AS shw
        |  FROM sc GROUP BY event_type)
        |SELECT event_type, 'holt' AS method, n_days,
        |  floor(CAST(sh AS DOUBLE) / 1000000 / n_days * 1000000000 + 0.5)
        |    / 1.0e9 AS mae
        |FROM m
        |UNION ALL
        |SELECT event_type, 'snaive' AS method, n_days,
        |  floor(CAST(ss AS DOUBLE) / 1000000 / n_days * 1000000000 + 0.5)
        |    / 1.0e9 AS mae
        |FROM m
        |UNION ALL
        |SELECT event_type, 'hw' AS method, n_days,
        |  floor(CAST(shw AS DOUBLE) / 1000000 / n_days * 1000000000 + 0.5)
        |    / 1.0e9 AS mae
        |FROM m""".stripMargin) { (s, dir) =>
      val e = dailyCounts(s, dir)
        .persist() // feeds the split, the snaive lookback and scoring
      val bd = e.agg((max(col("day")) - 7).as("cut"))
      val withCut = e.crossJoin(broadcast(bd))
      val tr = withCut.filter(col("day") <= col("cut"))
        .select(col("event_type"), col("day"), col("n"))
      val te = withCut.filter(col("day") > col("cut"))
        .select(col("event_type"), col("day"), col("n"))
      val a = dailyArrays(tr, 2, max(col("day")).as("last_day"))
      val v = dailyValues
      val folded = holt(v)
      val rec = a.select(col("event_type"), folded.as("h"),
        col("last_day"))
      val rec2 = a.filter(col("nd") >= 14)
        .select(col("event_type"),
          hwFold(dailyValues).as("hw"),
          col("last_day").as("last_day2"), col("nd"))
      val sc = te
        .join(rec, Seq("event_type"))
        .join(rec2, Seq("event_type"))
        .join(e.select(col("event_type"), (col("day") + 7).as("day"),
          col("n").as("pn")), Seq("event_type", "day"), "left_outer")
        .select(col("event_type"),
          floor(abs(col("n") - (col("h.l")
            + (col("day") - col("last_day")) * col("h.b")))
            * lit(1000000) + lit(0.5)).cast(LongType).as("err_holt"),
          floor(abs(col("n") - coalesce(col("pn"), lit(0L)))
            * lit(1000000) + lit(0.5)).cast(LongType).as("err_snaive"),
          floor(abs(col("n") - (col("hw.l")
            + (col("day") - col("last_day2")) * col("hw.b")
            + element_at(col("hw.s"),
              ((col("nd") + col("day") - col("last_day2") - 1) % 7 + 1)
                .cast(IntegerType))))
            * lit(1000000) + lit(0.5)).cast(LongType).as("err_hw"))
      val m = sc.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"), sum(col("err_holt")).as("sh"),
          sum(col("err_snaive")).as("ss"), sum(col("err_hw")).as("shw"))
        .persist() // three method rows unpivot from one relation
      def row(method: String, c: String) = m.select(col("event_type"),
        lit(method).as("method"), col("n_days"),
        (floor(col(c).cast(DoubleType) / lit(1000000) / col("n_days")
          * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("mae"))
      row("holt", "sh").unionAll(row("snaive", "ss"))
        .unionAll(row("hw", "shw"))
    },

    // ------------------------------------------------------------------
    // Difference-in-differences — the workhorse causal readout when a
    // change ships to part of the population: treatment = even user
    // ids (the deterministic assignment convention), pre/post split at
    // the calendar midpoint, effect = (T_post − T_pre) − (C_post −
    // C_pre) on mean purchase value, with the standard SE from the
    // four cell variances. ONE corpus agg produces all four cells'
    // exact decimal moment sums (map-side partials); the estimate and
    // its t-statistic assemble on the 4-row bookkeeping relation as
    // mirrored double chains, round(…, 9)-snapped.
    "ev_diff_in_diff" -> QueryDef.withOracle(
      """WITH b AS (SELECT (min(CAST(floor(epoch(ts)) AS BIGINT))
        |    + max(CAST(floor(epoch(ts)) AS BIGINT))) // 2 AS mid
        |  FROM events),
        |cells AS (
        |  SELECT (user_id % 2 = 0) AS treated,
        |    (CAST(floor(epoch(ts)) AS BIGINT) >= b.mid) AS post,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))
        |      * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2
        |  FROM events CROSS JOIN b
        |  WHERE event_type = 'purchase'
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT treated, post, n, s1 / n AS mean,
        |    (s2 - s1 * s1 / n) / (n - 1) / n AS var_mean
        |  FROM cells),
        |w AS (
        |  SELECT
        |    max(CASE WHEN treated AND post THEN mean END) AS tp,
        |    max(CASE WHEN treated AND NOT post THEN mean END) AS tr,
        |    max(CASE WHEN NOT treated AND post THEN mean END) AS cp,
        |    max(CASE WHEN NOT treated AND NOT post THEN mean END) AS cr,
        |    CAST(sum(n) AS BIGINT) AS n_total,
        |    max(CASE WHEN treated AND post THEN var_mean END)
        |      + max(CASE WHEN treated AND NOT post THEN var_mean END)
        |      + max(CASE WHEN NOT treated AND post THEN var_mean END)
        |      + max(CASE WHEN NOT treated AND NOT post THEN var_mean END)
        |      AS se2
        |  FROM m)
        |SELECT n_total,
        |  round(tp - tr, 9) AS treated_delta,
        |  round(cp - cr, 9) AS control_delta,
        |  round((tp - tr) - (cp - cr), 9) AS did_estimate,
        |  round(sqrt(se2), 9) AS se,
        |  round(((tp - tr) - (cp - cr)) / sqrt(se2), 9) AS t_stat
        |FROM w""".stripMargin) { (s, dir) =>
      val ev = Tables.eventsTimed(s, dir)
        .filter(col("event_type") === "purchase")
      val b = ev.agg(expr("(min(ts_s) + max(ts_s)) div 2").as("mid"))
      val cells = ev.crossJoin(broadcast(b))
        .groupBy((pmod(col("user_id"), lit(2L)) === 0).as("treated"),
          (col("ts_s") >= col("mid")).as("post"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec2)).cast(DoubleType).as("s1"),
          sum(col("value").cast(dec2) * col("value").cast(dec2))
            .cast(DoubleType).as("s2"))
      val m = cells.select(col("treated"), col("post"), col("n"),
        (col("s1") / col("n")).as("mean"),
        ((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1)
          / col("n")).as("var_mean"))
      def cell(t: Boolean, p: Boolean, c: String) =
        max(when(col("treated") === t && col("post") === p, col(c)))
      val w = m.agg(
        cell(true, true, "mean").as("tp"), cell(true, false, "mean").as("tr"),
        cell(false, true, "mean").as("cp"), cell(false, false, "mean").as("cr"),
        sum(col("n")).as("n_total"),
        (cell(true, true, "var_mean") + cell(true, false, "var_mean")
          + cell(false, true, "var_mean") + cell(false, false, "var_mean"))
          .as("se2"))
      w.select(col("n_total"),
        round(col("tp") - col("tr"), 9).as("treated_delta"),
        round(col("cp") - col("cr"), 9).as("control_delta"),
        round((col("tp") - col("tr")) - (col("cp") - col("cr")), 9)
          .as("did_estimate"),
        round(sqrt(col("se2")), 9).as("se"),
        round(((col("tp") - col("tr")) - (col("cp") - col("cr")))
          / sqrt(col("se2")), 9).as("t_stat"))
    },

    // ------------------------------------------------------------------
    // Rate-limit audit — the batch backfill of an API quota check: for
    // every event, how many SAME-USER events landed in the trailing
    // 60 s (RANGE frame over the integer second — calendar-aware, so a
    // silent minute resets the window; a ROWS frame would not), and
    // the over-quota verdict at 5/min. One shuffle on the
    // high-cardinality user key; the frame is time-bounded so per-row
    // work never grows with history. The flagged subset is what an
    // abuse pipeline replays against the streaming limiter.
    "ev_rate_limit" -> QueryDef.withOracle(
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        |  FROM events)
        |SELECT event_id, user_id, event_type, ts_s,
        |  CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts_s
        |    RANGE BETWEEN 59 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_last_60s,
        |  count(*) OVER (PARTITION BY user_id ORDER BY ts_s
        |    RANGE BETWEEN 59 PRECEDING AND CURRENT ROW) > 5
        |    AS over_quota
        |FROM e""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"))
        .rangeBetween(-59, 0)
      Tables.eventsTimed(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts_s"))
        .withColumn("n_last_60s", count(lit(1)).over(w))
        .withColumn("over_quota", col("n_last_60s") > 5)
    },

    // ------------------------------------------------------------------
    // Holt-Winters additive triple smoothing — the seasonal-aware rung
    // above ev_holt_forecast for any series with a weekly pulse, over
    // per-type daily counts with the 7-day week as the season.
    // Classical two-week init: level = mean(week1), trend =
    // (mean(week2) − mean(week1)) / 7, seasonals = week1 deviations
    // from level; then the standard recurrences (α=0.3 β=0.1 γ=0.2)
    //   l_t = α(x_t − s_{t−7}) + (1−α)(l_{t−1} + b_{t−1})
    //   b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}
    //   s_t = γ(x_t − l_t) + (1−γ)s_{t−7}
    // fold over days 8..n with the seasonal slot rotating mod 7.
    // Forecast h ahead = level + h·trend + seasonal slot (n+h−1) mod 7.
    // ONE corpus-scale agg builds the daily counts; the fold is a
    // per-type array aggregate over ≤|days| bookkeeping values. The
    // oracle replays the identical IEEE chain via a recursive CTE
    // carrying the 7 seasonal slots as columns — every double op has
    // the same textual shape on both engines, so the doubles are
    // bit-equal (the ev_holt_forecast discipline, extended to a
    // vector-valued state).
    "ev_holtwinters_forecast" -> QueryDef.withOracle(hwOracleSql) { (s, dir) =>
      val daily = dailyCounts(s, dir)
      val a = dailyArrays(daily, 14)
      val folded = hwFold(dailyValues)
      a.select(col("event_type"), col("nd").as("n_days"), folded.as("h"))
        .select(col("event_type"), col("n_days"),
          round(col("h.l"), 9).as("level"), round(col("h.b"), 9).as("trend"),
          round(col("h.l") + col("h.b") + element_at(col("h.s"),
            (col("n_days") % 7 + 1).cast(IntegerType)), 9).as("fc_1"),
          round(col("h.l") + lit(7) * col("h.b") + element_at(col("h.s"),
            ((col("n_days") - 1) % 7 + 1).cast(IntegerType)), 9).as("fc_7"))
    },

    // ------------------------------------------------------------------
    // Croston's method — the standard forecaster for INTERMITTENT
    // demand (many zero days), where SES/Holt smear demand into the
    // gaps: smooth the nonzero demand sizes (z) and the inter-demand
    // intervals (p) separately with α=0.2, forecast = z/p per day.
    // Demand here = daily count of high-value events (value ≥ 90) per
    // type, a genuinely sparse series. The fold iterates DEMAND DAYS
    // ONLY (zero days enter through the interval q = day gap — no
    // gap-filled calendar needed); init z = first demand, p = 1. ONE
    // corpus agg builds the per-type (day, n) arrays; the fold is
    // bookkeeping. Oracle replays the identical IEEE chain via a
    // recursive CTE over parallel day/count lists (the ev_holt
    // discipline).
    "ev_croston" -> QueryDef.withOracle(
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE value >= 90 GROUP BY 1, 2),
        |a AS (
        |  SELECT event_type, list(day ORDER BY day) AS vd,
        |    list(CAST(n AS DOUBLE) ORDER BY day) AS vn,
        |    CAST(count(*) AS BIGINT) AS ndm
        |  FROM e GROUP BY event_type),
        |rec AS (
        |  WITH RECURSIVE h(event_type, i, z, p, d) AS (
        |    SELECT event_type, CAST(1 AS BIGINT), vn[1],
        |      CAST(1.0 AS DOUBLE), vd[1]
        |    FROM a WHERE ndm >= 1
        |    UNION ALL
        |    SELECT h.event_type, h.i + 1,
        |      0.2 * a.vn[CAST(h.i + 1 AS INT)] + 0.8 * h.z,
        |      0.2 * (a.vd[CAST(h.i + 1 AS INT)] - h.d) + 0.8 * h.p,
        |      a.vd[CAST(h.i + 1 AS INT)]
        |    FROM h JOIN a ON a.event_type = h.event_type
        |    WHERE h.i < a.ndm)
        |  SELECT * FROM h)
        |SELECT r.event_type, a.ndm AS n_demand_days,
        |  round(r.z, 9) AS demand_level, round(r.p, 9) AS interval_level,
        |  round(r.z / r.p, 9) AS fc_per_day
        |FROM rec r JOIN a ON a.event_type = r.event_type AND r.i = a.ndm"""
        .stripMargin) { (s, dir) =>
      val e = Tables.eventsTimed(s, dir)
        .filter(col("value") >= 90)
        .groupBy(col("event_type"), expr("ts_s div 86400").as("day"))
        .agg(count(lit(1)).as("n"))
      val a = e.groupBy(col("event_type"))
        .agg(sort_array(collect_list(struct(col("day"),
          col("n").cast(DoubleType).as("n")))).as("arr"),
          count(lit(1)).as("ndm"))
      val v = col("arr")
      val init = struct(element_at(v, 1)("n").as("z"),
        lit(1.0).as("p"), element_at(v, 1)("day").as("d"))
      val folded = aggregate(
        slice(v, lit(2), greatest(size(v) - 1, lit(0))), init,
        (acc, x) => struct(
          (lit(0.2) * x("n") + lit(0.8) * acc("z")).as("z"),
          (lit(0.2) * (x("day") - acc("d")) + lit(0.8) * acc("p")).as("p"),
          x("day").as("d")))
      a.select(col("event_type"), col("ndm").as("n_demand_days"),
          folded.as("h"))
        .select(col("event_type"), col("n_demand_days"),
          round(col("h.z"), 9).as("demand_level"),
          round(col("h.p"), 9).as("interval_level"),
          round(col("h.z") / col("h.p"), 9).as("fc_per_day"))
    },

    // ------------------------------------------------------------------
    // Weekday-seasonal anomaly flags — ev_anomaly's upgrade for any
    // series with a weekly pulse: a quiet Sunday is NORMAL, and a
    // global z-score (ev_anomaly) flags every weekend while missing a
    // weekday dip. Expected level = the (type, weekday) mean of daily
    // counts; residuals snap to exact ×10⁶ longs; per-type σ of the
    // residuals assembles from exact integer moments, and the flag is
    // |residual| > 2σ with both comparison sides bit-identical across
    // engines. ONE corpus agg to daily grain; everything after rides
    // the calendar-bounded (type × day) relation.
    "ev_anomaly_seasonal" -> QueryDef.withOracle(
      s"""WITH ${dailyCountsSql("e")},
        |wd AS (
        |  SELECT event_type, day % 7 AS w, CAST(sum(n) AS BIGINT) AS sn,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM e GROUP BY 1, 2),
        |r AS (
        |  SELECT e.event_type, e.day, e.n,
        |    CAST(wd.sn AS DOUBLE) / wd.c AS exp_n,
        |    CAST(floor((e.n - CAST(wd.sn AS DOUBLE) / wd.c) * 1000000 + 0.5)
        |      AS BIGINT) AS rfp
        |  FROM e JOIN wd ON wd.event_type = e.event_type
        |    AND wd.w = e.day % 7),
        |st AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
        |    CAST(sum(rfp) AS BIGINT) AS s1,
        |    CAST(sum(CAST(rfp AS HUGEINT) * rfp) AS DOUBLE) AS s2
        |  FROM r GROUP BY 1)
        |SELECT r.event_type, r.day, r.n,
        |  floor(r.exp_n * 1000000000 + 0.5) / 1.0e9 AS expected,
        |  CAST(r.rfp AS DOUBLE) / 1000000 AS residual,
        |  abs(CAST(r.rfp AS DOUBLE)) > 2 * sqrt((st.s2
        |    - CAST(st.s1 AS DOUBLE) * st.s1 / st.nd) / st.nd) AS is_anomaly
        |FROM r JOIN st ON st.event_type = r.event_type""".stripMargin
    ) { (s, dir) =>
      val e = dailyCounts(s, dir)
      val wd = e.groupBy(col("event_type").as("et2"), (col("day") % 7).as("w"))
        .agg(sum(col("n")).as("sn"), count(lit(1)).as("c"))
      val expN = col("sn").cast(DoubleType) / col("c")
      val r = e.join(broadcast(wd), // ≤|types|×7 bookkeeping rows
          col("event_type") === col("et2") && (col("day") % 7) === col("w"))
        .select(col("event_type"), col("day"), col("n"), expN.as("exp_n"),
          floor((col("n") - expN) * 1000000 + 0.5).cast(LongType).as("rfp"))
        .persist() // the σ agg re-reads the residual relation
      // rfp² crosses 2⁶³ between sf1d and sf10d (daily counts ~67k/
      // type ⇒ residuals ~1e10 micro ⇒ squares ~1e20 — the spearman/
      // kruskal accumulation class, found by the round-14 sf10d ev_*
      // battery): accumulate in DECIMAL(38)/HUGEINT, convert ONCE.
      val dec38s = DecimalType(38, 0)
      val st = r.groupBy(col("event_type"))
        .agg(count(lit(1)).as("nd"), sum(col("rfp")).as("s1"),
          sum(col("rfp").cast(dec38s) * col("rfp").cast(dec38s))
            .cast(DoubleType).as("s2"))
      val sd = sqrt((col("s2")
        - col("s1").cast(DoubleType) * col("s1") / col("nd")) / col("nd"))
      r.join(broadcast(st), Seq("event_type"))
        .select(col("event_type"), col("day"), col("n"),
          (floor(col("exp_n") * lit(1.0e9) + lit(0.5)) / lit(1.0e9))
            .as("expected"),
          (col("rfp").cast(DoubleType) / 1000000).as("residual"),
          (abs(col("rfp").cast(DoubleType)) > lit(2) * sd).as("is_anomaly"))
    },

    // ------------------------------------------------------------------
    // Cross-correlation function between the daily click and purchase
    // series at lags 0..7 — "purchases follow clicks by how many
    // days?", the lead/lag scan that precedes any causal claim
    // (ev_kendall_tau answers contemporaneous association; this shifts
    // one series). Everything rides the CALENDAR-BOUNDED daily
    // relation: one corpus collapse to (day, x, y), then an 8-lag
    // shifted self-join of that bookkeeping relation (broadcast one
    // side — days×8, never rows²). All sums exact BIGINT; r_k uses the
    // standard full-series mean/sd normalization (denominator n·sx·sy)
    // through one pinned double chain, ×10⁶ snapped.
    "ev_cross_correlation" -> QueryDef.withOracle(
      s"""WITH $clickPurchaseDaysSql,
        |g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM d),
        |l AS (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS lag),
        |p AS (
        |  SELECT l.lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(a.x * b.y) AS BIGINT) AS sxy,
        |    CAST(sum(a.x) AS BIGINT) AS sxa,
        |    CAST(sum(b.y) AS BIGINT) AS syb
        |  FROM l JOIN d a ON TRUE JOIN d b ON b.day = a.day + l.lag
        |  GROUP BY 1)
        |SELECT p.lag, p.n_pairs,
        |  floor((p.sxy - CAST(g.sy AS DOUBLE) / g.n * p.sxa
        |      - CAST(g.sx AS DOUBLE) / g.n * p.syb
        |      + p.n_pairs * (CAST(g.sx AS DOUBLE) / g.n)
        |        * (CAST(g.sy AS DOUBLE) / g.n))
        |    / (g.n
        |       * sqrt(CAST(g.sxx AS DOUBLE) / g.n
        |         - (CAST(g.sx AS DOUBLE) / g.n) * (CAST(g.sx AS DOUBLE) / g.n))
        |       * sqrt(CAST(g.syy AS DOUBLE) / g.n
        |         - (CAST(g.sy AS DOUBLE) / g.n) * (CAST(g.sy AS DOUBLE) / g.n)))
        |    * 1e6 + 0.5) / 1.0e6 AS ccf
        |FROM p CROSS JOIN g""".stripMargin) { (s, dir) =>
      val d = clickPurchaseDays(s, dir)
        .persist() // calendar-bounded; globals + both shifted-join sides
      val g = d.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      val a = d.select(col("day").as("da"), col("x").as("xa"))
        .select(col("da"), col("xa"),
          explode(sequence(lit(0), lit(7))).as("lag"))
      val b = d.select(col("day").as("db"), col("y").as("yb"))
      val p = a.join(broadcast(b), col("db") === col("da") + col("lag"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("xa") * col("yb")).as("sxy"),
          sum(col("xa")).as("sxa"), sum(col("yb")).as("syb"))
      val mx = col("sx").cast(DoubleType) / col("n")
      val my = col("sy").cast(DoubleType) / col("n")
      val sdx = sqrt(col("sxx").cast(DoubleType) / col("n") - mx * mx)
      val sdy = sqrt(col("syy").cast(DoubleType) / col("n") - my * my)
      p.crossJoin(broadcast(g))
        .select(col("lag").cast(IntegerType).as("lag"), col("n_pairs"),
          (floor((col("sxy") - my * col("sxa") - mx * col("syb")
            + col("n_pairs") * mx * my)
            / (col("n") * sdx * sdy) * lit(1.0e6) + 0.5) / lit(1.0e6))
            .as("ccf"))
    },

    // ------------------------------------------------------------------
    // Granger causality, both directions, on the daily click/purchase
    // series — does yesterday's click count improve today's purchase
    // forecast beyond yesterday's purchases alone (and vice versa)?
    // The F-test between the restricted AR(1) fit and the full
    // two-predictor fit, in closed form via Cramer on CENTERED exact
    // moments: one corpus collapse to the calendar-bounded daily
    // relation, one consecutive-day self-join of that relation, both
    // directions unrolled from the SAME paired rows via an exploded
    // 2-row direction dim, ten exact BIGINT moment sums per direction,
    // then the pinned double chain (β ×10⁹, F ×10⁶; reject line is the
    // χ²/F(1,∞) 95% point 3.841 — n−3 here is large enough that the
    // asymptote is the honest constant, not a per-n t-table).
    "ev_granger_causality" -> QueryDef.withOracle(
      s"""WITH $clickPurchaseDaysSql,
        |pr AS (
        |  SELECT a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb
        |  FROM d a JOIN d b ON b.day = a.day + 1),
        |u AS (
        |  SELECT dir.direction,
        |    CASE WHEN dir.direction = 'click->purchase' THEN pr.yb
        |         ELSE pr.xb END AS r,
        |    CASE WHEN dir.direction = 'click->purchase' THEN pr.ya
        |         ELSE pr.xa END AS sl,
        |    CASE WHEN dir.direction = 'click->purchase' THEN pr.xa
        |         ELSE pr.ya END AS ox
        |  FROM pr CROSS JOIN
        |    (SELECT unnest(['click->purchase', 'purchase->click'])
        |       AS direction) dir),
        |m AS (
        |  SELECT direction, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(r) AS BIGINT) AS sr, CAST(sum(sl) AS BIGINT) AS sl1,
        |    CAST(sum(ox) AS BIGINT) AS sx1,
        |    CAST(sum(r * r) AS BIGINT) AS srr,
        |    CAST(sum(r * sl) AS BIGINT) AS srl,
        |    CAST(sum(r * ox) AS BIGINT) AS srx,
        |    CAST(sum(sl * sl) AS BIGINT) AS sll,
        |    CAST(sum(sl * ox) AS BIGINT) AS slx,
        |    CAST(sum(ox * ox) AS BIGINT) AS sxx
        |  FROM u GROUP BY 1),
        |c AS (
        |  SELECT direction, n,
        |    CAST(sll AS DOUBLE) - CAST(sl1 AS DOUBLE) * sl1 / n AS ca,
        |    CAST(slx AS DOUBLE) - CAST(sl1 AS DOUBLE) * sx1 / n AS cb,
        |    CAST(sxx AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx1 / n AS cc,
        |    CAST(srl AS DOUBLE) - CAST(sr AS DOUBLE) * sl1 / n AS d1,
        |    CAST(srx AS DOUBLE) - CAST(sr AS DOUBLE) * sx1 / n AS d2,
        |    CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE) * sr / n AS syy
        |  FROM m),
        |f AS (
        |  SELECT direction, n, d1, d2, syy,
        |    (cc * d1 - cb * d2) / (ca * cc - cb * cb) AS b1,
        |    (ca * d2 - cb * d1) / (ca * cc - cb * cb) AS b2,
        |    syy - d1 * d1 / ca AS sse_r
        |  FROM c),
        |z AS (
        |  SELECT direction, n, b2, sse_r,
        |    syy - b1 * d1 - b2 * d2 AS sse_f
        |  FROM f)
        |SELECT direction, n AS n_pairs,
        |  floor(b2 * 1e9 + 0.5) / 1.0e9 AS beta_other_lag,
        |  floor((sse_r - sse_f) * (n - 3) / sse_f * 1e6 + 0.5) / 1.0e6
        |    AS f_stat,
        |  (sse_r - sse_f) * (n - 3) / sse_f > 3.841 AS granger_causes
        |FROM z""".stripMargin) { (s, dir) =>
      val d = clickPurchaseDays(s, dir)
        .persist() // calendar-bounded; both consecutive-join sides
      val a = d.select(col("day").as("da"), col("x").as("xa"), col("y").as("ya"))
      val b = d.select(col("day").as("db"), col("x").as("xb"), col("y").as("yb"))
      val pr = a.join(broadcast(b), col("db") === col("da") + 1)
      val u = pr.select(
        explode(array(lit("click->purchase"), lit("purchase->click")))
          .as("direction"),
        col("xa"), col("ya"), col("xb"), col("yb"))
        .select(col("direction"),
          when(col("direction") === "click->purchase", col("yb"))
            .otherwise(col("xb")).as("r"),
          when(col("direction") === "click->purchase", col("ya"))
            .otherwise(col("xa")).as("sl"),
          when(col("direction") === "click->purchase", col("xa"))
            .otherwise(col("ya")).as("ox"))
      val m = u.groupBy(col("direction"))
        .agg(count(lit(1)).as("n"), sum(col("r")).as("sr"),
          sum(col("sl")).as("sl1"), sum(col("ox")).as("sx1"),
          sum(col("r") * col("r")).as("srr"),
          sum(col("r") * col("sl")).as("srl"),
          sum(col("r") * col("ox")).as("srx"),
          sum(col("sl") * col("sl")).as("sll"),
          sum(col("sl") * col("ox")).as("slx"),
          sum(col("ox") * col("ox")).as("sxx"))
      val c = m.select(col("direction"), col("n"),
        (col("sll").cast(DoubleType)
          - col("sl1").cast(DoubleType) * col("sl1") / col("n")).as("ca"),
        (col("slx").cast(DoubleType)
          - col("sl1").cast(DoubleType) * col("sx1") / col("n")).as("cb"),
        (col("sxx").cast(DoubleType)
          - col("sx1").cast(DoubleType) * col("sx1") / col("n")).as("cc"),
        (col("srl").cast(DoubleType)
          - col("sr").cast(DoubleType) * col("sl1") / col("n")).as("d1"),
        (col("srx").cast(DoubleType)
          - col("sr").cast(DoubleType) * col("sx1") / col("n")).as("d2"),
        (col("srr").cast(DoubleType)
          - col("sr").cast(DoubleType) * col("sr") / col("n")).as("syy"))
      val f = c.select(col("direction"), col("n"), col("d1"), col("d2"),
        col("syy"),
        ((col("cc") * col("d1") - col("cb") * col("d2"))
          / (col("ca") * col("cc") - col("cb") * col("cb"))).as("b1"),
        ((col("ca") * col("d2") - col("cb") * col("d1"))
          / (col("ca") * col("cc") - col("cb") * col("cb"))).as("b2"),
        (col("syy") - col("d1") * col("d1") / col("ca")).as("sse_r"))
      val z = f.select(col("direction"), col("n"), col("b2"), col("sse_r"),
        (col("syy") - col("b1") * col("d1") - col("b2") * col("d2"))
          .as("sse_f"))
      val fstat = (col("sse_r") - col("sse_f")) * (col("n") - 3) / col("sse_f")
      z.select(col("direction"), col("n").as("n_pairs"),
        (floor(col("b2") * lit(1.0e9) + 0.5) / lit(1.0e9))
          .as("beta_other_lag"),
        (floor(fstat * lit(1.0e6) + 0.5) / lit(1.0e6)).as("f_stat"),
        (fstat > 3.841).as("granger_causes"))
    },

    // ------------------------------------------------------------------
    // Market-basket co-purchase pairs — top-20 part pairs by
    // within-order co-occurrence, with support and lift (lift > 1 ⇒
    // the pair co-occurs more than independence predicts: the
    // association-rule opening move). Each order is one basket — its
    // sorted distinct part list — and Graph.topPairs counts the pairs
    // per part natively (the graph_bipartite_projection kernel; per-
    // basket fanout is ORDER SIZE², ≤7² in TPC-H-shaped data); item
    // supports join the 20-row top-pair relation broadcast — the
    // corpus-scale support relation is probed twice but never widened.
    // All counts exact BIGINT; only support/lift divide, ×10⁹/×10⁶
    // snapped.
    "ev_market_basket" -> QueryDef.withOracle(
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        |      FROM lineitem),
        |s AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item
        |      FROM op GROUP BY 1),
        |p AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb,
        |    CAST(count(*) AS BIGINT) AS n_pair
        |  FROM op a JOIN op b ON b.l_orderkey = a.l_orderkey
        |    AND b.l_partkey > a.l_partkey
        |  GROUP BY 1, 2
        |  ORDER BY n_pair DESC, pa ASC, pb ASC LIMIT 20)
        |SELECT p.pa, p.pb, p.n_pair, sa.n_item AS n_a, sb.n_item AS n_b,
        |  floor(CAST(p.n_pair AS DOUBLE) / n.n_orders * 1e9 + 0.5) / 1.0e9
        |    AS support,
        |  floor(CAST(p.n_pair AS DOUBLE) * n.n_orders
        |    / (CAST(sa.n_item AS DOUBLE) * sb.n_item) * 1e6 + 0.5) / 1.0e6
        |    AS lift
        |FROM p JOIN s sa ON sa.l_partkey = p.pa
        |  JOIN s sb ON sb.l_partkey = p.pb
        |  CROSS JOIN n""".stripMargin) { (s, dir) =>
      val op = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
        .persist() // baskets + item supports + order count
      val n = op.agg(countDistinct(col("l_orderkey")).as("n_orders"))
      val sup = op.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_item"))
      val baskets = op.filter(col("l_orderkey").isNotNull)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(col("l_partkey"))).as("items"))
      val p = Graph.topPairs(baskets, 20)
        .select(col("part_a").as("pa"), col("part_b").as("pb"),
          col("weight").as("n_pair"))
      broadcast(p)
        .join(sup.select(col("l_partkey").as("pa"), col("n_item").as("n_a")),
          Seq("pa"))
        .join(sup.select(col("l_partkey").as("pb"), col("n_item").as("n_b")),
          Seq("pb"))
        .crossJoin(broadcast(n))
        .select(col("pa"), col("pb"), col("n_pair"), col("n_a"), col("n_b"),
          (floor(col("n_pair").cast(DoubleType) / col("n_orders")
            * lit(1.0e9) + 0.5) / lit(1.0e9)).as("support"),
          (floor(col("n_pair").cast(DoubleType) * col("n_orders")
            / (col("n_a").cast(DoubleType) * col("n_b")) * lit(1.0e6) + 0.5)
            / lit(1.0e6)).as("lift"))
    },

    // ------------------------------------------------------------------
    // Trailing 7-day distinct active users per day — the rolling
    // count-distinct a window function cannot express (distinct does
    // not decompose over sliding frames): the (day, user) relation is
    // deduped ONCE at corpus scale, then each row EXPLODES to its ≤7
    // target days and equi-joins the calendar-bounded day list
    // broadcast (a hash join — the d BETWEEN t−6 AND t range-join
    // formulation would be a corpus×days nested loop); the big
    // relation shuffles once on (target_day, user) for the final
    // distinct, never self-joins.
    "ev_rolling_distinct" -> QueryDef.withOracle(
      """WITH du AS (
        |  SELECT DISTINCT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    user_id
        |  FROM events),
        |days AS (SELECT DISTINCT day FROM du),
        |r AS (
        |  SELECT days.day AS day, du.user_id
        |  FROM du JOIN days
        |    ON du.day BETWEEN days.day - 6 AND days.day),
        |w AS (
        |  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS active_7d
        |  FROM r GROUP BY 1),
        |d1 AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS active_1d FROM du
        |  GROUP BY 1)
        |SELECT w.day, d1.active_1d, w.active_7d,
        |  floor(CAST(d1.active_1d AS DOUBLE) / w.active_7d * 1e6 + 0.5)
        |    / 1.0e6 AS concentration
        |FROM w JOIN d1 USING (day)""".stripMargin) { (s, dir) =>
      val du = Tables.eventsTimed(s, dir)
        .select(expr("ts_s div 86400").as("day"), col("user_id")).distinct()
        .persist() // day list + both rolling consumers
      val days = du.select(col("day")).distinct()
        .select(col("day").as("tday"))
      val r = du.select(col("user_id"),
          explode(sequence(col("day"), col("day") + 6)).as("tday"))
        .join(broadcast(days), Seq("tday"))
      val w = r.groupBy(col("tday").as("day"))
        .agg(countDistinct(col("user_id")).as("active_7d"))
      val d1 = du.groupBy(col("day")).agg(count(lit(1)).as("active_1d"))
      w.join(d1, Seq("day"))
        .select(col("day"), col("active_1d"), col("active_7d"),
          (floor(col("active_1d").cast(DoubleType) / col("active_7d")
            * lit(1.0e6) + 0.5) / lit(1.0e6)).as("concentration"))
    },

    // ------------------------------------------------------------------
    // Mann-Kendall trend test per event type — THE standard
    // nonparametric monotone-trend screen (environmental/official-
    // statistics first choice because it needs no linearity and
    // tolerates ties): S = ΣΣ_{i<j} sgn(n_j − n_i) over the
    // CALENDAR-BOUNDED daily counts (the day² pair join rides the
    // bookkeeping relation, broadcast one side — the ev_kendall_tau
    // argument), tie-corrected variance from the value-grouped tie
    // domain, continuity-corrected Z against ±1.96. S and tie sums
    // are exact integers; only Z divides, ×10⁶ snapped.
    "ev_mann_kendall" -> QueryDef.withOracle(
      s"""WITH ${dailyCountsSql("d")},
        |p AS (
        |  SELECT a.event_type,
        |    CAST(sum(CASE WHEN b.n > a.n THEN 1
        |                  WHEN b.n < a.n THEN -1 ELSE 0 END) AS BIGINT) AS s
        |  FROM d a JOIN d b ON b.event_type = a.event_type
        |    AND b.day > a.day
        |  GROUP BY 1),
        |nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd
        |       FROM d GROUP BY 1),
        |ties AS (
        |  SELECT event_type,
        |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum
        |  FROM (SELECT event_type, CAST(count(*) AS BIGINT) AS t
        |        FROM d GROUP BY event_type, n)
        |  GROUP BY 1),
        |v AS (
        |  SELECT p.event_type, p.s, nd.nd,
        |    (CAST(nd.nd AS DOUBLE) * (nd.nd - 1) * (2 * nd.nd + 5)
        |      - ties.tsum) / 18 AS vars
        |  FROM p JOIN nd USING (event_type) JOIN ties USING (event_type))
        |SELECT event_type, nd AS n_days, s AS s_stat,
        |  floor(vars * 1e6 + 0.5) / 1.0e6 AS var_s,
        |  floor(CASE WHEN s > 0 THEN (s - 1) / sqrt(vars)
        |             WHEN s < 0 THEN (s + 1) / sqrt(vars)
        |             ELSE 0.0 END * 1e6 + 0.5) / 1.0e6 AS z,
        |  CASE WHEN (CASE WHEN s > 0 THEN (s - 1) / sqrt(vars)
        |                  WHEN s < 0 THEN (s + 1) / sqrt(vars)
        |                  ELSE 0.0 END) > 1.96 THEN 'increasing'
        |       WHEN (CASE WHEN s > 0 THEN (s - 1) / sqrt(vars)
        |                  WHEN s < 0 THEN (s + 1) / sqrt(vars)
        |                  ELSE 0.0 END) < -1.96 THEN 'decreasing'
        |       ELSE 'none' END AS trend
        |FROM v""".stripMargin) { (s, dir) =>
      val d = dailyCounts(s, dir)
        .persist() // calendar-bounded; pair join sides + ties + counts
      val a = d.select(col("event_type"), col("day").as("da"),
        col("n").as("na"))
      val b = d.select(col("event_type").as("et2"), col("day").as("db"),
        col("n").as("nb"))
      val p = a.join(broadcast(b),
          col("event_type") === col("et2") && col("db") > col("da"))
        .groupBy(col("event_type"))
        .agg(sum(when(col("nb") > col("na"), 1L)
          .when(col("nb") < col("na"), -1L).otherwise(0L)).as("s"))
      val nd = d.groupBy(col("event_type")).agg(count(lit(1)).as("nd"))
      val ties = d.groupBy(col("event_type"), col("n"))
        .agg(count(lit(1)).as("t"))
        .groupBy(col("event_type"))
        .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5))
          .as("tsum"))
      val v = p.join(nd, Seq("event_type")).join(ties, Seq("event_type"))
        .select(col("event_type"), col("s"), col("nd"),
          ((col("nd").cast(DoubleType) * (col("nd") - 1)
            * (lit(2) * col("nd") + 5) - col("tsum")) / 18).as("vars"))
      val z = when(col("s") > 0, (col("s") - 1) / sqrt(col("vars")))
        .when(col("s") < 0, (col("s") + 1) / sqrt(col("vars")))
        .otherwise(lit(0.0))
      v.select(col("event_type"), col("nd").as("n_days"),
        col("s").as("s_stat"),
        (floor(col("vars") * lit(1.0e6) + 0.5) / lit(1.0e6)).as("var_s"),
        (floor(z * lit(1.0e6) + 0.5) / lit(1.0e6)).as("z"),
        when(z > 1.96, "increasing").when(z < -1.96, "decreasing")
          .otherwise("none").as("trend"))
    },

    // ------------------------------------------------------------------
    // Pettitt changepoint test per event type — the rank-based
    // (nonparametric) single-changepoint locator, the distribution-
    // free complement to ev_changepoint_cusum's parametric mean-shift
    // screen: U_t = 2·Σ_{i≤t}R_i − t(n+1) with midranks, K = max|U_t|
    // over interior t, p ≈ 2·exp(−6K²/(n³+n²)). Midranks come exact
    // from the value-grouped tie domain (2R = 2·cum_before + cnt + 1,
    // an INTEGER), U_t from a cumulative window over the CALENDAR-
    // BOUNDED daily relation — U is exact integer fixed point ×2
    // throughout; only the p-value exponentiates, ×10⁹ snapped.
    "ev_pettitt" -> QueryDef.withOracle(
      s"""WITH ${dailyCountsSql("d")},
        |vdom AS (
        |  SELECT event_type, n, CAST(count(*) AS BIGINT) AS cnt
        |  FROM d GROUP BY 1, 2),
        |rk AS (
        |  SELECT event_type, n,
        |    2 * CAST(coalesce(sum(cnt) OVER (PARTITION BY event_type
        |      ORDER BY n ASC ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS BIGINT) + cnt + 1 AS r2
        |  FROM vdom),
        |nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd
        |       FROM d GROUP BY 1),
        |u AS (
        |  SELECT d.event_type, d.day, nd.nd,
        |    CAST(sum(rk.r2) OVER (PARTITION BY d.event_type
        |      ORDER BY d.day ASC ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      - CAST(row_number() OVER (PARTITION BY d.event_type
        |          ORDER BY d.day ASC) AS BIGINT) * (nd.nd + 1) AS u2
        |  FROM d JOIN rk ON rk.event_type = d.event_type AND rk.n = d.n
        |  JOIN nd ON nd.event_type = d.event_type),
        |k AS (
        |  SELECT event_type, nd, CAST(max(abs(u2)) AS BIGINT) AS k2
        |  FROM u WHERE day < (SELECT max(day) FROM u u3
        |                      WHERE u3.event_type = u.event_type)
        |  GROUP BY 1, 2),
        |loc AS (
        |  SELECT u.event_type, k.nd, k.k2,
        |    CAST(min(u.day) AS BIGINT) AS change_day
        |  FROM u JOIN k ON k.event_type = u.event_type
        |    AND abs(u.u2) = k.k2
        |  GROUP BY 1, 2, 3)
        |SELECT event_type, nd AS n_days,
        |  CAST(k2 AS DOUBLE) / 2 AS k_stat, change_day,
        |  floor(2 * exp(-6.0 * (CAST(k2 AS DOUBLE) / 2)
        |    * (CAST(k2 AS DOUBLE) / 2)
        |    / (CAST(nd AS DOUBLE) * nd * nd + CAST(nd AS DOUBLE) * nd))
        |    * 1e9 + 0.5) / 1.0e9 AS p_value
        |FROM loc""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.{Window => W}
      val d = dailyCounts(s, dir)
        .persist() // calendar-bounded; ranks, counts, U-walk
      val vdom = d.groupBy(col("event_type"), col("n"))
        .agg(count(lit(1)).as("cnt"))
      val wcb = W.partitionBy(col("event_type")).orderBy(col("n").asc)
        .rowsBetween(W.unboundedPreceding, -1)
      val rk = vdom.select(col("event_type").as("et2"), col("n").as("nv"),
        (lit(2) * coalesce(sum(col("cnt")).over(W.partitionBy(
            col("event_type")).orderBy(col("n").asc)
          .rowsBetween(W.unboundedPreceding, -1)), lit(0L))
          + col("cnt") + 1).as("r2"))
      val nd = d.groupBy(col("event_type").as("et3"))
        .agg(count(lit(1)).as("nd"))
      val wday = W.partitionBy(col("event_type")).orderBy(col("day").asc)
      val u = d.join(rk, col("et2") === col("event_type")
          && col("nv") === col("n"))
        .join(broadcast(nd), col("et3") === col("event_type"))
        .select(col("event_type"), col("day"), col("nd"),
          (sum(col("r2")).over(wday.rowsBetween(W.unboundedPreceding, 0))
            - row_number().over(wday).cast(LongType) * (col("nd") + 1))
            .as("u2"))
        .persist() // max + argmax re-read the U walk
      val lastDay = u.groupBy(col("event_type").as("et4"))
        .agg(max(col("day")).as("dmax"))
      val k = u.join(broadcast(lastDay), col("et4") === col("event_type"))
        .filter(col("day") < col("dmax"))
        .groupBy(col("event_type"), col("nd"))
        .agg(max(abs(col("u2"))).as("k2"))
      val loc = u.join(broadcast(k.select(col("event_type").as("et5"),
          col("nd").as("nd2"), col("k2"))),
          col("et5") === col("event_type") && abs(col("u2")) === col("k2"))
        .groupBy(col("event_type"), col("nd2"), col("k2"))
        .agg(min(col("day")).as("change_day"))
      val kd = col("k2").cast(DoubleType) / 2
      val ndd = col("nd2").cast(DoubleType)
      loc.select(col("event_type"), col("nd2").as("n_days"),
        kd.as("k_stat"), col("change_day"),
        (floor(lit(2) * exp(lit(-6.0) * kd * kd
          / (ndd * col("nd2") * col("nd2") + ndd * col("nd2")))
          * lit(1.0e9) + 0.5) / lit(1.0e9)).as("p_value"))
    },

    // ------------------------------------------------------------------
    // Rolling 14-day OLS slope of daily counts per event type — the
    // "local trend right now" monitor dashboards plot (Mann-Kendall
    // answers "is there a trend overall?"; this answers "how fast is
    // it moving TODAY?"). All five regression moments (n, Σx, Σy,
    // Σxy, Σx²) come from trailing RANGE frames over the CALENDAR-
    // BOUNDED type×day relation — gap days shrink the frame
    // identically on both engines because the frame is day-value
    // RANGE, not ROWS. x = epoch day, y = count: every windowed sum
    // is an exact BIGINT (day² ≈ 4×10⁸, ×14 ≪ 2⁶³), so slope =
    // (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) divides two exact integers — one
    // double op, ×10⁹ snapped; NULL where the frame is degenerate
    // (n = 1). At 100 TB the corpus-scale work is ONE map-side-
    // combined (type, day) count; every window rides the bounded
    // daily relation.
    "ev_rolling_regression" -> QueryDef.withOracle(
      """WITH d AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, day,
        |    CAST(count(*) OVER f AS BIGINT) AS nw,
        |    CAST(sum(day) OVER f AS BIGINT) AS sx,
        |    CAST(sum(y) OVER f AS BIGINT) AS sy,
        |    CAST(sum(day * y) OVER f AS BIGINT) AS sxy,
        |    CAST(sum(day * day) OVER f AS BIGINT) AS sxx
        |  FROM d
        |  WINDOW f AS (PARTITION BY event_type ORDER BY day ASC
        |    RANGE BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT event_type, day, nw AS n_win,
        |  CASE WHEN nw * sxx - sx * sx > 0
        |    THEN floor(CAST(nw * sxy - sx * sy AS DOUBLE)
        |      / CAST(nw * sxx - sx * sx AS DOUBLE) * 1e9 + 0.5) / 1.0e9
        |    ELSE NULL END AS slope
        |FROM w""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.{Window => W}
      val d = Tables.eventsTimed(s, dir)
        .groupBy(col("event_type"), expr("ts_s div 86400").as("day"))
        .agg(count(lit(1)).as("y"))
      val f = W.partitionBy(col("event_type")).orderBy(col("day").asc)
        .rangeBetween(-13, 0)
      val w = d.select(col("event_type"), col("day"),
        count(lit(1)).over(f).as("nw"),
        sum(col("day")).over(f).as("sx"),
        sum(col("y")).over(f).as("sy"),
        sum(col("day") * col("y")).over(f).as("sxy"),
        sum(col("day") * col("day")).over(f).as("sxx"))
      val den = col("nw") * col("sxx") - col("sx") * col("sx")
      val num = col("nw") * col("sxy") - col("sx") * col("sy")
      w.select(col("event_type"), col("day"), col("nw").as("n_win"),
        when(den > 0, floor(num.cast(DoubleType) / den.cast(DoubleType)
          * lit(1.0e9) + 0.5) / lit(1.0e9)).as("slope"))
    },

    // ------------------------------------------------------------------
    // Log-rank test comparing time-to-conversion between the two
    // user_id-parity arms — the survival-curve significance companion
    // to ev_survival/ev_nelson_aalen (DO the two arms' hazards differ,
    // not just what each curve looks like). Same clock as ev_survival:
    // t = hours from a user's first event to their first value≥90
    // purchase, censored at the global horizon. The ONE corpus-scale
    // move is the per-user min/conversion agg; the risk-set walk is
    // windows over the bounded hour-domain grid (arms × distinct
    // times): n_g(t) = N_g − #{t_u < t} via an exact-integer prefix
    // sum, d_g(t) exact counts. Per event time, the hypergeometric
    // E[d_1] = d·n₁/n and Var = d·(n₁/n)(1−n₁/n)(n−d)/(n−1) terms snap
    // ×10⁹ to BIGINT BEFORE the sum (order-invariant accumulation);
    // χ² = (O₁−E₁)²/V divides doubles only at the end, ×10⁶.
    "ev_logrank_test" -> QueryDef.withOracle(
      """WITH e AS (
        |  SELECT user_id, event_type, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events),
        |g AS (SELECT max(ts_s) AS gmax FROM e),
        |u AS (SELECT user_id, user_id % 2 AS grp,
        |             min(ts_s) AS first_s FROM e GROUP BY 1, 2),
        |cv AS (
        |  SELECT user_id, min(ts_s) AS conv_s FROM e
        |  WHERE event_type = 'purchase' AND value >= 90 GROUP BY 1),
        |d AS (
        |  SELECT u.grp,
        |    CASE WHEN cv.conv_s IS NOT NULL
        |         THEN (cv.conv_s - u.first_s) // 3600
        |         ELSE (g.gmax - u.first_s) // 3600 END AS t,
        |    CASE WHEN cv.conv_s IS NOT NULL THEN 1 ELSE 0 END AS ev
        |  FROM u LEFT JOIN cv ON cv.user_id = u.user_id CROSS JOIN g),
        |ct AS (
        |  SELECT grp, CAST(t AS BIGINT) AS t,
        |    CAST(count(*) AS BIGINT) AS leave_cnt,
        |    CAST(sum(ev) AS BIGINT) AS d_cnt
        |  FROM d GROUP BY 1, 2),
        |tot AS (SELECT grp, CAST(sum(leave_cnt) AS BIGINT) AS ng
        |        FROM ct GROUP BY 1),
        |td AS (SELECT DISTINCT t FROM ct),
        |grid AS (
        |  SELECT tot.grp, tot.ng, td.t,
        |    coalesce(ct.leave_cnt, 0) AS leave_cnt,
        |    coalesce(ct.d_cnt, 0) AS d_cnt
        |  FROM td CROSS JOIN tot
        |  LEFT JOIN ct ON ct.grp = tot.grp AND ct.t = td.t),
        |rk AS (
        |  SELECT grp, t, d_cnt,
        |    ng - coalesce(sum(leave_cnt) OVER (PARTITION BY grp
        |      ORDER BY t ASC ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS n_at
        |  FROM grid),
        |ab AS (
        |  SELECT a.t, a.d_cnt AS d1, a.n_at AS n1,
        |    a.d_cnt + b.d_cnt AS dt, a.n_at + b.n_at AS nt
        |  FROM rk a JOIN rk b ON b.t = a.t AND a.grp = 0 AND b.grp = 1
        |  WHERE a.d_cnt + b.d_cnt > 0 AND a.n_at + b.n_at > 1),
        |terms AS (
        |  SELECT CAST(sum(d1) AS BIGINT) AS o1,
        |    CAST(sum(CAST(floor(CAST(dt AS DOUBLE) * n1 / nt * 1e9 + 0.5)
        |      AS BIGINT)) AS BIGINT) AS e1_fp,
        |    CAST(sum(CAST(floor(CAST(dt AS DOUBLE) * n1 / nt
        |        * (1.0 - CAST(n1 AS DOUBLE) / nt)
        |        * (nt - dt) / (nt - 1) * 1e9 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS v_fp
        |  FROM ab)
        |SELECT o1, floor(CAST(e1_fp AS DOUBLE) / 1e3 + 0.5) / 1.0e6 AS e1,
        |  floor(CAST(v_fp AS DOUBLE) / 1e3 + 0.5) / 1.0e6 AS v,
        |  floor((CAST(o1 * 1000000000 - e1_fp AS DOUBLE) / 1e9)
        |    * (CAST(o1 * 1000000000 - e1_fp AS DOUBLE) / 1e9)
        |    / (CAST(v_fp AS DOUBLE) / 1e9) * 1e6 + 0.5) / 1.0e6 AS chi2
        |FROM terms""".stripMargin) { (s, dir) =>
      val e = Tables.eventsTimed(s, dir)
        .select(col("user_id"), col("event_type"), col("value"),
          col("ts_s"))
      val g = e.agg(max(col("ts_s")).as("gmax"))
      val u = e.groupBy(col("user_id"), pmod(col("user_id"), lit(2L)).as("grp"))
        .agg(min(col("ts_s")).as("first_s"))
      val cv = e.filter(col("event_type") === "purchase" && col("value") >= 90)
        .groupBy(col("user_id")).agg(min(col("ts_s")).as("conv_s"))
      val d = u.join(cv, Seq("user_id"), "left_outer")
        .crossJoin(broadcast(g))
        .select(col("grp"),
          when(col("conv_s").isNotNull,
            expr("(conv_s - first_s) div 3600"))
            .otherwise(expr("(gmax - first_s) div 3600")).as("t"),
          when(col("conv_s").isNotNull, 1L).otherwise(0L).as("ev"))
      val ct = d.groupBy(col("grp"), col("t"))
        .agg(count(lit(1)).as("leave_cnt"), sum(col("ev")).as("d_cnt"))
        .persist() // arms × hour-domain bookkeeping: feeds totals + grid
      val tot = ct.groupBy(col("grp")).agg(sum(col("leave_cnt")).as("ng"))
      val td = ct.select(col("t")).distinct()
      val grid = td.crossJoin(broadcast(tot))
        .join(ct.select(col("grp").as("g2"), col("t").as("t2"),
          col("leave_cnt"), col("d_cnt")),
          col("g2") === col("grp") && col("t2") === col("t"), "left_outer")
        .select(col("grp"), col("ng"), col("t"),
          coalesce(col("leave_cnt"), lit(0L)).as("leave_cnt"),
          coalesce(col("d_cnt"), lit(0L)).as("d_cnt"))
      val wC = Window.partitionBy(col("grp")).orderBy(col("t").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val rk = grid.select(col("grp"), col("t"), col("d_cnt"),
        (col("ng") - coalesce(sum(col("leave_cnt")).over(wC), lit(0L)))
          .as("n_at"))
      val b = rk.select(col("t").as("tb"), col("d_cnt").as("d2"),
        col("n_at").as("n2"), col("grp").as("gb"))
      val ab = rk.filter(col("grp") === 0)
        .join(b.filter(col("gb") === 1), col("tb") === col("t"))
        .select(col("t"), col("d_cnt").as("d1"), col("n_at").as("n1"),
          (col("d_cnt") + col("d2")).as("dt"),
          (col("n_at") + col("n2")).as("nt"))
        .filter(col("dt") > 0 && col("nt") > 1)
      val n1d = col("n1").cast(DoubleType)
      val ntd = col("nt").cast(DoubleType)
      val terms = ab.agg(sum(col("d1")).as("o1"),
        sum(floor(col("dt").cast(DoubleType) * col("n1") / col("nt")
          * lit(1.0e9) + 0.5).cast(LongType)).as("e1_fp"),
        sum(floor(col("dt").cast(DoubleType) * col("n1") / col("nt")
          * (lit(1.0) - n1d / ntd)
          * (col("nt") - col("dt")) / (col("nt") - 1)
          * lit(1.0e9) + 0.5).cast(LongType)).as("v_fp"))
      val oe = (col("o1") * lit(1000000000L) - col("e1_fp"))
        .cast(DoubleType) / lit(1.0e9)
      terms.select(col("o1"),
        (floor(col("e1_fp").cast(DoubleType) / lit(1.0e3) + 0.5)
          / lit(1.0e6)).as("e1"),
        (floor(col("v_fp").cast(DoubleType) / lit(1.0e3) + 0.5)
          / lit(1.0e6)).as("v"),
        (floor(oe * oe / (col("v_fp").cast(DoubleType) / lit(1.0e9))
          * lit(1.0e6) + 0.5) / lit(1.0e6)).as("chi2"))
    },

    // ------------------------------------------------------------------
    // AR(2) fit + 7-step forecast of daily counts per event type — the
    // autoregressive rung between ev_holt_forecast's trend smoothing
    // and a full ARIMA (captures the oscillation/mean-reversion a
    // Holt trend line can't). Yule-Walker in EXACT integers: with
    // deviations carried as D_t = nd·x_t − S (common denominator nd —
    // no double mean enters), the lag-k autocovariance numerators
    // Σ D_t·D_{t+k} are exact BIGINTs off lag windows over the
    // calendar-bounded type×day relation, and the shared nd² scale
    // cancels in r₁ = γ₁/γ₀, r₂ = γ₂/γ₀, so φ₁ = r₁(1−r₂)/(1−r₁²),
    // φ₂ = (r₂−r₁²)/(1−r₁²) are deterministic doubles from exact
    // integer ratios. The 7-step recursion d_k = φ₁d_{k−1} + φ₂d_{k−2}
    // unrolls as an identical double chain on both engines (the
    // ev_holt_forecast discipline without needing a recursive CTE —
    // the horizon is a constant). One corpus scan; all else rides the
    // bounded daily relation. ×10⁹/×10⁶ snaps at output.
    "ev_ar2_forecast" -> QueryDef.withOracle(
      s"""WITH ${dailyCountsSql("e")},
        |a AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
        |    CAST(sum(n) AS BIGINT) AS s,
        |    list(CAST(n AS BIGINT) ORDER BY day) AS v
        |  FROM e GROUP BY 1 HAVING count(*) >= 4),
        |dv AS (
        |  SELECT e.event_type, e.day, a.nd * e.n - a.s AS dd
        |  FROM e JOIN a ON a.event_type = e.event_type),
        |lw AS (
        |  SELECT event_type, dd,
        |    lag(dd, 1) OVER (PARTITION BY event_type ORDER BY day ASC) AS d1,
        |    lag(dd, 2) OVER (PARTITION BY event_type ORDER BY day ASC) AS d2
        |  FROM dv),
        |gam AS (
        |  SELECT event_type,
        |    CAST(sum(dd * dd) AS BIGINT) AS g0,
        |    CAST(sum(CASE WHEN d1 IS NOT NULL THEN dd * d1 ELSE 0 END)
        |      AS BIGINT) AS g1,
        |    CAST(sum(CASE WHEN d2 IS NOT NULL THEN dd * d2 ELSE 0 END)
        |      AS BIGINT) AS g2
        |  FROM lw GROUP BY 1),
        |phi AS (
        |  SELECT a.event_type, a.nd, a.s, a.v,
        |    CAST(g1 AS DOUBLE) / g0 AS r1, CAST(g2 AS DOUBLE) / g0 AS r2
        |  FROM gam JOIN a ON a.event_type = gam.event_type),
        |p2 AS (
        |  SELECT event_type, nd, s, v,
        |    r1 * (1.0 - r2) / (1.0 - r1 * r1) AS phi1,
        |    (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi2,
        |    CAST(s AS DOUBLE) / nd AS mu,
        |    CAST(v[CAST(nd AS INT)] AS DOUBLE) - CAST(s AS DOUBLE) / nd
        |      AS dc,
        |    CAST(v[CAST(nd - 1 AS INT)] AS DOUBLE) - CAST(s AS DOUBLE) / nd
        |      AS dp
        |  FROM phi),
        |f1 AS (SELECT *, phi1 * dc + phi2 * dp AS k1 FROM p2),
        |f2 AS (SELECT *, phi1 * k1 + phi2 * dc AS k2 FROM f1),
        |f3 AS (SELECT *, phi1 * k2 + phi2 * k1 AS k3 FROM f2),
        |f4 AS (SELECT *, phi1 * k3 + phi2 * k2 AS k4 FROM f3),
        |f5 AS (SELECT *, phi1 * k4 + phi2 * k3 AS k5 FROM f4),
        |f6 AS (SELECT *, phi1 * k5 + phi2 * k4 AS k6 FROM f5),
        |f7 AS (SELECT *, phi1 * k6 + phi2 * k5 AS k7 FROM f6)
        |SELECT event_type, nd AS n_days,
        |  floor(phi1 * 1e9 + 0.5) / 1.0e9 AS phi1,
        |  floor(phi2 * 1e9 + 0.5) / 1.0e9 AS phi2,
        |  floor((mu + k1) * 1e6 + 0.5) / 1.0e6 AS fc_1,
        |  floor((mu + k7) * 1e6 + 0.5) / 1.0e6 AS fc_7
        |FROM f7""".stripMargin) { (s, dir) =>
      val e = dailyCounts(s, dir)
      val a = e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("nd"), sum(col("n")).as("s"),
          sort_array(collect_list(struct(col("day"), col("n")))).as("arr"))
        .filter(col("nd") >= 4)
        .select(col("event_type"), col("nd"), col("s"),
          transform(col("arr"), x => x("n")).as("v"))
      val dv = e.join(broadcast(a.select(col("event_type"), col("nd"),
          col("s"))), Seq("event_type"))
        .select(col("event_type"), col("day"),
          (col("nd") * col("n") - col("s")).as("dd"))
      // lag windows over the calendar-bounded type×day relation
      val wL = Window.partitionBy(col("event_type")).orderBy(col("day").asc)
      val lw = dv.select(col("event_type"), col("dd"),
        lag(col("dd"), 1).over(wL).as("d1"),
        lag(col("dd"), 2).over(wL).as("d2"))
      val gam = lw.groupBy(col("event_type"))
        .agg(sum(col("dd") * col("dd")).as("g0"),
          sum(when(col("d1").isNotNull, col("dd") * col("d1"))
            .otherwise(0L)).as("g1"),
          sum(when(col("d2").isNotNull, col("dd") * col("d2"))
            .otherwise(0L)).as("g2"))
      val r1 = col("g1").cast(DoubleType) / col("g0")
      val r2 = col("g2").cast(DoubleType) / col("g0")
      val p2 = gam.join(a, Seq("event_type"))
        .select(col("event_type"), col("nd"), col("s"),
          (r1 * (lit(1.0) - r2) / (lit(1.0) - r1 * r1)).as("phi1"),
          ((r2 - r1 * r1) / (lit(1.0) - r1 * r1)).as("phi2"),
          (col("s").cast(DoubleType) / col("nd")).as("mu"),
          (element_at(col("v"), col("nd").cast(IntegerType))
            .cast(DoubleType)
            - col("s").cast(DoubleType) / col("nd")).as("dc"),
          (element_at(col("v"), (col("nd") - 1).cast(IntegerType))
            .cast(DoubleType)
            - col("s").cast(DoubleType) / col("nd")).as("dp"))
      // 7-step recursion unrolled: identical double chain to the oracle
      val f = (1 to 7).foldLeft(
        p2.withColumn("k1", col("phi1") * col("dc") + col("phi2") * col("dp"))) {
        case (df, k) if k >= 2 =>
          df.withColumn(s"k$k",
            col("phi1") * col(s"k${k - 1}")
              + col("phi2") * (if (k == 2) col("dc") else col(s"k${k - 2}")))
        case (df, _) => df
      }
      f.select(col("event_type"), col("nd").as("n_days"),
        (floor(col("phi1") * lit(1.0e9) + 0.5) / lit(1.0e9)).as("phi1"),
        (floor(col("phi2") * lit(1.0e9) + 0.5) / lit(1.0e9)).as("phi2"),
        (floor((col("mu") + col("k1")) * lit(1.0e6) + 0.5) / lit(1.0e6))
          .as("fc_1"),
        (floor((col("mu") + col("k7")) * lit(1.0e6) + 0.5) / lit(1.0e6))
          .as("fc_7"))
    },

    // ------------------------------------------------------------------
    // Seasonal Mann-Kendall trend test per event type (Hirsch-Slack):
    // ev_mann_kendall's plain S compares every day with every later
    // day, so a strong weekly cycle (ev_seasonality_profile's finding)
    // leaks into the trend verdict; the seasonal variant compares days
    // only WITHIN the same weekday subseries and sums the 7 per-season
    // S_w and Var_w — the trend test an agency runs on any series with
    // a known period. All exact integers: S' = ΣS_w off the
    // weekday-blocked day² pair join (broadcast side is the
    // calendar-bounded daily relation), Var carried ×18 as
    // var18 = Σ(n_w(n_w−1)(2n_w+5) − Σt(t−1)(2t+5)) so the tie
    // correction never divides early; Z's continuity correction and
    // the 1.96 verdict mirror ev_mann_kendall, ×10⁶ snaps.
    "ev_seasonal_mann_kendall" -> QueryDef.withOracle(
      """WITH d AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    (CAST(floor(epoch(ts)) AS BIGINT) // 86400) % 7 AS wd,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2, 3),
        |p AS (
        |  SELECT a.event_type,
        |    CAST(sum(CASE WHEN b.n > a.n THEN 1
        |                  WHEN b.n < a.n THEN -1 ELSE 0 END) AS BIGINT) AS s
        |  FROM d a JOIN d b ON b.event_type = a.event_type
        |    AND b.wd = a.wd AND b.day > a.day
        |  GROUP BY 1),
        |w AS (
        |  SELECT event_type, wd, CAST(count(*) AS BIGINT) AS nw
        |  FROM d GROUP BY 1, 2),
        |tw AS (
        |  SELECT event_type, wd,
        |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum
        |  FROM (SELECT event_type, wd, CAST(count(*) AS BIGINT) AS t
        |        FROM d GROUP BY event_type, wd, n)
        |  GROUP BY 1, 2),
        |v AS (
        |  SELECT w.event_type,
        |    CAST(sum(w.nw) AS BIGINT) AS nd,
        |    CAST(sum(w.nw * (w.nw - 1) * (2 * w.nw + 5) - tw.tsum)
        |      AS BIGINT) AS var18
        |  FROM w JOIN tw ON tw.event_type = w.event_type AND tw.wd = w.wd
        |  GROUP BY 1)
        |SELECT p.event_type, v.nd AS n_days, p.s AS s_stat,
        |  floor(CAST(v.var18 AS DOUBLE) / 18 * 1e6 + 0.5) / 1.0e6 AS var_s,
        |  floor(CASE WHEN p.s > 0 THEN (p.s - 1) / sqrt(CAST(v.var18 AS DOUBLE) / 18)
        |             WHEN p.s < 0 THEN (p.s + 1) / sqrt(CAST(v.var18 AS DOUBLE) / 18)
        |             ELSE 0.0 END * 1e6 + 0.5) / 1.0e6 AS z,
        |  CASE WHEN (CASE WHEN p.s > 0 THEN (p.s - 1) / sqrt(CAST(v.var18 AS DOUBLE) / 18)
        |                  WHEN p.s < 0 THEN (p.s + 1) / sqrt(CAST(v.var18 AS DOUBLE) / 18)
        |                  ELSE 0.0 END) > 1.96 THEN 'increasing'
        |       WHEN (CASE WHEN p.s > 0 THEN (p.s - 1) / sqrt(CAST(v.var18 AS DOUBLE) / 18)
        |                  WHEN p.s < 0 THEN (p.s + 1) / sqrt(CAST(v.var18 AS DOUBLE) / 18)
        |                  ELSE 0.0 END) < -1.96 THEN 'decreasing'
        |       ELSE 'none' END AS trend
        |FROM p JOIN v USING (event_type)""".stripMargin) { (s, dir) =>
      val d = Tables.eventsTimed(s, dir)
        .groupBy(col("event_type"), expr("ts_s div 86400").as("day"),
          expr("(ts_s div 86400) % 7").as("wd"))
        .agg(count(lit(1)).as("n"))
        .persist() // calendar-bounded; pair join sides + ties + counts
      val a = d.select(col("event_type"), col("wd"), col("day").as("da"),
        col("n").as("na"))
      val b = d.select(col("event_type").as("et2"), col("wd").as("wd2"),
        col("day").as("db"), col("n").as("nb"))
      val p = a.join(broadcast(b),
          col("event_type") === col("et2") && col("wd2") === col("wd")
            && col("db") > col("da"))
        .groupBy(col("event_type"))
        .agg(sum(when(col("nb") > col("na"), 1L)
          .when(col("nb") < col("na"), -1L).otherwise(0L)).as("s"))
      val w = d.groupBy(col("event_type"), col("wd"))
        .agg(count(lit(1)).as("nw"))
      val tw = d.groupBy(col("event_type"), col("wd"), col("n"))
        .agg(count(lit(1)).as("t"))
        .groupBy(col("event_type"), col("wd"))
        .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5))
          .as("tsum"))
      val v = w.join(tw, Seq("event_type", "wd"))
        .groupBy(col("event_type"))
        .agg(sum(col("nw")).as("nd"),
          sum(col("nw") * (col("nw") - 1) * (lit(2) * col("nw") + 5)
            - col("tsum")).as("var18"))
      val vars = col("var18").cast(DoubleType) / 18
      val z = when(col("s") > 0, (col("s") - 1) / sqrt(vars))
        .when(col("s") < 0, (col("s") + 1) / sqrt(vars))
        .otherwise(lit(0.0))
      p.join(v, Seq("event_type"))
        .select(col("event_type"), col("nd").as("n_days"),
          col("s").as("s_stat"),
          (floor(vars * lit(1.0e6) + 0.5) / lit(1.0e6)).as("var_s"),
          (floor(z * lit(1.0e6) + 0.5) / lit(1.0e6)).as("z"),
          when(z > 1.96, "increasing").when(z < -1.96, "decreasing")
            .otherwise("none").as("trend"))
    },

    // ------------------------------------------------------------------
    // Dickey-Fuller unit-root test per event type (constant-only DF:
    // Δy_t = α + ρ·y_{t-1}; the stationarity screen run before any
    // AR/Holt model is trusted — a unit root means yesterday's shocks
    // never decay and the AR(2)/Holt fits are spurious). Daily counts
    // are integers, so every regression moment (Σx, Σx², Σxz, Σz, Σz²
    // over x = y_{t-1}, z = Δy) is an EXACT BIGINT off the
    // calendar-bounded type×day relation; ρ̂ = B/A and
    // t = B·√((n−2)/(C·A−B²)) assemble in double from the common-
    // denominator forms A = nΣx²−(Σx)², B = nΣxz−ΣxΣz, C = nΣz²−(Σz)²
    // (C·A promotes to double BEFORE the product — the exact longs
    // would overflow at ~10⁶-row series). Verdict vs the 5% constant-
    // only critical value −2.86 compares the ×10⁶-snapped t. Lag is a
    // window over observed days (documented: gap days compress, the
    // ev_autocorrelation convention).
    "ev_dickey_fuller" -> QueryDef.withOracle(
      """WITH d AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT event_type, y,
        |    lag(y) OVER (PARTITION BY event_type ORDER BY day ASC) AS x
        |  FROM d),
        |m AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y - x) AS BIGINT) AS sz,
        |    CAST(sum((y - x) * (y - x)) AS BIGINT) AS szz,
        |    CAST(sum(x * (y - x)) AS BIGINT) AS sxz
        |  FROM l WHERE x IS NOT NULL GROUP BY 1),
        |t AS (
        |  SELECT event_type, n,
        |    n * sxx - sx * sx AS a,
        |    n * sxz - sx * sz AS b,
        |    n * szz - sz * sz AS c
        |  FROM m)
        |SELECT event_type, n AS n_obs,
        |  floor(CAST(b AS DOUBLE) / a * 1e9 + 0.5) / 1.0e9 AS rho,
        |  floor(CAST(b AS DOUBLE)
        |    * sqrt((n - 2) / (CAST(c AS DOUBLE) * a - CAST(b AS DOUBLE) * b))
        |    * 1e6 + 0.5) / 1.0e6 AS t_stat,
        |  floor(CAST(b AS DOUBLE)
        |    * sqrt((n - 2) / (CAST(c AS DOUBLE) * a - CAST(b AS DOUBLE) * b))
        |    * 1e6 + 0.5) < -2860000 AS stationary
        |FROM t WHERE a > 0 AND n > 2""".stripMargin) { (s, dir) =>
      val d = Tables.eventsTimed(s, dir)
        .groupBy(col("event_type"), expr("ts_s div 86400").as("day"))
        .agg(count(lit(1)).as("y"))
      val lagW = Window.partitionBy(col("event_type")).orderBy(col("day").asc)
      val lagd = d
        .withColumn("x", lag(col("y"), 1).over(lagW))
        .filter(col("x").isNotNull)
        .withColumn("z", col("y") - col("x"))
      val m = lagd.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"), sum(col("z")).as("sz"),
          sum(col("z") * col("z")).as("szz"),
          sum(col("x") * col("z")).as("sxz"))
      val a = col("n") * col("sxx") - col("sx") * col("sx")
      val b = col("n") * col("sxz") - col("sx") * col("sz")
      val c = col("n") * col("szz") - col("sz") * col("sz")
      val tRaw = b.cast(DoubleType) *
        sqrt((col("n") - 2).cast(DoubleType)
          / (c.cast(DoubleType) * a - b.cast(DoubleType) * b))
      m.filter(a > 0 && col("n") > 2)
        .select(col("event_type"), col("n").as("n_obs"),
          (floor(b.cast(DoubleType) / a * lit(1.0e9) + 0.5) / lit(1.0e9)).as("rho"),
          (floor(tRaw * lit(1.0e6) + 0.5) / lit(1.0e6)).as("t_stat"),
          (floor(tRaw * lit(1.0e6) + 0.5) < lit(-2860000.0)).as("stationary"))
    },

    // ------------------------------------------------------------------
    // KPSS level-stationarity test — ev_dickey_fuller's mirror image
    // (DF's null is a unit root, KPSS's null is stationarity; agencies
    // run BOTH because each test alone can't distinguish "no evidence
    // against" from "evidence for"). η = ΣS_t² / (n·lrv) on the
    // common-denominator deviations e_t = n·y_t − Σy (exact longs, the
    // ev_arch_test demeaning without the float mean), partial sums and
    // all five autocovariance moments (γ₀..γ₄) exact DECIMAL(38)
    // integers (S_t² ≈ 10²⁸ at corpus rates); the Bartlett long-run
    // variance (weights 1 − j/5) and the final ratio assemble in
    // pinned-order doubles, ×10⁶-snapped before the 5% critical-value
    // 0.463 verdict. The n-scaling of e cancels between numerator and
    // denominator, so the statistic is invariant to the exactness
    // trick. One corpus agg; all windows ride type×day.
    "ev_kpss" -> QueryDef.withOracle(
      """WITH d AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS sy
        |  FROM d GROUP BY 1),
        |e AS (
        |  SELECT d.event_type, d.day, t.n, d.y * t.n - t.sy AS e
        |  FROM d JOIN t ON t.event_type = d.event_type),
        |s AS (
        |  SELECT event_type, n, e,
        |    CAST(sum(e) OVER (PARTITION BY event_type ORDER BY day ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT)
        |      AS st,
        |    lag(e, 1) OVER (PARTITION BY event_type ORDER BY day ASC) AS e1,
        |    lag(e, 2) OVER (PARTITION BY event_type ORDER BY day ASC) AS e2,
        |    lag(e, 3) OVER (PARTITION BY event_type ORDER BY day ASC) AS e3,
        |    lag(e, 4) OVER (PARTITION BY event_type ORDER BY day ASC) AS e4
        |  FROM e),
        |m AS (
        |  SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |    CAST(sum(st * st) AS HUGEINT) AS ss2,
        |    CAST(sum(CAST(e AS HUGEINT) * e) AS HUGEINT) AS g0,
        |    CAST(sum(CAST(e AS HUGEINT) * e1) AS HUGEINT) AS g1,
        |    CAST(sum(CAST(e AS HUGEINT) * e2) AS HUGEINT) AS g2,
        |    CAST(sum(CAST(e AS HUGEINT) * e3) AS HUGEINT) AS g3,
        |    CAST(sum(CAST(e AS HUGEINT) * e4) AS HUGEINT) AS g4
        |  FROM s GROUP BY 1),
        |k AS (
        |  SELECT event_type, n,
        |    CAST(g0 AS DOUBLE) + 2 * (0.8 * CAST(g1 AS DOUBLE)
        |      + 0.6 * CAST(g2 AS DOUBLE) + 0.4 * CAST(g3 AS DOUBLE)
        |      + 0.2 * CAST(g4 AS DOUBLE)) AS lrv,
        |    CAST(ss2 AS DOUBLE) AS ss2
        |  FROM m)
        |SELECT event_type, n AS n_days,
        |  floor(ss2 / (n * lrv) * 1e6 + 0.5) / 1.0e6 AS kpss_stat,
        |  floor(ss2 / (n * lrv) * 1e6 + 0.5) > 463000 AS nonstationary
        |FROM k WHERE lrv > 0 AND n > 5""".stripMargin) { (s, dir) =>
      val dec38 = DecimalType(38, 0)
      val d = Tables.eventsTimed(s, dir)
        .groupBy(col("event_type"), expr("ts_s div 86400").as("day"))
        .agg(count(lit(1)).as("y"))
      val t = d.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
      val e = d.join(broadcast(t), "event_type")
        .select(col("event_type"), col("day"), col("n"),
          (col("y") * col("n") - col("sy")).as("e"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day").asc)
      val sRel = e
        .withColumn("st", sum(col("e").cast(dec38))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("e1", lag(col("e"), 1).over(w))
        .withColumn("e2", lag(col("e"), 2).over(w))
        .withColumn("e3", lag(col("e"), 3).over(w))
        .withColumn("e4", lag(col("e"), 4).over(w))
      val m = sRel.groupBy(col("event_type"))
        .agg(max(col("n")).as("n"),
          sum(col("st") * col("st")).as("ss2"),
          sum(col("e").cast(dec38) * col("e")).as("g0"),
          sum(col("e").cast(dec38) * col("e1")).as("g1"),
          sum(col("e").cast(dec38) * col("e2")).as("g2"),
          sum(col("e").cast(dec38) * col("e3")).as("g3"),
          sum(col("e").cast(dec38) * col("e4")).as("g4"))
      val lrv = col("g0").cast(DoubleType) + lit(2) *
        (lit(0.8) * col("g1").cast(DoubleType)
          + lit(0.6) * col("g2").cast(DoubleType)
          + lit(0.4) * col("g3").cast(DoubleType)
          + lit(0.2) * col("g4").cast(DoubleType))
      val k = m.select(col("event_type"), col("n"), lrv.as("lrv"),
        col("ss2").cast(DoubleType).as("ss2"))
      val stat = col("ss2") / (col("n") * col("lrv"))
      k.filter(col("lrv") > 0 && col("n") > 5)
        .select(col("event_type"), col("n").as("n_days"),
          (floor(stat * lit(1.0e6) + lit(0.5)) / lit(1.0e6)).as("kpss_stat"),
          (floor(stat * lit(1.0e6) + lit(0.5)) > lit(463000.0))
            .as("nonstationary"))
    },

    // ------------------------------------------------------------------
    // Active-day streaks per user (gaps-and-islands): the engagement
    // primitive behind "7-day streak" product mechanics and habit
    // cohorting — consecutive-calendar-day runs of activity, collapsed
    // per user to streak count / longest streak / current-tail length.
    // The classic day − row_number() island key groups consecutive
    // days into one constant; both the ranking window and the island
    // collapse partition BY USER — bounded by one user's active days
    // (≤ calendar span), never corpus-wide, and the user-keyed shuffle
    // is the only corpus-scale exchange after the (user, day) distinct.
    "ev_streaks" -> QueryDef.withOracle(
      """WITH d AS (
        |  SELECT DISTINCT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
        |  FROM events),
        |i AS (
        |  SELECT user_id, day,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day ASC)
        |      AS grp
        |  FROM d),
        |st AS (
        |  SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len,
        |    CAST(max(day) AS BIGINT) AS end_day
        |  FROM i GROUP BY user_id, grp)
        |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
        |  CAST(count(*) AS BIGINT) AS n_streaks,
        |  CAST(max(len) AS BIGINT) AS max_streak,
        |  CAST(max_by(len, end_day) AS BIGINT) AS last_streak
        |FROM st GROUP BY user_id""".stripMargin) { (s, dir) =>
      val d = Tables.eventsTimed(s, dir)
        .select(col("user_id"), expr("ts_s div 86400").as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day").asc)
      val st = d
        .withColumn("grp", col("day") - row_number().over(w))
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("len"), max(col("day")).as("end_day"))
      st.groupBy(col("user_id"))
        .agg(sum(col("len")).as("n_active_days"),
          count(lit(1)).as("n_streaks"), max(col("len")).as("max_streak"),
          max_by(col("len"), col("end_day")).as("last_streak"))
    },

    // ------------------------------------------------------------------
    // STL anomaly screen on daily event counts — the operational use
    // of the STL discipline (etl_stl_decompose / Loess): per event
    // type, decompose the daily-count series with weekly seasonality
    // (cycle-subseries tricube loess over day-of-week across weeks,
    // half-width 2 weeks; a centered 7-term low-pass to strip level
    // leakage; trend loess half-width 4 days on the deseasonalized
    // series) and flag days where the remainder departs by more than
    // 3·1.4826·MAD from its per-type median — the standard robust
    // residual rule (1.4826 makes MAD a σ estimate under normality).
    // The entire decision is EXACT integers: counts are normalized per
    // type by exact totals to an SF-invariant ×10⁶ fixed point, both
    // medians come from the two-rank sum (2·median stays a long), and
    // the flag compares 2·10⁴·dev2 > 44478·mad4 (dev2 = 2|r−med| and
    // mad4 = 4·MAD, so dev2/2 > 4.4478·mad4/4 scales through to
    // 20000·dev2 > 44478·mad4) — no float ever decides a boolean.
    // The corpus collapses to the type×day calendar-bounded daily
    // relation in the first aggregate; every window after rides it.
    "ev_stl_anomaly" -> {
      import graft.operators.Loess.{betaSql, sumsSql}
      val seasK = (-2 to 2).toSeq // subseries half-width: 2 weeks
      val trK = (-4 to 4).toSeq // trend half-width: 4 days
      val lpTerms = (-3 to 3).map(k =>
        Loess.nbSql("c_fp", k, "tw")).mkString(" + ")
      val oracle =
        s"""WITH ${dailyCountsSql("d")},
           |t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
           |             CAST(sum(n) AS BIGINT) AS total FROM d GROUP BY 1),
           |z AS (SELECT d.event_type, d.day, d.day // 7 AS week,
           |    d.day % 7 AS dow, d.n, t.n_days, t.total,
           |    CAST(floor(CAST(d.n AS DOUBLE) * n_days / total * 1000000
           |      + 0.5) AS BIGINT) AS z_fp
           |  FROM d JOIN t USING (event_type)),
           |cs AS (SELECT *, ${sumsSql("z_fp", seasK, 2, "sub")}
           |  FROM z WINDOW sub AS (PARTITION BY event_type, dow ORDER BY week)),
           |cv AS (SELECT event_type, day, n, n_days, total, z_fp,
           |    $betaSql AS c_fp FROM cs),
           |lp AS (SELECT *, $lpTerms AS lnum
           |  FROM cv WINDOW tw AS (PARTITION BY event_type ORDER BY day)),
           |sv AS (SELECT event_type, day, n, n_days, total, z_fp,
           |    c_fp - CAST(floor(CAST(lnum AS DOUBLE) / 7 + 0.5) AS BIGINT)
           |      AS s_fp,
           |    z_fp - (c_fp - CAST(floor(CAST(lnum AS DOUBLE) / 7 + 0.5)
           |      AS BIGINT)) AS d_fp
           |  FROM lp WHERE lnum IS NOT NULL),
           |tr AS (SELECT *, ${sumsSql("d_fp", trK, 4, "tw")}
           |  FROM sv WINDOW tw AS (PARTITION BY event_type ORDER BY day)),
           |tv AS (SELECT event_type, day, n, n_days, total, z_fp, s_fp,
           |    $betaSql AS t_fp FROM tr),
           |rv AS (SELECT *, z_fp - s_fp - t_fp AS r_fp FROM tv),
           |rk AS (SELECT *,
           |    row_number() OVER (PARTITION BY event_type
           |      ORDER BY r_fp ASC, day ASC) AS rn,
           |    count(*) OVER (PARTITION BY event_type) AS nn FROM rv),
           |md AS (SELECT event_type,
           |    CAST(max(CASE WHEN rn = (nn + 1) // 2 THEN r_fp END)
           |      + max(CASE WHEN rn = (nn + 2) // 2 THEN r_fp END) AS BIGINT)
           |      AS med2
           |  FROM rk GROUP BY 1),
           |dv AS (SELECT rk.*, abs(2 * rk.r_fp - md.med2) AS dev2
           |  FROM rk JOIN md USING (event_type)),
           |dk AS (SELECT *,
           |    row_number() OVER (PARTITION BY event_type
           |      ORDER BY dev2 ASC, day ASC) AS dn FROM dv),
           |mad AS (SELECT event_type,
           |    CAST(max(CASE WHEN dn = (nn + 1) // 2 THEN dev2 END)
           |      + max(CASE WHEN dn = (nn + 2) // 2 THEN dev2 END) AS BIGINT)
           |      AS mad4
           |  FROM dk GROUP BY 1)
           |SELECT d.event_type, d.day, d.n,
           |  floor(CAST(d.s_fp AS DOUBLE) / 1000000 * d.total / d.n_days
           |    * 10000 + 0.5) / 10000.0 AS seasonal,
           |  floor(CAST(d.z_fp - d.s_fp - d.r_fp AS DOUBLE) / 1000000
           |    * d.total / d.n_days * 10000 + 0.5) / 10000.0 AS trend,
           |  floor(CAST(d.r_fp AS DOUBLE) / 1000000 * d.total / d.n_days
           |    * 10000 + 0.5) / 10000.0 AS remainder,
           |  20000 * d.dev2 > 44478 * m.mad4 AS is_anomaly
           |FROM dv d JOIN mad m USING (event_type)""".stripMargin
      QueryDef.withOracle(oracle) { (s, dir) =>
        import graft.operators.Loess.{beta, nb, sums}
        val d = dailyCounts(s, dir)
          .persist() // type×day bookkeeping; feeds anchors + windows
        val t = d.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_days"), sum(col("n")).as("total"))
        val z = d.join(broadcast(t), "event_type")
          .withColumn("week", expr("day div 7"))
          .withColumn("dow", col("day") % 7)
          .withColumn("z_fp", floor(col("n").cast(DoubleType) * col("n_days")
            / col("total") * lit(1000000) + lit(0.5)).cast(LongType))
        val sub = Window.partitionBy(col("event_type"), col("dow"))
          .orderBy(col("week").asc)
        val cv = z.select(Seq(col("event_type"), col("day"), col("n"),
            col("n_days"), col("total"), col("z_fp")) ++
            sums(col("z_fp"), seasK, 2, sub): _*)
          .withColumn("c_fp", beta)
        val tw = Window.partitionBy(col("event_type")).orderBy(col("day").asc)
        val lnum = (-3 to 3).map(k => nb(col("c_fp"), k, tw)).reduce(_ + _)
        val sv = cv.withColumn("lnum", lnum)
          .filter(col("lnum").isNotNull)
          .withColumn("s_fp", col("c_fp") -
            floor(col("lnum").cast(DoubleType) / 7 + lit(0.5)).cast(LongType))
          .withColumn("d_fp", col("z_fp") - col("s_fp"))
        val tv = sv.select(Seq(col("event_type"), col("day"), col("n"),
            col("n_days"), col("total"), col("z_fp"), col("s_fp")) ++
            sums(col("d_fp"), trK, 4, tw): _*)
          .withColumn("t_fp", beta)
          .withColumn("r_fp", col("z_fp") - col("s_fp") - col("t_fp"))
        val rk = tv
          .withColumn("rn", row_number().over(Window.partitionBy(col("event_type"))
            .orderBy(col("r_fp").asc, col("day").asc)))
          .withColumn("nn", count(lit(1)).over(Window.partitionBy(col("event_type"))
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        val md = rk.groupBy(col("event_type"))
          .agg((max(when(col("rn") === floor((col("nn") + 1) / 2), col("r_fp")))
            + max(when(col("rn") === floor((col("nn") + 2) / 2), col("r_fp"))))
            .cast(LongType).as("med2"))
        val dv = rk.join(broadcast(md), "event_type")
          .withColumn("dev2", abs(lit(2) * col("r_fp") - col("med2")))
        val dk = dv.withColumn("dn",
          row_number().over(Window.partitionBy(col("event_type"))
            .orderBy(col("dev2").asc, col("day").asc)))
        val mad = dk.groupBy(col("event_type"))
          .agg((max(when(col("dn") === floor((col("nn") + 1) / 2), col("dev2")))
            + max(when(col("dn") === floor((col("nn") + 2) / 2), col("dev2"))))
            .cast(LongType).as("mad4"))
        def units(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          floor(c.cast(DoubleType) / 1000000 * col("total") / col("n_days")
            * lit(10000) + lit(0.5)) / lit(10000.0)
        dv.join(broadcast(mad), "event_type")
          .select(col("event_type"), col("day"), col("n"),
            units(col("s_fp")).as("seasonal"),
            units(col("z_fp") - col("s_fp") - col("r_fp")).as("trend"),
            units(col("r_fp")).as("remainder"),
            (lit(20000L) * col("dev2") > lit(44478L) * col("mad4"))
              .as("is_anomaly"))
      }
    },

    // ------------------------------------------------------------------
    // Peaks-over-threshold GPD tail fit — the extreme-value companion
    // to ev_hill_tail (Hill assumes a pure power law; the generalized
    // Pareto fits ANY tail shape above a high threshold, which is how
    // reinsurers and capacity planners actually model exceedances).
    // Per type: threshold u = the exact 90th percentile over the
    // bounded 2-dp value domain (the etl_winsorize cum-count rule),
    // exceedances y = value − u in EXACT cents, GPD fit by method of
    // moments — m²/v = 1−2ξ gives ξ = (1 − m²/v)/2, σ = m(1 + m²/v)/2
    // — closed form, no optimizer, no pow(): moments are exact
    // BIGINT/DECIMAL(38) sums (y² sums reach 10²⁰ at corpus scale) and
    // the two published parameters snap ×10⁶ from doubles with
    // identical operand order. ξ < 0 ⇒ finite tail endpoint, ξ ≈ 0 ⇒
    // exponential tail — the capacity-planning read-off.
    "ev_pot_tail" -> QueryDef.withOracle(
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
        |    min(CASE WHEN cum >= ceil(0.90 * n) THEN value END) AS u
        |  FROM c GROUP BY event_type),
        |x AS (
        |  SELECT e.event_type, l.n, l.u,
        |    CAST(floor(e.value * 100 + 0.5) AS BIGINT)
        |      - CAST(floor(l.u * 100 + 0.5) AS BIGINT) AS y
        |  FROM events e JOIN lim l ON l.event_type = e.event_type
        |  WHERE e.value > l.u),
        |m AS (
        |  SELECT event_type, max(n) AS n, max(u) AS u,
        |    CAST(count(*) AS BIGINT) AS nx,
        |    CAST(sum(y) AS BIGINT) AS s1,
        |    CAST(CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS DOUBLE) AS s2
        |  FROM x GROUP BY event_type),
        |f AS (
        |  SELECT event_type, n, u, nx,
        |    CAST(s1 AS DOUBLE) / nx AS mm,
        |    (s2 - CAST(s1 AS DOUBLE) * s1 / nx) / (nx - 1) AS vv
        |  FROM m WHERE nx > 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n, u, nx AS n_exceed,
        |  floor(mm / 100 * 1e6 + 0.5) / 1.0e6 AS mean_excess,
        |  floor((1 - mm * mm / vv) / 2 * 1e6 + 0.5) / 1.0e6 AS xi,
        |  floor(mm * (1 + mm * mm / vv) / 2 / 100 * 1e6 + 0.5) / 1.0e6
        |    AS sigma
        |FROM f""".stripMargin) { (s, dir) =>
      val dec38 = DecimalType(38, 0)
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
          min(when(col("cum") >= ceil(lit(0.90) * col("n")), col("value")))
            .as("u"))
      val y = floor(col("value") * 100 + lit(0.5)).cast(LongType) -
        floor(col("u") * 100 + lit(0.5)).cast(LongType)
      val x = Tables.events(s, dir)
        .join(broadcast(lim), "event_type")
        .filter(col("value") > col("u"))
        .select(col("event_type"), col("n"), col("u"), y.as("y"))
      val m = x.groupBy(col("event_type"))
        .agg(max(col("n")).as("n"), max(col("u")).as("u"),
          count(lit(1)).as("nx"), sum(col("y")).as("s1"),
          sum(col("y").cast(dec38) * col("y").cast(dec38))
            .cast(DoubleType).as("s2"))
      val f = m.filter(col("nx") > 1)
        .select(col("event_type"), col("n"), col("u"), col("nx"),
          (col("s1").cast(DoubleType) / col("nx")).as("mm"),
          ((col("s2") - col("s1").cast(DoubleType) * col("s1") / col("nx"))
            / (col("nx") - 1)).as("vv"))
      f.select(col("event_type"), col("n"), col("u"), col("nx").as("n_exceed"),
        (floor(col("mm") / 100 * lit(1.0e6) + lit(0.5)) / lit(1.0e6))
          .as("mean_excess"),
        (floor((lit(1) - col("mm") * col("mm") / col("vv")) / 2 * lit(1.0e6)
          + lit(0.5)) / lit(1.0e6)).as("xi"),
        (floor(col("mm") * (lit(1) + col("mm") * col("mm") / col("vv")) / 2
          / 100 * lit(1.0e6) + lit(0.5)) / lit(1.0e6)).as("sigma"))
    },

    // ------------------------------------------------------------------
    // Engle-Granger two-step cointegration — do the click and view
    // daily series share a common stochastic trend (so their SPREAD is
    // the mean-reverting thing to monitor), the question correlation
    // (etl_correlation) and per-series stationarity (ev_dickey_fuller)
    // each answer wrongly on trending data. Step 1: OLS view ~ click
    // on per-day counts normalized to ×10³ SF-invariant longs, all
    // moments exact BIGINTs; the residual is kept in COMMON-
    // DENOMINATOR integer form r_t = v·den − βnum·c − αnum (den =
    // n·Σc² − (Σc)², exact — no float residual ever materializes, and
    // the den scaling cancels in every step-2 output because ρ and t
    // are scale-invariant). Step 2: the ev_dickey_fuller ADF regression
    // on r with Δr ~ r_{t−1}, moments accumulated in DECIMAL(38)/
    // HUGEINT (r² ≈ 10²⁸), the t assembled in doubles with identical
    // operand order and ×10⁶-snapped BEFORE the decision against the
    // Engle-Granger 5% critical value −3.37 (2 variables, n ≈ 30).
    // One corpus agg; everything after rides the ≤|days| relation.
    "ev_engle_granger" -> QueryDef.withOracle(
      s"""WITH $clickViewSql,
        |m1 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cf) AS BIGINT) AS sc,
        |    CAST(sum(vf) AS BIGINT) AS sv, CAST(sum(cf * cf) AS BIGINT) AS scc,
        |    CAST(sum(cf * vf) AS BIGINT) AS scv
        |  FROM z),
        |co AS (
        |  SELECT n, n * scc - sc * sc AS den, n * scv - sc * sv AS bnum,
        |    sv * scc - sc * scv AS anum
        |  FROM m1),
        |r AS (
        |  SELECT z.day,
        |    CAST(z.vf * co.den - co.bnum * z.cf - co.anum AS BIGINT) AS r
        |  FROM z CROSS JOIN co),
        |l AS (SELECT r, lag(r) OVER (ORDER BY day ASC) AS x FROM r),
        |m2 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n2,
        |    CAST(sum(x) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |    CAST(sum(r - x) AS HUGEINT) AS sz,
        |    CAST(sum(CAST(r - x AS HUGEINT) * (r - x)) AS HUGEINT) AS szz,
        |    CAST(sum(CAST(x AS HUGEINT) * (r - x)) AS HUGEINT) AS sxz
        |  FROM l WHERE x IS NOT NULL),
        |t2 AS (
        |  SELECT n2,
        |    CAST(n2 * sxx - sx * sx AS DOUBLE) AS a,
        |    CAST(n2 * sxz - sx * sz AS DOUBLE) AS b,
        |    CAST(n2 * szz - sz * sz AS DOUBLE) AS c
        |  FROM m2)
        |SELECT co.n AS n_days,
        |  floor(CAST(co.bnum AS DOUBLE) / co.den * 1e9 + 0.5) / 1.0e9 AS beta,
        |  floor(CAST(t2.b AS DOUBLE) / t2.a * 1e9 + 0.5) / 1.0e9 AS adf_rho,
        |  floor(t2.b * sqrt((t2.n2 - 2) / (t2.c * t2.a - t2.b * t2.b))
        |    * 1e6 + 0.5) / 1.0e6 AS eg_t_stat,
        |  floor(t2.b * sqrt((t2.n2 - 2) / (t2.c * t2.a - t2.b * t2.b))
        |    * 1e6 + 0.5) < -3370000 AS cointegrated
        |FROM co CROSS JOIN t2
        |WHERE co.den > 0 AND t2.a > 0 AND t2.n2 > 2""".stripMargin) { (s, dir) =>
      val dec38 = DecimalType(38, 0)
      val z = clickViewDays(s, dir)
        .persist() // ≤|days| bookkeeping; feeds the moments + residuals
      val m1 = z.agg(count(lit(1)).as("n"), sum(col("cf")).as("sc"),
        sum(col("vf")).as("sv"), sum(col("cf") * col("cf")).as("scc"),
        sum(col("cf") * col("vf")).as("scv"))
      val co = m1.select(col("n"),
        (col("n") * col("scc") - col("sc") * col("sc")).as("den"),
        (col("n") * col("scv") - col("sc") * col("sv")).as("bnum"),
        (col("sv") * col("scc") - col("sc") * col("scv")).as("anum"))
      val r = z.crossJoin(broadcast(co))
        .select(col("day"), col("n"), col("den"), col("bnum"),
          (col("vf") * col("den") - col("bnum") * col("cf") - col("anum"))
            .as("r"))
      val lw = Window.orderBy(col("day").asc)
      val l = r.withColumn("x", lag(col("r"), 1).over(lw))
        .filter(col("x").isNotNull)
        .withColumn("dz", col("r") - col("x"))
      val m2 = l.groupBy(col("n"), col("den"), col("bnum"))
        .agg(count(lit(1)).as("n2"),
          sum(col("x").cast(dec38)).as("sx"),
          sum(col("x").cast(dec38) * col("x").cast(dec38)).as("sxx"),
          sum(col("dz").cast(dec38)).as("sz"),
          sum(col("dz").cast(dec38) * col("dz").cast(dec38)).as("szz"),
          sum(col("x").cast(dec38) * col("dz").cast(dec38)).as("sxz"))
      val aE = (col("n2").cast(dec38) * col("sxx") - col("sx") * col("sx"))
        .cast(DoubleType)
      val bE = (col("n2").cast(dec38) * col("sxz") - col("sx") * col("sz"))
        .cast(DoubleType)
      val cE = (col("n2").cast(dec38) * col("szz") - col("sz") * col("sz"))
        .cast(DoubleType)
      val t2 = m2.select(col("n"), col("den"), col("bnum"), col("n2"),
        aE.as("a"), bE.as("b"), cE.as("c"))
      val tRaw = col("b") * sqrt((col("n2") - 2).cast(DoubleType)
        / (col("c") * col("a") - col("b") * col("b")))
      t2.filter(col("den") > 0 && col("a") > 0 && col("n2") > 2)
        .select(col("n").as("n_days"),
          (floor(col("bnum").cast(DoubleType) / col("den") * lit(1.0e9)
            + lit(0.5)) / lit(1.0e9)).as("beta"),
          (floor(col("b") / col("a") * lit(1.0e9) + lit(0.5)) / lit(1.0e9))
            .as("adf_rho"),
          (floor(tRaw * lit(1.0e6) + lit(0.5)) / lit(1.0e6)).as("eg_t_stat"),
          (floor(tRaw * lit(1.0e6) + lit(0.5)) < lit(-3370000.0))
            .as("cointegrated"))
    },

    // ------------------------------------------------------------------
    // Engle's ARCH LM test per event type — does the VOLATILITY of the
    // daily series cluster (big shocks follow big shocks), the property
    // every interval forecast in the ev_* family silently assumes away
    // (homoskedastic residuals)? The LM form regresses today's squared
    // deviation on yesterday's: LM = n·R² ~ χ²(1) under no-ARCH. Daily
    // counts normalize to ×10³ SF-invariant longs (the ev_engle_granger
    // convention, so every bound below is data-volume-independent);
    // deviations e = yf − (Σyf // nd) use the positive floor-divide
    // mean (Spark `div` and DuckDB `//` agree on nonnegative operands),
    // keeping u = e² ≤ ~10⁸ and every raw moment an exact integer; the
    // centered moments assemble in DECIMAL(38) (n·Σu² ≈ 10²¹) and R²
    // only then moves to doubles with identical operand order, snapped
    // ×10⁶ BEFORE the χ²(1) 5% decision at 3.841459. One corpus agg;
    // the lag window rides the calendar-bounded type×day relation.
    "ev_arch_test" -> QueryDef.withOracle(
      """WITH d AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |tt AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
        |    CAST(sum(y) AS BIGINT) AS ty
        |  FROM d GROUP BY 1),
        |z AS (
        |  SELECT d.event_type, d.day,
        |    CAST(floor(CAST(d.y AS DOUBLE) * tt.nd / tt.ty * 1000 + 0.5)
        |      AS BIGINT) AS yf
        |  FROM d JOIN tt ON tt.event_type = d.event_type),
        |mu AS (
        |  SELECT event_type, CAST(sum(yf) AS BIGINT) // count(*) AS m
        |  FROM z GROUP BY 1),
        |u AS (
        |  SELECT z.event_type, z.day,
        |    (z.yf - mu.m) * (z.yf - mu.m) AS u
        |  FROM z JOIN mu ON mu.event_type = z.event_type),
        |l AS (
        |  SELECT event_type, u AS uy,
        |    lag(u) OVER (PARTITION BY event_type ORDER BY day ASC) AS ux
        |  FROM u),
        |m AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(ux) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(ux AS HUGEINT) * ux) AS HUGEINT) AS sxx,
        |    CAST(sum(uy) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(uy AS HUGEINT) * uy) AS HUGEINT) AS syy,
        |    CAST(sum(CAST(ux AS HUGEINT) * uy) AS HUGEINT) AS sxy
        |  FROM l WHERE ux IS NOT NULL GROUP BY 1),
        |t AS (
        |  SELECT event_type, n,
        |    CAST(n * sxx - sx * sx AS DOUBLE) AS a,
        |    CAST(n * sxy - sx * sy AS DOUBLE) AS b,
        |    CAST(n * syy - sy * sy AS DOUBLE) AS c
        |  FROM m)
        |SELECT event_type, n AS n_obs,
        |  floor(b * b / (a * c) * 1e9 + 0.5) / 1.0e9 AS r2,
        |  floor(n * (b * b / (a * c)) * 1e6 + 0.5) / 1.0e6 AS lm_stat,
        |  floor(n * (b * b / (a * c)) * 1e6 + 0.5) > 3841459 AS arch_present
        |FROM t WHERE a > 0 AND c > 0 AND n > 2""".stripMargin) { (s, dir) =>
      val dec38 = DecimalType(38, 0)
      val d = Tables.eventsTimed(s, dir)
        .groupBy(col("event_type"), expr("ts_s div 86400").as("day"))
        .agg(count(lit(1)).as("y"))
      val tt = d.groupBy(col("event_type"))
        .agg(count(lit(1)).as("nd"), sum(col("y")).as("ty"))
      val z = d.join(broadcast(tt), "event_type")
        .select(col("event_type"), col("day"),
          floor(col("y").cast(DoubleType) * col("nd") / col("ty") * lit(1000)
            + lit(0.5)).cast(LongType).as("yf"))
        .persist() // calendar-bounded type×day bookkeeping
      val mu = z.groupBy(col("event_type"))
        .agg(expr("sum(yf) div count(*)").as("m"))
      val u = z.join(broadcast(mu), "event_type")
        .select(col("event_type"), col("day"),
          ((col("yf") - col("m")) * (col("yf") - col("m"))).as("u"))
      val lagW = Window.partitionBy(col("event_type")).orderBy(col("day").asc)
      val l = u.withColumn("ux", lag(col("u"), 1).over(lagW))
        .filter(col("ux").isNotNull)
      val m = l.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("ux").cast(dec38)).as("sx"),
          sum(col("ux").cast(dec38) * col("ux").cast(dec38)).as("sxx"),
          sum(col("u").cast(dec38)).as("sy"),
          sum(col("u").cast(dec38) * col("u").cast(dec38)).as("syy"),
          sum(col("ux").cast(dec38) * col("u").cast(dec38)).as("sxy"))
      val aE = (col("n").cast(dec38) * col("sxx") - col("sx") * col("sx"))
        .cast(DoubleType)
      val bE = (col("n").cast(dec38) * col("sxy") - col("sx") * col("sy"))
        .cast(DoubleType)
      val cE = (col("n").cast(dec38) * col("syy") - col("sy") * col("sy"))
        .cast(DoubleType)
      val t = m.select(col("event_type"), col("n"),
        aE.as("a"), bE.as("b"), cE.as("c"))
      val r2 = col("b") * col("b") / (col("a") * col("c"))
      t.filter(col("a") > 0 && col("c") > 0 && col("n") > 2)
        .select(col("event_type"), col("n").as("n_obs"),
          (floor(r2 * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("r2"),
          (floor(col("n") * r2 * lit(1.0e6) + lit(0.5)) / lit(1.0e6))
            .as("lm_stat"),
          (floor(col("n") * r2 * lit(1.0e6) + lit(0.5)) > lit(3841459.0))
            .as("arch_present"))
    },

    // ------------------------------------------------------------------
    // Bivariate VAR(1) fit + stability — the click/view system's joint
    // dynamics (each day's pair regressed on BOTH lags), answering what
    // ev_granger_causality's F-test and ev_engle_granger's spread test
    // can't: is the coupled system itself stable (spectral radius of
    // the coefficient matrix < 1), i.e. do shocks die out? Series
    // normalize to ×10³ SF-invariant longs (ev_engle_granger's z); all
    // raw and centered regression moments are exact integers; the 2×2
    // normal-equation solve (Cramer on centered moments, products in
    // DECIMAL(38) — D ≈ 10²⁸) lands in doubles only at the divisions,
    // each coefficient ×10⁹-snapped. The eigenvalue step then uses the
    // SNAPPED coefficients: tr/det/disc in doubles with identical
    // operand order, radius = (|tr|+√disc)/2 for real roots, √det for
    // the complex pair, ×10⁶-snapped before the |λ|<1 verdict. One
    // corpus agg; lags ride the ≤|days| calendar relation.
    "ev_var1_stability" -> QueryDef.withOracle(
      s"""WITH $clickViewSql,
        |l AS (
        |  SELECT cf, vf,
        |    lag(cf) OVER (ORDER BY day ASC) AS cl,
        |    lag(vf) OVER (ORDER BY day ASC) AS vl
        |  FROM z),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cl) AS BIGINT) AS s1, CAST(sum(vl) AS BIGINT) AS s2,
        |    CAST(sum(cl * cl) AS BIGINT) AS s11,
        |    CAST(sum(vl * vl) AS BIGINT) AS s22,
        |    CAST(sum(cl * vl) AS BIGINT) AS s12,
        |    CAST(sum(cf) AS BIGINT) AS syc, CAST(sum(vf) AS BIGINT) AS syv,
        |    CAST(sum(cl * cf) AS BIGINT) AS s1yc,
        |    CAST(sum(vl * cf) AS BIGINT) AS s2yc,
        |    CAST(sum(cl * vf) AS BIGINT) AS s1yv,
        |    CAST(sum(vl * vf) AS BIGINT) AS s2yv
        |  FROM l WHERE cl IS NOT NULL),
        |cm AS (
        |  SELECT n,
        |    CAST(n * s11 - s1 * s1 AS HUGEINT) AS c11,
        |    CAST(n * s22 - s2 * s2 AS HUGEINT) AS c22,
        |    CAST(n * s12 - s1 * s2 AS HUGEINT) AS c12,
        |    CAST(n * s1yc - s1 * syc AS HUGEINT) AS c1yc,
        |    CAST(n * s2yc - s2 * syc AS HUGEINT) AS c2yc,
        |    CAST(n * s1yv - s1 * syv AS HUGEINT) AS c1yv,
        |    CAST(n * s2yv - s2 * syv AS HUGEINT) AS c2yv
        |  FROM m),
        |bb AS (
        |  SELECT n, CAST(c11 * c22 - c12 * c12 AS DOUBLE) AS dd,
        |    CAST(c1yc * c22 - c2yc * c12 AS DOUBLE) AS n11,
        |    CAST(c2yc * c11 - c1yc * c12 AS DOUBLE) AS n12,
        |    CAST(c1yv * c22 - c2yv * c12 AS DOUBLE) AS n21,
        |    CAST(c2yv * c11 - c1yv * c12 AS DOUBLE) AS n22
        |  FROM cm WHERE c11 * c22 - c12 * c12 > 0),
        |bs AS (
        |  SELECT n,
        |    CAST(floor(n11 / dd * 1e9 + 0.5) AS BIGINT) AS b11s,
        |    CAST(floor(n12 / dd * 1e9 + 0.5) AS BIGINT) AS b12s,
        |    CAST(floor(n21 / dd * 1e9 + 0.5) AS BIGINT) AS b21s,
        |    CAST(floor(n22 / dd * 1e9 + 0.5) AS BIGINT) AS b22s
        |  FROM bb),
        |ei AS (
        |  SELECT n, b11s, b12s, b21s, b22s,
        |    CAST(b11s + b22s AS DOUBLE) / 1e9 AS tr,
        |    CAST(b11s * b22s - b12s * b21s AS DOUBLE) / 1e18 AS det
        |  FROM bs),
        |rr AS (
        |  SELECT n, b11s, b12s, b21s, b22s,
        |    CASE WHEN tr * tr - 4 * det >= 0
        |      THEN (abs(tr) + sqrt(tr * tr - 4 * det)) / 2
        |      ELSE sqrt(det) END AS radius
        |  FROM ei)
        |SELECT n AS n_obs,
        |  b11s / 1.0e9 AS b11, b12s / 1.0e9 AS b12,
        |  b21s / 1.0e9 AS b21, b22s / 1.0e9 AS b22,
        |  floor(radius * 1e6 + 0.5) / 1.0e6 AS spectral_radius,
        |  floor(radius * 1e6 + 0.5) < 1000000 AS stable
        |FROM rr WHERE n > 3""".stripMargin) { (s, dir) =>
      val dec38 = DecimalType(38, 0)
      val z = clickViewDays(s, dir)
      val lw = Window.orderBy(col("day").asc)
      val l = z.withColumn("cl", lag(col("cf"), 1).over(lw))
        .withColumn("vl", lag(col("vf"), 1).over(lw))
        .filter(col("cl").isNotNull)
      val m = l.agg(count(lit(1)).as("n"),
        sum(col("cl")).as("s1"), sum(col("vl")).as("s2"),
        sum(col("cl") * col("cl")).as("s11"),
        sum(col("vl") * col("vl")).as("s22"),
        sum(col("cl") * col("vl")).as("s12"),
        sum(col("cf")).as("syc"), sum(col("vf")).as("syv"),
        sum(col("cl") * col("cf")).as("s1yc"),
        sum(col("vl") * col("cf")).as("s2yc"),
        sum(col("cl") * col("vf")).as("s1yv"),
        sum(col("vl") * col("vf")).as("s2yv"))
      val cm = m.select(col("n"),
        (col("n") * col("s11") - col("s1") * col("s1")).cast(dec38).as("c11"),
        (col("n") * col("s22") - col("s2") * col("s2")).cast(dec38).as("c22"),
        (col("n") * col("s12") - col("s1") * col("s2")).cast(dec38).as("c12"),
        (col("n") * col("s1yc") - col("s1") * col("syc")).cast(dec38).as("c1yc"),
        (col("n") * col("s2yc") - col("s2") * col("syc")).cast(dec38).as("c2yc"),
        (col("n") * col("s1yv") - col("s1") * col("syv")).cast(dec38).as("c1yv"),
        (col("n") * col("s2yv") - col("s2") * col("syv")).cast(dec38).as("c2yv"))
      val bb = cm
        .filter(col("c11") * col("c22") - col("c12") * col("c12") > 0)
        .select(col("n"),
          (col("c11") * col("c22") - col("c12") * col("c12"))
            .cast(DoubleType).as("dd"),
          (col("c1yc") * col("c22") - col("c2yc") * col("c12"))
            .cast(DoubleType).as("n11"),
          (col("c2yc") * col("c11") - col("c1yc") * col("c12"))
            .cast(DoubleType).as("n12"),
          (col("c1yv") * col("c22") - col("c2yv") * col("c12"))
            .cast(DoubleType).as("n21"),
          (col("c2yv") * col("c11") - col("c1yv") * col("c12"))
            .cast(DoubleType).as("n22"))
      def snap9(c: org.apache.spark.sql.Column) =
        floor(c / col("dd") * lit(1.0e9) + lit(0.5)).cast(LongType)
      val bs = bb.select(col("n"), snap9(col("n11")).as("b11s"),
        snap9(col("n12")).as("b12s"), snap9(col("n21")).as("b21s"),
        snap9(col("n22")).as("b22s"))
      val ei = bs.select(col("n"), col("b11s"), col("b12s"), col("b21s"),
        col("b22s"),
        ((col("b11s") + col("b22s")).cast(DoubleType) / lit(1.0e9)).as("tr"),
        ((col("b11s") * col("b22s") - col("b12s") * col("b21s"))
          .cast(DoubleType) / lit(1.0e18)).as("det"))
      val disc = col("tr") * col("tr") - lit(4) * col("det")
      val radius = when(disc >= 0,
        (abs(col("tr")) + sqrt(disc)) / lit(2)).otherwise(sqrt(col("det")))
      ei.filter(col("n") > 3)
        .select(col("n").as("n_obs"),
          (col("b11s") / lit(1.0e9)).as("b11"),
          (col("b12s") / lit(1.0e9)).as("b12"),
          (col("b21s") / lit(1.0e9)).as("b21"),
          (col("b22s") / lit(1.0e9)).as("b22"),
          (floor(radius * lit(1.0e6) + lit(0.5)) / lit(1.0e6))
            .as("spectral_radius"),
          (floor(radius * lit(1.0e6) + lit(0.5)) < lit(1000000.0))
            .as("stable"))
    },

    // ------------------------------------------------------------------
    // Wald's SPRT — the sequential A/B monitor: walk the cumulative
    // log-likelihood ratio of daily purchase-vs-view conversion under
    // H1: p=0.52 against H0: p=0.48 and stop at the FIRST boundary
    // crossing (α = β = 0.05 ⇒ ±ln 19), the always-valid alternative
    // to ev_ab_ttest's fixed-horizon test (which is invalid if you
    // peek daily). Only TWO transcendental evaluations exist — the
    // per-success and per-failure log ratios — each ×10⁹-snapped to a
    // constant, so every day's LLR increment s·L1 + (n−s)·L0 and the
    // running sum are exact integers (DECIMAL(38) — day terms reach
    // 10¹⁷ at corpus rates); first crossings on each side resolve the
    // decision and its day. One corpus agg; the cumulative walk rides
    // the ≤|days| calendar relation.
    "ev_sprt" -> QueryDef.withOracle(
      """WITH d AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS s,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS f
        |  FROM events WHERE event_type IN ('purchase', 'view')
        |  GROUP BY 1),
        |k AS (
        |  SELECT CAST(floor(ln(0.52 / 0.48) * 1e9 + 0.5) AS BIGINT) AS l1,
        |    CAST(floor(ln(0.48 / 0.52) * 1e9 + 0.5) AS BIGINT) AS l0,
        |    CAST(floor(ln(19.0) * 1e9 + 0.5) AS BIGINT) AS aa),
        |c AS (
        |  SELECT d.day,
        |    sum(CAST(d.s * k.l1 + d.f * k.l0 AS HUGEINT))
        |      OVER (ORDER BY d.day ASC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cum,
        |    k.aa AS aa
        |  FROM d CROSS JOIN k),
        |x AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(max_by(cum, day) AS HUGEINT) AS fin,
        |    min(CASE WHEN cum >= aa THEN day END) AS up_day,
        |    min(CASE WHEN cum <= -aa THEN day END) AS dn_day
        |  FROM c)
        |SELECT n_days,
        |  floor(CAST(fin AS DOUBLE) / 1e3 + 0.5) / 1.0e6 AS final_llr,
        |  CAST(CASE
        |    WHEN up_day IS NOT NULL AND (dn_day IS NULL OR up_day <= dn_day)
        |      THEN up_day
        |    WHEN dn_day IS NOT NULL THEN dn_day ELSE -1 END AS BIGINT)
        |    AS decision_day,
        |  CASE
        |    WHEN up_day IS NOT NULL AND (dn_day IS NULL OR up_day <= dn_day)
        |      THEN 'accept_h1'
        |    WHEN dn_day IS NOT NULL THEN 'accept_h0'
        |    ELSE 'continue' END AS decision
        |FROM x""".stripMargin) { (s, dir) =>
      val dec38 = DecimalType(38, 0)
      val d = Tables.eventsTimed(s, dir)
        .filter(col("event_type").isin("purchase", "view"))
        .groupBy(expr("ts_s div 86400").as("day"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("s"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("f"))
      val l1 = floor(log(lit(0.52) / lit(0.48)) * lit(1.0e9) + lit(0.5))
        .cast(LongType)
      val l0 = floor(log(lit(0.48) / lit(0.52)) * lit(1.0e9) + lit(0.5))
        .cast(LongType)
      val aa = floor(log(lit(19.0)) * lit(1.0e9) + lit(0.5)).cast(LongType)
      val w = Window.orderBy(col("day").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val c = d.select(col("day"),
          (col("s") * l1 + col("f") * l0).cast(dec38).as("term"),
          aa.as("aa"))
        .withColumn("cum", sum(col("term")).over(w))
      val x = c.agg(count(lit(1)).as("n_days"),
        max_by(col("cum"), col("day")).as("fin"),
        min(when(col("cum") >= col("aa").cast(dec38), col("day"))).as("up_day"),
        min(when(col("cum") <= -col("aa").cast(dec38), col("day"))).as("dn_day"))
      val h1First = col("up_day").isNotNull &&
        (col("dn_day").isNull || col("up_day") <= col("dn_day"))
      x.select(col("n_days"),
        (floor(col("fin").cast(DoubleType) / lit(1.0e3) + lit(0.5))
          / lit(1.0e6)).as("final_llr"),
        when(h1First, col("up_day"))
          .when(col("dn_day").isNotNull, col("dn_day"))
          .otherwise(lit(-1L)).cast(LongType).as("decision_day"),
        when(h1First, "accept_h1")
          .when(col("dn_day").isNotNull, "accept_h0")
          .otherwise("continue").as("decision"))
    },

    // ------------------------------------------------------------------
    // Bass diffusion fit — the product-adoption curve (innovation
    // coefficient p, imitation coefficient q, market size m) behind
    // every new-product forecast, fit by the discrete Bass OLS
    // n_t = a + b·N_{t−1} + c·N²_{t−1} (a = pm, b = q−p, c = −q/m).
    // Adopters are FIRST-PURCHASE days per user (first-ever-event is
    // degenerate here — every user appears within days); daily
    // adopters and
    // the exclusive cumulative both normalize to ×10³ per-mille-of-
    // total units, so every regression moment is an exact integer with
    // SF-invariant bounds (x² ≤ 10⁶ ⇒ centered products ≈ 10³⁴ in
    // DECIMAL(38)); the 2-regressor Cramer solve lands in doubles only
    // at the divisions, b/c snap ×10⁹ and the intercept ×10⁶ BEFORE
    // the quadratic-root recovery m = (−b−√(b²−4ac))/(2c), p = a/m,
    // q = −c·m (per-mille saturation units; m̂ ≈ 1000 means the
    // observed window reaches the fitted ceiling). One corpus agg for
    // first-days; everything after rides the ≤|days| calendar grid.
    "ev_bass_diffusion" -> QueryDef.withOracle(
      """WITH fd AS (
        |  SELECT user_id,
        |    min(CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS day
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |d AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS n
        |  FROM fd GROUP BY 1),
        |u AS (SELECT CAST(sum(n) AS BIGINT) AS tot,
        |    CAST(count(*) AS BIGINT) AS nd FROM d),
        |c AS (
        |  SELECT d.day, d.n, u.tot, u.nd,
        |    sum(d.n) OVER (ORDER BY d.day ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cprev
        |  FROM d CROSS JOIN u),
        |z AS (
        |  SELECT day,
        |    CAST(floor(CAST(n AS DOUBLE) * nd / tot * 1000 + 0.5) AS BIGINT)
        |      AS yf,
        |    CAST(floor(CAST(coalesce(cprev, 0) AS DOUBLE) / tot * 1000 + 0.5)
        |      AS BIGINT) AS xf
        |  FROM c),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(xf) AS BIGINT) AS s1,
        |    CAST(sum(xf * xf) AS BIGINT) AS s2,
        |    CAST(sum(xf * xf * xf) AS HUGEINT) AS s12,
        |    CAST(sum(CAST(xf AS HUGEINT) * xf * xf * xf) AS HUGEINT) AS s22,
        |    CAST(sum(yf) AS BIGINT) AS sy,
        |    CAST(sum(xf * yf) AS BIGINT) AS s1y,
        |    CAST(sum(CAST(xf AS HUGEINT) * xf * yf) AS HUGEINT) AS s2y
        |  FROM z),
        |cm AS (
        |  SELECT n, s1, s2, sy,
        |    CAST(n * s2 - s1 * s1 AS HUGEINT) AS c11,
        |    CAST(n * s22 - CAST(s2 AS HUGEINT) * s2 AS HUGEINT) AS c22,
        |    CAST(n * s12 - CAST(s1 AS HUGEINT) * s2 AS HUGEINT) AS c12,
        |    CAST(n * s1y - CAST(s1 AS HUGEINT) * sy AS HUGEINT) AS c1y,
        |    CAST(n * s2y - CAST(s2 AS HUGEINT) * sy AS HUGEINT) AS c2y
        |  FROM m),
        |bs AS (
        |  SELECT n, s1, s2, sy,
        |    CAST(floor(CAST(c1y * c22 - c2y * c12 AS DOUBLE)
        |      / CAST(c11 * c22 - c12 * c12 AS DOUBLE) * 1e9 + 0.5) AS BIGINT)
        |      AS b1s,
        |    CAST(floor(CAST(c2y * c11 - c1y * c12 AS DOUBLE)
        |      / CAST(c11 * c22 - c12 * c12 AS DOUBLE) * 1e9 + 0.5) AS BIGINT)
        |      AS b2s
        |  FROM cm WHERE c11 * c22 - c12 * c12 > 0),
        |ab AS (
        |  SELECT n, b1s, b2s,
        |    floor((CAST(sy AS DOUBLE) - b1s / 1e9 * s1 - b2s / 1e9 * s2) / n
        |      * 1e6 + 0.5) / 1.0e6 AS a
        |  FROM bs),
        |r AS (
        |  SELECT n, a, b1s / 1.0e9 AS b, b2s / 1.0e9 AS c,
        |    b1s / 1e9 * (b1s / 1e9) - 4 * a * (b2s / 1e9) AS disc
        |  FROM ab)
        |SELECT n AS n_days, a AS b0, b AS b1, c AS b2,
        |  CASE WHEN disc >= 0 AND c < 0
        |    THEN floor((-b - sqrt(disc)) / (2 * c) * 1e6 + 0.5) / 1.0e6
        |    END AS m_hat,
        |  CASE WHEN disc >= 0 AND c < 0
        |    THEN floor(a / ((-b - sqrt(disc)) / (2 * c)) * 1e6 + 0.5) / 1.0e6
        |    END AS p_hat,
        |  CASE WHEN disc >= 0 AND c < 0
        |    THEN floor(-c * ((-b - sqrt(disc)) / (2 * c)) * 1e6 + 0.5) / 1.0e6
        |    END AS q_hat
        |FROM r""".stripMargin) { (s, dir) =>
      val dec38 = DecimalType(38, 0)
      val fd = Tables.eventsTimed(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(min(expr("ts_s div 86400")).as("day"))
      val d = fd.groupBy(col("day")).agg(count(lit(1)).as("n"))
      val u = d.agg(sum(col("n")).as("tot"), count(lit(1)).as("nd"))
      val wPrev = Window.orderBy(col("day").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val c = d.crossJoin(broadcast(u))
        .withColumn("cprev", sum(col("n")).over(wPrev))
      val z = c.select(col("day"),
        floor(col("n").cast(DoubleType) * col("nd") / col("tot") * lit(1000)
          + lit(0.5)).cast(LongType).as("yf"),
        floor(coalesce(col("cprev"), lit(0L)).cast(DoubleType) / col("tot")
          * lit(1000) + lit(0.5)).cast(LongType).as("xf"))
      val m = z.agg(count(lit(1)).as("n"),
        sum(col("xf")).as("s1"),
        sum(col("xf") * col("xf")).as("s2"),
        sum(col("xf") * col("xf") * col("xf")).cast(dec38).as("s12"),
        sum(col("xf").cast(dec38) * col("xf") * col("xf") * col("xf"))
          .as("s22"),
        sum(col("yf")).as("sy"),
        sum(col("xf") * col("yf")).as("s1y"),
        sum(col("xf").cast(dec38) * col("xf") * col("yf")).as("s2y"))
      val cm = m.select(col("n"), col("s1"), col("s2"), col("sy"),
        (col("n") * col("s2") - col("s1") * col("s1")).cast(dec38).as("c11"),
        (col("n").cast(dec38) * col("s22")
          - col("s2").cast(dec38) * col("s2")).as("c22"),
        (col("n").cast(dec38) * col("s12")
          - col("s1").cast(dec38) * col("s2")).as("c12"),
        (col("n") * col("s1y") - col("s1") * col("sy")).cast(dec38).as("c1y"),
        (col("n").cast(dec38) * col("s2y")
          - col("s2").cast(dec38) * col("sy")).as("c2y"))
      val dd = (col("c11") * col("c22") - col("c12") * col("c12"))
      val bs = cm.filter(dd > 0)
        .select(col("n"), col("s1"), col("s2"), col("sy"),
          floor((col("c1y") * col("c22") - col("c2y") * col("c12"))
            .cast(DoubleType) / dd.cast(DoubleType) * lit(1.0e9) + lit(0.5))
            .cast(LongType).as("b1s"),
          floor((col("c2y") * col("c11") - col("c1y") * col("c12"))
            .cast(DoubleType) / dd.cast(DoubleType) * lit(1.0e9) + lit(0.5))
            .cast(LongType).as("b2s"))
      val ab = bs.select(col("n"), col("b1s"), col("b2s"),
        (floor((col("sy").cast(DoubleType)
          - col("b1s") / lit(1.0e9) * col("s1")
          - col("b2s") / lit(1.0e9) * col("s2")) / col("n")
          * lit(1.0e6) + lit(0.5)) / lit(1.0e6)).as("a"))
      val r = ab.select(col("n"), col("a"),
        (col("b1s") / lit(1.0e9)).as("b"),
        (col("b2s") / lit(1.0e9)).as("c"),
        (col("b1s") / lit(1.0e9) * (col("b1s") / lit(1.0e9))
          - lit(4) * col("a") * (col("b2s") / lit(1.0e9))).as("disc"))
      val mHat = (-col("b") - sqrt(col("disc"))) / (lit(2) * col("c"))
      val ok = col("disc") >= 0 && col("c") < 0
      r.select(col("n").as("n_days"), col("a").as("b0"),
        col("b").as("b1"), col("c").as("b2"),
        when(ok, floor(mHat * lit(1.0e6) + lit(0.5)) / lit(1.0e6)).as("m_hat"),
        when(ok, floor(col("a") / mHat * lit(1.0e6) + lit(0.5)) / lit(1.0e6))
          .as("p_hat"),
        when(ok, floor(-col("c") * mHat * lit(1.0e6) + lit(0.5)) / lit(1.0e6))
          .as("q_hat"))
    },

    // ------------------------------------------------------------------
    // Event-study (dynamic DiD) — ev_diff_in_diff's single post-pre
    // contrast unrolled into PER-RELATIVE-WEEK coefficients, the plot
    // every applied-econometrics launch review is built on: δ_k =
    // (treat_k − ctrl_k) − (treat_base − ctrl_base) with base = the
    // week before treatment (δ₋₁ ≡ 0 — the standard normalization;
    // pre-period δ's far from 0 indict the parallel-trends claim
    // BEFORE anyone reads the post effects). Same conventions as
    // ev_diff_in_diff: treated = even user_id, treatment time = the
    // calendar midpoint, metric = purchase value. Relative weeks are
    // computed as NONNEGATIVE floor-divisions first, subtracted after
    // — Spark's `div` truncates toward zero while DuckDB's `//`
    // floors, so a direct signed division would disagree at k < 0.
    // Cell moments are exact DECIMAL sums; se_k pools the four cell
    // variances (treat/ctrl × k/base). One corpus agg; the contrast
    // assembly is a ≤|weeks|×2-cell bookkeeping relation.
    "ev_event_study" -> QueryDef.withOracle(
      """WITH b AS (
        |  SELECT min(CAST(floor(epoch(ts)) AS BIGINT)) AS mn,
        |    (min(CAST(floor(epoch(ts)) AS BIGINT))
        |      + max(CAST(floor(epoch(ts)) AS BIGINT))) // 2 AS mid
        |  FROM events WHERE event_type = 'purchase'),
        |cells AS (
        |  SELECT
        |    (CAST(floor(epoch(ts)) AS BIGINT) - b.mn) // 604800
        |      - (b.mid - b.mn) // 604800 AS rk,
        |    (user_id % 2 = 0) AS treated,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))
        |      * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2
        |  FROM events CROSS JOIN b
        |  WHERE event_type = 'purchase'
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT rk, treated, n, s1 / n AS mean,
        |    (s2 - s1 * s1 / n) / (n - 1) / n AS var_mean
        |  FROM cells),
        |base AS (
        |  SELECT
        |    max(CASE WHEN treated THEN mean END) AS mt_b,
        |    max(CASE WHEN NOT treated THEN mean END) AS mc_b,
        |    max(CASE WHEN treated THEN var_mean END) AS vt_b,
        |    max(CASE WHEN NOT treated THEN var_mean END) AS vc_b
        |  FROM m WHERE rk = -1),
        |wk AS (
        |  SELECT rk,
        |    CAST(sum(n) AS BIGINT) AS n,
        |    max(CASE WHEN treated THEN mean END) AS mt,
        |    max(CASE WHEN NOT treated THEN mean END) AS mc,
        |    max(CASE WHEN treated THEN var_mean END) AS vt,
        |    max(CASE WHEN NOT treated THEN var_mean END) AS vc
        |  FROM m GROUP BY rk)
        |SELECT wk.rk AS rel_week, wk.n,
        |  round((wk.mt - wk.mc) - (base.mt_b - base.mc_b), 9) AS coef,
        |  round(sqrt(wk.vt + wk.vc + base.vt_b + base.vc_b), 9) AS se,
        |  round(((wk.mt - wk.mc) - (base.mt_b - base.mc_b))
        |    / sqrt(wk.vt + wk.vc + base.vt_b + base.vc_b), 9) AS t_stat
        |FROM wk CROSS JOIN base
        |WHERE wk.rk <> -1""".stripMargin) { (s, dir) =>
      val ev = Tables.eventsTimed(s, dir)
        .filter(col("event_type") === "purchase")
      val b = ev.agg(min(col("ts_s")).as("mn"),
        expr("(min(ts_s) + max(ts_s)) div 2").as("mid"))
      val cells = ev.crossJoin(broadcast(b))
        .groupBy(
          (expr("(ts_s - mn) div 604800") - expr("(mid - mn) div 604800"))
            .as("rk"),
          (pmod(col("user_id"), lit(2L)) === 0).as("treated"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec2)).cast(DoubleType).as("s1"),
          sum(col("value").cast(dec2) * col("value").cast(dec2))
            .cast(DoubleType).as("s2"))
      val m = cells.select(col("rk"), col("treated"), col("n"),
        (col("s1") / col("n")).as("mean"),
        ((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1)
          / col("n")).as("var_mean"))
        .persist() // ≤|weeks|×2 bookkeeping; feeds base + the contrast
      val base = m.filter(col("rk") === -1).agg(
        max(when(col("treated"), col("mean"))).as("mt_b"),
        max(when(!col("treated"), col("mean"))).as("mc_b"),
        max(when(col("treated"), col("var_mean"))).as("vt_b"),
        max(when(!col("treated"), col("var_mean"))).as("vc_b"))
      val wk = m.groupBy(col("rk")).agg(sum(col("n")).as("n"),
        max(when(col("treated"), col("mean"))).as("mt"),
        max(when(!col("treated"), col("mean"))).as("mc"),
        max(when(col("treated"), col("var_mean"))).as("vt"),
        max(when(!col("treated"), col("var_mean"))).as("vc"))
      val coef = (col("mt") - col("mc")) - (col("mt_b") - col("mc_b"))
      val se = sqrt(col("vt") + col("vc") + col("vt_b") + col("vc_b"))
      wk.crossJoin(broadcast(base))
        .filter(col("rk") =!= -1)
        .select(col("rk").as("rel_week"), col("n"),
          round(coef, 9).as("coef"), round(se, 9).as("se"),
          round(coef / se, 9).as("t_stat"))
    },

    // ------------------------------------------------------------------
    // Haar wavelet energy decomposition — which TIMESCALE carries a
    // series' variance (day-to-day jitter vs weekly vs fortnightly
    // structure), the multiresolution companion to ev_dft_spectrum's
    // single-resolution periodogram. Haar is the one wavelet whose
    // transform is pure integer adds/subtracts, so the whole pyramid
    // stays EXACT: the last 16 days per type (dyadic length; types
    // with fewer than 16 distinct days are excluded by BOTH engines —
    // the pyramid's contract), counts normalized by the
    // window total to ×10⁶ SF-invariant longs, then 4 levels of
    // pairwise (sum, difference) — level k's detail energy Σd² is an
    // exact BIGINT (coefficients ≤ 16·10⁶ → squares ≤ 2.6·10¹⁴, no
    // overflow at any SF because the input is normalized). Output:
    // per (type, level) the exact energy and its ×10⁹-snapped share
    // of total detail energy. ONE corpus agg; the pyramid is ≤16-row
    // bookkeeping per type.
    "ev_haar_energy" -> QueryDef.withOracle {
      def lvl(i: Int): String = {
        val src = if (i == 1) "z" else s"l${i - 1}"
        val v = if (i == 1) "v" else "s"
        s"""l$i AS (
           |  SELECT event_type, idx // 2 AS idx,
           |    CAST(sum(CASE WHEN idx % 2 = 0 THEN $v ELSE 0 END)
           |       + sum(CASE WHEN idx % 2 = 1 THEN $v ELSE 0 END) AS BIGINT) AS s,
           |    CAST(sum(CASE WHEN idx % 2 = 0 THEN $v ELSE 0 END)
           |       - sum(CASE WHEN idx % 2 = 1 THEN $v ELSE 0 END) AS BIGINT) AS d
           |  FROM $src GROUP BY 1, 2),
           |e$i AS (
           |  SELECT event_type, $i AS level, CAST(sum(d * d) AS BIGINT) AS energy
           |  FROM l$i GROUP BY 1)""".stripMargin
      }
      s"""WITH ${dailyCountsSql("d")},
         |t AS (
         |  SELECT *, row_number() OVER (PARTITION BY event_type
         |    ORDER BY day DESC) AS rd
         |  FROM d),
         |full16 AS (SELECT event_type FROM d GROUP BY 1
         |           HAVING count(*) >= 16),
         |w16 AS (SELECT t.event_type, t.day, t.n FROM t
         |        JOIN full16 USING (event_type) WHERE t.rd <= 16),
         |a AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS tot
         |      FROM w16 GROUP BY 1),
         |z AS (
         |  SELECT w.event_type,
         |    CAST(row_number() OVER (PARTITION BY w.event_type
         |      ORDER BY w.day ASC) - 1 AS BIGINT) AS idx,
         |    CAST(floor(CAST(w.n AS DOUBLE) * 16 / a.tot * 1000000 + 0.5)
         |      AS BIGINT) AS v
         |  FROM w16 w JOIN a USING (event_type)),
         |${(1 to 4).map(lvl).mkString(",\n")},
         |es AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2
         |       UNION ALL SELECT * FROM e3 UNION ALL SELECT * FROM e4),
         |te AS (SELECT event_type, CAST(sum(energy) AS BIGINT) AS tot_e
         |       FROM es GROUP BY 1)
         |SELECT es.event_type, CAST(es.level AS BIGINT) AS level, es.energy,
         |  CASE WHEN te.tot_e = 0 THEN 0.0
         |    ELSE floor(CAST(es.energy AS DOUBLE) / te.tot_e * 1000000000
         |      + 0.5) / 1.0e9 END AS energy_frac
         |FROM es JOIN te USING (event_type)""".stripMargin
    } { (s, dir) =>
      val d = dailyCounts(s, dir)
      // Dyadic-length contract, explicit and symmetric with the oracle:
      // a type with < 16 distinct days is excluded (the Spark pyramid
      // hardcodes n = 16 >> level; element_at past the array end would
      // silently NULL its energies while the oracle's idx//2 grouping
      // degrades differently — the ev_airline_sarima nd-filter pattern).
      val full16 = d.groupBy(col("event_type")).agg(count(lit(1)).as("ndd"))
        .filter(col("ndd") >= 16).select(col("event_type"))
      val wD = Window.partitionBy(col("event_type")).orderBy(col("day").desc)
      val w16 = d.join(broadcast(full16), "event_type")
        .withColumn("rd", row_number().over(wD))
        .filter(col("rd") <= 16).drop("rd")
      val a = w16.groupBy(col("event_type")).agg(sum(col("n")).as("tot"))
      val wA = Window.partitionBy(col("event_type")).orderBy(col("day").asc)
      val z = w16.join(broadcast(a), "event_type")
        .select(col("event_type"),
          (row_number().over(wA) - 1).cast(LongType).as("idx"),
          floor(col("n").cast(DoubleType) * 16 / col("tot") * lit(1000000)
            + lit(0.5)).cast(LongType).as("v"))
      // The whole 4-level pyramid is ROW-LOCAL over the gathered
      // 16-value array — one type-keyed gather, zero further shuffles
      // (the first cut as 4 level-keyed groupBys measured 17 exchanges
      // of ≤16-row bookkeeping; this is the shape that scales).
      val zArr = z.groupBy(col("event_type"))
        .agg(transform(sort_array(collect_list(struct(col("idx"), col("v")))),
          x => x("v")).as("v0"))
      var vc: org.apache.spark.sql.Column = col("v0")
      val eCols = (1 to 4).map { i =>
        val n = 16 >> i
        def at(j: org.apache.spark.sql.Column, off: Int): org.apache.spark.sql.Column =
          element_at(vc, (j * 2 + off).cast(IntegerType))
        val eI = aggregate(
          transform(sequence(lit(0), lit(n - 1)), j => {
            val d = at(j, 1) - at(j, 2); d * d
          }), lit(0L), (acc, x) => acc + x)
        vc = transform(sequence(lit(0), lit(n - 1)), j => at(j, 1) + at(j, 2))
        eI.as(s"e$i")
      }
      val withE = zArr.select(Seq(col("event_type")) ++ eCols: _*)
        .withColumn("tot_e", col("e1") + col("e2") + col("e3") + col("e4"))
      withE.select(col("event_type"),
          expr("stack(4, 1L, e1, 2L, e2, 3L, e3, 4L, e4) as (level, energy)"),
          col("tot_e"))
        .select(col("event_type"), col("level"), col("energy"),
          when(col("tot_e") === 0, lit(0.0))
            .otherwise(floor(col("energy").cast(DoubleType) / col("tot_e")
              * lit(1000000000) + lit(0.5)) / lit(1.0e9)).as("energy_frac"))
    },

    // ------------------------------------------------------------------
    // Kalman filter, local-level model — the state-space rung of the
    // trend family (agencies publish trend estimates from exactly this
    // model class; it is also the optimal online mean-tracker the EWMA
    // approximates): z_t = μ_t + ε (obs var h), μ_t = μ_{t−1} + η
    // (level var q), filtered per event type over the daily-count
    // series NORMALIZED by its exact per-type mean (z ≈ O(1), so the
    // fixed nominal variances h = 1, q = 0.1 are SF-invariant — the
    // etl_stl_decompose normalization discipline). One sequential IEEE
    // fold per type carrying (a, P, Σv²/F): predict P+q, gain
    // K = (P+q)/(P+q+h), update a += K·v, P = (P+q)(1−K), with the
    // diffuse start a₁ = z₁, P₁ = 10⁷ (the first post-init innovation
    // is standardized by the diffuse F ≈ 10⁷ and so contributes ≈ 0 —
    // the practical diffuse rule). The published fit statistic is Σv²/F
    // (standardized innovation sum) — deliberately NOT the Gaussian
    // log-likelihood, whose ln() is implementation-defined and would
    // break cross-engine equality; Σv²/F is the same ranking statistic
    // under fixed (h, q). Oracle replays the identical chain via a
    // recursive CTE. ONE corpus agg; the fold is 5-row bookkeeping.
    "ev_kalman_level" -> QueryDef.withOracle(
      s"""WITH ${dailyCountsSql("e")},
        |t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
        |             CAST(sum(n) AS BIGINT) AS total FROM e GROUP BY 1),
        |a AS (
        |  SELECT e.event_type, t.nd, t.total,
        |    list(CAST(e.n AS DOUBLE) * t.nd / t.total ORDER BY e.day) AS v
        |  FROM e JOIN t USING (event_type) GROUP BY 1, 2, 3),
        |rec AS (
        |  WITH RECURSIVE h(event_type, i, a, p, ssq, k) AS (
        |    SELECT event_type, CAST(1 AS BIGINT), v[1],
        |      CAST(10000000.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
        |      CAST(0.0 AS DOUBLE)
        |    FROM a WHERE nd >= 2
        |    UNION ALL
        |    SELECT h.event_type, h.i + 1,
        |      h.a + ((h.p + 0.1) / (h.p + 0.1 + 1.0))
        |        * (a.v[CAST(h.i + 1 AS INT)] - h.a),
        |      (h.p + 0.1) * (1.0 - (h.p + 0.1) / (h.p + 0.1 + 1.0)),
        |      h.ssq + (a.v[CAST(h.i + 1 AS INT)] - h.a)
        |        * (a.v[CAST(h.i + 1 AS INT)] - h.a) / (h.p + 0.1 + 1.0),
        |      (h.p + 0.1) / (h.p + 0.1 + 1.0)
        |    FROM h JOIN a ON a.event_type = h.event_type
        |    WHERE h.i < a.nd)
        |  SELECT * FROM h)
        |SELECT r.event_type, a.nd AS n_days,
        |  round(r.a * a.total / a.nd, 9) AS level,
        |  round(r.p, 9) AS p_var, round(r.k, 9) AS gain,
        |  round(r.ssq, 9) AS ssq_std_innov
        |FROM rec r JOIN a ON a.event_type = r.event_type AND r.i = a.nd"""
        .stripMargin) { (s, dir) =>
      val e = dailyCounts(s, dir)
      val t = e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("nd"), sum(col("n")).as("total"))
      val a = e.join(broadcast(t), "event_type")
        .withColumn("z", col("n").cast(DoubleType) * col("nd") / col("total"))
        .groupBy(col("event_type"), col("nd"), col("total"))
        .agg(sort_array(collect_list(struct(col("day"), col("z")))).as("arr"))
        .filter(col("nd") >= 2)
        .withColumn("v", transform(col("arr"), x => x("z")))
      val init = struct(
        element_at(col("v"), 1).as("a"), lit(10000000.0).as("p"),
        lit(0.0).as("ssq"), lit(0.0).as("k"))
      val folded = aggregate(
        sequence(lit(1L), col("nd") - 1), init,
        (acc, i) => {
          val z = element_at(col("v"), (i + 1).cast(IntegerType))
          val pp = acc("p") + 0.1
          val k = pp / (pp + 1.0)
          val v = z - acc("a")
          struct((acc("a") + k * v).as("a"), (pp * (lit(1.0) - k)).as("p"),
            (acc("ssq") + v * v / (pp + 1.0)).as("ssq"), k.as("k"))
        })
      a.withColumn("h", folded)
        .select(col("event_type"), col("nd").as("n_days"),
          round(col("h.a") * col("total") / col("nd"), 9).as("level"),
          round(col("h.p"), 9).as("p_var"), round(col("h.k"), 9).as("gain"),
          round(col("h.ssq"), 9).as("ssq_std_innov"))
    },

    // ------------------------------------------------------------------
    // Seasonal ARIMA "airline model" (0,1,1)(0,1,1)₇ on daily event
    // counts — the ARIMA-class rung of the forecasting family (Holt /
    // Holt-Winters / theta / snaive / Croston): the doubly-differenced
    // series w_t = z_t − z_{t−1} − z_{t−7} + z_{t−8} follows an
    // MA(1)×SMA(1), fit by CONDITIONAL sum of squares (e_{≤0} = 0, the
    // textbook CSS recursion e_t = w_t + θe_{t−1} + Θe_{t−7} −
    // θΘe_{t−8}) over a 5×5 (θ, Θ) grid — grid CSS is how agencies
    // seed X-13ARIMA model selection, and it keeps the whole fit a
    // deterministic fold instead of a nonlinear optimizer. Grid values
    // are INTEGER decigrades (1..9 step 2) divided by 10 identically
    // on both engines, every error chain is one sequential IEEE fold
    // per (type, arm) — the ev_holtwinters discipline — and the oracle
    // replays all 125 (type × arm) chains via one recursive CTE
    // carrying the 8-lag error window as columns. ONE corpus-scale
    // agg builds the per-type daily arrays; the fold is 125-row
    // bookkeeping. Output: per type the CSS-best arm + its 1-step
    // forecast ẑ = z_nd + z_{nd−6} − z_{nd−7} − θe₁ − Θe₇ + θΘe₈.
    "ev_airline_sarima" -> QueryDef.withOracle {
      val shift = (1 to 7).map(k => s"h.e$k").mkString(", ")
      s"""WITH ${dailyCountsSql("e")},
         |${dailyArraysSql("e")},
         |g AS (
         |  SELECT gi, gj, gi / 10.0 AS th, gj / 10.0 AS tth
         |  FROM (SELECT unnest([1, 3, 5, 7, 9]) AS gi)
         |  CROSS JOIN (SELECT unnest([1, 3, 5, 7, 9]) AS gj)),
         |rec AS (
         |  WITH RECURSIVE h(event_type, gi, gj, i,
         |      e1, e2, e3, e4, e5, e6, e7, e8, css) AS (
         |    SELECT a.event_type, g.gi, g.gj, CAST(8 AS BIGINT),
         |      CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
         |      CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
         |      CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)
         |    FROM a CROSS JOIN g WHERE a.nd >= 16
         |    UNION ALL
         |    SELECT h.event_type, h.gi, h.gj, h.i + 1,
         |      (a.v[CAST(h.i + 1 AS INT)] - a.v[CAST(h.i AS INT)]
         |        - a.v[CAST(h.i - 6 AS INT)] + a.v[CAST(h.i - 7 AS INT)])
         |        + (h.gi / 10.0) * h.e1 + (h.gj / 10.0) * h.e7
         |        - (h.gi / 10.0) * (h.gj / 10.0) * h.e8,
         |      $shift,
         |      h.css + ((a.v[CAST(h.i + 1 AS INT)] - a.v[CAST(h.i AS INT)]
         |        - a.v[CAST(h.i - 6 AS INT)] + a.v[CAST(h.i - 7 AS INT)])
         |        + (h.gi / 10.0) * h.e1 + (h.gj / 10.0) * h.e7
         |        - (h.gi / 10.0) * (h.gj / 10.0) * h.e8)
         |        * ((a.v[CAST(h.i + 1 AS INT)] - a.v[CAST(h.i AS INT)]
         |        - a.v[CAST(h.i - 6 AS INT)] + a.v[CAST(h.i - 7 AS INT)])
         |        + (h.gi / 10.0) * h.e1 + (h.gj / 10.0) * h.e7
         |        - (h.gi / 10.0) * (h.gj / 10.0) * h.e8)
         |    FROM h JOIN a ON a.event_type = h.event_type
         |    WHERE h.i < a.nd)
         |  SELECT * FROM h),
         |fin AS (
         |  SELECT r.event_type, r.gi, r.gj, r.css, a.nd,
         |    a.v[CAST(a.nd AS INT)] + a.v[CAST(a.nd - 6 AS INT)]
         |      - a.v[CAST(a.nd - 7 AS INT)]
         |      - (r.gi / 10.0) * r.e1 - (r.gj / 10.0) * r.e7
         |      + (r.gi / 10.0) * (r.gj / 10.0) * r.e8 AS fc1
         |  FROM rec r JOIN a ON a.event_type = r.event_type AND r.i = a.nd),
         |best AS (
         |  SELECT *, row_number() OVER (PARTITION BY event_type
         |    ORDER BY css ASC, gi ASC, gj ASC) AS rn FROM fin)
         |SELECT event_type, nd AS n_days,
         |  gi / 10.0 AS theta, gj / 10.0 AS theta_seasonal,
         |  round(css, 9) AS css, round(fc1, 9) AS fc_1
         |FROM best WHERE rn = 1""".stripMargin
    } { (s, dir) =>
      val daily = dailyCounts(s, dir)
      val a = daily.groupBy(col("event_type"))
        .agg(sort_array(collect_list(struct(col("day"),
          col("n").cast(DoubleType).as("n")))).as("arr"),
          count(lit(1)).as("nd"))
        .filter(col("nd") >= 16)
        .withColumn("v", transform(col("arr"), e => e("n")))
      val g = Seq(1, 3, 5, 7, 9)
      val grid = g.flatMap(gi => g.map(gj => (gi, gj)))
      import s.implicits._
      val gdf = grid.toDF("gi", "gj")
      // the CSS fold: carried state (e1..e8, css); identical operand
      // order to the oracle recursion so every double matches bit-wise
      def wAt(i: org.apache.spark.sql.Column) =
        element_at(col("v"), (i + 1).cast(IntegerType)) -
          element_at(col("v"), i.cast(IntegerType)) -
          element_at(col("v"), (i - 6).cast(IntegerType)) +
          element_at(col("v"), (i - 7).cast(IntegerType))
      val th = col("gi").cast(DoubleType) / 10.0
      val tth = col("gj").cast(DoubleType) / 10.0
      val zero = lit(0.0)
      val init = struct(
        zero.as("e1"), zero.as("e2"), zero.as("e3"), zero.as("e4"),
        zero.as("e5"), zero.as("e6"), zero.as("e7"), zero.as("e8"),
        zero.as("css"))
      val folded = aggregate(
        sequence(lit(8L), col("nd") - 1), init,
        (acc, i) => {
          val eNew = wAt(i) + th * acc("e1") + tth * acc("e7") -
            th * tth * acc("e8")
          struct(eNew.as("e1"), acc("e1").as("e2"), acc("e2").as("e3"),
            acc("e3").as("e4"), acc("e4").as("e5"), acc("e5").as("e6"),
            acc("e6").as("e7"), acc("e7").as("e8"),
            (acc("css") + eNew * eNew).as("css"))
        })
      val fin = a.crossJoin(broadcast(gdf))
        .withColumn("h", folded)
        .withColumn("css", col("h.css"))
        .withColumn("fc1",
          element_at(col("v"), col("nd").cast(IntegerType)) +
            element_at(col("v"), (col("nd") - 6).cast(IntegerType)) -
            element_at(col("v"), (col("nd") - 7).cast(IntegerType)) -
            th * col("h.e1") - tth * col("h.e7") + th * tth * col("h.e8"))
      val wB = Window.partitionBy(col("event_type"))
        .orderBy(col("css").asc, col("gi").asc, col("gj").asc)
      fin.withColumn("rn", row_number().over(wB))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("nd").as("n_days"),
          (col("gi") / 10.0).as("theta"),
          (col("gj") / 10.0).as("theta_seasonal"),
          round(col("css"), 9).as("css"), round(col("fc1"), 9).as("fc_1"))
    }
  )

  /** The Holt-Winters fold shared by ev_holtwinters_forecast and the
    * ev_forecast_eval backtest: `v` is the per-type ordered daily-count
    * double array; returns struct(l, b, s[7]) — final level, trend and
    * the 7 rotating seasonal slots (slot j holds the most recent s for
    * day positions ≡ j (mod 7), 0-based). */
  /** Oracle CTE chain producing the periodogram relation
    * `p(event_type, nd, k, p_fp)` — shared verbatim by ev_dft_spectrum
    * and ev_spectral_entropy (single source of truth for the trig-snap
    * discipline; a one-sided edit fails verify immediately). Prepend
    * `WITH `. */
  /** Purchases (`is_click` = 0) of the click/purchase stream, each
    * carrying the same user's latest click at or before it as `idName`
    * (its event id) and `tsName` (its time; both null when there is no
    * such click): the single-shuffle union+window as-of plan. Oracle
    * twin: [[asofSql]]. */
  private def latestClick(s: SparkSession, dir: String, idName: String,
      tsName: String): DataFrame = {
    val e = Tables.eventsTimed(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), col("ts_s"),
        when(col("event_type") === "click", 1).otherwise(0).as("is_click"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_s").asc, col("is_click").desc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn(idName,
        last(when(col("is_click") === 1, col("event_id")), ignoreNulls = true).over(w))
      .withColumn(tsName,
        last(when(col("is_click") === 1, col("ts_s")), ignoreNulls = true).over(w))
      .filter(col("is_click") === 0)
  }

  /** The as-of oracle: each purchase with the user's latest click at
    * or before it (`click_id`, `click_ts_s`), then `matchCols` after
    * `purchase_id, user_id, purchase_ts_s`. */
  private def asofSql(matchCols: String): String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type,
       |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
       |  FROM events WHERE event_type IN ('click', 'purchase')),
       |u AS (
       |  SELECT user_id, ts_s, event_id,
       |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click,
       |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
       |      OVER (PARTITION BY user_id
       |            ORDER BY ts_s ASC, (CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) DESC,
       |                     event_id ASC
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_id,
       |    last_value(CASE WHEN event_type = 'click' THEN ts_s END IGNORE NULLS)
       |      OVER (PARTITION BY user_id
       |            ORDER BY ts_s ASC, (CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) DESC,
       |                     event_id ASC
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_ts_s
       |  FROM e)
       |SELECT event_id AS purchase_id, user_id, ts_s AS purchase_ts_s,
       |  $matchCols
       |FROM u WHERE is_click = 0""".stripMargin

  /** Events per (event_type, day): `(event_type, day, n)`, the
    * calendar-bounded daily series (≤ |types| × |days| rows). Oracle
    * twin: [[dailyCountsSql]]. */
  private def dailyCounts(s: SparkSession, dir: String): DataFrame =
    Tables.eventsTimed(s, dir)
      .groupBy(col("event_type"), expr("ts_s div 86400").as("day"))
      .agg(count(lit(1)).as("n"))

  /** DuckDB CTE `name` mirroring [[dailyCounts]]. */
  private def dailyCountsSql(name: String): String =
    s"""$name AS (
       |  SELECT event_type,
       |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1, 2)""".stripMargin

  /** Each type's daily counts as one day-ordered array: `(event_type,
    * arr, nd, extra…)` over a [[dailyCounts]]-shaped relation, `arr` the
    * (day, n) structs, for the types with at least `minDays` days. The
    * sequential recurrences (Holt, Holt-Winters, θ) fold this array
    * row-locally — |days| FLOPs per type. Oracle twin:
    * [[dailyArraysSql]]. */
  private def dailyArrays(daily: DataFrame, minDays: Int, extra: Column*): DataFrame =
    daily.groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("day"), col("n")))).as("arr"),
        count(lit(1)).as("nd") +: extra: _*)
      .filter(col("nd") >= minDays)

  /** [[dailyArrays]]' counts as doubles, in day order. */
  private def dailyValues: Column = transform(col("arr"), e => e("n").cast(DoubleType))

  /** DuckDB CTE `a (event_type, v, nd, extra…)` over the daily-count
    * CTE `from`, mirroring [[dailyArrays]] (callers filter on `nd`). */
  private def dailyArraysSql(from: String, extra: String*): String =
    (Seq("list(CAST(n AS DOUBLE) ORDER BY day) AS v",
      "CAST(count(*) AS BIGINT) AS nd") ++ extra)
      .mkString("a AS (\n  SELECT event_type, ", ",\n    ",
        s"\n  FROM $from GROUP BY event_type)")

  /** Holt's seed (l₂ = v₂, b₂ = v₂ − v₁) over the day values `v`. */
  private def holtInit(v: Column): Column =
    struct(element_at(v, 2).as("l"), (element_at(v, 2) - element_at(v, 1)).as("b"))

  /** Holt's linear-trend recurrence (α = 0.3, β = 0.1) folded over `v`
    * from [[holtInit]]: the final (l, b). Oracle twin:
    * [[holtRecursion]], the identical IEEE chain. */
  private def holt(v: Column): Column =
    aggregate(slice(v, lit(3), greatest(size(v) - 2, lit(0))), holtInit(v),
      (acc, x) => {
        val lNew = lit(0.3) * x + lit(0.7) * (acc("l") + acc("b"))
        struct(lNew.as("l"),
          (lit(0.1) * (lNew - acc("l")) + lit(0.9) * acc("b")).as("b"))
      })

  /** Recursive CTE `h(event_type, i, l, b)` over `a`, mirroring
    * [[holt]]: one row per day from day 2. */
  private def holtRecursion: String =
    """h(event_type, i, l, b) AS (
      |    SELECT event_type, CAST(2 AS BIGINT), v[2], v[2] - v[1]
      |    FROM a WHERE nd >= 2
      |    UNION ALL
      |    SELECT h.event_type, h.i + 1,
      |      0.3 * a.v[CAST(h.i + 1 AS INT)] + 0.7 * (h.l + h.b),
      |      0.1 * ((0.3 * a.v[CAST(h.i + 1 AS INT)]
      |          + 0.7 * (h.l + h.b)) - h.l) + 0.9 * h.b
      |    FROM h JOIN a ON a.event_type = h.event_type
      |    WHERE h.i < a.nd)""".stripMargin

  /** Per-type day count and total `(event_type, nd, tot)` of a
    * [[dailyCounts]] relation. */
  private def typeTotals(d: DataFrame): DataFrame =
    d.groupBy(col("event_type"))
      .agg(count(lit(1)).as("nd"), sum(col("n")).as("tot"))

  /** The ACF family's deviations `(event_type, day, dev)` in the
    * exact-integer common-denominator form dev = n·nd − tot (the shared
    * ×nd scale cancels in every ratio, so no double mean enters). */
  private def deviations(d: DataFrame, t: DataFrame): DataFrame =
    d.join(broadcast(t), "event_type")
      .select(col("event_type"), col("day"),
        (col("n") * col("nd") - col("tot")).as("dev"))

  /** Lag products `(event_type, lag, extra…, sp)` of the deviations
    * `v` for each `lag` row of `lags`: a calendar self-join of the
    * bookkeeping relation, sp = Σ dev_t·dev_{t+lag}. Oracle twin:
    * [[acfSql]]. */
  private def lagProducts(v: DataFrame, lags: DataFrame, extra: Column*): DataFrame = {
    val aggs = extra :+ sum(col("a.dev") * col("b.dev")).as("sp")
    v.as("a")
      .crossJoin(broadcast(lags))
      .join(v.as("b"),
        col("b.event_type") === col("a.event_type")
          && col("b.day") === col("a.day") + col("lag"))
      .groupBy(col("a.event_type").as("event_type"), col("lag"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** DuckDB CTEs `t`, `v`, `den (event_type, ss)` and `num (event_type,
    * lag, n_pairs, sp)` over the daily-count CTE `d`, for the lags in
    * the list `lags`; mirrors [[typeTotals]], [[deviations]] and
    * [[lagProducts]]. */
  private def acfSql(lags: String): String =
    s"""t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
       |             CAST(sum(n) AS BIGINT) AS tot FROM d GROUP BY event_type),
       |v AS (
       |  SELECT d.event_type, d.day, d.n * t.nd - t.tot AS dev
       |  FROM d JOIN t USING (event_type)),
       |den AS (
       |  SELECT event_type, CAST(sum(dev * dev) AS BIGINT) AS ss
       |  FROM v GROUP BY event_type),
       |num AS (
       |  SELECT a.event_type, l.lag, CAST(count(*) AS BIGINT) AS n_pairs,
       |    CAST(sum(a.dev * b.dev) AS BIGINT) AS sp
       |  FROM v a
       |  CROSS JOIN (SELECT unnest([$lags]) AS lag) l
       |  JOIN v b ON b.event_type = a.event_type AND b.day = a.day + l.lag
       |  GROUP BY a.event_type, l.lag)""".stripMargin

  /** The A/B arms, purchase (a) against view (b): one row `(n_a,
    * mean_a, var_a, n_b, mean_b, var_b)` from exact DECIMAL power sums
    * in one corpus agg, the mean round(…, 9)-snapped; the two arms are
    * 1-row relations, cross-joined. Oracle twin: [[abArmsSql]]. */
  private def abArms(s: SparkSession, dir: String): DataFrame = {
    val v = col("value").cast(dec2)
    val m = Tables.events(s, dir)
      .filter(col("event_type").isin("purchase", "view"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(v).cast(DoubleType).as("s1"),
        sum(v * v).cast(DoubleType).as("s2"))
      .withColumn("mean", round(col("s1") / col("n"), 9))
      .withColumn("var",
        (col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
    val a = m.filter(col("event_type") === "purchase")
      .select(col("n").as("n_a"), col("mean").as("mean_a"), col("var").as("var_a"))
    val b = m.filter(col("event_type") === "view")
      .select(col("n").as("n_b"), col("mean").as("mean_b"), col("var").as("var_b"))
    a.crossJoin(b)
  }

  /** DuckDB CTEs `m`, `w` and `ab` mirroring [[abArms]]. */
  private def abArmsSql: String =
    """m AS (
      |  SELECT event_type,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
      |    CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
      |      AS DOUBLE) AS s2
      |  FROM events WHERE event_type IN ('purchase', 'view')
      |  GROUP BY 1),
      |w AS (
      |  SELECT event_type, n, round(s1 / n, 9) AS mean,
      |    (s2 - s1 * s1 / n) / (n - 1) AS var
      |  FROM m),
      |ab AS (
      |  SELECT a.n AS n_a, a.mean AS mean_a, a.var AS var_a,
      |         b.n AS n_b, b.mean AS mean_b, b.var AS var_b
      |  FROM w a JOIN w b
      |    ON a.event_type = 'purchase' AND b.event_type = 'view')""".stripMargin

  /** Each purchase `(event_id, user_id, ts_s)` with every touch
    * (click, view or signup: `touch_id, t_user, touch_type, touch_s`)
    * of the same user in the 7 days up to it, or one null touch: a
    * user-keyed join with the range predicate applied post-join.
    * Oracle twin: [[touchSql]]. */
  private def touchPairs(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.eventsTimed(s, dir)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_s"))
    val t = e.filter(col("event_type").isin("click", "view", "signup"))
      .select(col("event_id").as("touch_id"), col("user_id").as("t_user"),
        col("event_type").as("touch_type"), col("ts_s").as("touch_s"))
    p.join(t,
      col("t_user") === col("user_id") &&
        col("touch_s") <= col("ts_s") &&
        col("touch_s") >= col("ts_s") - 604800L, "left_outer")
  }

  /** DuckDB CTEs `p` (purchases) and `t` (touches) of [[touchPairs]];
    * callers write the 7-day join. */
  private def touchSql: String =
    """p AS (
      |  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
      |  FROM events WHERE event_type = 'purchase'),
      |t AS (
      |  SELECT event_id AS touch_id, user_id, event_type AS touch_type,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS touch_s
      |  FROM events WHERE event_type IN ('click', 'view', 'signup'))""".stripMargin

  /** Clicks `x` and purchases `y` per day `(day, x, y)`: the
    * calendar-bounded pair series of the click→purchase statistics.
    * Oracle twin: [[clickPurchaseDaysSql]]. */
  private def clickPurchaseDays(s: SparkSession, dir: String): DataFrame =
    Tables.eventsTimed(s, dir)
      .groupBy(expr("ts_s div 86400").as("day"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))

  /** DuckDB CTE `d` mirroring [[clickPurchaseDays]]. */
  private def clickPurchaseDaysSql: String =
    """d AS (
      |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS x,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS y
      |  FROM events GROUP BY 1)""".stripMargin

  /** Daily clicks and views `(day, cf, vf)`, each normalized by its
    * own mean to a ×10³ SF-invariant long (count · days / total). The
    * totals are a 1-row broadcast anchor. Oracle twin:
    * [[clickViewSql]]. */
  private def clickViewDays(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.eventsTimed(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .groupBy(expr("ts_s div 86400").as("day"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("v"))
    val an = d.agg(count(lit(1)).as("nd"), sum(col("c")).as("tc"),
      sum(col("v")).as("tv"))
    d.crossJoin(broadcast(an))
      .select(col("day"),
        floor(col("c").cast(DoubleType) * col("nd") / col("tc") * lit(1000)
          + lit(0.5)).cast(LongType).as("cf"),
        floor(col("v").cast(DoubleType) * col("nd") / col("tv") * lit(1000)
          + lit(0.5)).cast(LongType).as("vf"))
  }

  /** DuckDB CTEs `d`, `an` and `z (day, cf, vf)` mirroring
    * [[clickViewDays]]. */
  private def clickViewSql: String =
    """d AS (
      |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS v
      |  FROM events WHERE event_type IN ('click', 'view')
      |  GROUP BY 1),
      |an AS (SELECT CAST(count(*) AS BIGINT) AS nd,
      |    CAST(sum(c) AS BIGINT) AS tc, CAST(sum(v) AS BIGINT) AS tv
      |  FROM d),
      |z AS (
      |  SELECT day,
      |    CAST(floor(CAST(c AS DOUBLE) * nd / tc * 1000 + 0.5) AS BIGINT)
      |      AS cf,
      |    CAST(floor(CAST(v AS DOUBLE) * nd / tv * 1000 + 0.5) AS BIGINT)
      |      AS vf
      |  FROM d CROSS JOIN an)""".stripMargin

  /** The survival family's (cohort week, duration hour) window. */
  private def cohortHours: WindowSpec =
    Window.partitionBy(col("cohort_week")).orderBy(col("t_hours").asc)

  /** The cohort-week survival risk table: per (cohort_week, t_hours),
    * the users whose first high-value purchase (value ≥ 90) came
    * `t_hours` after their first event (`d`, the event count) or who
    * were censored at the observation end then (`c_censored`), with
    * `removed`, `n_cohort` and `n_at_risk`. The observation end is a
    * 1-row broadcast anchor; from `ct` down the relation is
    * calendar-bounded (rows = cohorts × hours), so the [[cohortHours]]
    * windows are bookkeeping. Oracle twin: [[riskTableSql]]. */
  private def riskTable(s: SparkSession, dir: String, d: String): DataFrame = {
    val e = Tables.eventsTimed(s, dir)
      .select(col("user_id"), col("event_type"), col("value"), col("ts_s"))
    val g = e.agg(max(col("ts_s")).as("gmax"))
    val u = e.groupBy(col("user_id")).agg(min(col("ts_s")).as("first_s"))
    val cv = e.filter(col("event_type") === "purchase" && col("value") >= 90)
      .groupBy(col("user_id")).agg(min(col("ts_s")).as("conv_s"))
    val ct = u.join(cv, Seq("user_id"), "left_outer")
      .crossJoin(broadcast(g))
      .select(expr("first_s div 604800").as("cohort_week"),
        when(col("conv_s").isNotNull, expr("(conv_s - first_s) div 3600"))
          .otherwise(expr("(gmax - first_s) div 3600")).as("t_hours"),
        when(col("conv_s").isNotNull, 1L).otherwise(0L).as("ev"))
      .groupBy(col("cohort_week"), col("t_hours"))
      .agg(sum(col("ev")).as(d),
        (count(lit(1)) - sum(col("ev"))).as("c_censored"))
    ct.withColumn("removed", coalesce(
        sum(col(d) + col("c_censored"))
          .over(cohortHours.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_cohort",
        sum(col(d) + col("c_censored"))
          .over(cohortHours.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("n_at_risk", col("n_cohort") - col("removed"))
  }

  /** DuckDB CTEs `e` … `k` mirroring [[riskTable]]. */
  private def riskTableSql(d: String): String =
    s"""e AS (
       |  SELECT user_id, event_type, value,
       |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events),
       |g AS (SELECT max(ts_s) AS gmax FROM e),
       |u AS (SELECT user_id, min(ts_s) AS first_s FROM e GROUP BY 1),
       |cv AS (
       |  SELECT user_id, min(ts_s) AS conv_s FROM e
       |  WHERE event_type = 'purchase' AND value >= 90 GROUP BY 1),
       |d AS (
       |  SELECT u.first_s // 604800 AS cohort_week,
       |    CASE WHEN cv.conv_s IS NOT NULL
       |         THEN (cv.conv_s - u.first_s) // 3600
       |         ELSE (g.gmax - u.first_s) // 3600 END AS t_hours,
       |    CASE WHEN cv.conv_s IS NOT NULL THEN 1 ELSE 0 END AS ev
       |  FROM u LEFT JOIN cv ON cv.user_id = u.user_id CROSS JOIN g),
       |ct AS (
       |  SELECT cohort_week, CAST(t_hours AS BIGINT) AS t_hours,
       |    CAST(sum(ev) AS BIGINT) AS $d,
       |    CAST(count(*) - sum(ev) AS BIGINT) AS c_censored
       |  FROM d GROUP BY 1, 2),
       |w AS (
       |  SELECT *,
       |    CAST(coalesce(sum($d + c_censored) OVER (PARTITION BY cohort_week
       |      ORDER BY t_hours ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0) AS BIGINT) AS removed,
       |    CAST(sum($d + c_censored) OVER (PARTITION BY cohort_week)
       |      AS BIGINT) AS n_cohort
       |  FROM ct),
       |k AS (
       |  SELECT cohort_week, t_hours, $d, c_censored,
       |    n_cohort - removed AS n_at_risk FROM w)""".stripMargin

  private def dftPowerSql: String =
    s"""${dailyCountsSql("d")},
      |t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
      |             CAST(sum(n) AS BIGINT) AS tot FROM d GROUP BY event_type),
      |v AS (
      |  SELECT d.event_type, d.n * t.nd - t.tot AS dev, t.nd,
      |    CAST(row_number() OVER (PARTITION BY d.event_type
      |      ORDER BY d.day ASC) - 1 AS BIGINT) AS i
      |  FROM d JOIN t USING (event_type)),
      |term AS (
      |  SELECT v.event_type, v.nd, f.k,
      |    CAST(v.dev AS HUGEINT)
      |      * CAST(floor(cos(2.0 * pi() * ((f.k * v.i) % v.nd) / v.nd)
      |          * 1000000000 + 0.5) AS BIGINT) AS ct,
      |    CAST(v.dev AS HUGEINT)
      |      * CAST(floor(sin(2.0 * pi() * ((f.k * v.i) % v.nd) / v.nd)
      |          * 1000000000 + 0.5) AS BIGINT) AS st
      |  FROM v CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5, 6, 7, 8]) AS k) f),
      |cs AS (
      |  SELECT event_type, nd, k,
      |    CAST(sum(ct) AS HUGEINT) AS c, CAST(sum(st) AS HUGEINT) AS s
      |  FROM term GROUP BY 1, 2, 3),
      |p AS (
      |  SELECT event_type, nd, k,
      |    CAST(floor((CAST(c AS DOUBLE) / 1e9 / nd) * (CAST(c AS DOUBLE) / 1e9 / nd)
      |      + (CAST(s AS DOUBLE) / 1e9 / nd) * (CAST(s AS DOUBLE) / 1e9 / nd)
      |      + 0.5) AS BIGINT) AS p_fp
      |  FROM cs)""".stripMargin

  /** Spark twin of [[dftPowerSql]]: the exact-integer periodogram
    * relation (event_type, nd, k, p_fp). One corpus (type, day) agg;
    * everything after rides bounded bookkeeping. */
  private def dftPower(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val dec38 = DecimalType(38, 0)
    val d = dailyCounts(s, dir)
    val t = d.groupBy(col("event_type"))
      .agg(count(lit(1)).as("nd"), sum(col("n")).as("tot"))
    // dense 0-based day index: bounded |days| bookkeeping window
    val wDay = Window.partitionBy(col("event_type")).orderBy(col("day").asc)
    val v = d.join(broadcast(t), "event_type")
      .select(col("event_type"), (col("n") * col("nd") - col("tot")).as("dev"),
        col("nd"), (row_number().over(wDay) - 1).cast(LongType).as("i"))
    import s.implicits._
    val freqs = (1 to 8).toDF("k")
    // ((2·π)·m)/nd — parenthesization mirrors the oracle's
    // left-associative parse; double × is not associative
    val theta =
      lit(2.0) * lit(math.Pi) * pmod(col("k") * col("i"), col("nd")) /
        col("nd")
    val term = v.crossJoin(broadcast(freqs))
      .select(col("event_type"), col("nd"), col("k"),
        (col("dev").cast(dec38)
          * floor(cos(theta) * lit(1.0e9) + 0.5).cast(LongType)).cast(dec38)
          .as("ct"),
        (col("dev").cast(dec38)
          * floor(sin(theta) * lit(1.0e9) + 0.5).cast(LongType)).cast(dec38)
          .as("st"))
    val cs = term.groupBy(col("event_type"), col("nd"), col("k"))
      .agg(sum(col("ct")).as("c"), sum(col("st")).as("s"))
    val cd = col("c").cast(DoubleType) / lit(1.0e9) / col("nd")
    val sd = col("s").cast(DoubleType) / lit(1.0e9) / col("nd")
    cs.select(col("event_type"), col("nd"), col("k"),
      floor(cd * cd + sd * sd + 0.5).cast(LongType).as("p_fp"))
  }

  private def hwFold(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def mean7(off: Int) =
      (1 to 7).map(j => element_at(v, off + j)).reduceLeft(_ + _) / lit(7.0)
    val l0 = mean7(0)
    val init = struct(l0.as("l"),
      ((mean7(7) - mean7(0)) / lit(7.0)).as("b"),
      transform(slice(v, 1, 7), x => x - l0).as("s"))
    val steps = transform(slice(v, lit(8), greatest(size(v) - 7, lit(0))),
      (x, i) => struct(x.as("x"), (i % 7).as("slot")))
    aggregate(steps, init, (acc, st) => {
      val sOld = element_at(acc("s"), st("slot") + 1)
      val lNew = lit(0.3) * (st("x") - sOld) + lit(0.7) * (acc("l") + acc("b"))
      val bNew = lit(0.1) * (lNew - acc("l")) + lit(0.9) * acc("b")
      val sNew = lit(0.2) * (st("x") - lNew) + lit(0.8) * sOld
      struct(lNew.as("l"), bNew.as("b"),
        transform(acc("s"), (sv, si) =>
          when(si === st("slot"), sNew).otherwise(sv)).as("s"))
    })
  }

  /** The recursive-CTE mirror of [[hwFold]]: `$inner(event_type, i, l,
    * b, s1..s7) AS (base UNION ALL step)` over a CTE `a(event_type, v,
    * nd, …)`. Step expressions are textually the same double chains the
    * Spark fold evaluates, so the IEEE results are bit-equal. Built
    * programmatically because the 7 seasonal-slot CASE columns would be
    * unreadable written out by hand. */
  private def hwRecursion(inner: String): String = {
    val m1 = "(" + (1 to 7).map(j => s"v[$j]").mkString(" + ") + ") / 7.0"
    val m2 = "(" + (8 to 14).map(j => s"v[$j]").mkString(" + ") + ") / 7.0"
    val sInit = (1 to 7).map(j => s"v[$j] - ($m1)").mkString(",\n      ")
    val x = s"a.v[CAST($inner.i + 1 AS INT)]"
    val slot = s"(($inner.i) % 7) + 1"
    val sOld = s"CASE $slot" +
      (1 to 7).map(k => s" WHEN $k THEN $inner.s$k").mkString + " END"
    val lNew = s"0.3 * ($x - ($sOld)) + 0.7 * ($inner.l + $inner.b)"
    val bNew = s"0.1 * (($lNew) - $inner.l) + 0.9 * $inner.b"
    val sNew = s"0.2 * ($x - ($lNew)) + 0.8 * ($sOld)"
    val sStep = (1 to 7).map(k =>
      s"CASE WHEN ($slot) = $k THEN $sNew ELSE $inner.s$k END")
      .mkString(",\n      ")
    val sCols = (1 to 7).map(k => s"s$k").mkString(", ")
    s"""$inner(event_type, i, l, b, $sCols) AS (
       |    SELECT event_type, CAST(7 AS BIGINT), $m1,
       |      (($m2) - ($m1)) / 7.0,
       |      $sInit
       |    FROM a WHERE nd >= 14
       |    UNION ALL
       |    SELECT $inner.event_type, $inner.i + 1,
       |      $lNew,
       |      $bNew,
       |      $sStep
       |    FROM $inner JOIN a ON a.event_type = $inner.event_type
       |    WHERE $inner.i < a.nd)""".stripMargin
  }

  /** CASE ladder mapping a 1-based seasonal-slot expression to the
    * recursion's s1..s7 columns of relation `rel`. */
  private def hwSlotCase(rel: String, slotExpr: String): String =
    s"CASE $slotExpr" +
      (1 to 7).map(k => s" WHEN $k THEN $rel.s$k").mkString + " END"

  /** Generated oracle for ev_holtwinters_forecast. */
  private def hwOracleSql: String =
    s"""WITH ${dailyCountsSql("e")},
       |${dailyArraysSql("e")},
       |rec AS (
       |  WITH RECURSIVE ${hwRecursion("h")}
       |  SELECT * FROM h)
       |SELECT r.event_type, a.nd AS n_days,
       |  round(r.l, 9) AS level, round(r.b, 9) AS trend,
       |  round(r.l + r.b + (${hwSlotCase("r", "(a.nd % 7) + 1")}), 9) AS fc_1,
       |  round(r.l + 7 * r.b + (${hwSlotCase("r", "((a.nd - 1) % 7) + 1")}), 9)
       |    AS fc_7
       |FROM rec r JOIN a ON a.event_type = r.event_type AND r.i = a.nd"""
      .stripMargin

  /** Global ntile(k) without a global sort: the q34 distributed-rank
    * plan as a reusable transform. Literal range buckets over the
    * metric → per-bucket counts → running offsets (a ≤`buckets`-row
    * bookkeeping window) → local row_number per bucket + broadcast
    * offset = exact global rank → ntile in closed form (rank ordering
    * made unique by the tie column, so rank() == row_number()). */
  private[graft] def distributedNtile(
      df: org.apache.spark.sql.DataFrame, metric: String, tie: String,
      k: Int, qName: String, buckets: Int = 200): org.apache.spark.sql.DataFrame = {
    val mmx = df.agg(
      min(col(metric)).cast(DoubleType), max(col(metric)).cast(DoubleType)).head()
    val withB = df.withColumn("bkt", Relational.rangeBucket(
      col(metric).cast(DoubleType), mmx.getDouble(0), mmx.getDouble(1), buckets))
    // global window over ≤`buckets` bookkeeping rows — bounded by
    // construction, never by the corpus
    val wOff = Window.orderBy(col("bkt").asc)
    val offs = withB.groupBy(col("bkt")).agg(count(lit(1)).as("cnt"))
      .select(col("bkt"),
        coalesce(sum(col("cnt"))
          .over(wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("off"),
        sum(col("cnt"))
          .over(wOff.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
          .as("n"))
    val wLoc = Window.partitionBy(col("bkt"))
      .orderBy(col(metric).asc, col(tie).asc)
    val ranked = withB.withColumn("lrn", row_number().over(wLoc))
      .join(broadcast(offs), Seq("bkt"))
      .withColumn("rnk", col("off") + col("lrn"))
    val n = col("n")
    val base = floor(n / k)
    val r = n % k
    val thr = r * (base + 1)
    val baseSafe = greatest(base, lit(1L))
    ranked.withColumn(qName,
      when(col("rnk") <= thr, floor((col("rnk") - 1) / (base + 1)) + 1)
        .otherwise(r + floor((col("rnk") - thr - 1) / baseSafe) + 1).cast(LongType))
      .drop("bkt", "lrn", "off", "n", "rnk")
  }
}
