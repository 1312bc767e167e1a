package graft.operators

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType}

/** End-to-end corpus cleaning — the composition a training-data
  * pipeline actually runs, as one declarative plan:
  *
  *   1. exact dedup (content fingerprint, keep min doc_id)
  *   2. near-dedup (banded-minhash candidates verified at jaccard ≥
  *      0.5; the higher doc_id of each verified pair is dropped)
  *   3. quality filter (composite score ≥ 0.5)
  *
  * Emits every document with its verdict and the dominant drop reason
  * (priority: exact_dup > near_dup > low_quality > kept). Each stage is
  * the already-verified operator; Catalyst fuses the composition, and
  * the shingle relation is shared through the cache across stages. The
  * near-dup stage rides the md5-banded candidates (oracle-reproducible,
  * see Dedup), so the WHOLE pipeline carries a DuckDB oracle.
  */
object Pipeline {

  val defs: Seq[(String, QueryDef)] = Seq(
    "pipe_clean_corpus" -> QueryDef.withOracle(
      s"""${Dedup.nearDupPairsSql},
         |near AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
         |exd AS (
         |  SELECT doc_id,
         |    doc_id <> min(doc_id) OVER (PARTITION BY
         |      md5(${TextOps.normSql("text")})) AS exact_dup
         |  FROM documents),
         |q AS (
         |  ${TextOps.qualityScoreSql})
         |SELECT e.doc_id, e.exact_dup,
         |  (n.doc_id IS NOT NULL) AS near_dup,
         |  coalesce(q.quality_score, 0.0) AS quality_score,
         |  CASE WHEN e.exact_dup THEN 'exact_dup'
         |       WHEN n.doc_id IS NOT NULL THEN 'near_dup'
         |       WHEN coalesce(q.quality_score, 0.0) < 0.5 THEN 'low_quality'
         |       ELSE 'kept' END AS verdict
         |FROM exd e
         |LEFT JOIN near n ON e.doc_id = n.doc_id
         |LEFT JOIN q ON e.doc_id = q.doc_id""".stripMargin) { (s, dir) =>
      val exact = Dedup.defs.toMap.apply("dedup_exact").fn(s, dir)
        .select(col("doc_id"), col("is_dup").as("exact_dup"))
      val nearPairs = Dedup.nearDupPairs(s, dir)
        .select(col("doc_b").as("doc_id")).distinct()
        .withColumn("near_dup", lit(true))
      val quality = TextOps.defs.toMap.apply("text_quality").fn(s, dir)
        .select(col("doc_id"), col("quality_score"))
      exact
        .join(nearPairs, Seq("doc_id"), "left_outer")
        .join(quality, Seq("doc_id"), "left_outer")
        .select(
          col("doc_id"),
          col("exact_dup"),
          coalesce(col("near_dup"), lit(false)).as("near_dup"),
          coalesce(col("quality_score"), lit(0.0)).as("quality_score"),
          when(col("exact_dup"), "exact_dup")
            .when(coalesce(col("near_dup"), lit(false)), "near_dup")
            .when(coalesce(col("quality_score"), lit(0.0)) < 0.5, "low_quality")
            .otherwise("kept").as("verdict"))
    },

    // ------------------------------------------------------------------
    // Deterministic train/validation/test holdout assignment: the md5
    // of the stable doc key (NOT a random() — reruns, retries and
    // engine swaps must agree on every row's split) buckets each doc
    // 0-99; 80/10/10. Pure narrow map — no shuffle, no state; adding
    // docs never reassigns existing ones, which is what makes the
    // split stable under incremental corpus growth. The same idiom as
    // q23/pipe_mixture_sample's md5-uniform, so one audited hash path
    // serves sampling, mixtures and holdouts.
    // ------------------------------------------------------------------
    // k-fold cross-validation assignment — the deterministic 5-fold
    // partition an eval harness needs (pipe_split_holdout's fixed
    // 80/10/10 can't do rotation estimates). Folds come from the same
    // engine-stable md5 bucket as the holdout split (rerun- and
    // engine-identical, uncorrelated with any data column), and the
    // output is the per-(fold, source) balance table — n_docs,
    // n_chars, and each fold's share of its source ×10⁶ — the check
    // that hash folding didn't skew a source before anyone trains on
    // it. ONE corpus scan to a ≤5×|sources| relation; the per-source
    // totals join is a broadcast of a bounded agg.
    "pipe_kfold_assign" -> QueryDef.withOracle(
      """WITH f AS (
        |  SELECT source, n_chars,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      % 5 AS fold
        |  FROM documents),
        |g AS (
        |  SELECT fold, source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS n_chars
        |  FROM f GROUP BY 1, 2),
        |t AS (
        |  SELECT source, CAST(sum(n_docs) AS BIGINT) AS src_docs
        |  FROM g GROUP BY 1)
        |SELECT g.fold, g.source, g.n_docs, g.n_chars,
        |  CAST(floor(CAST(g.n_docs AS DOUBLE) / t.src_docs * 1e6 + 0.5)
        |    AS BIGINT) AS share_fp
        |FROM g JOIN t ON t.source = g.source""".stripMargin) { (s, dir) =>
      val fold = pmod(
        conv(substring(md5(col("doc_id").cast("string").cast(BinaryType)),
          1, 15), 16, 10).cast(LongType), lit(5L))
      val g = Tables.documents(s, dir)
        .select(col("source"), col("n_chars"), fold.as("fold"))
        .groupBy(col("fold"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      val t = g.groupBy(col("source").as("src2"))
        .agg(sum(col("n_docs")).as("src_docs"))
      g.join(broadcast(t), col("src2") === col("source"))
        .select(col("fold"), col("source"), col("n_docs"), col("n_chars"),
          floor(col("n_docs").cast(DoubleType) / col("src_docs")
            * lit(1.0e6) + 0.5).cast(LongType).as("share_fp"))
    },

    "pipe_split_holdout" -> QueryDef.withOracle(
      """SELECT doc_id, source, bucket,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'validation'
        |       ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
        |  FROM documents)""".stripMargin) { (s, dir) =>
      val bucket = pmod(
        conv(substring(md5(col("doc_id").cast("string").cast(BinaryType)), 1, 15), 16, 10)
          .cast(LongType), lit(100L))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), bucket.as("bucket"))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "validation")
            .otherwise("test"))
    },

    // ------------------------------------------------------------------
    // Curriculum ordering: assign each document a quality-quartile
    // curriculum phase (phase 1 = cleanest quartile, trained first)
    // plus a deterministic within-phase shuffle key (md5 — reruns and
    // engine swaps agree on the exact training order). The quartile is
    // the EXACT global ntile via the distributed range-bucket rank
    // (the q34/ev_rfm machinery — no global sort task); the quality
    // input is the verified text_quality operator. Row-local after the
    // rank: at 100 TB the only corpus-scale moves are the quality scan
    // and one bucket-count agg.
    "pipe_curriculum_order" -> QueryDef.withOracle(
      s"""WITH q AS (
         |  ${TextOps.qualityScoreSql}),
         |n AS (
         |  SELECT doc_id, quality_score,
         |    ntile(4) OVER (ORDER BY quality_score ASC, doc_id ASC) AS q4
         |  FROM q)
         |SELECT doc_id, quality_score, CAST(5 - q4 AS INT) AS phase,
         |  md5(CAST(doc_id AS VARCHAR)) AS order_key
         |FROM n""".stripMargin) { (s, dir) =>
      val q = TextOps.defs.toMap.apply("text_quality").fn(s, dir)
        .select(col("doc_id"), col("quality_score"))
      Temporal.distributedNtile(q, "quality_score", "doc_id", 4, "q4")
        .select(col("doc_id"), col("quality_score"),
          (lit(5) - col("q4")).cast("int").as("phase"),
          md5(col("doc_id").cast("string").cast(BinaryType)).as("order_key"))
    },

    // ------------------------------------------------------------------
    // Dataset card: the per-source corpus health sheet published next
    // to a training mix — document/token volumes, exact-duplicate
    // rate, language spread, and length spread. ONE corpus scan feeds
    // a (source, text-hash) pre-aggregation (the dedup_exact key,
    // 16 bytes/doc through the exchange) which then collapses to the
    // |sources|-row card; token counts are exact BIGINTs and every
    // published ratio snaps ×10⁹. This is the composition operator a
    // real corpus release runs LAST, over whatever the cleaning
    // pipeline kept.
    "pipe_dataset_card" -> QueryDef.withOracle(
      s"""WITH h AS (
         |  SELECT source, md5(${TextOps.normSql("text")}) AS fp,
         |    CAST(len(${TextOps.toksSql("text")}) AS BIGINT) AS n_toks
         |  FROM documents),
         |g AS (
         |  SELECT source, fp, CAST(count(*) AS BIGINT) AS copies,
         |    CAST(sum(n_toks) AS BIGINT) AS toks,
         |    CAST(min(n_toks) AS BIGINT) AS min_t, CAST(max(n_toks) AS BIGINT) AS max_t
         |  FROM h GROUP BY source, fp)
         |SELECT source,
         |  CAST(sum(copies) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_unique_texts,
         |  CAST(sum(toks) AS BIGINT) AS n_tokens,
         |  floor(CAST(sum(toks) AS DOUBLE) / sum(copies) * 1000000000 + 0.5)
         |    / 1.0e9 AS mean_doc_tokens,
         |  CAST(sum(copies) - count(*) AS BIGINT) AS n_exact_dups,
         |  floor((1.0 - CAST(count(*) AS DOUBLE) / sum(copies)) * 1000000000
         |    + 0.5) / 1.0e9 AS dup_rate,
         |  CAST(min(min_t) AS BIGINT) AS min_tokens,
         |  CAST(max(max_t) AS BIGINT) AS max_tokens
         |FROM g GROUP BY source""".stripMargin) { (s, dir) =>
      val h = Tables.documents(s, dir)
        .select(col("source"),
          md5(TextOps.normText(col("text")).cast(BinaryType)).as("fp"),
          size(TextOps.tokens(col("text"))).cast(LongType).as("n_toks"))
      // (source, fp)-keyed pre-agg: map-side combine collapses exact
      // copies before anything corpus-wide aggregates
      val g = h.groupBy(col("source"), col("fp"))
        .agg(count(lit(1)).as("copies"), sum(col("n_toks")).as("toks"),
          min(col("n_toks")).as("min_t"), max(col("n_toks")).as("max_t"))
      g.groupBy(col("source"))
        .agg(sum(col("copies")).as("n_docs"),
          count(lit(1)).as("n_unique_texts"),
          sum(col("toks")).as("n_tokens"),
          (floor(sum(col("toks")).cast(DoubleType) / sum(col("copies"))
            * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("mean_doc_tokens"),
          (sum(col("copies")) - count(lit(1))).as("n_exact_dups"),
          (floor((lit(1.0) - count(lit(1)).cast(DoubleType)
            / sum(col("copies"))) * lit(1.0e9) + lit(0.5)) / lit(1.0e9))
            .as("dup_rate"),
          min(col("min_t")).as("min_tokens"),
          max(col("max_t")).as("max_tokens"))
    },

    // ------------------------------------------------------------------
    // Quality-threshold retention sweep — the "what does each cutoff
    // cost" table a pipeline owner reads before picking the
    // quality-filter threshold (the dedup_threshold_sweep discipline
    // applied to the quality axis): for each candidate cutoff, docs
    // kept, tokens kept, and both as fractions of the corpus. ONE
    // corpus scan computes every threshold's conditional sums in a
    // single map-side-combinable agg (no threshold×corpus join
    // blowup); the 1-row result unpivots to the report. Fractions are
    // exact-integer ratios snapped ×10⁹.
    "pipe_quality_sweep" -> QueryDef.withOracle(
      s"""WITH q AS (
         |  ${TextOps.qualityScoreSql}),
         |b AS (
         |  SELECT d.doc_id, coalesce(q.quality_score, 0.0) AS score,
         |    CAST(len(${TextOps.toksSql("d.text")}) AS BIGINT) AS n_toks
         |  FROM documents d LEFT JOIN q ON q.doc_id = d.doc_id),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS nd,
         |               CAST(sum(n_toks) AS BIGINT) AS nt FROM b),
         |t AS (SELECT unnest([CAST(0.3 AS DOUBLE), CAST(0.4 AS DOUBLE),
         |  CAST(0.5 AS DOUBLE), CAST(0.6 AS DOUBLE), CAST(0.7 AS DOUBLE),
         |  CAST(0.8 AS DOUBLE)]) AS threshold),
         |k AS (
         |  SELECT t.threshold,
         |    CAST(count(b.doc_id) AS BIGINT) AS docs_kept,
         |    CAST(coalesce(sum(b.n_toks), 0) AS BIGINT) AS tokens_kept
         |  FROM t LEFT JOIN b ON b.score >= t.threshold
         |  GROUP BY t.threshold)
         |SELECT k.threshold, k.docs_kept,
         |  floor(CAST(k.docs_kept AS DOUBLE) / tot.nd * 1e9 + 0.5) / 1.0e9
         |    AS docs_frac,
         |  k.tokens_kept,
         |  floor(CAST(k.tokens_kept AS DOUBLE) / tot.nt * 1e9 + 0.5) / 1.0e9
         |    AS tokens_frac
         |FROM k CROSS JOIN tot""".stripMargin) { (s, dir) =>
      val quality = TextOps.defs.toMap.apply("text_quality").fn(s, dir)
        .select(col("doc_id"), col("quality_score"))
      val b = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast(LongType).as("n_toks"))
        .join(quality, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_toks"),
          coalesce(col("quality_score"), lit(0.0)).as("score"))
      val ths = Seq(0.3, 0.4, 0.5, 0.6, 0.7, 0.8)
      val aggs = ths.flatMap { th =>
        val tag = (th * 10).toInt
        Seq(
          coalesce(sum(when(col("score") >= th, 1L).otherwise(0L)), lit(0L))
            .as(s"d$tag"),
          coalesce(sum(when(col("score") >= th, col("n_toks")).otherwise(0L)),
            lit(0L)).as(s"t$tag"))
      } ++ Seq(count(lit(1)).as("nd"), sum(col("n_toks")).as("nt"))
      val stackArgs = ths.map { th =>
        val tag = (th * 10).toInt
        s"CAST($th AS DOUBLE), d$tag, " +
          s"floor(CAST(d$tag AS DOUBLE) / nd * 1e9 + 0.5) / 1.0e9, t$tag, " +
          s"floor(CAST(t$tag AS DOUBLE) / nt * 1e9 + 0.5) / 1.0e9"
      }.mkString(", ")
      b.agg(aggs.head, aggs.tail: _*)
        .select(expr(s"stack(${ths.size}, $stackArgs) as (threshold, " +
          "docs_kept, docs_frac, tokens_kept, tokens_frac)"))
    },

    // ------------------------------------------------------------------
    // Canonical selection by QUALITY — the production form of "which
    // copy do we keep": dedup_cluster_assign keeps min doc_id (a
    // deterministic but arbitrary survivor); a training pipeline keeps
    // the BEST copy of each near-dup family (the highest-quality
    // member keeps formatting/completeness the shingle match ignores).
    // Clusters come from the shared connected-component labeler
    // (Dedup.clusterAssign); quality is the text_quality composite
    // snapped to a ×10⁹ integer so the per-cluster argmax ranks on
    // identical exact values cross-engine (docs failing text_quality's
    // domain filter — empty / no alnum — get quality −1 and never win
    // unless alone). The rank window partitions by cluster_id
    // (high-cardinality by construction: clusters ≈ documents), so no
    // single task ever sorts more than one template family.
    "pipe_canonical_select" -> QueryDef.withOracle(
      s"""${Dedup.nearDupEdgesSql},
         |cc AS (
         |  WITH RECURSIVE walk(node, label) AS (
         |    SELECT doc_id, doc_id FROM documents
         |    UNION
         |    SELECT e.dst, walk.label FROM walk JOIN edges e ON walk.node = e.src)
         |  SELECT node, min(label) AS cluster_id FROM walk GROUP BY node),
         |q AS (
         |  SELECT doc_id, CAST(floor((0.4 * round(length(regexp_replace(text,
         |        '[^A-Za-z]', '', 'g')) * 1.0 / length(text), 9)
         |      + 0.4 * (1 - round(len(list_filter(${TextOps.toksSql("text")},
         |        x -> x IN ('the', 'a', 'and', 'of', 'to'))) * 1.0
         |          / len(${TextOps.toksSql("text")}), 9))
         |      + 0.2 * least(CAST(len(${TextOps.toksSql("text")}) AS INT)
         |          / 20.0, 1.0)) * 1000000000 + 0.5) AS BIGINT) AS q_fp
         |  FROM documents
         |  WHERE length(text) > 0 AND regexp_matches(text, '[a-zA-Z0-9]'))
         |SELECT cc.node AS doc_id, cc.cluster_id,
         |  coalesce(q.q_fp, -1) AS quality_fp,
         |  row_number() OVER (PARTITION BY cc.cluster_id
         |    ORDER BY coalesce(q.q_fp, -1) DESC, cc.node ASC) = 1 AS keep
         |FROM cc LEFT JOIN q ON q.doc_id = cc.node""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val labels = Dedup.clusterAssign(s, dir)
        .select(col("doc_id"), col("cluster_id"))
      val toks = TextOps.tokens(col("text"))
      val nWords = size(toks)
      val stops = Seq("the", "a", "and", "of", "to")
      val q = Tables.documents(s, dir)
        .filter(length(col("text")) > 0 && col("text").rlike("[a-zA-Z0-9]"))
        .select(col("doc_id"),
          floor((lit(0.4) * round(length(regexp_replace(col("text"),
              "[^A-Za-z]", "")) * lit(1.0) / length(col("text")), 9)
            + lit(0.4) * (lit(1) - round(size(filter(toks,
                x => x.isin(stops: _*))) * lit(1.0) / nWords, 9))
            + lit(0.2) * least(nWords / lit(20.0), lit(1.0)))
            * lit(1000000000L) + lit(0.5)).cast(LongType).as("q_fp"))
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("quality_fp").desc, col("doc_id").asc)
      labels.join(q, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("cluster_id"),
          coalesce(col("q_fp"), lit(-1L)).as("quality_fp"))
        .withColumn("keep", row_number().over(w) === 1)
    }
  )
}
