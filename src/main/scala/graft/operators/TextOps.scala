package graft.operators

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text analysis over the `documents` table: tokenization, quality
  * scoring, language ID, fingerprinting. All row-local (narrow) work —
  * embarrassingly parallel, no shuffle except final aggregations, so it
  * scales linearly with corpus bytes.
  *
  * Everything is built from codegen'd `functions._` (incl. higher-order
  * array functions) — no Scala UDFs — so whole-stage codegen spans the
  * full pipeline.
  */
object TextOps {

  /** Lowercased `[a-z0-9]+` tokens. */
  def tokens(c: Column): Column =
    regexp_extract_all(lower(c), lit("[a-z0-9]+"), lit(0))

  private[operators] def toksSql(c: String) = s"regexp_extract_all(lower($c), '[a-z0-9]+')"

  /** Whitespace normalization shared by fingerprint/dedup ops. */
  def normText(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  private[operators] def normSql(c: String) = s"lower(trim(regexp_replace($c, '\\s+', ' ', 'g')))"

  /** Oracle fragment: a CTE body computing (doc_id, quality_score),
    * used by the corpus-cleaning pipeline oracle. The text_quality
    * oracle repeats the same formula with its intermediate columns
    * exposed — any change to the score must touch both (the pipeline's
    * Spark side consumes the text_quality OPERATOR, so a one-sided
    * oracle edit fails verify immediately). */
  private[operators] val qualityScoreSql: String =
    s"""SELECT doc_id,
       |    round(0.4 * alpha_ratio + 0.4 * (1 - stop_ratio) +
       |          0.2 * least(n_words / 20.0, 1.0), 9) AS quality_score
       |  FROM (
       |    SELECT doc_id,
       |      CAST(len(${toksSql("text")}) AS INT) AS n_words,
       |      round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
       |            / length(text), 9) AS alpha_ratio,
       |      round(len(list_filter(${toksSql("text")},
       |              x -> x IN ('the', 'a', 'and', 'of', 'to'))) * 1.0
       |            / len(${toksSql("text")}), 9) AS stop_ratio
       |    FROM documents
       |    WHERE length(text) > 0 AND regexp_matches(text, '[a-zA-Z0-9]'))""".stripMargin

  /** Oracle for text_langid — shared with text_langid_eval's confusion
    * rollup (single source of truth for the scoring rule; a one-sided
    * edit fails verify immediately, the qualityScoreSql discipline). */
  private[operators] def langidSql: String =
    s"""SELECT doc_id, lang, s_en, s_de, s_es, s_fr, s_zh,
       |  CASE
       |    WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
       |    WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
       |    WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
       |    WHEN s_fr >= s_zh THEN 'fr'
       |    ELSE 'zh' END AS pred_lang,
       |  (CASE
       |    WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
       |    WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
       |    WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
       |    WHEN s_fr >= s_zh THEN 'fr'
       |    ELSE 'zh' END) = lang AS is_match
       |FROM (
       |  SELECT doc_id, lang,
       |    CAST(len(list_filter(${toksSql("text")}, x -> x IN ('the', 'and', 'is'))) AS INT) AS s_en,
       |    CAST(len(list_filter(${toksSql("text")}, x -> x IN ('der', 'die', 'und'))) AS INT) AS s_de,
       |    CAST(len(list_filter(${toksSql("text")}, x -> x IN ('el', 'la', 'los'))) AS INT) AS s_es,
       |    CAST(len(list_filter(${toksSql("text")}, x -> x IN ('le', 'les', 'et'))) AS INT) AS s_fr,
       |    CAST(length(text) - length(replace(text, '的', '')) AS INT) AS s_zh
       |  FROM documents)""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(

    // ------------------------------------------------------------------
    "text_tokens" -> QueryDef.withOracle(
      s"""SELECT doc_id,
         |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INT) AS n_ws_tokens,
         |  CAST(len(${toksSql("text")}) AS INT) AS n_re_tokens,
         |  CAST(len(list_distinct(${toksSql("text")})) AS INT) AS n_uniq_tokens
         |FROM documents""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
        .select(
          col("doc_id"),
          size(filter(split(col("text"), " "), x => x =!= "")).as("n_ws_tokens"),
          size(col("toks")).as("n_re_tokens"),
          size(array_distinct(col("toks"))).as("n_uniq_tokens"))
    },

    // ------------------------------------------------------------------
    // NOTE: the quality_score formula here must stay in sync with
    // qualityScoreSql above (the pipeline oracle's copy).
    "text_quality" -> QueryDef.withOracle(
      s"""SELECT doc_id, len_chars, n_words, avg_word_len, alpha_ratio, stop_ratio,
         |  round(0.4 * alpha_ratio + 0.4 * (1 - stop_ratio) +
         |        0.2 * least(n_words / 20.0, 1.0), 9) AS quality_score
         |FROM (
         |  SELECT doc_id,
         |    length(text) AS len_chars,
         |    CAST(len(${toksSql("text")}) AS INT) AS n_words,
         |    round(list_sum(list_transform(${toksSql("text")}, x -> length(x))) * 1.0
         |          / len(${toksSql("text")}), 9) AS avg_word_len,
         |    round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
         |          / length(text), 9) AS alpha_ratio,
         |    round(len(list_filter(${toksSql("text")},
         |            x -> x IN ('the', 'a', 'and', 'of', 'to'))) * 1.0
         |          / len(${toksSql("text")}), 9) AS stop_ratio
         |  FROM documents
         |  WHERE length(text) > 0 AND regexp_matches(text, '[a-zA-Z0-9]'))""".stripMargin) { (s, dir) =>
      val nWords = size(col("toks"))
      val stops = Seq("the", "a", "and", "of", "to")
      val base = Tables.documents(s, dir)
        .filter(length(col("text")) > 0 &&
          // any alnum char ⇔ at least one token; cheap find-first regex
          // instead of size(toks)>0, which would push the tokenizer into
          // the filter and re-run it per row
          col("text").rlike("[a-zA-Z0-9]"))
        .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
        .select(
          col("doc_id"),
          length(col("text")).as("len_chars"),
          nWords.as("n_words"),
          round(aggregate(col("toks"), lit(0), (acc, x) => acc + length(x)) * lit(1.0) / nWords, 9)
            .as("avg_word_len"),
          round(length(regexp_replace(col("text"), "[^A-Za-z]", "")) * lit(1.0) /
            length(col("text")), 9).as("alpha_ratio"),
          round(size(filter(col("toks"), x => x.isin(stops: _*))) * lit(1.0) / nWords, 9)
            .as("stop_ratio"))
      base.withColumn("quality_score",
        round(lit(0.4) * col("alpha_ratio") + lit(0.4) * (lit(1) - col("stop_ratio")) +
          lit(0.2) * least(col("n_words") / lit(20.0), lit(1.0)), 9))
    },

    // ------------------------------------------------------------------
    // Gopher-style HARD quality rules — the pass/fail filter battery
    // every LLM data pipeline runs ahead of training (word-count
    // bounds, mean-word-length band, alphabetic-word fraction,
    // stop-word presence, and the two repetition screens: top-word and
    // top-bigram mass), distinct from text_quality's continuous score.
    // Every rule is an EXACT-INTEGER comparison (alpha_cnt·10 ≥ 9·n,
    // topw·5 ≤ n, …) so no float rounding can flip a verdict on either
    // engine; the one diagnostic ratio (mean word length) ships as the
    // protocol's ×10⁹ fixed point. Scale shape: the repetition maxima
    // are computed ROW-LOCALLY (max run length over the sorted
    // token/bigram array — identical to the oracle's explode→count→max
    // by definition of multiplicity), so the whole operator is ONE
    // narrow projection: no shuffle, no join, per-doc cost bounded by
    // doc length. The explode+group formulation would put two
    // |docs|-cardinality aggregates on the build side of a stats-chosen
    // broadcast — the q16 stats-flip hazard (§6) — for work the row
    // already contains.
    "text_gopher_rules" -> QueryDef.withOracle(
      s"""WITH t AS (
         |  SELECT doc_id, ${toksSql("text")} AS toks,
         |    CAST(len(${toksSql("text")}) AS BIGINT) AS n
         |  FROM documents
         |  WHERE len(${toksSql("text")}) >= 1),
         |base AS (
         |  SELECT doc_id, n,
         |    CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sumlen,
         |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha_cnt,
         |    CAST(len(list_filter(toks, x -> x IN ('the','a','and','of','to'))) AS BIGINT) AS stop_hits
         |  FROM t),
         |wcnt AS (
         |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id, unnest(toks) AS w FROM t) GROUP BY 1, 2),
         |wtop AS (SELECT doc_id, max(c) AS topw FROM wcnt GROUP BY 1),
         |bg AS (
         |  SELECT doc_id,
         |    unnest(list_transform(generate_series(1, CAST(n - 1 AS INT)),
         |      i -> toks[i] || ' ' || toks[i + 1])) AS g
         |  FROM t WHERE n >= 2),
         |bcnt AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
         |         FROM bg GROUP BY 1, 2),
         |btop AS (SELECT doc_id, max(c) AS topb FROM bcnt GROUP BY 1)
         |SELECT b.doc_id, b.n AS n_words,
         |  CAST(floor(b.sumlen * 1000000000.0 / b.n + 0.5) AS BIGINT) AS mwl_fp,
         |  b.alpha_cnt, b.stop_hits,
         |  w.topw AS top_word_cnt, coalesce(bt.topb, 0) AS top_bigram_cnt,
         |  b.n BETWEEN 10 AND 10000 AS r_wordcount,
         |  (b.sumlen >= 3 * b.n AND b.sumlen <= 10 * b.n) AS r_mean_word_len,
         |  b.alpha_cnt * 10 >= 9 * b.n AS r_alpha_words,
         |  b.stop_hits >= 2 AS r_stopwords,
         |  w.topw * 5 <= b.n AS r_word_repetition,
         |  (b.n < 2 OR coalesce(bt.topb, 0) * 50 <= 9 * (b.n - 1)) AS r_bigram_repetition,
         |  (b.n BETWEEN 10 AND 10000
         |    AND b.sumlen >= 3 * b.n AND b.sumlen <= 10 * b.n
         |    AND b.alpha_cnt * 10 >= 9 * b.n
         |    AND b.stop_hits >= 2
         |    AND w.topw * 5 <= b.n
         |    AND (b.n < 2 OR coalesce(bt.topb, 0) * 50 <= 9 * (b.n - 1))) AS passes
         |FROM base b JOIN wtop w USING (doc_id)
         |LEFT JOIN btop bt USING (doc_id)""".stripMargin) { (s, dir) =>
      // max multiplicity of any element ≡ max run length in the sorted
      // array (what the oracle's explode→count→max computes), folded
      // row-locally with a (prev, run, best) state
      def maxMult(arr: Column): Column = {
        def nextRun(acc: Column, x: Column): Column =
          when(x === acc.getField("prev"), acc.getField("run") + 1L)
            .otherwise(lit(1L))
        aggregate(
          array_sort(arr),
          struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
          (acc, x) => struct(
            x.as("prev"), nextRun(acc, x).as("run"),
            greatest(acc.getField("best"), nextRun(acc, x)).as("best")),
          acc => acc.getField("best"))
      }
      // sequence(1, 0) would generate a DESCENDING [1, 0] — guard n ≥ 2
      val bigrams = when(col("n") >= 2,
        transform(sequence(lit(1), (col("n") - 1).cast(IntegerType)),
          i => concat(element_at(col("toks"), i), lit(" "),
            element_at(col("toks"), i + 1))))
        .otherwise(array().cast(ArrayType(StringType)))
      val rWc = col("n").between(10L, 10000L)
      val rMwl = col("sumlen") >= lit(3L) * col("n") &&
        col("sumlen") <= lit(10L) * col("n")
      val rAlpha = col("alpha_cnt") * 10 >= lit(9L) * col("n")
      val rStop = col("stop_hits") >= 2
      val rWrep = col("topw") * 5 <= col("n")
      val rBrep = col("n") < 2 || col("topb") * 50 <= lit(9L) * (col("n") - 1)
      Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 1)
        .select(col("doc_id"), col("toks"),
          size(col("toks")).cast(LongType).as("n"))
        .select(col("doc_id"), col("n"),
          aggregate(col("toks"), lit(0L), (a, x) => a + length(x)).as("sumlen"),
          size(filter(col("toks"), x => x.rlike("[a-z]")))
            .cast(LongType).as("alpha_cnt"),
          size(filter(col("toks"), x => x.isin("the", "a", "and", "of", "to")))
            .cast(LongType).as("stop_hits"),
          maxMult(col("toks")).as("topw"),
          maxMult(bigrams).as("topb"))
        .select(col("doc_id"), col("n").as("n_words"),
          floor(col("sumlen") * lit(1.0e9) / col("n") + 0.5)
            .cast(LongType).as("mwl_fp"),
          col("alpha_cnt"), col("stop_hits"),
          col("topw").as("top_word_cnt"), col("topb").as("top_bigram_cnt"),
          rWc.as("r_wordcount"), rMwl.as("r_mean_word_len"),
          rAlpha.as("r_alpha_words"), rStop.as("r_stopwords"),
          rWrep.as("r_word_repetition"), rBrep.as("r_bigram_repetition"),
          (rWc && rMwl && rAlpha && rStop && rWrep && rBrep).as("passes"))
    },

    // ------------------------------------------------------------------
    // Marker-token language scoring: deterministic n-gram-style heuristic
    // with a fixed priority order (en > de > es > fr > zh) on ties.
    "text_langid" -> QueryDef.withOracle(langidSql) { (s, dir) =>
      def score(words: String*): Column =
        size(filter(col("toks"), x => x.isin(words: _*)))
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("text"), tokens(col("text")).as("toks"))
        .select(
        col("doc_id"), col("lang"),
        score("the", "and", "is").as("s_en"),
        score("der", "die", "und").as("s_de"),
        score("el", "la", "los").as("s_es"),
        score("le", "les", "et").as("s_fr"),
        (length(col("text")) - length(regexp_replace(col("text"), "的", "")))
          .cast(IntegerType).as("s_zh"))
      val pred = when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") &&
          col("s_en") >= col("s_fr") && col("s_en") >= col("s_zh"), "en")
        .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr") &&
          col("s_de") >= col("s_zh"), "de")
        .when(col("s_es") >= col("s_fr") && col("s_es") >= col("s_zh"), "es")
        .when(col("s_fr") >= col("s_zh"), "fr")
        .otherwise("zh")
      base.withColumn("pred_lang", pred)
        .withColumn("is_match", col("pred_lang") === col("lang"))
    },

    // ------------------------------------------------------------------
    "text_fingerprint" -> QueryDef.withOracle(
      s"""SELECT doc_id,
         |  md5(${normSql("text")}) AS fp_md5,
         |  substring(md5(${normSql("text")}), 1, 8) AS fp_prefix,
         |  CAST(floor(length(${normSql("text")}) / 64) AS INT) AS len_bucket
         |FROM documents""".stripMargin) { (s, dir) =>
      val norm = normText(col("text"))
      Tables.documents(s, dir).select(
        col("doc_id"),
        md5(norm.cast(BinaryType)).as("fp_md5"),
        substring(md5(norm.cast(BinaryType)), 1, 8).as("fp_prefix"),
        floor(length(norm) / lit(64)).cast(IntegerType).as("len_bucket"))
    },

    // ------------------------------------------------------------------
    // Corpus heavy hitters: one explode + one keyed aggregation; the
    // top-k is a tiny ordered tail after map-side partial counts.
    "text_topk_tokens" -> QueryDef.withOracle(
      s"""SELECT tok, count(*) AS n FROM (
         |  SELECT unnest(${toksSql("text")}) AS tok FROM documents)
         |GROUP BY tok ORDER BY n DESC, tok ASC LIMIT 20""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok").asc)
        .limit(20)
    },

    // ------------------------------------------------------------------
    // Term burstiness for the top-20 corpus tokens — does a word spread
    // evenly across documents (function words) or clump into a few
    // (topical/template words)? The signal behind content-word
    // weighting and boilerplate spotting that raw frequency can't give:
    // Fano factor (variance/mean of the per-doc count, zeros included
    // via N = |docs|) and the Goh-Barabási burstiness B = (σ−μ)/(σ+μ)
    // ∈ (−1, 1). Two keyed aggs (top-20 TopK, then per-token per-doc
    // counts for ONLY those 20 via a broadcast semijoin — the corpus
    // never shuffles on doc) with exact integer count sums; moment
    // chain in pinned doubles, ×10⁶ snapped.
    "text_burstiness" -> QueryDef.withOracle(
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(${toksSql("text")}) AS tok FROM documents),
         |top AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS n_total
         |  FROM toks GROUP BY tok ORDER BY n_total DESC, tok ASC LIMIT 20),
         |tc AS (
         |  SELECT toks.tok, toks.doc_id, CAST(count(*) AS BIGINT) AS c
         |  FROM toks JOIN top ON top.tok = toks.tok
         |  GROUP BY 1, 2),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |a AS (
         |  SELECT tok, CAST(sum(c) AS BIGINT) AS s1,
         |    CAST(sum(c * c) AS BIGINT) AS s2,
         |    CAST(count(*) AS BIGINT) AS df
         |  FROM tc GROUP BY tok),
         |m AS (
         |  SELECT tok, s1, df, n_docs,
         |    CAST(s1 AS DOUBLE) / n_docs AS mu,
         |    CAST(s2 AS DOUBLE) / n_docs
         |      - (CAST(s1 AS DOUBLE) / n_docs) * (CAST(s1 AS DOUBLE) / n_docs)
         |      AS v
         |  FROM a CROSS JOIN n)
         |SELECT tok, s1 AS n_total, df, n_docs,
         |  floor(v / mu * 1e6 + 0.5) / 1.0e6 AS fano,
         |  floor((sqrt(v) - mu) / (sqrt(v) + mu) * 1e6 + 0.5) / 1.0e6
         |    AS burstiness
         |FROM m""".stripMargin) { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("n_total"))
        .orderBy(col("n_total").desc, col("tok").asc).limit(20)
      val tc = toks.join(broadcast(top.select(col("tok"))), Seq("tok"))
        .groupBy(col("tok"), col("doc_id")).agg(count(lit(1)).as("c"))
      val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      val a = tc.groupBy(col("tok"))
        .agg(sum(col("c")).as("s1"), sum(col("c") * col("c")).as("s2"),
          count(lit(1)).as("df"))
      val mu = col("s1").cast(DoubleType) / col("n_docs")
      val m = a.crossJoin(broadcast(nDocs))
        .select(col("tok"), col("s1"), col("df"), col("n_docs"),
          mu.as("mu"),
          (col("s2").cast(DoubleType) / col("n_docs") - mu * mu).as("v"))
      m.select(col("tok"), col("s1").as("n_total"), col("df"), col("n_docs"),
        (floor(col("v") / col("mu") * lit(1.0e6) + 0.5) / lit(1.0e6))
          .as("fano"),
        (floor((sqrt(col("v")) - col("mu")) / (sqrt(col("v")) + col("mu"))
          * lit(1.0e6) + 0.5) / lit(1.0e6)).as("burstiness"))
    },

    // ------------------------------------------------------------------
    // TF-IDF keyword extraction: top-3 tokens per doc. Three keyed
    // aggregations (tf, df, N) + one broadcast-sized join on token —
    // the classic two-pass shape that scales linearly with corpus size.
    // ln() is evaluated on identical doubles both engines; ranking ties
    // break on the token itself.
    "text_tfidf_topk" -> QueryDef.withOracle(
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(${toksSql("text")}) AS tok FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
         |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
         |    round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 9) AS tfidf
         |  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n)
         |SELECT doc_id, tok, tf, df, tfidf, rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY tfidf DESC, tok ASC) AS rn
         |  FROM scored) WHERE rn <= 3""".stripMargin) { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      val df = toks.groupBy(col("tok")).agg(countDistinct(col("doc_id")).as("df"))
      val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(df, "tok").crossJoin(broadcast(nDocs))
        .withColumn("tfidf",
          round(col("tf") * log(col("n_docs").cast(DoubleType) / col("df")), 9))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("tok").asc)
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("doc_id", "tok", "tf", "df", "tfidf", "rn")
    },

    // ------------------------------------------------------------------
    // Per-language bigram frequency profile, top-10 per language — the
    // n-gram statistic language-ID models are trained from. Bigrams are
    // built once per row from a materialized token array (persist
    // barrier against lambda-inlined regexp re-evaluation), then one
    // shuffle on (lang, bigram) with map-side partial counts. The
    // per-language top-10 is Skew.topK with a string id: ≤10
    // (n, bigram) pairs per (lang, partition) move through the final
    // exchange — a row_number window partitioned by lang would instead
    // sort EVERY distinct bigram of a language in one task (the §5
    // single-task-sort anti-pattern; it was also a 7× bench regression
    // at sf0.1 before this rewrite).
    "text_ngram_freq" -> QueryDef.withOracle(
      s"""WITH t AS (
         |  SELECT lang, ${toksSql("text")} AS toks FROM documents),
         |b AS (
         |  SELECT lang, concat_ws(' ', toks[i], toks[i+1]) AS bigram
         |  FROM (SELECT lang, unnest(range(1, len(toks))) AS i, toks
         |        FROM t WHERE len(toks) >= 2)),
         |f AS (
         |  SELECT lang, bigram, count(*) AS n FROM b GROUP BY lang, bigram)
         |SELECT lang, bigram, CAST(n AS BIGINT) AS n, rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY lang
         |    ORDER BY n DESC, bigram ASC) AS rn FROM f)
         |WHERE rn <= 10""".stripMargin) { (s, dir) =>
      val toksDf = Tables.documents(s, dir)
        .select(col("lang"), tokens(col("text")).as("toks"))
        .persist() // barrier: keep the regexp out of the bigram lambda
      val bigrams = toksDf
        .filter(size(col("toks")) >= 2)
        .select(col("lang"), explode(
          transform(sequence(lit(0), size(col("toks")) - 2),
            i => concat_ws(" ",
              element_at(col("toks"), i + 1),
              element_at(col("toks"), i + 2)))).as("bigram"))
      Skew.topK(bigrams.groupBy(col("lang"), col("bigram"))
        .agg(count(lit(1)).as("n")), "lang", "n", "bigram", 10)
    },

    // ------------------------------------------------------------------
    // BPE-ish token-budget estimate: words + an extra token per started
    // 6-char chunk beyond the first (long words split under subword
    // vocabularies) + punctuation marks (typically their own tokens).
    // Pure integer arithmetic → exact oracle; the estimate is what a
    // pipeline budgets context windows and pricing by before running a
    // real tokenizer.
    "text_token_estimate" -> QueryDef.withOracle(
      s"""SELECT doc_id,
         |  CAST(len(${toksSql("text")}) AS INT) AS n_words,
         |  CAST(list_sum(list_transform(${toksSql("text")},
         |        x -> (length(x) - 1) // 6)) AS BIGINT) AS n_subword_splits,
         |  CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS INT) AS n_punct,
         |  CAST(len(${toksSql("text")}) +
         |    list_sum(list_transform(${toksSql("text")}, x -> (length(x) - 1) // 6)) +
         |    length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS BIGINT) AS est_tokens
         |FROM documents
         |WHERE length(text) > 0 AND regexp_matches(text, '[a-zA-Z0-9]')""".stripMargin) { (s, dir) =>
      val splits = aggregate(col("toks"), lit(0L),
        (acc, x) => acc + floor((length(x) - 1) / lit(6.0)).cast(LongType))
      Tables.documents(s, dir)
        .filter(length(col("text")) > 0 && col("text").rlike("[a-zA-Z0-9]"))
        .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).as("n_words"),
          splits.as("n_subword_splits"),
          length(regexp_replace(col("text"), "[a-zA-Z0-9\\s]", "")).as("n_punct"),
          (size(col("toks")) + splits +
            length(regexp_replace(col("text"), "[a-zA-Z0-9\\s]", ""))).as("est_tokens"))
    },

    // ------------------------------------------------------------------
    // PII scrubbing: the redaction pass every training-data pipeline
    // runs before anything ships. Conservative patterns chosen to mean
    // the same thing in Java regex and RE2 (no lookarounds, no
    // backrefs); the scrubbed text is verified via md5 so the oracle
    // proves byte-identical redaction, not just matching counts.
    "text_pii_scrub" -> QueryDef.withOracle(
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '[0-9]{6,}')) AS INT) AS n_long_ids,
        |  md5(regexp_replace(regexp_replace(text,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{6,}', '<ID>', 'g')) AS scrub_md5
        |FROM documents""".stripMargin) { (s, dir) =>
      val emailPat = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
      val idPat = "[0-9]{6,}"
      Tables.documents(s, dir).select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(emailPat), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("text"), lit(idPat), lit(0))).as("n_long_ids"),
        md5(regexp_replace(regexp_replace(col("text"), emailPat, "<EMAIL>"),
          idPat, "<ID>").cast(BinaryType)).as("scrub_md5"))
    },

    // ------------------------------------------------------------------
    // Winnowed fingerprints: 4-token shingles, 60-bit md5 hash, min per
    // position window of 8 — the standard near-dup sketch for plagiarism
    // style matching. The md5-derived hash is bit-identical in DuckDB
    // (see Dedup's banded minhash), so the sketch is fully oracled;
    // production swaps in xxhash64 without changing the shape.
    "text_winnow" -> QueryDef.withOracle(
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(range(1, len(toks) - 2)) AS i, toks
        |  FROM t WHERE len(toks) >= 4)
        |SELECT doc_id, CAST((i - 1) // 8 AS INT) AS win_id,
        |  min(('0x' || substr(md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3])), 1, 15))::BIGINT) AS fp_hash
        |FROM sh GROUP BY doc_id, (i - 1) // 8""".stripMargin) { (s, dir) =>
      // toks materialized in its own projection — see Dedup.shingled for
      // why (per-element regexp re-evaluation otherwise).
      val shingles = when(size(col("toks")) >= 4,
        transform(sequence(lit(0), size(col("toks")) - 4),
          i => concat_ws(" ",
            element_at(col("toks"), i + 1), element_at(col("toks"), i + 2),
            element_at(col("toks"), i + 3), element_at(col("toks"), i + 4))))
        .otherwise(typedLit(Seq.empty[String]))
      Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), posexplode(shingles).as(Seq("pos", "shingle")))
        .select(col("doc_id"), (col("pos") / 8).cast(IntegerType).as("win_id"),
          conv(substring(md5(col("shingle")), 1, 15), 16, 10).cast(LongType).as("h"))
        .groupBy(col("doc_id"), col("win_id"))
        .agg(min(col("h")).as("fp_hash"))
    },

    // ------------------------------------------------------------------
    // Bigram language-model scoring — the KenLM-shaped fluency filter:
    // per-doc mean ln P(w_i | w_{i-1}) under the corpus's own add-one-
    // smoothed bigram model. Model build = two keyed counts + one
    // 1-row vocab broadcast; scoring = two equi-joins of the doc
    // bigram stream against the count tables (at 100 TB the count
    // tables are the join's build side, pruned to hashes). Per-bigram
    // log-probs are snapped to fixed point (×10^6, exact long sums) so
    // the per-doc mean is order/partition-invariant and cross-engine
    // reproducible — a raw double sum over an unordered join is
    // neither.
    "text_bigram_lm" -> QueryDef.withOracle(
      s"""WITH t AS (
         |  SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
         |bg0 AS (
         |  SELECT doc_id, unnest(range(1, len(toks))) AS i, toks
         |  FROM t WHERE len(toks) >= 2),
         |bg AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2 FROM bg0),
         |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY w1, w2),
         |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY w1),
         |v AS (SELECT CAST(count(DISTINCT w2) AS BIGINT) AS vocab FROM bg),
         |scored AS (
         |  SELECT b.doc_id,
         |    CAST(floor(ln((c2.c12 + 1.0) / (c1.c1 + v.vocab)) * 1000000 + 0.5) AS BIGINT) AS lp_fp
         |  FROM bg b JOIN c2 ON c2.w1 = b.w1 AND c2.w2 = b.w2
         |  JOIN c1 ON c1.w1 = b.w1 CROSS JOIN v)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(floor(CAST(sum(lp_fp) AS BIGINT) * 1000.0 / count(*) + 0.5) AS BIGINT)
         |    / 1000000000.0 AS avg_ln_p
         |FROM scored GROUP BY doc_id""".stripMargin) { (s, dir) =>
      // token arrays persisted once: the bigram rows feed four branches
      val t = Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .persist()
      val bg = t.filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(transform(
          sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2")))).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      val c1 = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      val v = bg.agg(countDistinct(col("w2")).as("vocab"))
      bg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1")).crossJoin(broadcast(v))
        .select(col("doc_id"),
          floor(log((col("c12") + lit(1.0)) / (col("c1") + col("vocab"))) * 1000000 + 0.5)
            .cast(LongType).as("lp_fp"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_fp")).as("s"))
        // 9-dp rounding in FIXED POINT (floor(x·10⁹+0.5) on the exact
        // long sum), not engine round(): the two engines' round()
        // disagree by 1 ulp on near-tie doubles — caught by the sf0.1
        // sweep (2/5000 rows flipped at the 9th decimal)
        .select(col("doc_id"), col("n_bigrams"),
          (floor(col("s") * lit(1000.0) / col("n_bigrams") + 0.5).cast(LongType)
            / lit(1.0e9)).as("avg_ln_p"))
    },

    // ------------------------------------------------------------------
    // Held-out perplexity under the corpus's own bigram LM — the
    // eval-side companion to text_bigram_lm (which scores docs under a
    // model trained on ALL docs, itself included): train on the even
    // doc_ids, score the odd ones, so the number is an honest
    // generalization measure — the quality gate a data-curation loop
    // tracks per source/snapshot while it tunes filters. Unseen
    // bigrams/contexts fall back to add-one mass ((0+1)/(0+V)): LEFT
    // joins + coalesce, the one modeling branch text_bigram_lm never
    // exercises. Same scale shape: two keyed train-side counts join
    // the held-out bigram stream (count tables are the build side);
    // per-bigram ln p snaps ×10⁶ to exact longs, the per-doc mean
    // snaps at 9 dp, and ppl = exp(−mean) is IEEE-identical on the
    // identical snapped input.
    "text_perplexity" -> QueryDef.withOracle(
      s"""WITH t AS (
         |  SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
         |bg0 AS (
         |  SELECT doc_id, unnest(range(1, len(toks))) AS i, toks
         |  FROM t WHERE len(toks) >= 2),
         |bg AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2 FROM bg0),
         |tr AS (SELECT * FROM bg WHERE doc_id % 2 = 0),
         |te AS (SELECT * FROM bg WHERE doc_id % 2 = 1),
         |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM tr GROUP BY w1, w2),
         |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM tr GROUP BY w1),
         |v AS (SELECT CAST(count(DISTINCT w2) AS BIGINT) AS vocab FROM tr),
         |scored AS (
         |  SELECT te.doc_id,
         |    CAST(floor(ln((coalesce(c2.c12, 0) + 1.0)
         |      / (coalesce(c1.c1, 0) + v.vocab)) * 1000000 + 0.5) AS BIGINT) AS lp_fp
         |  FROM te LEFT JOIN c2 ON c2.w1 = te.w1 AND c2.w2 = te.w2
         |  LEFT JOIN c1 ON c1.w1 = te.w1 CROSS JOIN v),
         |agg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |    CAST(floor(CAST(sum(lp_fp) AS BIGINT) * 1000.0 / count(*) + 0.5) AS BIGINT)
         |      / 1000000000.0 AS avg_ln_p
         |  FROM scored GROUP BY doc_id)
         |SELECT doc_id, n_bigrams, avg_ln_p,
         |  floor(exp(-avg_ln_p) * 1000000 + 0.5) / 1.0e6 AS perplexity
         |FROM agg""".stripMargin) { (s, dir) =>
      val t = Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .persist() // barrier: keep the regexp out of the bigram lambda
      val bg = t.filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(transform(
          sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2")))).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        .persist() // train counts + held-out stream share one build
      val tr = bg.filter(col("doc_id") % 2 === 0)
      val te = bg.filter(col("doc_id") % 2 === 1)
      val c2 = tr.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      val c1 = tr.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      val v = tr.agg(countDistinct(col("w2")).as("vocab"))
      val avg = (floor(col("s") * lit(1000.0) / col("n_bigrams") + 0.5)
        .cast(LongType) / lit(1.0e9))
      te.join(c2, Seq("w1", "w2"), "left").join(c1, Seq("w1"), "left")
        .crossJoin(broadcast(v))
        .select(col("doc_id"),
          floor(log((coalesce(col("c12"), lit(0L)) + lit(1.0))
            / (coalesce(col("c1"), lit(0L)) + col("vocab"))) * 1000000 + 0.5)
            .cast(LongType).as("lp_fp"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_fp")).as("s"))
        .select(col("doc_id"), col("n_bigrams"), avg.as("avg_ln_p"),
          (floor(exp(-avg) * 1000000 + 0.5) / lit(1.0e6)).as("perplexity"))
    },

    // ------------------------------------------------------------------
    // PMI collocation extraction — top-50 word pairs that co-occur far
    // more than chance (ln(c12·N / (c1·c2))), the classic multi-word-
    // expression miner. All counts are exact integers; the PMI double
    // is the identical expression on both engines, and the final
    // ordering carries (pmi, w1, w2) so ties are pinned. The top-50 is
    // a global orderBy+limit → per-partition top-k merged at the
    // driver (TakeOrdered), never a full sort. The c1 join shares
    // text_bigram_lm's stopword-skew profile — covered by AQE skew
    // splitting / Skew.saltedJoin (SURVEY §6's Zipfian stress shape).
    "text_pmi_collocations" -> QueryDef.withOracle(
      s"""WITH t AS (SELECT ${toksSql("text")} AS toks FROM documents),
         |b AS (
         |  SELECT toks[i] AS w1, toks[i+1] AS w2
         |  FROM (SELECT unnest(range(1, len(toks))) AS i, toks
         |        FROM t WHERE len(toks) >= 2)),
         |big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM b GROUP BY 1, 2),
         |lc AS (SELECT w1 AS w, CAST(count(*) AS BIGINT) AS cl FROM b GROUP BY 1),
         |rc AS (SELECT w2 AS w, CAST(count(*) AS BIGINT) AS cr FROM b GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM b)
         |SELECT big.w1, big.w2, big.c12,
         |  round(ln(big.c12 * 1.0 * tot.nb / (lc.cl * rc.cr)), 6) AS pmi
         |FROM big JOIN lc ON lc.w = big.w1 JOIN rc ON rc.w = big.w2
         |CROSS JOIN tot
         |WHERE big.c12 >= 5
         |ORDER BY pmi DESC, big.w1 ASC, big.w2 ASC LIMIT 50""".stripMargin) { (s, dir) =>
      val t = Tables.documents(s, dir)
        .select(tokens(col("text")).as("toks"))
        .persist() // barrier: keep the regexp out of the bigram lambda
      val b = t.filter(size(col("toks")) >= 2)
        .select(explode(transform(
          sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2")))).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      val big = b.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 5) // prune BEFORE the unigram joins
      val lc = b.groupBy(col("w1")).agg(count(lit(1)).as("cl"))
      val rc = b.groupBy(col("w2")).agg(count(lit(1)).as("cr"))
      val tot = b.agg(count(lit(1)).as("nb"))
      big.join(lc, Seq("w1")).join(rc, Seq("w2")).crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"), col("c12"),
          round(log(col("c12") * lit(1.0) * col("nb") / (col("cl") * col("cr"))), 6)
            .as("pmi"))
        .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
        .limit(50)
    },

    // ------------------------------------------------------------------
    // Token-distribution entropy + type-token ratio — the lexical-
    // diversity quality signal (low entropy = TEMPLATED/SPAMMY text,
    // used alongside text_repetition as a pretraining filter). All
    // row-local higher-order-function work: the per-doc distribution
    // is computed inside the row (distinct tokens × occurrence counts),
    // so the operator is a pure narrow map — zero shuffle, linear in
    // corpus bytes. Per-term doubles are identical on both engines;
    // the ≤|vocab|-term sum is rounded at 9 dp, far above the 1e-15
    // accumulation-order noise.
    "text_entropy" -> QueryDef.withOracle(
      s"""WITH t AS (
         |  SELECT doc_id, ${toksSql("text")} AS toks FROM documents
         |  WHERE len(${toksSql("text")}) > 0),
         |e AS (
         |  SELECT doc_id, len(toks) AS n_tokens, list_distinct(toks) AS types, toks
         |  FROM t)
         |SELECT doc_id,
         |  CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(len(types) AS BIGINT) AS n_types,
         |  round(len(types) * 1.0 / n_tokens, 9) AS ttr,
         |  round(list_sum(list_transform(types, tk ->
         |    -(len(list_filter(toks, x -> x = tk)) * 1.0 / n_tokens) *
         |     ln(len(list_filter(toks, x -> x = tk)) * 1.0 / n_tokens))), 9) AS entropy,
         |  CASE WHEN len(types) > 1
         |    THEN round(list_sum(list_transform(types, tk ->
         |      -(len(list_filter(toks, x -> x = tk)) * 1.0 / n_tokens) *
         |       ln(len(list_filter(toks, x -> x = tk)) * 1.0 / n_tokens)))
         |      / ln(len(types)), 9)
         |    ELSE 0.0 END AS norm_entropy
         |FROM e""".stripMargin) { (s, dir) =>
      val n = size(col("toks")).cast(LongType)
      def cnt(tk: Column): Column = size(filter(col("toks"), x => x === tk))
      def term(tk: Column): Column = {
        val p = cnt(tk) * lit(1.0) / n
        -p * log(p)
      }
      val ent = aggregate(col("types"), lit(0.0), (acc, tk) => acc + term(tk))
      Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .filter(size(col("toks")) > 0)
        .select(col("doc_id"), col("toks"), array_distinct(col("toks")).as("types"))
        .select(
          col("doc_id"),
          n.as("n_tokens"),
          size(col("types")).cast(LongType).as("n_types"),
          round(size(col("types")) * lit(1.0) / n, 9).as("ttr"),
          round(ent, 9).as("entropy"),
          when(size(col("types")) > 1, round(ent / log(size(col("types"))), 9))
            .otherwise(lit(0.0)).as("norm_entropy"))
    },

    // ------------------------------------------------------------------
    // Corpus-frequency boilerplate removal (the CCNet/RefinedWeb move):
    // chunk each doc into fixed 10-token segments, count how many
    // DISTINCT docs each normalized segment appears in, drop segments
    // seen in ≥ 3 docs, and re-emit the cleaned text with surviving
    // segments in original order. Scale shape: the document-frequency
    // count and the boilerplate join are keyed on a 60-bit md5 segment
    // hash (8 bytes through the exchange, never the segment string);
    // count-distinct partial-aggregates map-side; reassembly is one
    // doc_id-keyed agg — the unavoidable shuffle of any corpus rewrite.
    // The boilerplate relation stays keyed (never broadcast): its
    // cardinality is corpus-dependent and unbounded in principle.
    "text_boilerplate_segments" -> QueryDef.withOracle(
      s"""WITH t AS (
         |  SELECT doc_id, ${toksSql("text")} AS toks FROM documents
         |  WHERE len(${toksSql("text")}) > 0),
         |sj AS (
         |  SELECT doc_id, unnest(range(0, (len(toks) + 9) // 10)) AS j, toks
         |  FROM t),
         |segs AS (
         |  SELECT doc_id, j,
         |    array_to_string(toks[j*10+1:j*10+10], ' ') AS seg,
         |    ('0x' || substr(md5(array_to_string(toks[j*10+1:j*10+10], ' ')), 1, 15))::BIGINT AS seg_h
         |  FROM sj),
         |bl AS (
         |  SELECT seg_h FROM (
         |    SELECT seg_h, count(DISTINCT doc_id) AS df FROM segs GROUP BY seg_h)
         |  WHERE df >= 3)
         |SELECT s.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_segments,
         |  CAST(count(*) FILTER (WHERE b.seg_h IS NULL) AS BIGINT) AS n_kept,
         |  CAST(count(*) FILTER (WHERE b.seg_h IS NOT NULL) AS BIGINT) AS n_dropped,
         |  coalesce(string_agg(s.seg, ' ' ORDER BY s.j) FILTER (WHERE b.seg_h IS NULL), '') AS clean_text
         |FROM segs s LEFT JOIN bl b ON b.seg_h = s.seg_h
         |GROUP BY s.doc_id""".stripMargin) { (s, dir) =>
      val segLen = 10
      val dfCap = 3
      val nseg = floor((size(col("toks")) + lit(segLen - 1)) / lit(segLen)).cast(IntegerType)
      val segs = Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .filter(size(col("toks")) > 0)
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(0), nseg - 1),
          j => array_join(slice(col("toks"), j * segLen + 1, lit(segLen)), " "))).as(Seq("j", "seg")))
        .withColumn("seg_h",
          conv(substring(md5(col("seg").cast(BinaryType)), 1, 15), 16, 10).cast(LongType))
      val bl = segs.groupBy(col("seg_h"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= dfCap)
        .select(col("seg_h"), lit(true).as("is_bl"))
      segs.join(bl, Seq("seg_h"), "left")
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_segments"),
          count(when(col("is_bl").isNull, 1)).as("n_kept"),
          count(col("is_bl")).as("n_dropped"),
          array_join(transform(
            sort_array(collect_list(when(col("is_bl").isNull,
              struct(col("j"), col("seg"))))),
            p => p.getField("seg")), " ").as("clean_text"))
    },

    // ------------------------------------------------------------------
    // Flesch-style readability scoring: words/sentence and a
    // vowel-group syllable proxy per word feed the standard reading-
    // ease formula — the document-quality signal curriculum filters
    // sort on. Entirely row-local regexp counting (both engines count
    // the same '[aeiouy]+' groups and '[.!?]+' terminators), zero
    // shuffle; the score is the identical double expression rounded.
    "text_readability" -> QueryDef.withOracle(
      s"""SELECT doc_id,
         |  CAST(nw AS BIGINT) AS n_words, CAST(ns AS BIGINT) AS n_sentences,
         |  CAST(nsyl AS BIGINT) AS n_syllables,
         |  round(206.835 - 1.015 * (CAST(nw AS DOUBLE) / ns)
         |    - 84.6 * (CAST(nsyl AS DOUBLE) / nw), 9) AS flesch
         |FROM (
         |  SELECT doc_id,
         |    len(${toksSql("text")}) AS nw,
         |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS ns,
         |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS nsyl
         |  FROM documents)
         |WHERE nw > 0""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(tokens(col("text"))).as("nw"),
          greatest(size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))),
            lit(1)).as("ns"),
          size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
            .as("nsyl"))
        .filter(col("nw") > 0)
        .select(col("doc_id"),
          col("nw").cast(LongType).as("n_words"),
          col("ns").cast(LongType).as("n_sentences"),
          col("nsyl").cast(LongType).as("n_syllables"),
          round(lit(206.835)
            - lit(1.015) * (col("nw").cast(DoubleType) / col("ns"))
            - lit(84.6) * (col("nsyl").cast(DoubleType) / col("nw")), 9)
            .as("flesch"))
    },

    // ------------------------------------------------------------------
    // Zipf-law fit over the top-200 token ranks: least-squares slope of
    // ln(count) on ln(rank) — the corpus-health check (natural text fits
    // ≈ −1; templated/boilerplate corpora flatten). The count table is
    // one map-side-combined agg; the top-200 is orderBy+limit
    // (TakeOrdered, per-partition top-k — the text_pmi discipline), and
    // the regression moments are fixed-point longs summed exactly, so
    // no cross-engine float-sum order dependence; the closed-form slope
    // then runs on identical exact-long-derived doubles both engines.
    "text_zipf_fit" -> QueryDef.withOracle(
      s"""WITH c AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS n FROM (
         |    SELECT unnest(${toksSql("text")}) AS tok FROM documents)
         |  GROUP BY tok ORDER BY n DESC, tok ASC LIMIT 200),
         |r AS (
         |  SELECT n, row_number() OVER (ORDER BY n DESC, tok ASC) AS rank FROM c),
         |m AS (
         |  SELECT count(*) AS k,
         |    sum(CAST(floor(ln(rank) * 1000000 + 0.5) AS BIGINT)) AS sx,
         |    sum(CAST(floor(ln(n) * 1000000 + 0.5) AS BIGINT)) AS sy,
         |    sum(CAST(floor(ln(rank) * ln(rank) * 1000000 + 0.5) AS BIGINT)) AS sxx,
         |    sum(CAST(floor(ln(rank) * ln(n) * 1000000 + 0.5) AS BIGINT)) AS sxy
         |  FROM r)
         |SELECT CAST(k AS BIGINT) AS n_ranks,
         |  round((k * (sxy / 1.0e6) - (sx / 1.0e6) * (sy / 1.0e6))
         |      / (k * (sxx / 1.0e6) - (sx / 1.0e6) * (sx / 1.0e6)), 9) AS slope,
         |  round((sy / 1.0e6 - ((k * (sxy / 1.0e6) - (sx / 1.0e6) * (sy / 1.0e6))
         |      / (k * (sxx / 1.0e6) - (sx / 1.0e6) * (sx / 1.0e6))) * (sx / 1.0e6))
         |      / k, 9) AS intercept
         |FROM m""".stripMargin) { (s, dir) =>
      val top = Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok").asc)
        .limit(200)
      // rank window rides the 200-row bookkeeping relation
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("n").desc, col("tok").asc)
      val lx = log(col("rank").cast(DoubleType))
      val ly = log(col("n").cast(DoubleType))
      def fp(c: Column): Column = floor(c * 1000000 + 0.5).cast(LongType)
      val m = top.withColumn("rank", row_number().over(w))
        .agg(count(lit(1)).as("k"),
          sum(fp(lx)).as("sx"), sum(fp(ly)).as("sy"),
          sum(fp(lx * lx)).as("sxx"), sum(fp(lx * ly)).as("sxy"))
      val slope = (col("k") * (col("sxy") / 1.0e6)
        - (col("sx") / 1.0e6) * (col("sy") / 1.0e6)) /
        (col("k") * (col("sxx") / 1.0e6) - (col("sx") / 1.0e6) * (col("sx") / 1.0e6))
      m.select(col("k").as("n_ranks"),
        round(slope, 9).as("slope"),
        round((col("sy") / 1.0e6 - slope * (col("sx") / 1.0e6)) / col("k"), 9)
          .as("intercept"))
    },

    // ------------------------------------------------------------------
    // Vocabulary growth per source + a Heaps'-law exponent across
    // sources (V ≈ k·Nᵝ — the corpus-health check that vocabulary
    // grows sublinearly; β drifting toward 1 means near-random text,
    // the BPE vocab-bound claim breaking down). ONE (source, token)
    // shuffle gives both totals and distinct counts; the log-log OLS
    // rides the |sources|-row relation with per-point lns snapped to
    // ×10⁶ fixed point BEFORE the moment sums (the text_zipf_fit
    // discipline — engine ln() differs in last ulps; snapped longs
    // make every cross-term exact).
    "text_vocab_growth" -> QueryDef.withOracle(
      s"""WITH tok AS (
         |  SELECT source, unnest(${toksSql("text")}) AS tok FROM documents),
         |g AS (SELECT source, tok, count(*) AS c FROM tok GROUP BY source, tok),
         |s AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
         |             CAST(count(*) AS BIGINT) AS n_types
         |      FROM g GROUP BY source),
         |f AS (SELECT source, n_tokens, n_types,
         |  CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS u,
         |  CAST(floor(ln(CAST(n_types AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS w
         |  FROM s),
         |b AS (SELECT CAST(count(*) AS BIGINT) AS m,
         |  CAST(sum(u * w) AS BIGINT) AS suw, CAST(sum(u) AS BIGINT) AS su,
         |  CAST(sum(w) AS BIGINT) AS sw, CAST(sum(u * u) AS BIGINT) AS suu
         |  FROM f)
         |SELECT f.source, f.n_tokens, f.n_types,
         |  CAST(floor(CAST(f.n_types AS DOUBLE) * 1000000000 / f.n_tokens + 0.5)
         |    AS BIGINT) / 1.0e9 AS ttr,
         |  CAST(floor(CAST(b.m * b.suw - b.su * b.sw AS DOUBLE) * 1000000000
         |      / (b.m * b.suu - b.su * b.su) + 0.5) AS BIGINT) / 1.0e9
         |    AS heaps_beta
         |FROM f CROSS JOIN b""".stripMargin) { (s, dir) =>
      val g = Tables.documents(s, dir)
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      val st = g.groupBy(col("source"))
        .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"))
      def lnFp(c: Column): Column =
        floor(log(c.cast(DoubleType)) * 1000000 + 0.5).cast(LongType)
      val f = st.select(col("source"), col("n_tokens"), col("n_types"),
        lnFp(col("n_tokens")).as("u"), lnFp(col("n_types")).as("w"))
        .persist() // |sources|-row bookkeeping; per-source rows + the fit
      val b = f.agg(count(lit(1)).as("m"),
        sum(col("u") * col("w")).as("suw"), sum(col("u")).as("su"),
        sum(col("w")).as("sw"), sum(col("u") * col("u")).as("suu"))
      f.crossJoin(broadcast(b))
        .select(col("source"), col("n_tokens"), col("n_types"),
          (floor(col("n_types").cast(DoubleType) * lit(1.0e9) / col("n_tokens")
            + lit(0.5)).cast(LongType) / lit(1.0e9)).as("ttr"),
          (floor((col("m") * col("suw") - col("su") * col("sw")).cast(DoubleType)
            * lit(1.0e9) / (col("m") * col("suu") - col("su") * col("su"))
            + lit(0.5)).cast(LongType) / lit(1.0e9)).as("heaps_beta"))
    },

    // ------------------------------------------------------------------
    // Feature-hashed term frequencies (the "hashing trick") — the
    // fixed-width bag-of-words featurization a quality classifier or
    // cheap similarity model consumes when the vocabulary is unbounded.
    // Bucket = first 2 hex chars of md5(token) mod 64 (md5 is the
    // engine-portable hash of the round-3 protocol, so the oracle lands
    // in identical buckets). Emitted as sparse (doc_id, bucket, tf)
    // rows, NOT a dense array — at 100 TB the sparse form is what a
    // trainer shards on, and it keeps the whole plan one explode + one
    // map-side-combined groupBy with nothing corpus-scale in a window.
    "text_hashing_tf" -> QueryDef.withOracle(
      s"""SELECT doc_id,
         |  CAST(('0x' || substring(md5(tok), 1, 2))::BIGINT % 64 AS BIGINT)
         |    AS bucket,
         |  CAST(count(*) AS BIGINT) AS tf
         |FROM (SELECT doc_id, unnest(${toksSql("text")}) AS tok
         |      FROM documents)
         |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .select(col("doc_id"),
          (conv(substring(md5(col("tok").cast(BinaryType)), 1, 2), 16, 10)
            .cast(LongType) % 64).as("bucket"))
        .groupBy(col("doc_id"), col("bucket"))
        .agg(count(lit(1)).as("tf"))
    },

    // ------------------------------------------------------------------
    // Code-vs-prose detection — the corpus-routing screen an LLM data
    // pipeline runs before language ID (code gets a different quality
    // model and dedup granularity). Pure row-local heuristics over
    // public signals: code-symbol density ({}[];=<>), digit density,
    // and code-keyword token rate — all computed with codegen'd
    // string/array functions, zero shuffle before the output, so the
    // operator is bandwidth-bound at any corpus size. Thresholds are
    // fixed constants; every ratio is fixed-point-rounded so the oracle
    // can mirror the arithmetic bit-for-bit.
    "text_code_detect" -> QueryDef.withOracle(
      s"""WITH m AS (
         |  SELECT doc_id,
         |    length(text) AS n_chars,
         |    length(text) - length(regexp_replace(text,
         |      '[\\[\\]{}();=<>]', '', 'g')) AS n_sym,
         |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
         |      AS n_digit,
         |    CAST(len(${toksSql("text")}) AS BIGINT) AS n_toks,
         |    CAST(len(list_filter(${toksSql("text")}, x -> x IN
         |      ('if', 'else', 'for', 'while', 'return', 'def', 'var',
         |       'int', 'void', 'import'))) AS BIGINT) AS kw_hits
         |  FROM documents WHERE length(text) > 0),
         |sc AS (
         |  SELECT doc_id, n_chars, kw_hits,
         |    floor(CAST(n_sym AS DOUBLE) / n_chars * 1000000000 + 0.5)
         |      / 1.0e9 AS sym_ratio,
         |    floor(CAST(n_digit AS DOUBLE) / n_chars * 1000000000 + 0.5)
         |      / 1.0e9 AS digit_ratio,
         |    floor((0.5 * (CAST(n_sym AS DOUBLE) / n_chars)
         |         + 0.2 * (CAST(n_digit AS DOUBLE) / n_chars)
         |         + 0.3 * (CASE WHEN n_toks > 0
         |             THEN CAST(kw_hits AS DOUBLE) / n_toks ELSE 0 END))
         |      * 1000000000 + 0.5) / 1.0e9 AS code_score
         |  FROM m)
         |SELECT doc_id, n_chars, kw_hits, sym_ratio, digit_ratio, code_score,
         |  CAST(CASE WHEN code_score >= 0.05 THEN 1 ELSE 0 END AS BIGINT)
         |    AS is_code
         |FROM sc""".stripMargin) { (s, dir) =>
      val t = col("text")
      val nChars = length(t).cast(LongType)
      val nSym = (length(t) - length(regexp_replace(t, "[\\[\\]{}();=<>]", "")))
        .cast(LongType)
      val nDigit = (length(t) - length(regexp_replace(t, "[0-9]", "")))
        .cast(LongType)
      val toks = tokens(t)
      val kw = typedLit(Seq("if", "else", "for", "while", "return", "def",
        "var", "int", "void", "import"))
      val kwHits = size(filter(toks, x => array_contains(kw, x))).cast(LongType)
      val fp = (c: Column) => floor(c * lit(1.0e9) + lit(0.5)) / lit(1.0e9)
      Tables.documents(s, dir)
        .filter(length(t) > 0)
        .select(col("doc_id"), nChars.as("n_chars"), nSym.as("n_sym"),
          nDigit.as("n_digit"), size(toks).cast(LongType).as("n_toks"),
          kwHits.as("kw_hits"))
        .select(col("doc_id"), col("n_chars"), col("kw_hits"),
          fp(col("n_sym").cast(DoubleType) / col("n_chars")).as("sym_ratio"),
          fp(col("n_digit").cast(DoubleType) / col("n_chars")).as("digit_ratio"),
          fp(lit(0.5) * (col("n_sym").cast(DoubleType) / col("n_chars"))
            + lit(0.2) * (col("n_digit").cast(DoubleType) / col("n_chars"))
            + lit(0.3) * when(col("n_toks") > 0,
                col("kw_hits").cast(DoubleType) / col("n_toks"))
              .otherwise(lit(0.0))).as("code_score"))
        .withColumn("is_code",
          when(col("code_score") >= 0.05, 1L).otherwise(0L))
    },

    // ------------------------------------------------------------------
    // Per-document n-gram novelty: the fraction of a doc's distinct
    // 3-gram shingles that appear in NO other document — the uniqueness
    // signal data-curation pipelines rank on (the inverse of
    // text_boilerplate_segments' template signal). Rides the SHARED
    // shingle cache (Dedup.shingled), shuffles 8-byte 60-bit md5 hashes
    // rather than shingle strings (the boilerplate discipline), and is
    // one explode + one hash-keyed document-frequency agg + one join
    // back — every stage corpus-linear, df partial-aggregates map-side.
    "text_ngram_novelty" -> QueryDef.withOracle(
      s"""WITH s AS (${graft.operators.Dedup.shingleSql}),
         |e AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(sh_el), 1, 15))::BIGINT AS h
         |  FROM (SELECT doc_id, unnest(sh) AS sh_el FROM s)),
         |df AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM e GROUP BY h)
         |SELECT e.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_unique,
         |  floor(CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |      / count(*) * 1000000000 + 0.5) / 1.0e9 AS novelty
         |FROM e JOIN df ON df.h = e.h
         |GROUP BY e.doc_id""".stripMargin) { (s, dir) =>
      val e = Dedup.shingled(s, dir)
        .select(col("doc_id"), explode(col("sh")).as("sh_el"))
        .select(col("doc_id"),
          conv(substring(md5(col("sh_el").cast(BinaryType)), 1, 15), 16, 10)
            .cast(LongType).as("h"))
        .persist() // feeds the df agg and the join back
      val df = e.groupBy(col("h")).agg(count(lit(1)).as("df"))
      e.join(df, Seq("h"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
        .select(col("doc_id"), col("n_shingles"), col("n_unique"),
          (floor(col("n_unique").cast(DoubleType) / col("n_shingles")
            * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("novelty"))
    },

    // ------------------------------------------------------------------
    // Jensen-Shannon divergence between every source pair's unigram
    // distribution — the corpus-drift screen run before mixing sources
    // into one training set (JSD is symmetric and bounded by ln 2,
    // unlike KL). ONE (source, token) count shuffle; the vocab-keyed
    // relation then pairs each token's ≤|sources| counts against the
    // 10-row broadcast pair table ROW-LOCALLY (a constant ×|pairs|
    // blowup of the vocab relation, never of the corpus); per-token
    // terms snap to ×10⁹ exact longs before the pair sum (the ln
    // discipline), so the corpus-scale accumulation is order-invariant.
    "text_js_divergence" -> QueryDef.withOracle(
      s"""WITH c AS (
         |  SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT source, unnest(${toksSql("text")}) AS tok
         |        FROM documents)
         |  GROUP BY 1, 2),
         |tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n
         |        FROM c GROUP BY source),
         |p AS (
         |  SELECT a.source AS sa, a.n AS na, b.source AS sb, b.n AS nb
         |  FROM tot a JOIN tot b ON a.source < b.source),
         |v AS (SELECT DISTINCT tok FROM c),
         |j AS (
         |  SELECT p.sa, p.sb, p.na, p.nb,
         |    coalesce(ca.cnt, 0) AS ca, coalesce(cb.cnt, 0) AS cb
         |  FROM p CROSS JOIN v
         |  LEFT JOIN c ca ON ca.source = p.sa AND ca.tok = v.tok
         |  LEFT JOIN c cb ON cb.source = p.sb AND cb.tok = v.tok),
         |t AS (
         |  SELECT sa, sb,
         |    CASE WHEN ca > 0 OR cb > 0 THEN 1 ELSE 0 END AS present,
         |    CAST(floor((
         |      (CASE WHEN ca > 0 THEN (CAST(ca AS DOUBLE) / na)
         |        * ln((CAST(ca AS DOUBLE) / na)
         |          / ((CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb) / 2))
         |        ELSE 0 END)
         |      + (CASE WHEN cb > 0 THEN (CAST(cb AS DOUBLE) / nb)
         |        * ln((CAST(cb AS DOUBLE) / nb)
         |          / ((CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb) / 2))
         |        ELSE 0 END)) * 1000000000 + 0.5) AS BIGINT) AS term_fp
         |  FROM j)
         |SELECT sa AS source_a, sb AS source_b,
         |  CAST(sum(present) AS BIGINT) AS n_union_tokens,
         |  CAST(sum(term_fp) AS BIGINT) / 2.0 / 1000000000 AS jsd
         |FROM t GROUP BY sa, sb""".stripMargin) { (s, dir) =>
      val c = Tables.documents(s, dir)
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("cnt"))
        .persist() // vocab-sized; feeds totals and the per-token map
      val tot = c.groupBy(col("source")).agg(sum(col("cnt")).as("n"))
      val pairs = tot.select(col("source").as("sa"), col("n").as("na"))
        .join(tot.select(col("source").as("sb"), col("n").as("nb")),
          col("sa") < col("sb"))
      val perTok = c.groupBy(col("tok"))
        .agg(map_from_entries(collect_list(struct(col("source"), col("cnt"))))
          .as("m"))
      val ca = coalesce(element_at(col("m"), col("sa")), lit(0L))
      val cb = coalesce(element_at(col("m"), col("sb")), lit(0L))
      val pa = ca.cast(DoubleType) / col("na")
      val pb = cb.cast(DoubleType) / col("nb")
      val mid = (ca.cast(DoubleType) / col("na")
        + cb.cast(DoubleType) / col("nb")) / lit(2)
      val term = when(ca > 0, pa * log(pa / mid)).otherwise(lit(0.0)) +
        when(cb > 0, pb * log(pb / mid)).otherwise(lit(0.0))
      perTok.crossJoin(broadcast(pairs))
        .select(col("sa"), col("sb"),
          when(ca > 0 || cb > 0, 1L).otherwise(0L).as("present"),
          floor(term * lit(1.0e9) + lit(0.5)).cast(LongType).as("term_fp"))
        .groupBy(col("sa"), col("sb"))
        .agg(sum(col("present")).as("n_union_tokens"),
          sum(col("term_fp")).as("s"))
        .select(col("sa").as("source_a"), col("sb").as("source_b"),
          col("n_union_tokens"),
          (col("s").cast(DoubleType) / lit(2.0) / lit(1000000000L))
            .as("jsd"))
    },

    // ------------------------------------------------------------------
    // Lexical diversity per document: type-token ratio and the
    // UNBIASED Simpson repeat concentration Σ c(c−1) / n(n−1) — the
    // pair-sampling probability that two tokens drawn without
    // replacement are the same word. Low TTR / high Simpson = the
    // looping-generation degeneracy text_repetition screens at the
    // n-gram level, here at the unigram level with an exact-integer
    // statistic (all sums are BIGINTs, only the final ratio snaps).
    // One explode + (doc, token)-keyed count (high-cardinality, the
    // tfidf shuffle shape) + one doc-keyed agg.
    "text_lexical_diversity" -> QueryDef.withOracle(
      s"""WITH c AS (
         |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c FROM (
         |    SELECT doc_id, unnest(${toksSql("text")}) AS tok FROM documents)
         |  GROUP BY doc_id, tok),
         |a AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |    CAST(count(*) AS BIGINT) AS n_types,
         |    CAST(sum(c * (c - 1)) AS BIGINT) AS rep_pairs
         |  FROM c GROUP BY doc_id)
         |SELECT doc_id, n_tokens, n_types,
         |  floor(CAST(n_types AS DOUBLE) / n_tokens * 1000000000 + 0.5)
         |    / 1.0e9 AS ttr,
         |  CASE WHEN n_tokens >= 2 THEN
         |    floor(CAST(rep_pairs AS DOUBLE)
         |      / (CAST(n_tokens AS DOUBLE) * (n_tokens - 1))
         |      * 1000000000 + 0.5) / 1.0e9
         |  END AS simpson
         |FROM a WHERE n_tokens >= 1""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(col("c") * (col("c") - 1)).as("rep_pairs"))
        .filter(col("n_tokens") >= 1)
        .select(col("doc_id"), col("n_tokens"), col("n_types"),
          (floor(col("n_types").cast(DoubleType) / col("n_tokens")
            * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("ttr"),
          when(col("n_tokens") >= 2,
            floor(col("rep_pairs").cast(DoubleType)
              / (col("n_tokens").cast(DoubleType) * (col("n_tokens") - 1))
              * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("simpson"))
    },

    // ------------------------------------------------------------------
    // Stopword coverage per document — the cheap fluency prior: natural
    // prose carries 25–45% function words, while keyword-stuffed spam
    // and boilerplate lists sit far outside that band. Fully row-local
    // (tokenize → filter against a broadcast-free literal array → two
    // sizes); the ratio is the quality-scoring feature, the band flag
    // is the filter decision a cleaning pass would apply.
    "text_stopword_coverage" -> QueryDef.withOracle(
      s"""WITH t AS (
         |  SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
         |a AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter(toks, x -> x IN
         |      ('the', 'a', 'an', 'of', 'and', 'or', 'to', 'in', 'is',
         |       'it', 'for', 'on', 'with', 'as', 'at', 'by'))) AS BIGINT)
         |      AS n_stop
         |  FROM t)
         |SELECT doc_id, n_tokens, n_stop,
         |  CASE WHEN n_tokens >= 1 THEN
         |    floor(CAST(n_stop AS DOUBLE) / n_tokens * 1000000000 + 0.5) / 1.0e9
         |  END AS stop_ratio,
         |  CASE WHEN n_tokens >= 1 THEN
         |    CAST(n_stop AS DOUBLE) / n_tokens BETWEEN 0.05 AND 0.6
         |  ELSE FALSE END AS in_band
         |FROM a""".stripMargin) { (s, dir) =>
      val stop = Seq("the", "a", "an", "of", "and", "or", "to", "in", "is",
        "it", "for", "on", "with", "as", "at", "by")
      val stopArr = array(stop.map(lit): _*)
      val ratio = col("n_stop").cast(DoubleType) / col("n_tokens")
      Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast(LongType).as("n_tokens"),
          size(filter(col("toks"),
            t => array_contains(stopArr, t))).cast(LongType).as("n_stop"))
        .select(col("doc_id"), col("n_tokens"), col("n_stop"),
          when(col("n_tokens") >= 1,
            floor(ratio * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("stop_ratio"),
          when(col("n_tokens") >= 1,
            ratio.between(0.05, 0.6)).otherwise(lit(false)).as("in_band"))
    },

    // ------------------------------------------------------------------
    // RAKE keyword extraction (Rose et al. 2010), corpus-pooled: split
    // token streams into candidate phrases at stopwords, score each
    // word by degree/frequency (degree = Σ length of phrases containing
    // it), phrase score = Σ word scores, report the corpus top-20.
    // Phrase ids are per-doc stopword prefix counts (ONE doc-keyed
    // window — doc-length-bounded partitions); phrases over 4 words are
    // dropped as candidates AND from the word statistics. The word-stat
    // join is keyed by NON-stopword tokens, so the 'the'-hub skew of
    // the bigram joins never appears. Word scores snap to exact ×10⁶
    // longs before the order-invariant phrase sum; top-20 is a global
    // orderBy+limit (TakeOrdered, never a full sort) with (score,
    // phrase) a unique tie-pinned key.
    "text_rake_keywords" -> QueryDef.withOracle(
      s"""WITH t AS (
         |  SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
         |p0 AS (
         |  SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, toks
         |  FROM t),
         |f AS (
         |  SELECT doc_id, pos, toks[pos] AS tok,
         |    toks[pos] IN
         |      ('the', 'a', 'an', 'of', 'and', 'or', 'to', 'in', 'is',
         |       'it', 'for', 'on', 'with', 'as', 'at', 'by') AS stop
         |  FROM p0),
         |pidt AS (
         |  SELECT doc_id, pos, tok, stop,
         |    sum(CASE WHEN stop THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY pos) AS pid
         |  FROM f),
         |w AS (SELECT doc_id, pid, pos, tok FROM pidt WHERE NOT stop),
         |ph AS (
         |  SELECT doc_id, pid, string_agg(tok, ' ' ORDER BY pos) AS phrase,
         |    CAST(count(*) AS BIGINT) AS plen
         |  FROM w GROUP BY doc_id, pid HAVING count(*) <= 4),
         |wf AS (
         |  SELECT w.doc_id, w.pid, w.tok, ph.plen
         |  FROM w JOIN ph ON ph.doc_id = w.doc_id AND ph.pid = w.pid),
         |ws AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS freq,
         |    CAST(sum(plen) AS BIGINT) AS deg
         |  FROM wf GROUP BY tok),
         |sc AS (
         |  SELECT tok,
         |    CAST(floor(CAST(deg AS DOUBLE) * 1000000 / freq) AS BIGINT) AS ws2
         |  FROM ws),
         |psc AS (
         |  SELECT wf.doc_id, wf.pid, CAST(sum(sc.ws2) AS BIGINT) AS score2
         |  FROM wf JOIN sc ON sc.tok = wf.tok GROUP BY wf.doc_id, wf.pid),
         |agg AS (
         |  SELECT ph.phrase, CAST(count(*) AS BIGINT) AS n_occ,
         |    max(psc.score2) AS score2
         |  FROM ph JOIN psc ON psc.doc_id = ph.doc_id AND psc.pid = ph.pid
         |  GROUP BY ph.phrase)
         |SELECT phrase, n_occ, CAST(score2 AS DOUBLE) / 1000000 AS score
         |FROM agg ORDER BY score2 DESC, phrase ASC LIMIT 20""".stripMargin
    ) { (s, dir) =>
      val stop = Seq("the", "a", "an", "of", "and", "or", "to", "in", "is",
        "it", "for", "on", "with", "as", "at", "by")
      val stopArr = array(stop.map(lit): _*)
      val f = Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          posexplode(col("toks")).as(Seq("pos0", "tok")))
        .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("tok"),
          array_contains(stopArr, col("tok")).as("stop"))
      val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val w = f
        .withColumn("pid",
          sum(when(col("stop"), 1L).otherwise(0L)).over(wDoc))
        .filter(!col("stop"))
        .select(col("doc_id"), col("pid"), col("pos"), col("tok"))
        .persist() // read by the phrase build AND the word statistics
      val ph = w.groupBy(col("doc_id"), col("pid"))
        .agg(array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("tok")))),
          e => e("tok")), " ").as("phrase"),
          count(lit(1)).as("plen"))
        .filter(col("plen") <= 4)
        .persist() // read by the word-stat join AND the final roll-up
      val wf = w.join(ph.select(col("doc_id"), col("pid"), col("plen")),
        Seq("doc_id", "pid"))
        .persist() // read by the word-score build AND the phrase sum
      val sc = wf.groupBy(col("tok"))
        .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
        .select(col("tok"),
          floor(col("deg").cast(DoubleType) * 1000000 / col("freq"))
            .cast(LongType).as("ws2"))
      val psc = wf.join(sc, Seq("tok"))
        .groupBy(col("doc_id"), col("pid"))
        .agg(sum(col("ws2")).as("score2"))
      ph.join(psc, Seq("doc_id", "pid"))
        .groupBy(col("phrase"))
        .agg(count(lit(1)).as("n_occ"), max(col("score2")).as("score2"))
        .orderBy(col("score2").desc, col("phrase").asc)
        .limit(20)
        .select(col("phrase"), col("n_occ"),
          (col("score2").cast(DoubleType) / 1000000).as("score"))
    },

    // ------------------------------------------------------------------
    // Tokenizer fertility per (lang × source) — the corpus-level
    // planning table behind every token-budget decision (how many
    // tokens a byte of each slice buys; a high-fertility slice burns
    // budget faster than its char share suggests). Aggregates the
    // text_token_estimate per-doc formula (words + length-based
    // subword splits + punctuation — exact integers) against exact
    // character counts in ONE keyed agg; fertility and its inverse
    // snap ×10⁹ from exact sums.
    "text_fertility" -> QueryDef.withOracle(
      s"""SELECT lang, source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
         |  CAST(sum(len(${toksSql("text")}) +
         |    list_sum(list_transform(${toksSql("text")},
         |      x -> (length(x) - 1) // 6)) +
         |    length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')))
         |    AS BIGINT) AS est_tokens,
         |  floor(CAST(sum(len(${toksSql("text")}) +
         |      list_sum(list_transform(${toksSql("text")},
         |        x -> (length(x) - 1) // 6)) +
         |      length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')))
         |      AS DOUBLE)
         |    / sum(length(text)) * 1000000000 + 0.5) / 1.0e9
         |    AS tokens_per_char,
         |  floor(CAST(sum(length(text)) AS DOUBLE)
         |    / sum(len(${toksSql("text")}) +
         |      list_sum(list_transform(${toksSql("text")},
         |        x -> (length(x) - 1) // 6)) +
         |      length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')))
         |    * 1000000000 + 0.5) / 1.0e9 AS chars_per_token
         |FROM documents
         |WHERE length(text) > 0 AND regexp_matches(text, '[a-zA-Z0-9]')
         |GROUP BY lang, source""".stripMargin) { (s, dir) =>
      val splits = aggregate(col("toks"), lit(0L),
        (acc, x) => acc + floor((length(x) - 1) / lit(6.0)).cast(LongType))
      val perDoc = Tables.documents(s, dir)
        .filter(length(col("text")) > 0 && col("text").rlike("[a-zA-Z0-9]"))
        .select(col("lang"), col("source"), length(col("text")).as("nc"),
          tokens(col("text")).as("toks"), col("text"))
        .select(col("lang"), col("source"), col("nc"),
          (size(col("toks")) + splits + length(regexp_replace(col("text"),
            "[a-zA-Z0-9\\s]", ""))).as("et"))
      val g = perDoc.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nc")).as("n_chars"), sum(col("et")).as("est_tokens"))
      g.select(col("lang"), col("source"), col("n_docs"), col("n_chars"),
        col("est_tokens"),
        (floor(col("est_tokens").cast(DoubleType) / col("n_chars")
          * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("tokens_per_char"),
        (floor(col("n_chars").cast(DoubleType) / col("est_tokens")
          * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("chars_per_token"))
    },

    // ------------------------------------------------------------------
    // Character-class / charset profile — the encoding-health screen a
    // crawl pipeline runs before language ID (mojibake, binary
    // spillage, and wrong-charset docs all show up as non-ASCII or
    // control-class anomalies long before any model sees the text).
    // Per doc: exact counts of ASCII letters / digits / whitespace /
    // other-ASCII / non-ASCII code points via length-difference under
    // class-stripping regexes (identical RE2/Java character classes),
    // ratios ×10⁹-snapped. Pure narrow map over the corpus — no
    // shuffle at all; the plan is a single projected scan.
    "text_charset_profile" -> QueryDef.withOracle(
      """SELECT doc_id, n_chars, n_alpha, n_digit, n_space, n_ascii_other,
        |  n_nonascii,
        |  floor(CAST(n_alpha AS DOUBLE) / n_chars * 1e9 + 0.5) / 1.0e9
        |    AS alpha_frac,
        |  floor(CAST(n_nonascii AS DOUBLE) / n_chars * 1e9 + 0.5) / 1.0e9
        |    AS nonascii_frac
        |FROM (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
        |      AS BIGINT) AS n_alpha,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
        |      AS BIGINT) AS n_digit,
        |    CAST(length(text) - length(regexp_replace(text, '[\s]', '', 'g'))
        |      AS BIGINT) AS n_space,
        |    CAST(length(regexp_replace(text,
        |      '[A-Za-z0-9\s]|[^\x00-\x7F]', '', 'g')) AS BIGINT)
        |      AS n_ascii_other,
        |    CAST(length(text) - length(regexp_replace(text, '[^\x00-\x7F]',
        |      '', 'g')) AS BIGINT) AS n_nonascii
        |  FROM documents WHERE length(text) > 0)""".stripMargin) { (s, dir) =>
      def stripped(cls: String) =
        (length(col("text")) - length(regexp_replace(col("text"), cls, "")))
          .cast(LongType)
      val base = Tables.documents(s, dir)
        .filter(length(col("text")) > 0)
        .select(col("doc_id"),
          length(col("text")).cast(LongType).as("n_chars"),
          stripped("[A-Za-z]").as("n_alpha"),
          stripped("[0-9]").as("n_digit"),
          stripped("[\\s]").as("n_space"),
          length(regexp_replace(col("text"), "[A-Za-z0-9\\s]|[^\\x00-\\x7F]", ""))
            .cast(LongType).as("n_ascii_other"),
          stripped("[^\\x00-\\x7F]").as("n_nonascii"))
      base.select(col("doc_id"), col("n_chars"), col("n_alpha"), col("n_digit"),
        col("n_space"), col("n_ascii_other"), col("n_nonascii"),
        (floor(col("n_alpha").cast(DoubleType) / col("n_chars") * lit(1.0e9)
          + 0.5) / lit(1.0e9)).as("alpha_frac"),
        (floor(col("n_nonascii").cast(DoubleType) / col("n_chars") * lit(1.0e9)
          + 0.5) / lit(1.0e9)).as("nonascii_frac"))
    },

    // ------------------------------------------------------------------
    // Token frequency spectrum + Chao1 richness + Good-Turing discounts
    // — the "how much vocabulary haven't we seen yet" corpus-planning
    // numbers (Chao1 = D + f₁²/(2f₂) lower-bounds the TRUE vocabulary
    // from singleton/doubleton counts; Good-Turing r* = (r+1)f_{r+1}/f_r
    // is the smoothing mass every n-gram LM needs). TWO map-side-
    // combinable aggs: corpus → per-token counts → frequency-of-
    // frequencies (rows = |distinct counts|, Zipf-bounded); the
    // spectrum head f₁..f₅, the estimators, and the coverage estimate
    // 1 − f₁/N all assemble from exact integers on the 1-row relation.
    "text_freq_spectrum" -> QueryDef.withOracle(
      s"""WITH tok AS (
         |  SELECT unnest(${toksSql("text")}) AS tok FROM documents),
         |tc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY tok),
         |ff AS (SELECT c, CAST(count(*) AS BIGINT) AS f FROM tc GROUP BY c),
         |s AS (
         |  SELECT
         |    CAST(sum(f) AS BIGINT) AS d,
         |    CAST(sum(c * f) AS BIGINT) AS n,
         |    CAST(coalesce(max(CASE WHEN c = 1 THEN f END), 0) AS BIGINT) AS f1,
         |    CAST(coalesce(max(CASE WHEN c = 2 THEN f END), 0) AS BIGINT) AS f2,
         |    CAST(coalesce(max(CASE WHEN c = 3 THEN f END), 0) AS BIGINT) AS f3,
         |    CAST(coalesce(max(CASE WHEN c = 4 THEN f END), 0) AS BIGINT) AS f4,
         |    CAST(coalesce(max(CASE WHEN c = 5 THEN f END), 0) AS BIGINT) AS f5
         |  FROM ff)
         |SELECT d AS distinct_tokens, n AS total_tokens, f1, f2, f3, f4, f5,
         |  floor((d + CAST(f1 AS DOUBLE) * f1 / (2.0 * greatest(f2, 1))) * 1e6
         |    + 0.5) / 1.0e6 AS chao1,
         |  floor((1 - CAST(f1 AS DOUBLE) / n) * 1e9 + 0.5) / 1.0e9
         |    AS coverage,
         |  floor(2.0 * f2 / greatest(f1, 1) * 1e9 + 0.5) / 1.0e9 AS gt_r1_star,
         |  floor(3.0 * f3 / greatest(f2, 1) * 1e9 + 0.5) / 1.0e9 AS gt_r2_star
         |FROM s""".stripMargin) { (s, dir) =>
      val tc = Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val ff = tc.groupBy(col("c")).agg(count(lit(1)).as("f"))
      def fk(k: Int) = coalesce(max(when(col("c") === k, col("f"))), lit(0L))
        .as(s"f$k")
      val st = ff.agg(sum(col("f")).as("d"), sum(col("c") * col("f")).as("n"),
        fk(1), fk(2), fk(3), fk(4), fk(5))
      st.select(col("d").as("distinct_tokens"), col("n").as("total_tokens"),
        col("f1"), col("f2"), col("f3"), col("f4"), col("f5"),
        (floor((col("d") + col("f1").cast(DoubleType) * col("f1")
          / (lit(2.0) * greatest(col("f2"), lit(1L)))) * lit(1.0e6) + 0.5)
          / lit(1.0e6)).as("chao1"),
        (floor((lit(1) - col("f1").cast(DoubleType) / col("n")) * lit(1.0e9)
          + 0.5) / lit(1.0e9)).as("coverage"),
        (floor(lit(2.0) * col("f2") / greatest(col("f1"), lit(1L)) * lit(1.0e9)
          + 0.5) / lit(1.0e9)).as("gt_r1_star"),
        (floor(lit(3.0) * col("f3") / greatest(col("f2"), lit(1L)) * lit(1.0e9)
          + 0.5) / lit(1.0e9)).as("gt_r2_star"))
    },

    // ------------------------------------------------------------------
    // Language-ID confusion matrix + accuracy — the eval harness for
    // text_langid against the table's labeled `lang` column (the
    // "measure, don't guess" table for the classifier family, like
    // ann_recall_eval for ANN): per (true, predicted) cell the count
    // and its share of the true class (row-normalized = per-class
    // recall on the diagonal), plus overall accuracy on every row.
    // Consumes the text_langid OPERATOR (single scoring source); the
    // rollup is two keyed aggs on the |langs|²-bounded cell relation
    // with per-class totals broadcast back. Fractions ×10⁹-snapped.
    // ------------------------------------------------------------------
    // Dunning log-likelihood keyness — which tokens are OVER- or
    // UNDER-represented in the English subcorpus vs the rest, the
    // corpus-linguistics test behind every "distinctive vocabulary"
    // table (χ² misbehaves at the low counts most tokens have; the G²
    // likelihood ratio doesn't). G² = 2·Σ obs·ln(obs/exp) over the
    // 2×2 (token × subcorpus) table, zero cells contributing zero;
    // published rows are the keyness TABLE for tokens with support
    // ≥ 50 (a support FILTER, not a top-k window — no corpus-wide
    // sort anywhere), each carrying its G² and the χ²₁ 5%
    // significance verdict at 3.841459 as a column (this synthetic
    // corpus shares vocabulary across langs, so few rows are
    // significant — that finding IS the output). Token counting is
    // one explode + keyed agg (map-side combined); the two subcorpus
    // totals broadcast as a 1-row anchor. ln only ever sees strictly
    // positive ratios.
    "text_keyness_loglr" -> QueryDef.withOracle(
      s"""WITH tok AS (
         |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS grp,
         |    unnest(${toksSql("text")}) AS token
         |  FROM documents),
         |c AS (
         |  SELECT token,
         |    CAST(sum(grp) AS BIGINT) AS a,
         |    CAST(sum(1 - grp) AS BIGINT) AS b
         |  FROM tok GROUP BY token),
         |t AS (
         |  SELECT CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb
         |  FROM c),
         |g AS (
         |  SELECT c.token, c.a, c.b, t.na, t.nb,
         |    CAST(c.a + c.b AS DOUBLE) * t.na / (t.na + t.nb) AS ea,
         |    CAST(c.a + c.b AS DOUBLE) * t.nb / (t.na + t.nb) AS eb
         |  FROM c CROSS JOIN t),
         |s AS (
         |  SELECT token, a, b,
         |    floor(2 * ((CASE WHEN a > 0 THEN a * ln(a / ea) ELSE 0 END)
         |      + (CASE WHEN b > 0 THEN b * ln(b / eb) ELSE 0 END)) * 1e6
         |      + 0.5) AS g2_fp,
         |    CAST(a AS DOUBLE) * (na + nb) > CAST(a + b AS DOUBLE) * na
         |      AS over_en
         |  FROM g)
         |SELECT token, a AS n_en, b AS n_other,
         |  g2_fp / 1.0e6 AS g2,
         |  g2_fp > 3841459 AS significant,
         |  over_en AS overused_in_en
         |FROM s WHERE a + b >= 50""".stripMargin) { (s, dir) =>
      val tok = Tables.documents(s, dir)
        .select(when(col("lang") === "en", 1L).otherwise(0L).as("grp"),
          explode(tokens(col("text"))).as("token"))
      val c = tok.groupBy(col("token"))
        .agg(sum(col("grp")).as("a"), sum(lit(1L) - col("grp")).as("b"))
        .persist() // vocab-keyed bookkeeping: totals anchor + the scores
      val t = c.agg(sum(col("a")).as("na"), sum(col("b")).as("nb"))
      val g = c.crossJoin(broadcast(t))
        .select(col("token"), col("a"), col("b"), col("na"), col("nb"),
          ((col("a") + col("b")).cast(DoubleType) * col("na")
            / (col("na") + col("nb"))).as("ea"),
          ((col("a") + col("b")).cast(DoubleType) * col("nb")
            / (col("na") + col("nb"))).as("eb"))
      val g2fp = floor(lit(2) * (
        when(col("a") > 0, col("a") * log(col("a") / col("ea")))
          .otherwise(lit(0.0))
        + when(col("b") > 0, col("b") * log(col("b") / col("eb")))
          .otherwise(lit(0.0))) * lit(1.0e6) + lit(0.5))
      g.select(col("token"), col("a"), col("b"), g2fp.as("g2_fp"),
          (col("a").cast(DoubleType) * (col("na") + col("nb"))
            > (col("a") + col("b")).cast(DoubleType) * col("na"))
            .as("over_en"))
        .filter(col("a") + col("b") >= 50)
        .select(col("token"), col("a").as("n_en"), col("b").as("n_other"),
          (col("g2_fp") / lit(1.0e6)).as("g2"),
          (col("g2_fp") > lit(3841459.0)).as("significant"),
          col("over_en").as("overused_in_en"))
    },

    "text_langid_eval" -> QueryDef.withOracle(
      s"""WITH p AS (
         |  $langidSql),
         |cm AS (
         |  SELECT lang AS true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
         |  FROM p GROUP BY 1, 2),
         |tot AS (
         |  SELECT true_lang, CAST(sum(n) AS BIGINT) AS nt FROM cm GROUP BY 1),
         |acc AS (
         |  SELECT CAST(sum(CASE WHEN true_lang = pred_lang THEN n ELSE 0 END)
         |    AS BIGINT) AS hit, CAST(sum(n) AS BIGINT) AS nall FROM cm)
         |SELECT cm.true_lang, cm.pred_lang, cm.n,
         |  floor(CAST(cm.n AS DOUBLE) / t.nt * 1e9 + 0.5) / 1.0e9 AS class_frac,
         |  floor(CAST(a.hit AS DOUBLE) / a.nall * 1e9 + 0.5) / 1.0e9
         |    AS overall_accuracy
         |FROM cm JOIN tot t ON t.true_lang = cm.true_lang
         |CROSS JOIN acc a""".stripMargin) { (s, dir) =>
      val p = defs.toMap.apply("text_langid").fn(s, dir)
        .select(col("lang").as("true_lang"), col("pred_lang"))
      val cm = p.groupBy(col("true_lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .persist() // |langs|²-bounded; totals, accuracy and cells
      val tot = cm.groupBy(col("true_lang")).agg(sum(col("n")).as("nt"))
      val acc = cm.agg(
        sum(when(col("true_lang") === col("pred_lang"), col("n")).otherwise(0L))
          .as("hit"), sum(col("n")).as("nall"))
      cm.join(broadcast(tot), Seq("true_lang"))
        .crossJoin(broadcast(acc))
        .select(col("true_lang"), col("pred_lang"), col("n"),
          (floor(col("n").cast(DoubleType) / col("nt") * lit(1.0e9) + 0.5)
            / lit(1.0e9)).as("class_frac"),
          (floor(col("hit").cast(DoubleType) / col("nall") * lit(1.0e9) + 0.5)
            / lit(1.0e9)).as("overall_accuracy"))
    },

    // ------------------------------------------------------------------
    // Lexicon polarity scoring — the dictionary-based sentiment
    // baseline (the text_langid marker-token mechanism pointed at
    // connotation instead of language; the lexicon is a deployment
    // knob, here the corpus's own polarity markers): per doc the
    // positive/negative hit counts, polarity = (p−n)/(p+n) (0 when no
    // hits), and the three-way label with deterministic band edges on
    // the ×10⁹-snapped score. Pure row-local narrow map over the
    // shared tokenizer — zero shuffles, embarrassingly parallel at any
    // corpus size.
    "text_sentiment" -> QueryDef.withOracle(
      s"""SELECT doc_id, n_pos, n_neg,
         |  CASE WHEN n_pos + n_neg = 0 THEN 0.0
         |    ELSE floor((n_pos - n_neg) * 1.0 / (n_pos + n_neg) * 1e9 + 0.5)
         |      / 1.0e9 END AS polarity,
         |  CASE WHEN n_pos + n_neg = 0 THEN 'neutral'
         |    WHEN floor((n_pos - n_neg) * 1.0 / (n_pos + n_neg) * 1e9 + 0.5)
         |      / 1.0e9 > 0.2 THEN 'positive'
         |    WHEN floor((n_pos - n_neg) * 1.0 / (n_pos + n_neg) * 1e9 + 0.5)
         |      / 1.0e9 < -0.2 THEN 'negative'
         |    ELSE 'neutral' END AS label
         |FROM (
         |  SELECT doc_id,
         |    CAST(len(list_filter(${toksSql("text")},
         |      x -> x IN ('fast', 'small'))) AS BIGINT) AS n_pos,
         |    CAST(len(list_filter(${toksSql("text")},
         |      x -> x IN ('slow', 'big'))) AS BIGINT) AS n_neg
         |  FROM documents)""".stripMargin) { (s, dir) =>
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          size(filter(col("toks"), x => x.isin("fast", "small")))
            .cast(LongType).as("n_pos"),
          size(filter(col("toks"), x => x.isin("slow", "big")))
            .cast(LongType).as("n_neg"))
      val tot = col("n_pos") + col("n_neg")
      val pol = floor((col("n_pos") - col("n_neg")) * lit(1.0) / tot
        * lit(1.0e9) + 0.5) / lit(1.0e9)
      base.select(col("doc_id"), col("n_pos"), col("n_neg"),
        when(tot === 0L, lit(0.0)).otherwise(pol).as("polarity"),
        when(tot === 0L, lit("neutral"))
          .when(pol > 0.2, lit("positive"))
          .when(pol < -0.2, lit("negative"))
          .otherwise(lit("neutral")).as("label"))
    },

    // ------------------------------------------------------------------
    // TextRank keywords — graph-based keyword extraction (the RAKE
    // alternative that sees GLOBAL structure: a word is important if
    // important words co-occur with it, PageRank on the per-doc word
    // adjacency graph). Edges are (doc, w1, w2, cnt) adjacency counts
    // of adjacent content words (≥3 chars), four synchronous
    // damped-rank rounds in the Graph.scala exact fixed-point
    // discipline (2²⁰ scale, 85/100 damping, integer div) —
    // deterministic, so the unrolled DuckDB oracle replays it
    // bit-for-bit.
    "text_textrank" -> QueryDef.withOracle {
      def stepSql(i: Int): String =
        s"""r${i + 1} AS (
           |  SELECT n.doc_id, n.word,
           |    (15 * 1048576 + 85 * coalesce(c.s, 0)) // 100 AS r
           |  FROM n LEFT JOIN (
           |    SELECT e.doc_id, e.dst AS word,
           |      CAST(sum(e.cnt * (p.r // d.deg)) AS BIGINT) AS s
           |    FROM e JOIN r$i p ON p.doc_id = e.doc_id AND p.word = e.src
           |    JOIN deg d ON d.doc_id = e.doc_id AND d.src = e.src
           |    GROUP BY 1, 2) c ON c.doc_id = n.doc_id AND c.word = n.word)"""
          .stripMargin
      s"""WITH t AS (
         |  SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
         |bg0 AS (
         |  SELECT doc_id, unnest(range(1, len(toks))) AS i, toks
         |  FROM t WHERE len(toks) >= 2),
         |bg AS (
         |  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2 FROM bg0
         |  WHERE length(toks[i]) >= 3 AND length(toks[i+1]) >= 3
         |    AND toks[i] <> toks[i+1]),
         |e0 AS (
         |  SELECT doc_id, w1 AS src, w2 AS dst FROM bg
         |  UNION ALL SELECT doc_id, w2 AS src, w1 AS dst FROM bg),
         |e AS (SELECT doc_id, src, dst, CAST(count(*) AS BIGINT) AS cnt
         |      FROM e0 GROUP BY 1, 2, 3),
         |deg AS (SELECT doc_id, src, CAST(sum(cnt) AS BIGINT) AS deg
         |        FROM e GROUP BY 1, 2),
         |n AS (SELECT doc_id, src AS word, deg FROM deg),
         |r0 AS (SELECT doc_id, word, CAST(1048576 AS BIGINT) AS r FROM n),
         |${(0 until 4).map(stepSql).mkString(",\n")},
         |rk AS (
         |  SELECT doc_id, word, r, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY r DESC, word ASC) AS pos
         |  FROM r4)
         |SELECT doc_id, CAST(pos AS INT) AS pos, word, r AS rank_fp
         |FROM rk WHERE pos <= 3""".stripMargin
    } { (s, dir) =>
      // Shuffle once, compute locally: the one doc_id aggregate
      // collects each row's token list (documents has no key
      // constraint, and rows sharing a doc_id form one graph), and
      // graft_textrank_top3 builds the graph and runs the recurrence
      // inside the row (plans/TextRankExpressions.scala). No bigram row
      // is built or shuffled; rank state never crosses the network.
      Tables.documents(s, dir)
        .groupBy(col("doc_id"))
        .agg(collect_list(tokens(col("text"))).as("toks"))
        .select(col("doc_id"),
          explode(graft.functions.Vectors.textrankTop3(col("toks"))).as("top"))
        .select(col("doc_id"), col("top.pos").as("pos"),
          col("top.word").as("word"), col("top.rank_fp").as("rank_fp"))
    }
  )
}
