package graft.operators

import graft.{GraftSession, QueryDef}
import graft.operators.TextOps.tokens
import graft.sources.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training-data preparation operators: the steps between a cleaned
  * corpus and a training run — benchmark decontamination, shard
  * assignment/manifests, fixed-length sequence packing, and intra-doc
  * repetition scoring.
  *
  * Scale shapes: decontamination is a broadcast semi-join of corpus
  * shingles against the (small) eval-set shingle table; sharding is a
  * row-local hash; packing is a per-shard running sum whose
  * parallelism IS the shard count (the knob a real job sets to
  * thousands); repetition is one keyed agg + a row-local ratio. All
  * deterministic → every operator carries a full DuckDB oracle.
  */
object Training {

  private val NumShards = 64
  private val SeqLen = 2048
  /** pipe_token_budget: per-source token cap (~one-third of each 25-doc
    * test source; a knob in production). */
  private val TokenBudget = 800

  /** pipe_bpe_merges: number of merge rounds to learn (a knob; real
    * tokenizers run tens of thousands — the per-round plan is
    * identical at any count). */
  private val BpeMerges = 8

  /** Merges selected per training round by the registry's BPE queries
    * (the `m` of [[bpeTrainBatched]]); the merge list is the same for
    * any value. */
  private val BpeBatch = 4

  /** Shared CTE chain for the BPE oracles, generated for [[BpeMerges]]
    * rounds: each round is three CTEs (adjacent-pair counts over the
    * delimited symbol strings, the arg-max pair, the merged word
    * table). `replace()` on the `<a><b>` encoding is safe because
    * occurrences can never overlap or straddle symbol boundaries —
    * tokens are [a-z0-9]+ so `<`/`>` are reserved delimiters. */
  private def bpeTrainCtes: String = {
    val rounds = (1 to BpeMerges).map { r =>
      s""",p${r}a AS (SELECT freq, string_split(substr(syms, 2, length(syms) - 2), '><') AS l FROM w${r - 1}),
         |p${r}b AS (SELECT freq, unnest(range(1, len(l))) AS i, l FROM p${r}a WHERE len(l) >= 2),
         |p$r AS (SELECT l[i] AS x, l[i + 1] AS y, CAST(sum(freq) AS BIGINT) AS freq
         |  FROM p${r}b GROUP BY x, y),
         |t$r AS (SELECT x, y, freq FROM p$r ORDER BY freq DESC, x ASC, y ASC LIMIT 1),
         |w$r AS (SELECT replace(w.syms, '<' || t.x || '><' || t.y || '>',
         |    '<' || t.x || t.y || '>') AS syms, w.freq AS freq
         |  FROM w${r - 1} w CROSS JOIN t$r t)""".stripMargin
    }.mkString("\n")
    s"""WITH w0 AS (
       |  SELECT regexp_replace(w, '(.)', '<\\1>', 'g') AS syms,
       |    CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(${TextOps.toksSql("text")}) AS w FROM documents)
       |  GROUP BY w)
       |$rounds""".stripMargin
  }

  private def bpeOracleSql: String = {
    val ranks = (1 to BpeMerges)
      .map(r => s"SELECT $r AS rank, x, y, freq FROM t$r")
      .mkString("\n  UNION ALL ")
    s"""$bpeTrainCtes
       |SELECT CAST(rank AS INT) AS rank, x, y, x || y AS merged, freq
       |FROM (
       |  $ranks)""".stripMargin
  }

  /** Run the [[BpeMerges]] training merges on Spark: one corpus-scale
    * word-frequency groupBy, then vocabulary-sized pair counts with a
    * bounded arg-max collect per ROUND (the Lloyd driver-loop pattern),
    * selecting up to `m` merges per round. Returns the ranked merge
    * list — PROVABLY identical to the 1-merge-per-round sequence for
    * any `m` (spec: BpeBatchEquivalenceSpec). */
  private def bpeTrain(s: org.apache.spark.sql.SparkSession, dir: String)
      : Seq[(Int, String, String, String, Long)] =
    bpeTrainBatched(s, dir, BpeBatch, BpeMerges)._1

  /** Batched BPE merge selection. The serial bound on BPE training is
    * the ROUND count, not the per-round cost: one Spark job per merge
    * means a production 30k-merge vocab is 30k sequential jobs. Each
    * round here selects up to `m` merges from ONE pair-count job while
    * reproducing the sequential semantics EXACTLY:
    *
    *  1. collect the top max(4m, m+1) pairs by (freq DESC, x, y);
    *  2. take the maximal PREFIX that is pairwise symbol-disjoint,
    *     capped at m — stop at the FIRST pair sharing a symbol with an
    *     earlier selection (skip-and-continue would diverge: a skipped
    *     conflicting pair can keep its frequency through the earlier
    *     merges and out-rank a later disjoint pick);
    *  3. keep only selections whose freq is STRICTLY above the first
    *     unselected candidate's freq (the barrier). Merges never
    *     increase an existing pair's count, and every pair a merge
    *     CREATES, (x, ab), inherits freq ≤ its constituent pre-round
    *     pair (x, a) — which shares a symbol with a selection and so
    *     sorts at-or-below the barrier. Strict dominance therefore
    *     guarantees no new or shrunken pair can overtake (or tie into,
    *     via the lexicographic tie-break) any batched selection
    *     mid-batch, which is exactly the sequential argmax invariant.
    *     If strictness empties the batch, the round falls back to the
    *     single global argmax (always sequential-correct).
    *
    * Disjoint selections' frequencies are invariant under each other's
    * application, so the sequential argmax visits them in selection
    * order — the batch replays merge-for-merge. With m=4 the 8-merge
    * demo trains in 2-3 rounds; a 30k-merge vocab needs ~thousands of
    * pair-count jobs fewer (measured in docs/SCALING.md, incl. the
    * m ∈ {16,64,256} rounds-vs-m study via graft.tools.BpeScale —
    * early rounds starve on symbol disjointness because a fresh
    * alphabet admits at most |symbols|/2 disjoint picks, then the
    * effective batch widens as merged symbols grow the alphabet).
    * Returns (ranked merges, rounds executed). The replace-expression
    * lineage over `cur` is CUT with a periodic GraftSession.roundCut
    * (vocab-bounded relation, exactly like the graph iterators) —
    * without the cut, round r re-evaluates all r prior replaces and
    * the Catalyst plan grows unboundedly, which is what used to bound
    * training depth in practice. */
  private[graft] def bpeTrainBatched(s: org.apache.spark.sql.SparkSession,
      dir: String, m: Int, totalMerges: Int)
      : (Seq[(Int, String, String, String, Long)], Int) = {
    val wf = Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(regexp_replace(col("w"), "(.)", "<$1>").as("syms"), col("freq"))
      .persist() // vocab-sized; scanned once per merge round
    // adjacent-pair multiset of a (syms, freq) relation, each pair
    // weighted by the word's freq. Recomputed in full every round:
    // delta-maintained counts were measured ~2x slower at 60k words
    // (a scan engine has no pair->word index; docs/SCALING.md).
    def pairsOf(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(col("freq"),
          split(expr("substring(syms, 2, length(syms) - 2)"), "><").as("l"))
        .filter(size(col("l")) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(1), size(col("l")) - 1),
          i => struct(element_at(col("l"), i).as("x"),
            element_at(col("l"), i + 1).as("y")))).as("b"))
        .select(col("b.x").as("x"), col("b.y").as("y"), col("freq"))
    var cur: org.apache.spark.sql.DataFrame = wf
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var rank = 0
    var rounds = 0
    var sinceCut = 0
    while (rank < totalMerges) {
      val want = math.min(math.max(m, 1), totalMerges - rank)
      val pairCounts = pairsOf(cur)
        .groupBy(col("x"), col("y")).agg(sum(col("freq")).as("freq"))
      val top = pairCounts
        .orderBy(col("freq").desc, col("x").asc, col("y").asc)
        .limit(math.max(4 * want, want + 1)).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      assert(top.nonEmpty,
        s"BPE merge ${rank + 1}: no pairs left — BpeMerges exceeds the corpus")
      // maximal disjoint prefix, capped at `want`
      val sel = Seq.newBuilder[(String, String, Long)]
      val used = scala.collection.mutable.Set.empty[String]
      var i = 0
      var open = true
      while (open && i < top.length && i < want) {
        val (x, y, _) = top(i)
        if (used.contains(x) || used.contains(y)) open = false
        else { sel += top(i); used += x; used += y; i += 1 }
      }
      val prefix = sel.result()
      // strict dominance over the first unselected candidate (if the
      // collected list is exhausted with everything selected, no pair
      // conflicts with a selection anywhere — a conflicting pair would
      // appear in the full sorted pair list — so no barrier is needed)
      val batch0 =
        if (prefix.length < top.length)
          prefix.takeWhile(_._3 > top(prefix.length)._3)
        else prefix
      val batch = if (batch0.isEmpty) prefix.take(1) else batch0
      batch.foreach { case (x, y, f) =>
        rank += 1
        merges += ((rank, x, y, x + y, f))
        // tokens are [a-z0-9]+ → x/y embed literally in the expression
        cur = cur.withColumn("syms",
          expr(s"replace(syms, '<$x><$y>', '<$x$y>')"))
        sinceCut += 1
      }
      if (sinceCut >= 16) { // bound the replace chain (see header)
        cur = GraftSession.roundCut(s, cur)
        sinceCut = 0
      }
      rounds += 1
    }
    (merges.result(), rounds)
  }

  /** Portable shard id: 60-bit md5 of the doc id string, mod nShards —
    * bit-identical in DuckDB (('0x'||substr(md5(x),1,15))::BIGINT), so
    * the whole shard layout is oracle-reproducible. Production swaps in
    * xxhash64 with the same shape. */
  private def shardOf(id: Column, nShards: Int): Column =
    pmod(conv(substring(md5(id.cast(StringType).cast(BinaryType)), 1, 15), 16, 10)
      .cast(LongType), lit(nShards.toLong))

  private def shardSql(id: String, nShards: Int): String =
    s"('0x' || substr(md5(CAST($id AS VARCHAR)), 1, 15))::BIGINT % $nShards"

  val defs: Seq[(String, QueryDef)] = Seq(

    // ------------------------------------------------------------------
    // Benchmark decontamination: flag corpus documents sharing ≥3
    // distinct word-3-gram shingles with the eval set (here: doc_id <
    // 20 stands in for the benchmark suite). The eval shingle table is
    // tiny by construction (benchmarks are small) → broadcast join;
    // corpus-side work is one explode + one keyed count, linear in
    // corpus shingles. At 100 TB the join key would be the 60-bit
    // shingle hash instead of the string — same shape.
    "dedup_decontaminate" -> QueryDef.withOracle(
      s"""WITH s AS (${Dedup.shingleSql}),
         |sh2 AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
         |ev AS (SELECT DISTINCT unnest(sh) AS g FROM sh2 WHERE doc_id < 20),
         |corp AS (SELECT doc_id, unnest(sh) AS g FROM sh2 WHERE doc_id >= 20),
         |hits AS (
         |  SELECT c.doc_id, count(*) AS n_hit
         |  FROM corp c JOIN ev USING (g) GROUP BY c.doc_id)
         |SELECT x.doc_id, CAST(len(x.sh) AS INT) AS n_shingles,
         |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
         |  coalesce(h.n_hit, 0) >= 3 AS contaminated
         |FROM sh2 x LEFT JOIN hits h ON h.doc_id = x.doc_id
         |WHERE x.doc_id >= 20""".stripMargin) { (s, dir) =>
      val sh2 = Dedup.shingled(s, dir).filter(size(col("sh")) > 0)
      val ev = sh2.filter(col("doc_id") < 20)
        .select(explode(col("sh")).as("g")).distinct()
      val hits = sh2.filter(col("doc_id") >= 20)
        .select(col("doc_id"), explode(col("sh")).as("g"))
        .join(broadcast(ev), Seq("g"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hit"))
      sh2.filter(col("doc_id") >= 20)
        .join(hits, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          size(col("sh")).as("n_shingles"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (coalesce(col("n_hit"), lit(0L)) >= 3).as("contaminated"))
    },

    // ------------------------------------------------------------------
    // Shard manifest: deterministic hash-sharding of the corpus into
    // training shards plus the per-shard bookkeeping (doc count, byte
    // budget) a downstream loader consumes. Row-local shard id + one
    // keyed agg — embarrassingly parallel at any scale.
    "pipe_shard_manifest" -> QueryDef.withOracle(
      s"""SELECT shard, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM (
         |  SELECT doc_id, n_chars, ${shardSql("doc_id", NumShards)} AS shard
         |  FROM documents)
         |GROUP BY shard""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"),
          shardOf(col("doc_id"), NumShards).as("shard"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
    },

    // ------------------------------------------------------------------
    // Sequence packing: concatenate each shard's documents (doc_id
    // order) into fixed 2048-token training sequences; emit each doc's
    // (pack, offset) address. The running sum is per-shard sequential
    // BY DEFINITION (packing is order-dependent), so the shard count is
    // the parallelism knob — 64 here, thousands on a real corpus; no
    // task ever scans more than one shard. Token counts use the regex
    // word count (see text_token_estimate for the BPE-ish budget).
    "pipe_pack_sequences" -> QueryDef.withOracle(
      s"""WITH t AS (
         |  SELECT doc_id, ${shardSql("doc_id", NumShards)} AS shard,
         |    CAST(len(${TextOps.toksSql("text")}) AS BIGINT) AS n_tokens
         |  FROM documents),
         |w AS (
         |  SELECT doc_id, shard, n_tokens,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM t)
         |SELECT doc_id, CAST(shard AS INT) AS shard, n_tokens,
         |  CAST(cum_before // $SeqLen AS BIGINT) AS pack_id,
         |  CAST(cum_before % $SeqLen AS BIGINT) AS pack_offset
         |FROM w""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          shardOf(col("doc_id"), NumShards).as("shard"),
          size(tokens(col("text"))).cast(LongType).as("n_tokens"))
        .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .select(col("doc_id"), col("shard").cast(IntegerType).as("shard"),
          col("n_tokens"),
          expr(s"cum_before div $SeqLen").as("pack_id"),
          pmod(col("cum_before"), lit(SeqLen.toLong)).as("pack_offset"))
    },

    // ------------------------------------------------------------------
    // Intra-document repetition: the boilerplate/loop signal quality
    // filters key on. rep3 = 1 − distinct/total 3-grams (shingle
    // relation shared with the dedup family through the cache);
    // top_tok_ratio = modal token share via one (doc, token) count —
    // a keyed agg, not a per-row O(n·distinct) lambda.
    "text_repetition" -> QueryDef.withOracle(
      s"""WITH s AS (${Dedup.shingleSql}),
         |tok AS (SELECT doc_id, unnest(${TextOps.toksSql("text")}) AS tok FROM documents),
         |tc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok),
         |mx AS (SELECT doc_id, max(c) AS max_c FROM tc GROUP BY doc_id)
         |SELECT s.doc_id, s.nt AS n_tokens,
         |  CAST(s.nt - 2 AS INT) AS n3, CAST(len(s.sh) AS INT) AS d3,
         |  round(1 - len(s.sh) * 1.0 / (s.nt - 2), 9) AS rep3,
         |  round(mx.max_c * 1.0 / s.nt, 9) AS top_tok_ratio
         |FROM s JOIN mx ON mx.doc_id = s.doc_id
         |WHERE s.nt >= 3""".stripMargin) { (s, dir) =>
      val sh = Dedup.shingled(s, dir).filter(col("nt") >= 3)
      val mx = Tables.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(max(col("c")).as("max_c"))
      sh.join(mx, Seq("doc_id"))
        .select(col("doc_id"), col("nt").as("n_tokens"),
          (col("nt") - 2).as("n3"), size(col("sh")).as("d3"),
          round(lit(1) - size(col("sh")) * lit(1.0) / (col("nt") - 2), 9).as("rep3"),
          round(col("max_c") * lit(1.0) / col("nt"), 9).as("top_tok_ratio"))
    },

    // ------------------------------------------------------------------
    // Domain-mixture sampling: given per-source target weights (here
    // derived deterministically from the source name) and a global
    // token budget (30% of the corpus), compute each source's sampling
    // rate and keep documents whose deterministic md5-uniform u(doc_id)
    // falls under it. Two tiny aggregations (per-source totals + one
    // global row, broadcast back) and a row-local keep test — nothing
    // scales with corpus size except the linear scan, and the sample is
    // reproducible on any engine/run. This is the rebalancing step
    // between "cleaned corpus" and "training mix".
    "pipe_mixture_sample" -> QueryDef.withOracle(
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    CAST(len(${TextOps.toksSql("text")}) AS BIGINT) AS n_tokens
         |  FROM documents),
         |s AS (
         |  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tok_src FROM t GROUP BY source),
         |w AS (
         |  SELECT source, tok_src,
         |    1 + CAST(regexp_extract(source, '(\\d+)$$', 1) AS INT) % 4 AS wt
         |  FROM s),
         |g AS (SELECT CAST(sum(tok_src) AS BIGINT) AS tok_all,
         |             CAST(sum(wt) AS BIGINT) AS wt_all FROM w),
         |r AS (
         |  SELECT w.source,
         |    least(1.0, 0.3 * g.tok_all * wt / CAST(g.wt_all AS DOUBLE) / tok_src) AS rate
         |  FROM w CROSS JOIN g)
         |SELECT t.doc_id, t.source, t.n_tokens,
         |  round(('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 15))::BIGINT
         |    / 1152921504606846976.0, 9) AS u,
         |  round(r.rate, 9) AS rate
         |FROM t JOIN r ON r.source = t.source
         |WHERE ('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 15))::BIGINT
         |    / 1152921504606846976.0 < r.rate""".stripMargin) { (s, dir) =>
      val t = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          size(tokens(col("text"))).cast(LongType).as("n_tokens"))
      val srcStats = t.groupBy(col("source"))
        .agg(sum(col("n_tokens")).as("tok_src"))
        .withColumn("wt",
          (lit(1) + pmod(regexp_extract(col("source"), "(\\d+)$", 1)
            .cast(IntegerType), lit(4))).cast(LongType))
      val g = srcStats.agg(sum(col("tok_src")).as("tok_all"), sum(col("wt")).as("wt_all"))
      // same left-assoc double op order as the oracle → bit-identical rate
      val rates = srcStats.crossJoin(broadcast(g))
        .select(col("source"),
          least(lit(1.0), lit(0.3) * col("tok_all") * col("wt")
            / col("wt_all").cast(DoubleType) / col("tok_src")).as("rate"))
      // 60-bit md5 uniform: integer conversion is exact on both engines;
      // the /2^60 division is a power-of-two scale (exact in IEEE)
      val u = conv(substring(md5(col("doc_id").cast(StringType).cast(BinaryType)), 1, 15), 16, 10)
        .cast(LongType).cast(DoubleType) / lit(1.152921504606846976e18)
      t.join(broadcast(rates), Seq("source"))
        .filter(u < col("rate"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          round(u, 9).as("u"), round(col("rate"), 9).as("rate"))
    },

    // ------------------------------------------------------------------
    // Sliding-window chunking: split each document into 256-token
    // chunks on a 192-token stride (64-token overlap) — the context-
    // window prep for embedding/retrieval training where a hard split
    // would cut evidence in half. Entirely row-local (tokens → chunk
    // starts → slices → md5 per chunk) followed by one explode; no
    // shuffle at all until whatever consumes the chunks. Chunk ids are
    // deterministic (doc_id, k), so shard assignment downstream is
    // reproducible.
    "pipe_chunk_overlap" -> QueryDef.withOracle(
      s"""WITH t AS (
         |  SELECT doc_id, ${TextOps.toksSql("text")} AS toks FROM documents),
         |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 1),
         |k AS (
         |  SELECT doc_id, toks, n,
         |    unnest(range(0, ((greatest(n - 256, 0) + 191) // 192) + 1)) AS chunk_id
         |  FROM n)
         |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |  CAST(1 + chunk_id * 192 AS BIGINT) AS tok_start,
         |  CAST(least(n, chunk_id * 192 + 256) - chunk_id * 192 AS INT) AS n_tokens,
         |  md5(array_to_string(toks[1 + chunk_id * 192 : least(n, chunk_id * 192 + 256)], ' '))
         |    AS chunk_md5
         |FROM k""".stripMargin) { (s, dir) =>
      val C = 256
      val S = 192
      val t = Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")).cast(LongType))
        .filter(col("n") >= 1)
      t.select(col("doc_id"), col("toks"), col("n"),
          explode(sequence(lit(0L),
            floor((greatest(col("n") - C, lit(0L)) + (S - 1)) / S).cast(LongType)))
            .as("chunk_id"))
        .select(col("doc_id"), col("chunk_id"),
          (lit(1L) + col("chunk_id") * S).as("tok_start"),
          (least(col("n"), col("chunk_id") * S + C) - col("chunk_id") * S)
            .cast(IntegerType).as("n_tokens"),
          md5(concat_ws(" ",
            slice(col("toks"), (lit(1L) + col("chunk_id") * S).cast(IntegerType), lit(C)))
            .cast(BinaryType)).as("chunk_md5"))
    },

    // ------------------------------------------------------------------
    // Per-source token-budget selection: walk each source's documents
    // in deterministic md5 order ("shuffled" but reproducible) and keep
    // documents while the running token total stays within the budget —
    // how a mixture recipe caps an over-represented source. The prefix
    // sum is DISTRIBUTED (the ev_peak_concurrency discipline): md5's
    // first nibble pre-buckets each source 16 ways, the cumsum runs
    // per (source, bucket) — per-task rows = corpus/(sources×16), and
    // more nibbles widen it — then 16 bucket offsets per source (a
    // bookkeeping window) stitch the global order. A plain per-source
    // window would sort whole sources single-task at corpus scale.
    "pipe_token_budget" -> QueryDef.withOracle(
      s"""WITH t AS (
         |  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS m,
         |    CAST(len(${TextOps.toksSql("text")}) AS BIGINT) AS n_tokens
         |  FROM documents),
         |w AS (
         |  SELECT doc_id, source, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY source ORDER BY m, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
         |  FROM t)
         |SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
         |FROM w WHERE cum_tokens <= $TokenBudget""".stripMargin) { (s, dir) =>
      val t = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          md5(col("doc_id").cast(StringType).cast(BinaryType)).as("m"),
          size(tokens(col("text"))).cast(LongType).as("n_tokens"))
      val bkt = conv(substring(col("m"), 1, 1), 16, 10).cast(IntegerType)
      val wLoc = Window.partitionBy(col("source"), col("bkt"))
        .orderBy(col("m").asc, col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // offsets ride a sources×16-row bookkeeping relation
      val wOff = Window.partitionBy(col("source")).orderBy(col("bkt").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      // persisted: the offsets branch would otherwise re-scan and
      // re-tokenize the whole corpus — one scan feeds both branches
      val b = t.withColumn("bkt", bkt).persist()
      val offs = b.groupBy(col("source"), col("bkt"))
        .agg(sum(col("n_tokens")).as("btotal"))
        .select(col("source"), col("bkt"),
          coalesce(sum(col("btotal")).over(wOff), lit(0L)).as("off"))
      b.withColumn("cum_local", sum(col("n_tokens")).over(wLoc))
        .join(broadcast(offs), Seq("source", "bkt"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          (col("off") + col("cum_local")).as("cum_tokens"))
        .filter(col("cum_tokens") <= TokenBudget)
    },

    // ------------------------------------------------------------------
    // Distributed BPE merge learning — the tokenizer-training core.
    // ONE corpus-scale step (the word-frequency groupBy, map-side
    // combined); every merge round after that rides the persisted
    // DISTINCT-WORD table, which is vocabulary-sized (Zipf: sublinear
    // in corpus bytes — at 100 TB it's millions of rows, not billions).
    // Words are kept as `<s><y><m>`-delimited strings so a merge is a
    // plain codegen'd `replace()` — the delimiters make occurrences
    // non-overlapping, so left-to-right replace-all equals the greedy
    // sequential BPE merge on both engines. Per round: one keyed pair
    // count + a 1-row arg-max collect (the k-means/Lloyd driver-loop
    // pattern — the round count is a constant knob, never data-sized).
    // Deterministic by construction: exact long counts and a total
    // (freq DESC, x, y) tie-break.
    "pipe_bpe_merges" -> QueryDef.withOracle(bpeOracleSql) { (s, dir) =>
      import s.implicits._
      bpeTrain(s, dir).toDF("rank", "x", "y", "merged", "freq")
    },

    // ------------------------------------------------------------------
    // BPE tokenization (the apply side of pipe_bpe_merges): encode each
    // document with the learned merge table and report the token budget
    // it would cost. After the driver-side training rounds, the encode
    // plan is ENTIRELY row-local — per word: delimit, chain the K
    // replaces in rank order, count top-level symbols ('<' occurrences)
    // — composed with higher-order array functions, so the corpus pays
    // one scan, zero joins, zero shuffles. This is the shape that wins
    // at 100 TB: the merge table is a constant baked into codegen, not
    // a join side. Ratio snapped to ×10⁹ fixed point (exact-integer
    // numerator/denominator, engine-identical).
    "pipe_bpe_encode" -> QueryDef.withOracle {
      // nested replace chain with the merge pairs taken from the
      // training CTEs (t1..tK scalar cross joins)
      val enc = (1 to BpeMerges).foldLeft("regexp_replace(w, '(.)', '<\\1>', 'g')") {
        (inner, r) =>
          s"replace($inner, '<' || t$r.x || '><' || t$r.y || '>', '<' || t$r.x || t$r.y || '>')"
      }
      val crossT = (1 to BpeMerges).map(r => s"CROSS JOIN t$r").mkString(" ")
      s"""$bpeTrainCtes,
         |docs AS (
         |  SELECT doc_id, ${TextOps.toksSql("text")} AS toks FROM documents),
         |enc AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS INT) AS n_words,
         |    CAST(list_sum(list_transform(toks, w -> length(w))) AS BIGINT) AS n_syms,
         |    CAST(list_sum(list_transform(toks,
         |      w -> length($enc) - length(replace($enc, '<', '')))) AS BIGINT) AS n_bpe
         |  FROM docs $crossT
         |  WHERE len(toks) >= 1)
         |SELECT doc_id, n_words, n_syms, n_bpe,
         |  CAST(floor(CAST(n_bpe AS DOUBLE) * 1000000000 / n_syms + 0.5) AS BIGINT)
         |    / 1.0e9 AS bpe_ratio
         |FROM enc WHERE n_syms > 0""".stripMargin
    } { (s, dir) =>
      val merges = bpeTrain(s, dir)
      val encExpr = merges.foldLeft("regexp_replace(w, '(.)', '<$1>')") {
        case (inner, (_, x, y, _, _)) =>
          s"replace($inner, '<$x><$y>', '<$x$y>')"
      }
      Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 1)
        .select(col("doc_id"),
          size(col("toks")).as("n_words"),
          expr("aggregate(transform(toks, w -> CAST(length(w) AS BIGINT)), 0L, (a, v) -> a + v)")
            .as("n_syms"),
          expr(s"aggregate(transform(toks, w -> CAST(length($encExpr) " +
            s"- length(replace($encExpr, '<', '')) AS BIGINT)), 0L, (a, v) -> a + v)")
            .as("n_bpe"))
        .filter(col("n_syms") > 0)
        .select(col("doc_id"), col("n_words"), col("n_syms"), col("n_bpe"),
          (floor(col("n_bpe").cast(DoubleType) * lit(1.0e9) / col("n_syms")
            + lit(0.5)).cast(LongType) / lit(1.0e9)).as("bpe_ratio"))
    },

    // ------------------------------------------------------------------
    // Temperature-scaled source sampling weights — the mixture-weighting
    // step of multilingual/multi-source LLM training (upsample small
    // sources, downsample the dominant one). α = 0.5: wᵢ ∝ √pᵢ, chosen
    // because IEEE sqrt is correctly rounded (engine-identical), unlike
    // pow/exp — each √pᵢ snaps to a ×10⁹ exact long BEFORE the
    // normalizing sum, so the |sources|-row assembly is order-invariant.
    // The corpus contributes ONE map-side-combined token-count agg;
    // everything after rides the |sources|-row bookkeeping relation.
    // boost = wᵢ/pᵢ is the effective epoch multiplier a data loader
    // applies to the source.
    "pipe_sample_weights" -> QueryDef.withOracle(
      s"""WITH t AS (
         |  SELECT source,
         |    CAST(sum(len(${TextOps.toksSql("text")})) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |g AS (
         |  SELECT source, n_tokens,
         |    CAST(sum(n_tokens) OVER () AS BIGINT) AS total
         |  FROM t),
         |w AS (
         |  SELECT source, n_tokens,
         |    CAST(n_tokens AS DOUBLE) / total AS p,
         |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE) / total) * 1000000000
         |      + 0.5) AS BIGINT) AS s_fp
         |  FROM g)
         |SELECT source, n_tokens,
         |  floor(p * 1000000000 + 0.5) / 1.0e9 AS p_raw,
         |  floor(CAST(s_fp AS DOUBLE)
         |      / (SELECT CAST(sum(s_fp) AS BIGINT) FROM w)
         |      * 1000000000 + 0.5) / 1.0e9 AS weight,
         |  floor(CAST(s_fp AS DOUBLE)
         |      / (SELECT CAST(sum(s_fp) AS BIGINT) FROM w) / p
         |      * 1000000000 + 0.5) / 1.0e9 AS boost
         |FROM w""".stripMargin) { (s, dir) =>
      val t = Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(sum(size(tokens(col("text"))).cast(LongType)).as("n_tokens"))
        .persist() // |sources|-row bookkeeping: totals + weights ride it
      val tot = t.agg(sum(col("n_tokens")).as("total"))
      val w = t.crossJoin(broadcast(tot))
        .select(col("source"), col("n_tokens"),
          (col("n_tokens").cast(DoubleType) / col("total")).as("p"),
          floor(sqrt(col("n_tokens").cast(DoubleType) / col("total"))
            * lit(1.0e9) + lit(0.5)).cast(LongType).as("s_fp"))
      val sTot = w.agg(sum(col("s_fp")).as("s_tot"))
      w.crossJoin(broadcast(sTot))
        .select(col("source"), col("n_tokens"),
          (floor(col("p") * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("p_raw"),
          (floor(col("s_fp").cast(DoubleType) / col("s_tot")
            * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("weight"),
          (floor(col("s_fp").cast(DoubleType) / col("s_tot") / col("p")
            * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("boost"))
    },

    // ------------------------------------------------------------------
    // DSIR-style importance weights — Data Selection via Importance
    // Resampling, the standard recipe for steering a raw corpus toward
    // a target distribution: score every document by the hashed-n-gram
    // log-likelihood ratio ln p_target(d)/ln p_source(d) under add-1
    // smoothed unigram models over a 4096-bucket hashed vocabulary
    // (target = the 'en' slice, source = the whole corpus). Cross-
    // engine determinism: per-BUCKET log-ratios are snapped ×10⁶ to
    // BIGINT once (ln on identical doubles both engines — the tfidf
    // discipline), and each document's score is then an EXACT integer
    // sum of snapped bucket values — order-invariant under any
    // partitioning. Scale shape: one corpus token pass feeding three
    // map-side-combined aggregations whose outputs are ≤V=4096-row
    // (bucket counts) or 1-row (totals) bookkeeping; the per-doc score
    // join broadcasts the 4096-row LLR table back onto the token
    // stream — nothing corpus-scale ever shuffles except the final
    // doc-keyed sum.
    "pipe_dsir_weights" -> QueryDef.withOracle(
      s"""WITH tb AS (
         |  SELECT doc_id, lang,
         |    ('0x' || substr(md5(tok), 1, 15))::BIGINT % 4096 AS b
         |  FROM (SELECT doc_id, lang, unnest(${TextOps.toksSql("text")}) AS tok
         |        FROM documents)),
         |cs AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM tb GROUP BY b),
         |ct AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM tb
         |       WHERE lang = 'en' GROUP BY b),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS ns,
         |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nt
         |  FROM tb),
         |llr AS (
         |  SELECT cs.b,
         |    CAST(floor((ln((coalesce(ct.c, 0) + 1.0) / (tot.nt + 4096.0))
         |      - ln((cs.c + 1.0) / (tot.ns + 4096.0))) * 1000000 + 0.5)
         |      AS BIGINT) AS llr_fp
         |  FROM cs LEFT JOIN ct ON ct.b = cs.b CROSS JOIN tot)
         |SELECT tb.doc_id, tb.lang, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(llr.llr_fp) AS BIGINT) AS dsir_fp,
         |  CAST(sum(llr.llr_fp) AS BIGINT) > 0 AS target_like
         |FROM tb JOIN llr ON llr.b = tb.b
         |GROUP BY tb.doc_id, tb.lang""".stripMargin) { (s, dir) =>
      val bucket = (t: Column) =>
        pmod(conv(substring(md5(t), 1, 15), 16, 10).cast(LongType), lit(4096L))
      val tb = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          explode(tokens(col("text"))).as("tok"))
        .select(col("doc_id"), col("lang"), bucket(col("tok")).as("b"))
        .persist() // (doc_id, lang, bucket) token stream — ids + a small
      // int per token, read by the three count aggs and the score join
      val cs = tb.groupBy(col("b")).agg(count(lit(1)).as("c"))
      val ct = tb.filter(col("lang") === "en")
        .groupBy(col("b")).agg(count(lit(1)).as("tc"))
      val tot = tb.agg(count(lit(1)).as("ns"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("nt"))
      val llr = cs.join(ct, Seq("b"), "left")
        .crossJoin(broadcast(tot))
        .select(col("b"),
          floor((log((coalesce(col("tc"), lit(0L)) + lit(1.0))
              / (col("nt") + lit(4096.0)))
            - log((col("c") + lit(1.0)) / (col("ns") + lit(4096.0))))
            * lit(1.0e6) + lit(0.5)).cast(LongType).as("llr_fp"))
      tb.join(broadcast(llr), Seq("b")) // ≤4096-row LLR table
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("llr_fp")).as("dsir_fp"))
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("dsir_fp"),
          (col("dsir_fp") > 0).as("target_like"))
    },

    // ------------------------------------------------------------------
    // Epoch plan — pipe_sample_weights turned into the numbers a data
    // loader actually consumes: per source, the token allocation out of
    // a fixed training budget (√p temperature weights), the implied
    // epoch count over that source's corpus, and a proportional shard
    // allocation (≥1) out of the 64-shard layout. Every division is
    // exact integer arithmetic (B·s_fp div Σ, round-half-up shard
    // split) or a snapped double mirrored verbatim — the plan is
    // byte-reproducible across engines and reruns, which is what makes
    // a training mix auditable. Same ONE corpus agg as sample_weights;
    // the plan itself is |sources|-row bookkeeping.
    "pipe_epoch_plan" -> QueryDef.withOracle(
      s"""WITH t AS (
         |  SELECT source,
         |    CAST(sum(len(${TextOps.toksSql("text")})) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |g AS (
         |  SELECT source, n_tokens,
         |    CAST(sum(n_tokens) OVER () AS BIGINT) AS total
         |  FROM t),
         |w AS (
         |  SELECT source, n_tokens,
         |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE) / total) * 1000000000
         |      + 0.5) AS BIGINT) AS s_fp
         |  FROM g),
         |n AS (SELECT CAST(sum(s_fp) AS BIGINT) AS stot FROM w)
         |SELECT w.source, w.n_tokens,
         |  CAST((1000000 * w.s_fp) // n.stot AS BIGINT) AS target_tokens,
         |  floor(CAST((1000000 * w.s_fp) // n.stot AS DOUBLE) * 1000000
         |      / w.n_tokens + 0.5) / 1.0e6 AS epochs,
         |  CAST(greatest(1, (128 * w.s_fp + n.stot) // (2 * n.stot))
         |    AS BIGINT) AS n_shards
         |FROM w CROSS JOIN n""".stripMargin) { (s, dir) =>
      val budget = 1000000L
      val t = Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(sum(size(tokens(col("text"))).cast(LongType)).as("n_tokens"))
        .persist()
      val tot = t.agg(sum(col("n_tokens")).as("total"))
      val w = t.crossJoin(broadcast(tot))
        .select(col("source"), col("n_tokens"),
          floor(sqrt(col("n_tokens").cast(DoubleType) / col("total"))
            * lit(1.0e9) + lit(0.5)).cast(LongType).as("s_fp"))
      val n = w.agg(sum(col("s_fp")).as("stot"))
      w.crossJoin(broadcast(n))
        .select(col("source"), col("n_tokens"),
          expr(s"($budget * s_fp) div stot").as("target_tokens"),
          (floor(expr(s"($budget * s_fp) div stot").cast(DoubleType)
            * lit(1.0e6) / col("n_tokens") + lit(0.5)) / lit(1.0e6))
            .as("epochs"),
          greatest(lit(1L), expr("(128 * s_fp + stot) div (2 * stot)"))
            .as("n_shards"))
    },

    // ------------------------------------------------------------------
    // Per-user daily lag/rolling feature matrix — the feature-generation
    // step that turns an event stream into supervised-learning rows
    // (lag-1, lag-7, trailing-7-day sum and active-day count per user
    // per day). Calendar-aware: all four features are RANGE frames over
    // the integer day, so a user absent yesterday gets lag1=0, not the
    // previous-row value a ROWS frame would leak. ONE shuffle on the
    // high-cardinality user key serves the daily agg and every window;
    // daily values enter as exact ×10⁶ fixed-point longs so the frame
    // sums are order-invariant, and the doubles assemble from exact
    // integers at output. Per-user partitions are calendar-bounded.
    "pipe_lag_features" -> QueryDef.withOracle(
      """WITH d AS (
        |  SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
        |      AS BIGINT) AS vfp
        |  FROM events GROUP BY 1, 2),
        |f AS (
        |  SELECT user_id, day, vfp,
        |    CAST(coalesce(sum(vfp) OVER (PARTITION BY user_id ORDER BY day
        |      RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS lag1_fp,
        |    CAST(coalesce(sum(vfp) OVER (PARTITION BY user_id ORDER BY day
        |      RANGE BETWEEN 7 PRECEDING AND 7 PRECEDING), 0) AS BIGINT)
        |      AS lag7_fp,
        |    CAST(sum(vfp) OVER (PARTITION BY user_id ORDER BY day
        |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS sum7_fp,
        |    CAST(count(*) OVER (PARTITION BY user_id ORDER BY day
        |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS n_active7
        |  FROM d)
        |SELECT user_id, day,
        |  CAST(vfp AS DOUBLE) / 1000000 AS value,
        |  CAST(lag1_fp AS DOUBLE) / 1000000 AS lag1,
        |  CAST(lag7_fp AS DOUBLE) / 1000000 AS lag7,
        |  CAST(sum7_fp AS DOUBLE) / 1000000 AS sum7,
        |  n_active7
        |FROM f""".stripMargin) { (s, dir) =>
      val daily = Tables.eventsTimed(s, dir)
        .groupBy(col("user_id"), expr("ts_s div 86400").as("day"))
        .agg(sum(floor(col("value") * lit(1000000) + lit(0.5))
          .cast(LongType)).as("vfp"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      daily.select(col("user_id"), col("day"),
          col("vfp"),
          coalesce(sum(col("vfp")).over(w.rangeBetween(-1, -1)), lit(0L))
            .as("lag1_fp"),
          coalesce(sum(col("vfp")).over(w.rangeBetween(-7, -7)), lit(0L))
            .as("lag7_fp"),
          sum(col("vfp")).over(w.rangeBetween(-6, 0)).as("sum7_fp"),
          count(lit(1)).over(w.rangeBetween(-6, 0)).as("n_active7"))
        .select(col("user_id"), col("day"),
          (col("vfp").cast(DoubleType) / lit(1000000)).as("value"),
          (col("lag1_fp").cast(DoubleType) / lit(1000000)).as("lag1"),
          (col("lag7_fp").cast(DoubleType) / lit(1000000)).as("lag7"),
          (col("sum7_fp").cast(DoubleType) / lit(1000000)).as("sum7"),
          col("n_active7"))
    },

    // ------------------------------------------------------------------
    // Staged dedup funnel report — the per-source audit table every
    // dataset card carries: how many documents each dedup stage removes
    // when run as a SEQUENCE (exact → 32-token prefix → verified
    // near-dup). Sequential semantics without re-running stages on
    // shrinking inputs: a prefix-group's min doc always survives the
    // exact stage (its exact keeper has the same text, hence the same
    // prefix, hence IS the group min), so stage-2 removal is just
    // ¬exact ∧ ≠group-min on the full corpus; stage-3 removal = has a
    // verified near-dup (jac ≥ 0.5) with a SMALLER-id stage-1/2
    // survivor. Corpus work: the two hash windows (high-cardinality
    // md5 keys), the shared banded-minhash candidate stage, one
    // survivor semijoin — output is |sources| rows.
    "pipe_dedup_funnel" -> QueryDef.withOracle(
      s"""${Dedup.nearDupPairsSql},
         |f AS (
         |  SELECT doc_id, source,
         |    doc_id <> min(doc_id) OVER (PARTITION BY
         |      md5(${TextOps.normSql("text")})) AS ex_dup,
         |    min(doc_id) OVER (PARTITION BY
         |      md5(array_to_string((${TextOps.toksSql("text")})[1:32], ' ')))
         |      AS pf_min
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, source, ex_dup,
         |    (NOT ex_dup AND doc_id <> pf_min) AS pf_dup
         |  FROM f),
         |surv AS (SELECT doc_id FROM g WHERE NOT ex_dup AND NOT pf_dup),
         |ndrem AS (
         |  SELECT DISTINCT n.doc_b AS doc_id
         |  FROM pairs n JOIN surv v ON v.doc_id = n.doc_a),
         |r AS (
         |  SELECT g.doc_id, g.source, g.ex_dup, g.pf_dup,
         |    (NOT g.ex_dup AND NOT g.pf_dup AND nr.doc_id IS NOT NULL)
         |      AS nd_dup
         |  FROM g LEFT JOIN ndrem nr ON nr.doc_id = g.doc_id)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN ex_dup THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_exact_removed,
         |  CAST(sum(CASE WHEN pf_dup THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_prefix_removed,
         |  CAST(sum(CASE WHEN nd_dup THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_neardup_removed,
         |  CAST(sum(CASE WHEN NOT ex_dup AND NOT pf_dup AND NOT nd_dup
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors
         |FROM r GROUP BY source""".stripMargin) { (s, dir) =>
      val wEx = Window.partitionBy(col("k_ex"))
      val wPf = Window.partitionBy(col("k_pf"))
      val flagged = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          md5(TextOps.normText(col("text")).cast(BinaryType)).as("k_ex"),
          md5(concat_ws(" ", slice(tokens(col("text")), 1, 32))
            .cast(BinaryType)).as("k_pf"))
        .select(col("doc_id"), col("source"),
          (col("doc_id") =!= min(col("doc_id")).over(wEx)).as("ex_dup"),
          min(col("doc_id")).over(wPf).as("pf_min"))
        .withColumn("pf_dup", !col("ex_dup") && col("doc_id") =!= col("pf_min"))
        .persist() // feeds the survivor set and the final rollup
      val nd = Dedup.nearDupPairs(s, dir)
      val surv = flagged.filter(!col("ex_dup") && !col("pf_dup"))
        .select(col("doc_id").as("doc_a"))
      val ndrem = nd.join(surv, Seq("doc_a"))
        .select(col("doc_b").as("doc_id")).distinct()
        .withColumn("nd_hit", lit(true))
      flagged.join(ndrem, Seq("doc_id"), "left_outer")
        .withColumn("nd_dup", !col("ex_dup") && !col("pf_dup")
          && coalesce(col("nd_hit"), lit(false)))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("ex_dup"), 1).otherwise(0)).cast(LongType)
            .as("n_exact_removed"),
          sum(when(col("pf_dup"), 1).otherwise(0)).cast(LongType)
            .as("n_prefix_removed"),
          sum(when(col("nd_dup"), 1).otherwise(0)).cast(LongType)
            .as("n_neardup_removed"),
          sum(when(!col("ex_dup") && !col("pf_dup") && !col("nd_dup"), 1)
            .otherwise(0)).cast(LongType).as("n_survivors"))
    },

    // ------------------------------------------------------------------
    // Dataset fingerprint — the reproducibility gate before any
    // training run ("is this EXACTLY the corpus the last run saw?"):
    // per source, an ORDER-INVARIANT content fingerprint = Σ over docs
    // of the 60-bit md5 of (doc_id ':' md5(text)), reduced mod 2⁶¹,
    // plus row and char totals so drift surfaces three ways (changed
    // text flips the fingerprint, dropped rows flip the count, trimmed
    // text flips the chars). A commutative sum is what makes the
    // fingerprint partitioning/arrival-order invariant — the property
    // a file-order-sensitive hash chain lacks on a distributed read.
    // One map-side-combined keyed agg, nothing after it row-scaled.
    "pipe_dataset_hash" -> QueryDef.withOracle(
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
        |      || md5(text)), 1, 15))::BIGINT AS HUGEINT))
        |    % 2305843009213693951 AS BIGINT) AS content_fp
        |FROM documents GROUP BY source""".stripMargin) { (s, dir) =>
      val dec38 = DecimalType(38, 0)
      val h = conv(substring(md5(concat(col("doc_id").cast(StringType),
          lit(":"), md5(col("text").cast(BinaryType)))
          .cast(BinaryType)), 1, 15), 16, 10).cast(LongType)
      Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          (sum(h.cast(dec38)) % lit(2305843009213693951L)).cast(LongType)
            .as("content_fp"))
    }
  )
}
