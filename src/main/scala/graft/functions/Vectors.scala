package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{call_function, lit}

/** Column API over the native vector expressions.
  *
  * The expressions are the functions [[graft.GraftExtensions]] injects
  * into the session (so they're also usable from `spark.sql`), surfaced
  * via `call_function`, which avoids any private Column↔Expression
  * bridging.
  */
object Vectors {

  /** Cosine similarity of two `array<float>` columns, in double. */
  def cosine(a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)

  /** Dot product of an `array<float>` column with an `array<double>`
    * plane, in double. */
  def dot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  /** Euclidean distance of two `array<float>` columns, in double
    * (matches DuckDB `list_distance`). */
  def l2(a: Column, b: Column): Column =
    call_function("graft_l2", a, b)

  /** Raw inner product of two `array<float>` columns, in double — the
    * MIPS scoring primitive (matches DuckDB `list_inner_product`). */
  def fdot(a: Column, b: Column): Column =
    call_function("graft_fdot", a, b)

  /** Mergeable Misra-Gries heavy-hitters aggregate over a string
    * column: top-k items as array<struct<token, est_count>>, counts
    * underestimating by at most N/capacity. */
  def heavyHitters(c: Column, capacity: Int, k: Int): Column =
    call_function("graft_heavy_hitters", c, lit(capacity), lit(k))

  /** Mergeable KLL-style quantile sketch over a double column: the
    * estimated quantiles for `qs` as array<double>. */
  def kllQuantiles(c: Column, levelCap: Int, qs: Seq[Double]): Column =
    call_function("graft_kll_quantiles", c, lit(levelCap), lit(qs.toArray))

  /** Intersection count of two sorted `array<bigint>` columns. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    call_function("graft_sorted_intersect_count", a, b)

  /** Exact integer dot product of two int8-code `array<bigint>`
    * columns (codegen'd tight loop). */
  def quantizedDot(a: Column, b: Column): Column =
    call_function("graft_quantized_dot", a, b)

  /** KMV/theta distinct sketch over a bigint hash column: the k
    * smallest distinct hashes, sorted ascending. */
  def kmvMinHashes(h: Column, k: Int): Column =
    call_function("graft_kmv_minhashes", h, lit(k))

  /** Mergeable fixed-point Gram accumulator over an `array<float>`
    * column: the upper triangle of Σ x·xᵀ as
    * array<struct<i, j, gram_fp, n_vecs>> (one ~d²/2-long buffer per
    * partition through the exchange; see plans/GramSketch.scala). */
  def gramSketch(emb: Column): Column =
    call_function("graft_gram", emb)

  /** Bounded top-k-per-group aggregate over (double value, bigint or
    * string id): the k best pairs under (value DESC, id ASC) as
    * array<struct<id, value>> — the window-free top-k-per-group plan
    * (≤k pairs per partition through the exchange, never the raw
    * stream). Called through `Skew.topK`. */
  def topkByKey(value: Column, id: Column, k: Int): Column =
    call_function("graft_topk_by_key", value, id, lit(k))

  /** Co-occurrence top-k aggregate over an `array<bigint>` partner
    * list per row: the k partners named by the most rows of the group,
    * as array<struct<part_b, weight>> under (weight DESC, part_b ASC)
    * — one primitive count map per group and partition, never a row
    * per pair (see plans/TopPartners.scala). */
  def topPartners(partners: Column, k: Int): Column =
    call_function("graft_top_partners", partners, lit(k))

  /** Nearest product-quantization code of one (vector, subspace) row
    * against the broadcast codebook — struct<dist, cell>, minimum by
    * (exact long L2 ASC, cell ASC); the native replacement for the
    * filter→transform→array_min chain (bit-identical; see
    * plans/IvfExpressions.scala). */
  def nearestPqCode(xfp: Column, sub: Column, cb: Column): Column =
    call_function("graft_nearest_pq_code", xfp, sub, cb)

  /** ADC distance of a corpus vector's code array against a probe's
    * (sub*codesPerSub + cell)-keyed distance-table map — the native
    * replacement for the per-subspace aggregate + map element_at chain
    * (bit-identical, null on missing key; see
    * plans/IvfExpressions.scala). */
  def adcDistance(codes: Column, dtab: Column, codesPerSub: Int, m: Int): Column =
    call_function("graft_adc_distance", codes, dtab, lit(codesPerSub), lit(m))

  /** Content-defined (Gear-style, mod-32) chunks of a string column as
    * array<string> — the one-pass native replacement for the
    * codepoint-array + boundary-filter + re-substring chain
    * (bit-identical; see plans/CdcExpressions.scala). */
  def cdcChunks(text: Column): Column =
    call_function("graft_cdc_chunks", text)

  /** Per-document 4-round damped TextRank over one document's token
    * lists (`array<array<string>>`, e.g. a `collect_list` of token
    * arrays per doc_id): adjacent ≥3-char, unequal tokens within a list
    * are the graph's edges. Returns the top-3 words as
    * array<struct<pos, word, rank_fp>> — the shuffle-once-compute-local
    * replacement for the distributed 4-round recurrence (bit-identical;
    * see plans/TextRankExpressions.scala). */
  def textrankTop3(tokenLists: Column): Column =
    call_function("graft_textrank_top3", tokenLists)

  /** Top-`topN` IVF cells of an `array<float>` vector (precomputed
    * squared norm `na`) against a broadcast centroid array of
    * struct<cell, cvec, nb>, as array<struct<neg, cell>> sorted by
    * (cos DESC, cell ASC) — the native replacement for the
    * transform→sort_array→slice chain in the IVF build's scoring pass
    * (bit-identical; see plans/IvfExpressions.scala). */
  def topCells(emb: Column, na: Column, cents: Column, topN: Int): Column =
    call_function("graft_top_cells", emb, na, cents, lit(topN))

  /** Bloom-membership predicate over a bigint key column; `bytes` is a
    * serialized `org.apache.spark.util.sketch.BloomFilter`. */
  def bloomMightContain(key: Column, bytes: Array[Byte]): Column =
    call_function("graft_bloom_might_contain", key, lit(bytes))

  /** Deterministic pseudo-random hyperplanes for LSH: plane(j)(i) in
    * [-0.5, 0.5), derived from a fixed LCG-style mix so the identical
    * literals can be embedded in oracle SQL. */
  def planes(nPlanes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until nPlanes).map { j =>
      (0 until dim).map { i =>
        (((j * 1315423911L + i * 2654435761L) % 1000 + 1000) % 1000 / 1000.0) - 0.5
      }
    }

  /** SQL literal for a plane, for oracle parity. */
  def planeSql(p: Seq[Double]): String =
    p.map(_.toString).mkString("[", ", ", "]")
}
