package graft.operators

import graft.{GraftSession, QueryDef}
import graft.functions.Vectors
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * `ann_topk_exact` is the brute-force correctness baseline: the probe
  * set is tiny and broadcast, so the scan is a single pass over the
  * corpus with no shuffle of the big side — this is exactly the shape
  * that scales to 10^9 vectors (probes × corpus is linear in corpus).
  *
  * `ann_lsh` is the scale path: deterministic random-hyperplane buckets
  * bound each probe's candidate set; the same plane literals could be
  * evaluated by any engine. `ann_ivf_assign` builds the IVF cell
  * structure itself with reproducible fixed-point centroid accumulation.
  */
object Similarity {

  private val K = 5
  private val NPROBES = 10
  private val RERANK = 32

  /** The neighbor ranking most top-k queries here use: the top-K
    * (probe_id, neighbor_id, cos_sim, rn) of a scored pair stream,
    * similarity descending, ids ascending on ties. */
  private def cosTopK(scored: DataFrame): DataFrame =
    Skew.topK(scored, "probe_id", "cos_sim", "neighbor_id", K)

  /** Oracle twin of the top-k aggregate: per probe, the first `k` rows
    * of the query `from` by (`order`, neighbor_id ASC), as `cols` and
    * their rank rn. */
  private def topKSql(from: String, cols: String, order: String, k: Int = K): String =
    s"""SELECT $cols, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY $order, neighbor_id ASC) AS rn
       |  FROM ($from))
       |WHERE rn <= $k""".stripMargin

  /** DuckDB's unrounded cosine of two DOUBLE lists: the one oracle
    * spelling of [[Vectors.cosine]]. Callers round at their own site;
    * some compare the raw value. */
  private def cosSql(a: String, b: String): String =
    s"list_cosine_similarity($a, $b)"

  /** An embedding column as a DOUBLE list. */
  private def embDSql(c: String): String =
    s"list_transform($c, x -> CAST(x AS DOUBLE))"

  /** [[cosSql]] of the `embedding` columns of table aliases `a`, `b`. */
  private[operators] def embCosSql(a: String, b: String): String =
    cosSql(embDSql(s"$a.embedding"), embDSql(s"$b.embedding"))

  /** Brute-force probe scan, the scale shape of every exact ANN query:
    * the NPROBES probe rows of `corpus` (`vec_id AS probe_id`, then
    * `probe`) broadcast and joined on `on` against ONE pass over
    * `corpus`. Returns (`key`, neighbor_id, `score`). */
  private def probeScan(corpus: DataFrame, probe: Seq[Column], on: Column,
      score: Column, key: Column = col("probe_id")): DataFrame = {
    val probes = corpus.filter(col("vec_id") < NPROBES)
      .select(col("vec_id").as("probe_id") +: probe: _*)
    corpus.join(broadcast(probes), on)
      .select(key, col("vec_id").as("neighbor_id"), score)
  }

  /** The probe-scan join condition of every scan but the label-keyed
    * hard negatives: any row but the probe itself. */
  private def notSelf: Column = col("vec_id") =!= col("probe_id")

  private def probeEmb: Column = col("embedding").as("probe_emb")

  /** Round-6 cosine of a scanned embedding row to its probe. */
  private def probeCos: Column =
    round(Vectors.cosine(col("probe_emb"), col("embedding")), 6).as("cos_sim")

  /** Oracle twin of [[probeScan]]: probe set `p` joined to corpus `e`
    * on `on`, selecting (probe_id, neighbor_id, `cols`). */
  private def probeScanSql(cols: String, on: String = "e.vec_id <> p.vec_id"): String =
    s"""SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id, $cols
       |FROM (SELECT * FROM embeddings WHERE vec_id < $NPROBES) p
       |JOIN embeddings e ON $on""".stripMargin

  private val probeCosSql = s"round(${embCosSql("p", "e")}, 6) AS cos_sim"

  /** Exact rerank of candidate (probe_id, neighbor_id) pairs: each id
    * fetches its float embedding, the round-6 cosine scores the pair
    * and [[cosTopK]] keeps each probe's top K. */
  private def rerank(s: SparkSession, dir: String, cand: DataFrame): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val cos = round(Vectors.cosine(col("p_emb"), col("n_emb")), 6)
    cosTopK(cand
      .join(e.select(col("vec_id").as("probe_id"), col("embedding").as("p_emb")), "probe_id")
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb")), "neighbor_id")
      .select(col("probe_id"), col("neighbor_id"), cos.as("cos_sim")))
  }

  /** Oracle twin of [[rerank]] over the candidate CTE `cand`. */
  private def rerankSql(cand: String): String =
    topKSql(
      s"""SELECT c.probe_id, c.neighbor_id, round(${embCosSql("x", "y")}, 6) AS cos_sim
         |  FROM $cand c JOIN embeddings x ON x.vec_id = c.probe_id
         |  JOIN embeddings y ON y.vec_id = c.neighbor_id""".stripMargin,
      "probe_id, neighbor_id, cos_sim", "cos_sim DESC")

  /** Shared int8-quantized corpus (vec_id, qv, qn), persisted so the
    * quantized scan tier and the rerank tier hit one cache entry.
    * The persist is also an optimizer barrier: without it
    * CollapseProject inlines the whole quantization into the per-pair
    * zip_with lambda and re-quantizes both vectors for every candidate
    * pair. */
  private def quantizedCorpus(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .withColumn("maxabs", greatest(array_max(transform(embD, x => abs(x))), lit(1e-12)))
      .select(col("vec_id"),
        transform(embD, x => floor(x * 127.0 / col("maxabs") + 0.5).cast(LongType)).as("qv"))
      .withColumn("qn", aggregate(col("qv"), lit(0L), (a, x) => a + x * x))
      .persist()

  /** Quantized-cosine candidates: for each probe, the top-`k` vectors
    * of the persisted `qcorp` ([[quantizedCorpus]]) by int8-code
    * cosine. Returns (probe_id, neighbor_id, cos_q, rn). ScaleStress
    * times it over a synthetic corpus. */
  private[graft] def quantizedTopK(qcorp: DataFrame, k: Int): DataFrame = {
    val cosQ = round(Vectors.quantizedDot(col("pqv"), col("qv")).cast(DoubleType) /
      sqrt(greatest(col("pqn") * col("qn"), lit(1L)).cast(DoubleType)), 6)
    Skew.topK(probeScan(qcorp, Seq(col("qv").as("pqv"), col("qn").as("pqn")), notSelf,
      cosQ.as("cos_q")), "probe_id", "cos_q", "neighbor_id", k)
  }

  /** Oracle twin of [[quantizedTopK]] (after `quantizedSql`). */
  private def quantizedTopkSql(k: Int): String = topKSql(
    """SELECT probe_id, neighbor_id,
      |    round(CAST(qdot AS DOUBLE) / sqrt(CAST(greatest(qq, 1) AS DOUBLE)), 6) AS cos_q
      |  FROM c""".stripMargin, "probe_id, neighbor_id, cos_q", "cos_q DESC", k)

  /** MMR candidate-pool size per probe (tier-1 survivors the greedy
    * selection diversifies over). A deployment knob, like RERANK. */
  private val MMR_CAND = 16

  /** Full DuckDB replay of ann_lsh: the same 4×4 hyperplane literals
    * (shortest-round-trip doubles, so both engines parse identical
    * bits), sign-buckets as exact integer sums, per-table hamming-1
    * probe expansion, band-OR distinct candidates, and the round-6
    * cosine top-K with id tiebreaks. Verified bit-for-bit against the
    * Spark output at sf0.1 before landing. */
  private def lshOracleSql: String = {
    val planesPerTable = 4 // must match the ann_lsh lambda's constants
    val nTables = 4
    val planes = Vectors.planes(planesPerTable * nTables, 64)
    val plRows = (0 until nTables).flatMap { t =>
      (0 until planesPerTable).map { j =>
        s"($t, ${1 << j}, ${Vectors.planeSql(planes(t * planesPerTable + j))})"
      }
    }.mkString(",\n    ")
    s"""WITH ed AS (
       |  SELECT vec_id, ${embDSql("embedding")} AS emb
       |  FROM embeddings),
       |pl(tbl, w, plane) AS (VALUES
       |    $plRows),
       |b AS (
       |  SELECT e.vec_id, p.tbl,
       |    CAST(sum(CASE WHEN list_dot_product(e.emb, p.plane) > 0
       |      THEN p.w ELSE 0 END) AS INT) AS bucket
       |  FROM ed e CROSS JOIN pl p GROUP BY 1, 2),
       |pr AS (
       |  SELECT vec_id AS probe_id, tbl,
       |    unnest([bucket, xor(bucket, 1), xor(bucket, 2),
       |            xor(bucket, 4), xor(bucket, 8)]) AS pbucket
       |  FROM b WHERE vec_id < $NPROBES),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT pr.probe_id, c.vec_id AS neighbor_id
       |  FROM pr JOIN b c ON c.tbl = pr.tbl AND c.bucket = pr.pbucket
       |    AND c.vec_id <> pr.probe_id)
       |""".stripMargin + topKSql(
      s"""SELECT cd.probe_id, cd.neighbor_id,
         |    round(${cosSql("pe.emb", "ne.emb")}, 6) AS cos_sim
         |  FROM cand cd
         |  JOIN ed pe ON pe.vec_id = cd.probe_id
         |  JOIN ed ne ON ne.vec_id = cd.neighbor_id""".stripMargin,
      "probe_id, neighbor_id, cos_sim", "cos_sim DESC")
  }

  /** Unrolled greedy-MMR oracle CTE chain (through `sel$K`): K blocks,
    * each replaying one anti-join + max-agg + argmax selection step in
    * exact BIGINT fixed point (7·rel − 3·maxsim on ×10⁶-snapped code
    * cosines) — built by a loop because the blocks are formulaic, not
    * because the semantics recurse unboundedly (K is a constant).
    * Shared by ann_mmr_rerank and ann_diversity_eval. */
  private def mmrOracleCtes: String = {
    val head = s"""WITH $quantizedSql,
       |cand AS (
       |  SELECT probe_id, neighbor_id,
       |    CAST(floor(round(CAST(qdot AS DOUBLE)
       |      / sqrt(CAST(greatest(qq, 1) AS DOUBLE)), 6) * 1e6 + 0.5)
       |      AS BIGINT) AS rel,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY round(CAST(qdot AS DOUBLE)
       |        / sqrt(CAST(greatest(qq, 1) AS DOUBLE)), 6) DESC,
       |        neighbor_id ASC) AS rn
       |  FROM c),
       |c16 AS MATERIALIZED (SELECT probe_id, neighbor_id, rel FROM cand
       |        WHERE rn <= $MMR_CAND),
       |pairs AS MATERIALIZED (
       |  SELECT x.probe_id, x.neighbor_id AS a, y.neighbor_id AS b,
       |    CAST(floor(round(CAST(CAST(list_dot_product(
       |        list_transform(na.qv, v -> CAST(v AS DOUBLE)),
       |        list_transform(nb.qv, v -> CAST(v AS DOUBLE)))
       |        AS BIGINT) AS DOUBLE)
       |      / sqrt(CAST(greatest(na.qn * nb.qn, 1) AS DOUBLE)), 6)
       |      * 1e6 + 0.5) AS BIGINT) AS sim
       |  FROM c16 x JOIN c16 y ON y.probe_id = x.probe_id
       |    AND y.neighbor_id <> x.neighbor_id
       |  JOIN n na ON na.vec_id = x.neighbor_id
       |  JOIN n nb ON nb.vec_id = y.neighbor_id),
       |s1 AS MATERIALIZED (SELECT probe_id, 1 AS step, neighbor_id, rel,
       |         CAST(7 * rel AS BIGINT) AS mmr_fp FROM cand WHERE rn = 1),
       |sel1 AS MATERIALIZED (SELECT probe_id, neighbor_id FROM s1)""".stripMargin
    val steps = (2 to K).map { k =>
      s"""r$k AS MATERIALIZED (
         |  SELECT c.probe_id, c.neighbor_id, c.rel,
         |    CAST(max(p.sim) AS BIGINT) AS mp
         |  FROM c16 c
         |  LEFT JOIN sel${k - 1} sl ON sl.probe_id = c.probe_id
         |    AND sl.neighbor_id = c.neighbor_id
         |  JOIN pairs p ON p.probe_id = c.probe_id AND p.a = c.neighbor_id
         |  JOIN sel${k - 1} sb ON sb.probe_id = p.probe_id
         |    AND sb.neighbor_id = p.b
         |  WHERE sl.neighbor_id IS NULL
         |  GROUP BY 1, 2, 3),
         |s$k AS MATERIALIZED (
         |  SELECT probe_id, $k AS step, neighbor_id, rel, mmr_fp FROM (
         |    SELECT probe_id, neighbor_id, rel,
         |      CAST(7 * rel - 3 * mp AS BIGINT) AS mmr_fp,
         |      row_number() OVER (PARTITION BY probe_id
         |        ORDER BY 7 * rel - 3 * mp DESC, neighbor_id ASC) AS rr
         |    FROM r$k) WHERE rr = 1),
         |sel$k AS MATERIALIZED (SELECT probe_id, neighbor_id FROM sel${k - 1}
         |  UNION ALL SELECT probe_id, neighbor_id FROM s$k)""".stripMargin
    }.mkString(",\n")
    head + ",\n" + steps
  }

  private def mmrOracleSql: String =
    mmrOracleCtes + "\n" + (1 to K).map(k =>
      s"SELECT probe_id, step, neighbor_id, rel AS rel_q6, mmr_fp FROM s$k")
      .mkString("\nUNION ALL\n")

  /** Candidate-candidate similarity of two MMR pool entries: the
    * same formula shape as tier 1's cos_q on their int8 codes,
    * snapped to ×10⁶ BIGINT. */
  private def mmrSim(x: Column, y: Column): Column =
    floor(round(
      Vectors.quantizedDot(x("qv"), y("qv")).cast(DoubleType)
        / sqrt(greatest(x("qn") * y("qn"), lit(1L)).cast(DoubleType)), 6)
      * lit(1.0e6) + 0.5).cast(LongType)

  /** Shared greedy-MMR machinery, one row per probe: (probe_id, pool,
    * picks). `pool` is the quantized top-MMR_CAND tier in rank order,
    * `array<struct<rn, neighbor_id, rel, qv, qn>>` with ×10⁶-snapped
    * relevance; `picks` the K greedy selections in step order,
    * `array<struct<step, mmr_fp, c>>` with `c` the chosen pool entry.
    * One shuffle gathers the pool; the K steps then run as one
    * `aggregate` fold inside the row, which carries the picks so far
    * from step to step.
    * Step 1 is pure relevance (the rank-1 entry); each later step drops
    * the picked entries, scores the rest 7·rel − 3·max sim to a pick
    * and takes the max of (mmr_fp, −neighbor_id), i.e. the
    * (mmr_fp desc, neighbor_id asc) argmax. A pool that runs out
    * before step K ends the fold's growth, as the oracle's inner joins
    * do. */
  private def mmrParts(s: SparkSession, dir: String): DataFrame = {
    val qcorp = quantizedCorpus(s, dir)
    val pool = col("pool")
    val first = pool.getItem(0)
    val picks = aggregate(sequence(lit(2), lit(K)),
      array(struct(lit(1).as("step"), (first("rel") * 7).as("mmr_fp"),
        first.as("c"))),
      (acc, k) => {
        val rest = filter(pool, c =>
          !exists(acc, p => p("c")("neighbor_id") === c("neighbor_id")))
        val best = array_max(transform(rest, c => struct(
          (c("rel") * 7 - array_max(transform(acc, p => mmrSim(c, p("c"))))
            * 3).as("mmr_fp"),
          (-c("neighbor_id")).as("neg_id"), c.as("c"))))
        when(size(rest) === 0, acc).otherwise(concat(acc, array(struct(
          k.as("step"), best("mmr_fp").as("mmr_fp"), best("c").as("c")))))
      })
    // tier 1 keeps ≤ MMR_CAND×NPROBES rows: broadcast them to fetch
    // their codes, never shuffle the corpus
    qcorp.join(broadcast(quantizedTopK(qcorp, MMR_CAND)),
        col("vec_id") === col("neighbor_id"))
      .groupBy(col("probe_id"))
      .agg(array_sort(collect_list(struct(col("rn"), col("neighbor_id"),
        floor(col("cos_q") * lit(1.0e6) + 0.5).cast(LongType).as("rel"),
        col("qv"), col("qn")))).as("pool"))
      .select(col("probe_id"), pool, picks.as("picks"))
  }

  /** Oracle CTEs for the quantized corpus + pairwise code cosine
    * (`m`, `q`, `n`, `c`). Prepend `WITH ` before use. */
  private val quantizedSql: String =
    s"""m AS (
       |  SELECT vec_id,
       |    greatest(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 1e-12) AS maxabs
       |  FROM embeddings),
       |q AS (
       |  SELECT e.vec_id,
       |    list_transform(e.embedding, x ->
       |      CAST(floor(CAST(x AS DOUBLE) * 127.0 / m.maxabs + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings e JOIN m ON m.vec_id = e.vec_id),
       |n AS MATERIALIZED (
       |  SELECT vec_id, qv,
       |    CAST(list_aggregate(list_transform(qv, x -> x * x), 'sum') AS BIGINT) AS qn
       |  FROM q),
       |c AS MATERIALIZED (
       |  SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
       |    CAST(list_dot_product(list_transform(p.qv, x -> CAST(x AS DOUBLE)),
       |                          list_transform(e.qv, x -> CAST(x AS DOUBLE))) AS BIGINT) AS qdot,
       |    p.qn * e.qn AS qq
       |  FROM (SELECT * FROM n WHERE vec_id < $NPROBES) p
       |  JOIN n e ON e.vec_id <> p.vec_id)""".stripMargin

  /** Number of IVF cells — a free knob (k ∝ √N at scale), NOT the
    * label domain: label-derived cells grow linearly with the corpus,
    * so every downstream per-cell bound would too. 16 ≠ the 10 labels
    * in the test corpus by design. The oracle replays this default; a
    * cluster deployment overrides it per session via
    * `spark.graft.ivf.cells` (cells ∝ √N keeps per-cell size — and so
    * the kNN family's in-cell pair count — linear in corpus size; the
    * derived-sf1 study in docs/SCALING.md measures the cost of leaving
    * it pinned: in-cell pairs ×101 for vectors ×10). */
  private[operators] val KCELLS = 16

  /** Session-resolved cell count: the SCALING.md knob. Registry/oracle
    * paths never set the conf, so they always run the replayable
    * default. */
  private[graft] def kcellsOf(s: SparkSession): Int =
    GraftSession.positiveInt(s, "spark.graft.ivf.cells", KCELLS)

  /** Session-resolved Lloyd TRAINING sample modulus (the SCALING.md §3
    * sampled-centroid knob): when S > 1, the k-means training passes
    * (seed assignment, refinement rounds, centroid aggregations) run
    * over the deterministic 1/S hash-sample of the corpus, and only
    * the final top-2 scoring — the broadcast assign pass the build
    * already ends with — touches every vector. Training cost drops
    * from O(N·cells·LLOYD) to O(N/S·cells·LLOYD) + one O(N·cells)
    * assign; at 100 TB this is the standard IVF recipe (FAISS trains
    * on ~256 vectors/cell, assigns the full corpus). Registry/oracle
    * paths never set the conf, so the default (1 = train on
    * everything) keeps the build bit-replayable by the DuckDB oracle. */
  private[graft] def trainModOf(s: SparkSession): Int =
    GraftSession.positiveInt(s, "spark.graft.ivf.train.mod", 1)

  /** Fixed Lloyd refinement rounds (centroid rebuilds). Deterministic
    * and small — the build is reproducible, not convergence-chased. */
  private[operators] val LLOYD = 2

  private def embD = transform(col("embedding"), x => x.cast(DoubleType))

  /** Collapse per-cell fixed-point sum vectors into ONE broadcastable
    * array-of-structs row (cell, cvec, nb). Cosine is scale-invariant,
    * so the unnormalized per-cell sum vector IS the centroid — no
    * division, the accumulation stays exact. Input must carry
    * (cell, embedding); the posexplode is map-side combined down to
    * k×d partial rows per task before the single exchange. */
  private def centroidArr(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos0", "v")))
      .groupBy(col("cell"), (col("pos0") + 1).as("pos"))
      .agg(sum(floor(col("v").cast(DoubleType) * 1048576 + 0.5).cast(LongType)).as("s"))
      .groupBy(col("cell"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("s")))),
        x => x.getField("s").cast(DoubleType) / 1048576).as("cvec"))
      .agg(collect_list(struct(col("cell"), col("cvec"),
        aggregate(col("cvec"), lit(0.0), (acc, x) => acc + x * x).as("nb"))).as("cents"))

  /** Score every vector in `base` (must carry vec_id, label, embedding,
    * na) against the broadcast centroid table and keep the top-`topN`
    * cells, ranked (cos_c DESC, cell ASC). Row-local: the centroid
    * table collapses to one array-of-structs row and each vector picks
    * its top cells inside one projection — zero corpus-scale shuffle.
    * Norms are hoisted: the centroid norm rides inside the broadcast
    * struct, the vector norm is a column computed below the cross join
    * (a boundary CollapseProject cannot inline an alias across), so
    * each is evaluated once per row, not once per (row, cell). */
  private def scoreCells(base: DataFrame, centArr: DataFrame, topN: Int): DataFrame = {
    // sequential-order double accumulation, matching DuckDB's
    // list_cosine_similarity on double lists; sort key = (-cos, cell)
    // ascending ≡ the oracle's (cos DESC, cell ASC) ranking, and
    // negating the ROUNDED double is exact, so cos is recovered as -neg.
    // The whole per-vector scoring — dot, cosine, Round(_, 6), the
    // (neg, cell) ranking and the topN cut — is ONE native expression
    // (plans/IvfExpressions.scala), bit-identical to the
    // transform→sort_array→slice chain it replaces but a bounded-
    // scratch primitive loop instead of a cells-long lambda-interpreter
    // allocation + struct sort per row; at N·cells scale that chain WAS
    // the build cost (sf1d/160 cells: ~10 µs → sub-µs per row·cell).
    val top = graft.functions.Vectors.topCells(
      col("embedding"), col("na"), col("cents"), topN)
    base
      .crossJoin(broadcast(centArr))
      .select(col("vec_id"), col("label"), col("embedding"), col("na"),
        posexplode(top).as(Seq("pos", "sc")))
      .select(col("vec_id"), col("label"), col("embedding"), col("na"),
        col("sc.cell").as("c_label"), (-col("sc.neg")).as("cos_c"),
        (col("pos") + 1).as("rn"))
  }

  /** Deterministic k-means IVF cell assignment shared by
    * `ann_ivf_assign`, `ann_ivf_topk` and the cross-cell embedding
    * dedup: KCELLS hash-seeded cells refined by LLOYD spherical Lloyd
    * rounds, all in the proven fixed-point discipline — seeds are the
    * md5-bucket partition means (order-invariant exact long sums,
    * scale 2^20), each round is ONE map-side-combined k×d aggregation
    * plus a row-local re-assignment against the broadcast centroids,
    * so nothing corpus-sized ever shuffles and the whole build is
    * bit-reproducible on any engine/partitioning → fully oracled.
    * Returns (vec_id, label, c_label, cos_c, rn) for the TOP-2 cells
    * per vector (rn ∈ {1, 2} — all any caller probes); callers filter
    * rn = 1 for home-cell assignment. */
  private[operators] def ivfAssignments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.BinaryType
    val e = Tables.embeddings(s, dir)
    // Fixed-point accumulation: scale by 2^20 (exact double op), round
    // to long (bit-identical on any engine), sum exactly, rescale.
    // float→decimal casts are NOT portable (string-repr vs binary
    // rounding differ per element); this is, and it's also how a real
    // cluster makes float reductions reproducible across partitionings.
    // persisted: every Lloyd round reads base twice (k×d centroid agg
    // + broadcast rescoring), so LLOYD=2 otherwise re-scans the
    // parquet and recomputes na 4-5× per build — measured 1.64 s →
    // ~1.1 s solo at sf0.1. Like every shared operator intermediate,
    // it stays cached until the harness's periodic clearCache.
    val base = e.select(col("vec_id"), col("label"), col("embedding"),
      aggregate(embD, lit(0.0), (acc, x) => acc + x * x).as("na"))
      .persist()
    // round-0 seed: the audited md5-uniform bucket (NOT random() — the
    // seeding must agree across engines, reruns and partitionings)
    val kcells = kcellsOf(s)
    // Sampled-centroid training (knob path only; see trainModOf): the
    // Lloyd chain reads `train`, the final assign reads `base`. The
    // sample is a deterministic md5 bucket on a salted key ("trn:" +
    // vec_id) so it is independent of the cell-seed hash; S = 1 keeps
    // `train` the SAME plan object as `base`, preserving the
    // oracle-replayed default and the canonical-plan cache.
    val tmod = trainModOf(s)
    val train =
      if (tmod == 1) base
      else base.filter(pmod(conv(substring(md5(
        concat(lit("trn:"), col("vec_id").cast("string")).cast(BinaryType)),
        1, 15), 16, 10).cast(LongType), lit(tmod)) === 0)
    val seed = train.withColumn("cell",
      pmod(conv(substring(md5(col("vec_id").cast("string").cast(BinaryType)), 1, 15),
        16, 10).cast(LongType), lit(kcells)).cast(IntegerType))
    // LLOYD-1 re-assignment rounds here; the final scoreCells performs
    // the LLOYD-th centroid build (from the last assignment) + top-2
    // scoring, mirroring the oracle's a0 → c1 → a1 → … → cLLOYD chain
    val refined = (1 until LLOYD).foldLeft(seed: DataFrame) { (assigned, _) =>
      scoreCells(train, centroidArr(assigned), 1)
        .select(col("vec_id"), col("label"), col("embedding"), col("na"),
          col("c_label").as("cell"))
    }
    // The build output is persisted HERE, not by callers: six consumers
    // (ann_ivf_assign/topk/quality, dedup_embedding_xcell,
    // dedup_semdedup, embedding_lof, pipe_canonical_select) share one
    // k-means build, and the canonical-plan cache lets a warm second
    // run skip the 4-aggregation Lloyd chain entirely (the r9→r10
    // ann_ivf_assign bench regression was exactly this chain rerunning
    // per query once the build grew from 1 pass to LLOYD+1).
    scoreCells(base, centroidArr(refined), 2)
      .select(col("vec_id"), col("label"), col("c_label"), col("cos_c"), col("rn"))
      .persist()
  }

  /** Oracle CTEs mirroring [[ivfAssignments]]: seed partition `a0`,
    * unrolled Lloyd rounds `s1/c1/sc1/a1 … sLLOYD/cLLOYD`, final
    * `scored`/`ranked`. Prepend `WITH ` before use. */
  private[operators] val ivfAssignSql: String = {
    def sums(r: Int, from: String): String =
      s"""s$r AS (
         |  SELECT cell, pos,
         |    sum(CAST(floor(CAST(embedding[pos] AS DOUBLE) * 1048576 + 0.5) AS BIGINT)) AS s
         |  FROM $from, range(1, 65) t(pos)
         |  GROUP BY cell, pos),
         |c$r AS (
         |  SELECT cell, list(CAST(s AS DOUBLE) / 1048576 ORDER BY pos) AS cvec
         |  FROM s$r GROUP BY cell)""".stripMargin
    def assign(r: Int): String =
      s"""sc$r AS (
         |  SELECT e.vec_id, e.label, e.embedding, c.cell,
         |    round(${cosSql(embDSql("e.embedding"), "c.cvec")}, 6) AS cos_c
         |  FROM embeddings e CROSS JOIN c$r c),
         |a$r AS (
         |  SELECT vec_id, label, embedding, cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos_c DESC, cell ASC) AS rn FROM sc$r) WHERE rn = 1)""".stripMargin
    val rounds = (1 to LLOYD).map { r =>
      if (r < LLOYD) s"${sums(r, s"a${r - 1}")},\n${assign(r)}"
      else sums(r, s"a${r - 1}")
    }.mkString(",\n")
    s"""a0 AS (
       |  SELECT vec_id, label, embedding,
       |    CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
       |         % $KCELLS AS INT) AS cell
       |  FROM embeddings),
       |$rounds,
       |scored AS (
       |  SELECT e.vec_id, e.label, c.cell AS c_label,
       |    round(${cosSql(embDSql("e.embedding"), "c.cvec")}, 6) AS cos_c
       |  FROM embeddings e CROSS JOIN c$LLOYD c),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos_c DESC, c_label ASC) AS rn FROM scored)""".stripMargin
  }

  // ---- product quantization (PQ) ------------------------------------
  // 16 subspaces × 4 dims × 16 codes = 64 bits/vector. Narrow
  // subspaces quantize far better per bit than wide ones (4-dim cells
  // cover their subspace; 8-dim ones cannot) — on this stress corpus
  // (true neighbors at cos 0.3-0.47) the 8×8×16 variant stalled at
  // recall 0.82 even reranking 26% of the corpus; 16×4×16 clears 0.9.
  // All three are knobs; production at 10^9 uses 256 codes (8 bits).
  private val PQ_M = 16      // subspaces
  private val PQ_DSUB = 4    // dims per subspace (d=64)
  private val PQ_CODES = 16  // 4-bit codes
  // rerank depth is the other recall knob (production reranks 100-1000
  // of 10^9 candidates)
  private val PQ_RERANK = 64

  /** (vec_id, sub, xfp) — one NORMALIZED fixed-point sub-vector row per
    * (vector, subspace). Vectors are unit-normalized before encoding —
    * for unit vectors ‖p−c‖² = 2−2⟨p,c⟩, so the L2 ADC ranking IS the
    * cosine ranking; skipping this is the classic PQ-recall killer on
    * mixed-norm corpora. Normalization stays deterministic by living in
    * the integer domain: snap to ×2^10 longs (exact), nq = Σx² (exact
    * integer), then floor(x·2^12/√nq + 0.5) — the only float ops are
    * IEEE sqrt/divide on bit-identical integer inputs. Persisted by the
    * caller: codebook build, encode pass and probe tables all read it. */
  private def pqXsub(s: SparkSession, dir: String): DataFrame = {
    val subFp = transform(sequence(lit(0), lit(PQ_M - 1)), sN =>
      transform(sequence(lit(1), lit(PQ_DSUB)), j =>
        floor(element_at(col("x10"), sN * PQ_DSUB + j).cast(DoubleType) * 4096
          / sqrt(greatest(col("nq"), lit(1L)).cast(DoubleType)) + 0.5).cast(LongType)))
    Tables.embeddings(s, dir)
      .withColumn("x10", transform(embD, v => floor(v * 1024 + 0.5).cast(LongType)))
      .withColumn("nq", aggregate(col("x10"), lit(0L), (a, t) => a + t * t))
      .select(col("vec_id"), posexplode(subFp).as(Seq("sub", "xfp")))
  }

  /** Per-subspace codebook from an assignment (vec_id, sub, cell, xfp):
    * component-wise floor-mean of exact long sums (floor(s/n) on a
    * <2^53 double quotient is exact — the remainder/n gap dwarfs one
    * ulp), collapsed to ONE broadcastable row of (sub, cell, cfp)
    * structs. The posexplode is map-side combined to m×codes×dsub
    * partial rows per task. */
  private def pqCodebook(assigned: DataFrame): DataFrame =
    assigned
      .select(col("sub"), col("cell"), posexplode(col("xfp")).as(Seq("pos", "v")))
      .groupBy(col("sub"), col("cell"), col("pos"))
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
      .groupBy(col("sub"), col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("sv"), col("n")))),
        x => floor(x.getField("sv").cast(DoubleType) / x.getField("n"))
          .cast(LongType)).as("cfp"))
      .agg(collect_list(struct(col("sub"), col("cell"), col("cfp"))).as("cb"))

  /** Row-local nearest-code assignment of every (vec, sub) row against
    * the broadcast codebook: integer squared-L2, (dist ASC, cell ASC)
    * argmin via array_min on (dist, cell) structs — no shuffle, no
    * window. */
  private def pqAssign(xsub: DataFrame, cbArr: DataFrame): DataFrame =
    // The filter→transform→array_min chain over all m×codes codebook
    // structs per (vector, subspace) row is ONE native expression
    // (plans/IvfExpressions.scala NearestPqCode), bit-identical (exact
    // long L2, (dist ASC, cell ASC) minimum) but a tight loop instead
    // of the per-entry lambda interpreter — this runs 3× per PQ build
    // (seed round + Lloyd round + final encode).
    xsub.crossJoin(broadcast(cbArr))
      .select(col("vec_id"), col("sub"), col("xfp"),
        graft.functions.Vectors.nearestPqCode(
          col("xfp"), col("sub"), col("cb")).as("best"))
      .select(col("vec_id"), col("sub"), col("xfp"),
        col("best.cell").as("cell"), col("best.dist").as("dist"))

  /** Oracle CTEs `home`, `m1`, `m2`, `m3` (after `ivfAssignSql`): each
    * vector's top-3 neighbors in its IVF home cell, shared by
    * ann_knn_graph and embedding_lof. This mirrors the r15 scale
    * shape: the (pre-cast) embedding payload rides the materialized
    * home relation and the cosine evaluates INSIDE the per-cell join.
    * The top 3 are THREE chained max() passes over a packed BIGINT key
    * ((cos_fp + 2e6)·10^10 − dst_id: cos desc then dst asc, no ties
    * possible) instead of a row_number window — at 100× the pair
    * stream is 2.5e9 rows and a window over it spills >46 GB
    * (OOM-killed the sf10d mirror), while a keyed max() streams in
    * O(|src|) state; each pass re-streams the join. */
  private def knnTop3Ctes: String = {
    val key = s"""(CAST(floor(round(${cosSql("a.emb_d", "b.emb_d")},
                 |        6) * 1e6 + 0.5) AS BIGINT) + 2000000) * 10000000000
                 |      - b.vec_id""".stripMargin
    def pass(i: Int): String = {
      val after = if (i == 1) "" else
        s"""  JOIN m${i - 1} ON m${i - 1}.src_id = a.vec_id
           |  WHERE $key < m${i - 1}.k${i - 1}
           |""".stripMargin
      s"""m$i AS MATERIALIZED (
         |  SELECT a.vec_id AS src_id,
         |    max($key) AS k$i
         |  FROM home a JOIN home b
         |    ON a.c_label = b.c_label AND a.vec_id <> b.vec_id
         |""".stripMargin + after + "  GROUP BY 1)"
    }
    s"""home AS MATERIALIZED (
       |  SELECT r.vec_id, r.c_label,
       |    ${embDSql("e.embedding")} AS emb_d
       |  FROM ranked r JOIN embeddings e USING (vec_id) WHERE r.rn = 1),
       |""".stripMargin + (1 to 3).map(pass).mkString(",\n")
  }

  /** Oracle SQL for the exact brute-force top-K (also the ground-truth
    * CTE body of ann_recall_eval's oracle). */
  private val exactTopkSql: String =
    topKSql(probeScanSql(probeCosSql), "probe_id, neighbor_id, cos_sim", "cos_sim DESC")

  /** Exact brute-force cosine top-K per probe. Shared by
    * ann_topk_exact and ann_recall_eval. */
  private def exactTopK(s: SparkSession, dir: String): DataFrame =
    cosTopK(probeScan(Tables.embeddings(s, dir), Seq(probeEmb), notSelf, probeCos))

  /** Cells each IVF probe scans in ann_ivf_topk and ann_recall_eval. */
  private val PROBE_CELLS = 2

  /** Oracle CTEs of [[ivfTopK]] (after `ivfAssignSql`): `home`, then per
    * cell count p in `nprobes` the top-K CTE `ivf_p` (probe_id,
    * neighbor_id, cos_sim, rn). */
  private def ivfTopkCtes(nprobes: Int*): String =
    ("home AS (SELECT vec_id, c_label FROM ranked WHERE rn = 1)" +: nprobes.map { p =>
      s"""probes_$p AS (SELECT vec_id AS probe_id, c_label FROM ranked
         |  WHERE rn <= $p AND vec_id < $NPROBES),
         |cand_$p AS (
         |  SELECT DISTINCT pr.probe_id, h.vec_id AS neighbor_id
         |  FROM probes_$p pr JOIN home h
         |    ON pr.c_label = h.c_label AND h.vec_id <> pr.probe_id),
         |ivf_$p AS (${rerankSql(s"cand_$p")})""".stripMargin
    }).mkString(",\n")

  /** IVF-probed approximate top-K per probe: each probe scans the home
    * cells of its `nprobe` nearest centroids in `assigns`
    * ([[ivfAssignments]], persisted by the build itself). */
  private def ivfTopK(s: SparkSession, dir: String, assigns: DataFrame,
      nprobe: Int): DataFrame = {
    val home = assigns.filter(col("rn") === 1)
      .select(col("vec_id"), col("c_label"))
    val probeCells = assigns.filter(col("rn") <= nprobe && col("vec_id") < NPROBES)
      .select(col("vec_id").as("probe_id"), col("c_label"))
    rerank(s, dir, probeCells.join(home, Seq("c_label"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"))
      .distinct())
  }

  val defs: Seq[(String, QueryDef)] = Seq(

    // ------------------------------------------------------------------
    "ann_topk_exact" -> QueryDef.withOracle(exactTopkSql)(exactTopK),

    // ------------------------------------------------------------------
    // Euclidean (L2) exact top-K — the metric twin of ann_topk_exact
    // for workloads whose embeddings are NOT length-normalized (where
    // cosine and L2 rank differently and retrieval stacks specify L2).
    // Identical scale shape: broadcast probe set × one corpus scan,
    // distance via the codegen'd graft_l2 primitive loop (matching
    // DuckDB list_distance double accumulation), the bounded top-K
    // aggregate over the negated distance — no corpus-sized per-probe
    // window.
    "ann_l2_topk" -> QueryDef.withOracle(topKSql(
      probeScanSql(s"""round(list_distance(${embDSql("p.embedding")},
                      |    ${embDSql("e.embedding")}), 6) AS l2_dist""".stripMargin),
      "probe_id, neighbor_id, l2_dist", "l2_dist ASC")) { (s, dir) =>
      val dist = round(Vectors.l2(col("probe_emb"), col("embedding")), 6)
      val scored = probeScan(Tables.embeddings(s, dir), Seq(probeEmb), notSelf,
        (-dist).as("l2_dist"))
      Skew.topK(scored, "probe_id", "l2_dist", "neighbor_id", K)
        .withColumn("l2_dist", -col("l2_dist"))
    },

    // ------------------------------------------------------------------
    // Maximum-inner-product top-K (MIPS) — the recommender-retrieval
    // metric where vectors are deliberately NOT normalized: item
    // popularity lives in the norm, so cosine and dot rank differently
    // and serving stacks specify raw inner product. Same scale shape as
    // its cosine/L2 siblings: broadcast probe set × ONE corpus scan,
    // scores via the codegen'd graft_fdot primitive loop (left-to-right
    // accumulation matching DuckDB list_inner_product bit-for-bit),
    // the bounded top-K aggregate — no corpus-sized per-probe window
    // task.
    "ann_mips_topk" -> QueryDef.withOracle(topKSql(
      probeScanSql(s"""round(list_inner_product(${embDSql("p.embedding")},
                      |    ${embDSql("e.embedding")}), 6) AS dot""".stripMargin),
      "probe_id, neighbor_id, dot", "dot DESC")) { (s, dir) =>
      val score = round(Vectors.fdot(col("probe_emb"), col("embedding")), 6)
      Skew.topK(probeScan(Tables.embeddings(s, dir), Seq(probeEmb), notSelf,
        score.as("dot")), "probe_id", "dot", "neighbor_id", K)
    },

    // ------------------------------------------------------------------
    // ANN recall evaluation — the "measure, don't guess" harness run
    // before an index ships: per probe, |IVF top-K ∩ exact top-K| / K.
    // Both sides reuse the exact operator pipelines (one IVF build, one
    // brute-force ranking); the compare itself is a K×NPROBES-row join,
    // so the eval adds nothing corpus-scale beyond its two inputs. An
    // index change that silently drops recall turns this row red long
    // before production notices. On THIS test corpus the measured
    // 2-of-16-cell recall is ~0.24 — the corpus is the documented
    // recall stress case (true top-5 at cosine 0.3-0.47, near-uniform
    // structure; see the ann_lsh note), so cell membership carries
    // little signal and 2/16 probing is barely above the 0.125 random
    // floor. That LOW number is the eval doing its job; clustered real
    // embedding corpora sit far higher at the same nprobe.
    "ann_recall_eval" -> QueryDef.withOracle(
      s"""WITH $ivfAssignSql,
         |${ivfTopkCtes(PROBE_CELLS)},
         |exact AS (SELECT probe_id, neighbor_id FROM ($exactTopkSql)),
         |hits AS (
         |  SELECT e.probe_id, CAST(count(*) AS BIGINT) AS n_hit
         |  FROM exact e JOIN ivf_$PROBE_CELLS i
         |    ON i.probe_id = e.probe_id AND i.neighbor_id = e.neighbor_id
         |  GROUP BY e.probe_id)
         |SELECT p.probe_id, coalesce(h.n_hit, 0) AS n_hit,
         |  round(coalesce(h.n_hit, 0) / $K.0, 9) AS recall
         |FROM (SELECT DISTINCT probe_id FROM exact) p
         |LEFT JOIN hits h ON h.probe_id = p.probe_id""".stripMargin) { (s, dir) =>
      val ex = exactTopK(s, dir).select(col("probe_id"), col("neighbor_id"))
      val iv = ivfTopK(s, dir, ivfAssignments(s, dir), PROBE_CELLS).select(col("probe_id"), col("neighbor_id"))
      val hits = ex.join(iv, Seq("probe_id", "neighbor_id"))
        .groupBy(col("probe_id")).agg(count(lit(1)).as("n_hit"))
      ex.select(col("probe_id")).distinct()
        .join(hits, Seq("probe_id"), "left_outer")
        .select(col("probe_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round(coalesce(col("n_hit"), lit(0L)) / lit(K * 1.0), 9).as("recall"))
    },

    // ------------------------------------------------------------------
    // IVF index construction + assignment: KCELLS hash-seeded k-means
    // cells refined by LLOYD fixed-point spherical Lloyd rounds (cosine
    // is scale-invariant, so the unnormalized per-cell sum vector IS
    // the centroid), then every vector assigned to its nearest
    // centroid. Each round is one map-side-combined k×d aggregation +
    // a row-local re-assignment against broadcast centroids — linear
    // in corpus size, and k is a knob (∝ √N) rather than the label
    // domain, so cell sizes stay bounded as the corpus grows.
    "ann_ivf_assign" -> QueryDef.withOracle(
      s"""WITH $ivfAssignSql
         |SELECT vec_id, label, c_label AS cell, cos_c
         |FROM ranked WHERE rn = 1""".stripMargin) { (s, dir) =>
      ivfAssignments(s, dir)
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("label"), col("c_label").as("cell"),
          col("cos_c"))
    },

    // ------------------------------------------------------------------
    // Int8 embedding quantization: per-vector symmetric scale
    // (127/max|x|), values mapped with the explicit floor(x·s + 0.5)
    // rounding that is bit-identical on any IEEE engine — the 4×
    // storage/bandwidth reduction step before an embedding corpus
    // ships to an ANN index. Summary stats (exact long sums) keep the
    // output flat for the driver's row-hash; the quantized array
    // itself stays an internal column shape.
    "embedding_quantize" -> QueryDef.withOracle(
      """WITH m AS (
        |  SELECT vec_id, label,
        |    greatest(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 1e-12) AS maxabs
        |  FROM embeddings),
        |q AS (
        |  SELECT e.vec_id, e.label, m.maxabs,
        |    list_transform(e.embedding, x ->
        |      CAST(floor(CAST(x AS DOUBLE) * 127.0 / m.maxabs + 0.5) AS BIGINT)) AS qv
        |  FROM embeddings e JOIN m ON e.vec_id = m.vec_id)
        |SELECT vec_id, label, maxabs,
        |  CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
        |  CAST(list_aggregate(qv, 'min') AS BIGINT) AS q_min,
        |  CAST(list_aggregate(qv, 'max') AS BIGINT) AS q_max
        |FROM q""".stripMargin) { (s, dir) =>
      val qv = transform(embD,
        x => floor(x * 127.0 / col("maxabs") + 0.5).cast(LongType))
      Tables.embeddings(s, dir)
        .withColumn("maxabs",
          greatest(array_max(transform(embD, x => abs(x))), lit(1e-12)))
        .select(col("vec_id"), col("label"), col("maxabs"),
          aggregate(qv, lit(0L), (a, x) => a + x).as("q_sum"),
          array_min(qv).as("q_min"),
          array_max(qv).as("q_max"))
    },

    // ------------------------------------------------------------------
    // IVF-probed ANN: the scale path that completes build→assign→search.
    // Corpus vectors are indexed by HOME cell only (rn=1, one row per
    // vector); each probe scans its 2 nearest cells. Per-probe work is
    // bounded by 2 cells × cell size, never the corpus; the candidate
    // join is a plain equi-join on the cell id, so at 10^9 vectors it
    // shuffles (id, cell) pairs, not embeddings. Fully deterministic
    // (fixed-point centroids, round-6 cosine, id tiebreaks) → oracled.
    "ann_ivf_topk" -> QueryDef.withOracle(
      s"""WITH $ivfAssignSql,
         |${ivfTopkCtes(PROBE_CELLS)}
         |SELECT * FROM ivf_$PROBE_CELLS""".stripMargin) { (s, dir) =>
      ivfTopK(s, dir, ivfAssignments(s, dir), PROBE_CELLS)
    },

    // ------------------------------------------------------------------
    // Hyperplane-LSH bucketed ANN, band-OR construction: 4 independent
    // hash tables of 4 planes each (16 planes total). A vector lands in
    // one 4-bit sign-bucket PER TABLE; a pair is a candidate if it
    // collides in ANY table (OR across tables multiplies recall the way
    // minhash banding does), and each probe additionally scans the 4
    // hamming-1 neighbor buckets per table (a borderline sign flips one
    // bit). This test corpus is a recall stress case — true top-5
    // neighbors sit at cosine ≈0.3-0.47, i.e. plane-agreement p≈0.6 —
    // and the band-OR still holds recall ≥0.8 (AnnRecallSpec asserts
    // it); at real embedding similarity (cos ≥0.7) one table with more
    // planes prunes far harder with the same shape. Candidate cost is
    // bounded by tables × (1+planes)/2^planes of the corpus per probe.
    // The operator is approximate w.r.t. exact ANN but fully
    // DETERMINISTIC (fixed plane literals, integer sign-buckets,
    // id-tiebroken ranking), so the oracle replays the ENTIRE
    // construction in DuckDB — plane dots, sign-buckets, hamming-1
    // probes, band-OR candidates, cosine top-k — from the same plane
    // literals [[graft.functions.Vectors.planeSql]] embeds.
    "ann_lsh" -> QueryDef.withOracle(lshOracleSql) { (s, dir) =>
      val planesPerTable = 4
      val nTables = 4
      val planes = Vectors.planes(planesPerTable * nTables, 64)
      val e = Tables.embeddings(s, dir)
      def bucketOf(emb: org.apache.spark.sql.Column, t: Int) =
        (0 until planesPerTable).map { j =>
          when(Vectors.dot(emb, typedLit(planes(t * planesPerTable + j))) > 0,
            lit(1 << j)).otherwise(lit(0))
        }.reduce(_ + _)
      def tabled(df: org.apache.spark.sql.DataFrame) = df.select(
        col("vec_id"), col("embedding"),
        posexplode(array((0 until nTables).map(t =>
          bucketOf(col("embedding"), t)): _*)).as(Seq("tbl", "bucket")))
      val bucketed = tabled(e)
      val probes = tabled(e.filter(col("vec_id") < NPROBES))
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"),
          col("tbl").as("ptbl"),
          explode(array(
            col("bucket") +: (0 until planesPerTable).map(j =>
              col("bucket").bitwiseXOR(lit(1 << j))): _*)).as("probe_bucket"))
      val cos = round(Vectors.cosine(col("probe_emb"), col("embedding")), 6)
      val scored = bucketed.join(broadcast(probes),
          col("tbl") === col("ptbl") && col("bucket") === col("probe_bucket") &&
            col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("neighbor_id"), cos.as("cos_sim"))
        .distinct() // a pair may collide in several tables — score once
      // Candidate lists are bucket-bounded, but a hot bucket can still
      // hold most of a probe's candidates; the top-K aggregate never
      // sorts them in one task.
      cosTopK(scored)
    },

    // ------------------------------------------------------------------
    // Hard-negative mining for contrastive training: for each probe,
    // the top-k most-similar vectors with a DIFFERENT label — the
    // near-boundary negatives that make embedding training converge.
    // Same single-pass broadcast-probe scan as ann_topk_exact with the
    // label inequality fused into the join condition, so negatives are
    // filtered before scoring ever happens.
    "ann_hard_negatives" -> QueryDef.withOracle(topKSql(
      probeScanSql(s"p.label AS probe_label, e.label AS neighbor_label, $probeCosSql",
        "e.label <> p.label"),
      "probe_id, probe_label, neighbor_id, neighbor_label, cos_sim",
      "cos_sim DESC")) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      // the probe's label rides its group key; the ≤ K×NPROBES picks
      // get their own label back by id
      val scored = probeScan(e, Seq(col("label").as("probe_label"), probeEmb),
        col("label") =!= col("probe_label"), probeCos,
        struct(col("probe_id"), col("probe_label")).as("probe"))
      broadcast(Skew.topK(scored, "probe", "cos_sim", "neighbor_id", K))
        .join(e.select(col("vec_id").as("neighbor_id"),
          col("label").as("neighbor_label")), "neighbor_id")
        .select(col("probe.probe_id"), col("probe.probe_label"), col("neighbor_id"),
          col("neighbor_label"), col("cos_sim"), col("rn"))
    },

    // ------------------------------------------------------------------
    // Quantized brute-force ANN: top-k by the cosine of the int8 codes
    // from embedding_quantize. The per-vector scale factors cancel in
    // the cosine, so the score is Σqa·qb / √(Σqa²·Σqb²) — all-integer
    // accumulation (exact on any engine) with one sqrt at the end →
    // fully DuckDB-oracled even though it is an APPROXIMATION of the
    // float cosine. This is the memory-bandwidth scale path: the scan
    // side reads 4× fewer bytes than float32 brute force, which is the
    // bottleneck of a 10^9-vector exact-rerank tier. Ranking is the
    // bounded top-K aggregate (≤K pairs per probe and partition cross
    // the exchange), so no single task ever sorts a probe's whole
    // candidate list. QuantRecallSpec measures recall vs the
    // float-exact top-5.
    "ann_quantized_topk" -> QueryDef.withOracle(
      s"""WITH $quantizedSql
         |${quantizedTopkSql(K)}""".stripMargin) { (s, dir) =>
      quantizedTopK(quantizedCorpus(s, dir), K)
    },

    // ------------------------------------------------------------------
    // Two-tier scan-then-rerank ANN: the production pattern for exact
    // answers at memory-bandwidth cost. Tier 1 scans the int8 codes
    // (4× fewer bytes than float32) and keeps RERANK=32 candidates per
    // probe; tier 2 joins ONLY those ≤32×NPROBES ids back to the float
    // embeddings and reranks by exact cosine. The corpus-sized pass
    // never touches a float vector, and the exact pass never touches
    // more than 32 rows per probe — at 10^9 vectors the rerank join
    // shuffles (probe_id, neighbor_id) pairs, not embeddings. Both
    // tiers are deterministic (integer codes / round-6 + id tiebreak)
    // → fully oracled. RerankRecallSpec measures end-to-end recall vs
    // the float-exact top-5.
    "ann_refine_rerank" -> QueryDef.withOracle(
      s"""WITH $quantizedSql,
         |cand AS (${quantizedTopkSql(RERANK)})
         |${rerankSql("cand")}""".stripMargin) { (s, dir) =>
      rerank(s, dir, quantizedTopK(quantizedCorpus(s, dir), RERANK)
        .select(col("probe_id"), col("neighbor_id")))
    },

    // ------------------------------------------------------------------
    // MMR diversified rerank — maximal marginal relevance (Carbonell &
    // Goldstein '98), the standard redundancy-aware result selection:
    // greedily pick argmax λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s), so
    // near-duplicate neighbors can't fill the whole top-K (the failure
    // mode every raw-similarity list has on retrieval over a corpus
    // with near-dups). Candidates are the quantized top-MMR_CAND per
    // probe (the ann_refine_rerank tier-1 shape — the corpus pass
    // reads int8 codes only); candidate-candidate sims are computed
    // inside each probe's bounded pool, never corpus². λ = 0.7 as
    // integer weights on ×10⁶-snapped cosines: every MMR score is an
    // exact BIGINT (7·rel − 3·maxsim), so the K greedy steps — one
    // fold over the probe's ≤MMR_CAND-entry pool row (mmrParts) — are
    // engine-exact and the oracle replays them as K unrolled CTE
    // blocks. At 10⁹ vectors the only corpus-scale work is tier 1;
    // selection touches one NPROBES-row pool table.
    "ann_mmr_rerank" -> QueryDef.withOracle(mmrOracleSql) { (s, dir) =>
      mmrParts(s, dir)
        .select(col("probe_id"), explode(col("picks")).as("p"))
        .select(col("probe_id"), col("p.step").as("step"),
          col("p.c.neighbor_id").as("neighbor_id"),
          col("p.c.rel").as("rel_q6"), col("p.mmr_fp").as("mmr_fp"))
    },

    // ------------------------------------------------------------------
    // MMR diversity harness — "measure, don't guess" for the λ knob:
    // per probe, the mean pairwise candidate-candidate cosine inside
    // the PLAIN quantized top-5 vs inside the MMR-selected 5, and the
    // gain (plain − MMR; positive means MMR actually bought
    // diversity). Both sets come from the same mmrParts pool row —
    // C(5,2)=10 pairs per set per probe, exact ×10⁶ BIGINT sims,
    // averages floor-snapped — so the whole eval is bookkeeping on top
    // of tier 1 and fully oracled by extending the unrolled greedy CTE
    // chain. A probe whose sets hold fewer than two members has no
    // pair and gets no row, as in the oracle's pair joins.
    // Round9InvariantSpec asserts the gain is non-negative for every
    // probe.
    "ann_diversity_eval" -> QueryDef.withOracle(
      s"""$mmrOracleCtes,
         |top5 AS (SELECT probe_id, neighbor_id FROM cand WHERE rn <= $K),
         |msel AS (SELECT probe_id, neighbor_id FROM sel$K),
         |tp AS (
         |  SELECT t.probe_id,
         |    CAST(floor(CAST(sum(p.sim) AS DOUBLE) / 10 + 0.5) AS BIGINT)
         |      AS topk_avg_fp
         |  FROM top5 t JOIN top5 u ON u.probe_id = t.probe_id
         |    AND u.neighbor_id > t.neighbor_id
         |  JOIN pairs p ON p.probe_id = t.probe_id
         |    AND p.a = t.neighbor_id AND p.b = u.neighbor_id
         |  GROUP BY 1),
         |mm AS (
         |  SELECT t.probe_id,
         |    CAST(floor(CAST(sum(p.sim) AS DOUBLE) / 10 + 0.5) AS BIGINT)
         |      AS mmr_avg_fp
         |  FROM msel t JOIN msel u ON u.probe_id = t.probe_id
         |    AND u.neighbor_id > t.neighbor_id
         |  JOIN pairs p ON p.probe_id = t.probe_id
         |    AND p.a = t.neighbor_id AND p.b = u.neighbor_id
         |  GROUP BY 1)
         |SELECT tp.probe_id, topk_avg_fp, mmr_avg_fp,
         |  topk_avg_fp - mmr_avg_fp AS gain_fp
         |FROM tp JOIN mm ON mm.probe_id = tp.probe_id""".stripMargin) {
      (s, dir) =>
      // the pair sum over a set, each unordered pair once
      def avgSim(set: Column): Column = floor(aggregate(set, lit(0L),
        (acc, x) => acc + aggregate(
          filter(set, y => y("neighbor_id") > x("neighbor_id")), lit(0L),
          (a, y) => a + mmrSim(x, y))).cast(DoubleType) / 10 + 0.5)
        .cast(LongType)
      mmrParts(s, dir)
        // both sets hold min(pool size, K) members
        .filter(size(col("pool")) >= 2)
        .select(col("probe_id"),
          avgSim(slice(col("pool"), 1, K)).as("topk_avg_fp"),
          avgSim(transform(col("picks"), p => p("c"))).as("mmr_avg_fp"))
        .withColumn("gain_fp", col("topk_avg_fp") - col("mmr_avg_fp"))
    },

    // ------------------------------------------------------------------
    // Product-quantization ANN (the Jégou-et-al tier above int8): each
    // vector is encoded as PQ_M 4-bit codes (one per subspace) from
    // per-subspace k-means codebooks — hash-seeded, one fixed-point
    // Lloyd refinement, the IVF discipline at subspace granularity.
    // Search is asymmetric-distance (ADC): the probe precomputes its
    // exact-subvector→code distance table (m×codes integers, broadcast)
    // and the corpus scan reads ONLY the code arrays — m·log2(codes)
    // bits per vector (4 bytes here vs 256 for float32; 16× less scan
    // bandwidth, the step beyond int8's 4×) — then sums m table lookups
    // per candidate. Top-PQ_RERANK survivors rerank by exact float
    // cosine (the ann_refine_rerank shape). Everything is integer
    // fixed-point with id tiebreaks → fully oracled; PqRecallSpec
    // measures end-to-end recall ≥ 0.9 vs the float-exact top-5.
    "ann_pq_topk" -> QueryDef.withOracle(
      s"""WITH px1 AS (
         |  SELECT vec_id,
         |    list_transform(embedding,
         |      v -> CAST(floor(CAST(v AS DOUBLE) * 1024 + 0.5) AS BIGINT)) AS x10
         |  FROM embeddings),
         |px2 AS (
         |  SELECT vec_id, x10,
         |    CAST(list_aggregate(list_transform(x10, t -> t * t), 'sum') AS BIGINT) AS nq
         |  FROM px1),
         |xs AS (
         |  SELECT vec_id, CAST(sN AS INT) AS sub, CAST(j AS INT) AS pos,
         |    CAST(floor(CAST(x10[CAST(sN * $PQ_DSUB + j AS INT)] AS DOUBLE) * 4096
         |      / sqrt(CAST(greatest(nq, 1) AS DOUBLE)) + 0.5) AS BIGINT) AS fp
         |  FROM px2, range(0, $PQ_M) s(sN), range(1, ${PQ_DSUB + 1}) r(j)),
         |pa0 AS (
         |  SELECT vec_id,
         |    CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
         |         % $PQ_CODES AS INT) AS cell
         |  FROM embeddings),
         |pcb1 AS (
         |  SELECT x.sub, a.cell, x.pos,
         |    CAST(floor(CAST(sum(x.fp) AS DOUBLE) / count(*)) AS BIGINT) AS c
         |  FROM xs x JOIN pa0 a ON a.vec_id = x.vec_id
         |  GROUP BY 1, 2, 3),
         |pd1 AS (
         |  SELECT x.vec_id, x.sub, c.cell,
         |    CAST(sum((x.fp - c.c) * (x.fp - c.c)) AS BIGINT) AS dist
         |  FROM xs x JOIN pcb1 c ON c.sub = x.sub AND c.pos = x.pos
         |  GROUP BY 1, 2, 3),
         |pa1 AS (
         |  SELECT vec_id, sub, cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
         |      ORDER BY dist ASC, cell ASC) AS rn FROM pd1) WHERE rn = 1),
         |pcb2 AS (
         |  SELECT x.sub, a.cell, x.pos,
         |    CAST(floor(CAST(sum(x.fp) AS DOUBLE) / count(*)) AS BIGINT) AS c
         |  FROM xs x JOIN pa1 a ON a.vec_id = x.vec_id AND a.sub = x.sub
         |  GROUP BY 1, 2, 3),
         |pd2 AS (
         |  SELECT x.vec_id, x.sub, c.cell,
         |    CAST(sum((x.fp - c.c) * (x.fp - c.c)) AS BIGINT) AS dist
         |  FROM xs x JOIN pcb2 c ON c.sub = x.sub AND c.pos = x.pos
         |  GROUP BY 1, 2, 3),
         |pcodes AS (
         |  SELECT vec_id, sub, cell AS code FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
         |      ORDER BY dist ASC, cell ASC) AS rn FROM pd2) WHERE rn = 1),
         |adc AS (
         |  SELECT t.vec_id AS probe_id, v.vec_id AS neighbor_id,
         |    CAST(sum(t.dist) AS BIGINT) AS adist
         |  FROM pcodes v JOIN pd2 t
         |    ON t.sub = v.sub AND t.cell = v.code AND t.vec_id < $NPROBES
         |  WHERE v.vec_id <> t.vec_id
         |  GROUP BY 1, 2),
         |pcand AS (${topKSql("SELECT * FROM adc", "probe_id, neighbor_id",
                              "adist ASC", PQ_RERANK)})
         |${rerankSql("pcand")}""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types.BinaryType
      val xsub = pqXsub(s, dir).persist() // codebooks + encode + probes share it
      val seeded = xsub.withColumn("cell",
        pmod(conv(substring(md5(col("vec_id").cast("string").cast(BinaryType)), 1, 15),
          16, 10).cast(LongType), lit(PQ_CODES)).cast(IntegerType))
      val cb2 = pqCodebook(pqAssign(xsub, pqCodebook(seeded)))
      val enc = pqAssign(xsub, cb2).persist() // corpus codes AND probe tables
      val codesArr = enc
        .groupBy(col("vec_id"))
        .agg(transform(array_sort(collect_list(struct(col("sub"), col("cell")))),
          x => x.getField("cell")).as("codes"))
      // probe distance tables: the probe's EXACT subvectors against all
      // codes (not just its own argmin) — flat array indexed sub*codes+cell
      val dtabs = xsub.filter(col("vec_id") < NPROBES)
        .crossJoin(broadcast(cb2))
        .select(col("vec_id").as("probe_id"), col("xfp"), col("sub").as("psub"),
          explode(filter(col("cb"), c => c.getField("sub") === col("sub"))).as("c"))
        .select(col("probe_id"), col("c.sub").as("sub"), col("c.cell").as("cell"),
          aggregate(zip_with(col("xfp"), col("c.cfp"),
            (x, y) => (x - y) * (x - y)), lit(0L), (a, t) => a + t).as("d"))
        .groupBy(col("probe_id"))
        // keyed map, not a dense flat array: a Lloyd round can empty a
        // (sub, cell) — the codebook then has no entry for it and
        // positional indexing would misalign every later subspace
        .agg(map_from_entries(collect_list(
          struct((col("sub") * PQ_CODES + col("cell")).as("k"), col("d")))).as("dtab"))
        .agg(collect_list(struct(col("probe_id"), col("dtab"))).as("ps"))
      // ADC scan: corpus rows read ONLY their code arrays; per probe the
      // distance is m broadcast-table lookups summed row-locally — one
      // native expression (plans/IvfExpressions.scala AdcDistance,
      // bit-identical to the per-subspace aggregate + map element_at
      // chain incl. null-on-missing-key) since the m·codes-entry map
      // scans per (probe, vector) pair ARE the ADC pass's cost.
      val adc = codesArr.crossJoin(broadcast(dtabs))
        .select(col("vec_id"), col("codes"), posexplode(col("ps")).as(Seq("pidx", "p")))
        .filter(col("p.probe_id") =!= col("vec_id"))
        .select(col("p.probe_id").as("probe_id"), col("vec_id").as("neighbor_id"),
          Vectors.adcDistance(col("codes"), col("p.dtab"), PQ_CODES, PQ_M)
            .as("adist"))
      // top-RERANK by ascending distance (candidates per probe are
      // corpus-sized): the top-k aggregate over the negated distance
      val cand = Skew.topK(adc.withColumn("adist", -col("adist")), "probe_id",
          "adist", "neighbor_id", PQ_RERANK)
        .select(col("probe_id"), col("neighbor_id"))
      rerank(s, dir, cand)
    },

    // ------------------------------------------------------------------
    // Cluster-quality eval over the IVF home-cell partition — the
    // "measure, don't guess" harness for the KCELLS knob itself
    // (ann_nprobe_sweep tunes probes; nothing yet scores the
    // PARTITION): Calinski-Harabasz (between/within variance ratio —
    // higher is tighter) and Davies-Bouldin (worst-pair overlap —
    // lower is better) from ONE corpus scan. Determinism discipline:
    // points snap to ×2¹⁰ longs, each point's squared distance to its
    // cell centroid is an EXACT BIGINT (Σ(n·x−s)², the common-
    // denominator trick) snapped ×10⁶ before the per-cell sum, and
    // every cross-cell double term (between-cell scatter, centroid
    // pair distances) snaps per-pos ×10⁹ so no engine ever folds raw
    // doubles in group order. All post-scan relations are ≤k or ≤k²
    // bookkeeping (k = 16 cells). Magnitude budget: n·x10 ≤ n·4096,
    // squared ×64 stays under 2⁶³ to ~3×10⁴ points/cell; beyond that a
    // production run drops to the double centroid (the snapping is the
    // cross-engine test discipline, not the production requirement).
    "embedding_cluster_eval" -> QueryDef.withOracle(
      s"""WITH $ivfAssignSql,
         |home AS (
         |  SELECT r.vec_id, r.c_label AS cell, e.embedding
         |  FROM ranked r JOIN embeddings e USING (vec_id) WHERE r.rn = 1),
         |x AS (
         |  SELECT vec_id, cell, pos,
         |    CAST(floor(CAST(embedding[pos] AS DOUBLE) * 1024 + 0.5) AS BIGINT) AS xv
         |  FROM home, range(1, 65) t(pos)),
         |sc AS (
         |  SELECT cell, pos, CAST(sum(xv) AS BIGINT) AS sv
         |  FROM x GROUP BY cell, pos),
         |nc AS (SELECT cell, CAST(count(*) AS BIGINT) AS n FROM home GROUP BY cell),
         |nv AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM home),
         |d2 AS (
         |  SELECT x.vec_id, x.cell,
         |    CAST(floor(CAST(CAST(sum((nc.n * x.xv - sc.sv) * (nc.n * x.xv - sc.sv))
         |        AS BIGINT) AS DOUBLE)
         |      * 1e6 / (nc.n * 1024.0 * nc.n * 1024.0) + 0.5) AS BIGINT) AS d2fp
         |  FROM x JOIN sc ON sc.cell = x.cell AND sc.pos = x.pos
         |  JOIN nc ON nc.cell = x.cell
         |  GROUP BY x.vec_id, x.cell, nc.n),
         |wc AS (SELECT cell, CAST(sum(d2fp) AS BIGINT) AS wfp FROM d2 GROUP BY cell),
         |wt AS (SELECT CAST(sum(wfp) AS BIGINT) AS wfp_all,
         |              CAST(count(*) AS BIGINT) AS k FROM wc),
         |g AS (SELECT pos, CAST(sum(sv) AS BIGINT) AS gv FROM sc GROUP BY pos),
         |bt AS (
         |  SELECT sc.cell,
         |    CAST(sum(CAST(floor(
         |      pow(CAST(sc.sv AS DOUBLE) * nv.nn - CAST(g.gv AS DOUBLE) * nc.n, 2)
         |        / (CAST(nc.n AS DOUBLE) * nv.nn * nv.nn * 1024 * 1024)
         |        * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS bfp
         |  FROM sc JOIN g USING (pos) JOIN nc ON nc.cell = sc.cell CROSS JOIN nv
         |  GROUP BY sc.cell),
         |btot AS (SELECT CAST(sum(bfp) AS BIGINT) AS bfp_all FROM bt),
         |m2 AS (
         |  SELECT a.cell AS ci, b.cell AS cj,
         |    CAST(sum(CAST(floor(
         |      pow(CAST(a.sv AS DOUBLE) * nb.n - CAST(b.sv AS DOUBLE) * na.n, 2)
         |        / pow(CAST(na.n AS DOUBLE) * nb.n * 1024, 2)
         |        * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS m2fp
         |  FROM sc a JOIN sc b ON b.pos = a.pos AND b.cell <> a.cell
         |  JOIN nc na ON na.cell = a.cell JOIN nc nb ON nb.cell = b.cell
         |  GROUP BY a.cell, b.cell),
         |si AS (
         |  SELECT wc.cell, sqrt(CAST(wc.wfp AS DOUBLE) / 1e6 / nc.n) AS s
         |  FROM wc JOIN nc USING (cell)),
         |dbt AS (
         |  SELECT m2.ci AS cell,
         |    CAST(floor(max((sa.s + sb.s) / sqrt(CAST(m2.m2fp AS DOUBLE) / 1e9))
         |      * 1e9 + 0.5) AS BIGINT) AS dbfp
         |  FROM m2 JOIN si sa ON sa.cell = m2.ci JOIN si sb ON sb.cell = m2.cj
         |  GROUP BY m2.ci),
         |dbs AS (SELECT CAST(sum(dbfp) AS BIGINT) AS sdb FROM dbt)
         |SELECT nv.nn AS n_vectors, CAST(wt.k AS INT) AS k_cells,
         |  CAST(wt.wfp_all AS DOUBLE) / 1e6 AS wss,
         |  CAST(btot.bfp_all AS DOUBLE) / 1e9 AS bss,
         |  floor((CAST(btot.bfp_all AS DOUBLE) / 1e9 / (wt.k - 1))
         |    / (CAST(wt.wfp_all AS DOUBLE) / 1e6 / (nv.nn - wt.k))
         |    * 1e6 + 0.5) / 1.0e6 AS ch_index,
         |  floor(CAST(dbs.sdb AS DOUBLE) / (wt.k * 1000.0) + 0.5) / 1.0e6 AS db_index
         |FROM nv CROSS JOIN wt CROSS JOIN btot CROSS JOIN dbs""".stripMargin) { (s, dir) =>
      val home = ivfAssignments(s, dir).filter(col("rn") === 1)
        .select(col("vec_id"), col("c_label").as("cell"))
      val pts = home
        .join(Tables.embeddings(s, dir).select(col("vec_id"),
          transform(embD, v => floor(v * 1024 + 0.5).cast(LongType)).as("x10")),
          "vec_id")
        .persist() // one IVF build + snap feeds the d2 pass and all sums
      val nc = pts.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      val sc = pts
        .select(col("cell"), posexplode(col("x10")).as(Seq("pos0", "xv")))
        .groupBy(col("cell"), (col("pos0") + 1).as("pos"))
        .agg(sum(col("xv")).as("sv"))
        .persist() // k×d bookkeeping: centroid array, global mean, m2 pairs
      val centArr = sc
        .groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("sv")))),
          t => t.getField("sv")).as("svec"))
        .join(nc, "cell")
      val d2int = aggregate(
        zip_with(col("x10"), col("svec"),
          (xv, sv) => (col("n") * xv - sv) * (col("n") * xv - sv)),
        lit(0L), (acc, t) => acc + t)
      val d2 = pts.join(broadcast(centArr), "cell")
        .select(col("cell"),
          floor(d2int.cast(DoubleType) * lit(1.0e6)
            / (col("n") * lit(1024.0) * col("n") * lit(1024.0)) + 0.5)
            .cast(LongType).as("d2fp"))
      val wc = d2.groupBy(col("cell")).agg(sum(col("d2fp")).as("wfp"))
      // Everything past wc is ≤k (nc, wc) or ≤k×d (sc) bookkeeping —
      // at the cells ∝ √corpus knob rule that is k²·d driver flops
      // (k=16 default: ~16k; k=2000: 2.6e8, still sub-second), never
      // corpus-scale — so the between-scatter / centroid-pair / DB-max
      // fold runs DRIVER-SIDE from three BOUNDED collects (k, k, k×d
      // rows) instead of ~25 tiny exchanges: the distributed form's
      // warm cost was pure stage-scheduling latency (measured 40
      // stages/257 tasks ≈ 2.1 s at sf0.1 with IDENTICAL counts solo
      // and in-suite — the r12 "creep" was this noise floor, not cache
      // interaction; see SURVEY.md's r12 creep notes). Every
      // double/floor/pow op below mirrors the previous distributed
      // expressions 1:1, so the DuckDB oracle is bit-unchanged.
      val scRows = sc.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      val ncM = nc.collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      val wcRows = wc.collect().map(r => (r.getInt(0), r.getLong(1)))
      val nn = ncM.values.sum
      val k = wcRows.length.toLong // wt.k = count(*) FROM wc
      val wfpAll = wcRows.map(_._2).sum
      // g: per-pos global sums (exact longs, order-free)
      val g = scRows.groupBy(_._2).map { case (p, rs) => p -> rs.map(_._3).sum }
      // bt/btot: between-cell scatter, per-(cell,pos) floor, exact sums.
      // The folds below MIRROR the inner joins they replaced: a row
      // whose cell/pos has no partner is SKIPPED (flatMap over .get),
      // never a driver-side NoSuchElementException — ragged or
      // mismatched-dim embeddings degrade exactly like the oracle's
      // join semantics instead of crashing the query.
      val btot = scRows.iterator.flatMap { case (cell, pos, sv) =>
        ncM.get(cell).map { n =>
          math.floor(math.pow(sv.toDouble * nn - g(pos).toDouble * n, 2)
            / (n.toDouble * nn * nn * 1024 * 1024) * 1.0e9 + 0.5).toLong
        }
      }.sum
      // m2: centroid pair distances (k² ordered pairs × d positions)
      val scByCell = scRows.groupBy(_._1)
        .map { case (c, rs) => c -> rs.map(r => r._2 -> r._3).toMap }
      val cells = scByCell.keys.toSeq.sorted
      val m2 = (for {
        ci <- cells; cj <- cells if ci != cj
        na <- ncM.get(ci); nb <- ncM.get(cj)
      } yield {
        val a = scByCell(ci); val b = scByCell(cj)
        // inner-join mirror: positions present in only one cell's
        // vector are skipped, like the distributed join this replaced
        (ci, cj) -> a.keysIterator.flatMap { pos =>
          b.get(pos).map { bv =>
            math.floor(math.pow(a(pos).toDouble * nb - bv.toDouble * na, 2)
              / math.pow(na.toDouble * nb * 1024, 2) * 1.0e9 + 0.5).toLong
          }
        }.sum
      }).toMap
      val si = wcRows.iterator.flatMap { case (c, wfp) =>
        ncM.get(c).map(n => c -> math.sqrt(wfp.toDouble / 1.0e6 / n))
      }.toMap
      // dbt/dbs: Davies-Bouldin worst-pair per cell, floored ×1e9
      // (join-mirror: pairs missing from si/m2 are skipped, not thrown)
      val dbs = cells.iterator.flatMap { ci =>
        val worst = cells.iterator.filter(_ != ci).flatMap { cj =>
          for { a <- si.get(ci); b <- si.get(cj); mm <- m2.get((ci, cj)) }
            yield (a + b) / math.sqrt(mm.toDouble / 1.0e9)
        }.maxOption
        worst.map(w => math.floor(w * 1.0e9 + 0.5).toLong)
      }.sum
      val wss = wfpAll.toDouble / 1.0e6
      val bss = btot.toDouble / 1.0e9
      val chIndex = math.floor((btot.toDouble / 1.0e9 / (k - 1))
        / (wfpAll.toDouble / 1.0e6 / (nn - k)) * 1.0e6 + 0.5) / 1.0e6
      val dbIndex = math.floor(dbs.toDouble / (k * 1000.0) + 0.5) / 1.0e6
      import s.implicits._
      Seq((nn, k.toInt, wss, bss, chIndex, dbIndex))
        .toDF("n_vectors", "k_cells", "wss", "bss", "ch_index", "db_index")
    },

    // ------------------------------------------------------------------
    // Distributed Gram matrix Σ x xᵀ over the embedding corpus — the
    // d×d accumulation behind PCA/whitening/OPQ rotation at corpus
    // scale. Each row emits its d(d+1)/2 = 2080 upper-triangle products
    // (row-local explode); partial aggregation combines them map-side,
    // so at most 2080 (i, j, partial) rows per task reach the single
    // exchange — at 10^9 vectors the shuffle is still 2080 rows/task,
    // and the driver-side eigendecomposition of a 64×64 matrix is
    // trivial. Products are snapped to fixed point (×10^6, exact long
    // sums) so the sums are addition-order-invariant → fully oracled.
    "embedding_gram" -> QueryDef.withOracle(
      """WITH x AS (
        |  SELECT vec_id, embedding, len(embedding) AS d FROM embeddings),
        |e AS (
        |  SELECT vec_id, embedding, unnest(range(1, d + 1)) AS i FROM x),
        |p AS (
        |  SELECT a.vec_id, a.i AS i1, b.i AS j1,
        |    CAST(floor(CAST(a.embedding[a.i] AS DOUBLE)
        |      * CAST(b.embedding[b.i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS p_fp
        |  FROM e a JOIN e b ON b.vec_id = a.vec_id AND b.i >= a.i)
        |SELECT CAST(i1 - 1 AS INT) AS i, CAST(j1 - 1 AS INT) AS j,
        |  CAST(sum(p_fp) AS BIGINT) AS gram_fp,
        |  CAST(count(*) AS BIGINT) AS n_vecs
        |FROM p GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      // the (i, j, product) longs never leave the aggregation buffer:
      // GramSketch accumulates the whole upper triangle in ONE
      // ~d²/2-long array per partition (vs. the explode form's
      // d²/2 struct rows per VECTOR through the partial agg) — exact
      // long sums, so results are bit-identical to the explode plan
      Tables.embeddings(s, dir)
        .agg(Vectors.gramSketch(col("embedding")).as("gs"))
        .select(inline(col("gs")))
    },

    // ------------------------------------------------------------------
    // Top-principal-component projection: distributed Gram build →
    // 8-round deterministic power iteration on the d×d matrix →
    // corpus-scale row-local projection onto the resulting direction.
    // The Gram collect is d² = 4096 bookkeeping rows — exactly what
    // Spark MLlib's RowMatrix.computePrincipalComponents does (the
    // Gramian is O(d²), independent of corpus size); everything
    // corpus-sized stays distributed. Determinism discipline: the Gram
    // is fixed-point (exact long sums), the normalized matrix snaps to
    // ×10^3, each iteration's matvec is exact long arithmetic and its
    // renormalization an identical IEEE expression on both engines —
    // so an 8-round eigensolve carries a full unrolled-CTE oracle.
    "embedding_pca_project" -> QueryDef.withOracle {
      def step(k: Int): String = {
        val prev = if (k == 1) "v0" else s"v${k - 1}"
        s"""w$k AS MATERIALIZED (
           |  SELECT g.i, CAST(sum(g.g * v.v) AS BIGINT) AS w
           |  FROM g2 g JOIN $prev v ON v.j = g.j GROUP BY 1),
           |n$k AS (SELECT sqrt(CAST(sum(CAST(w AS HUGEINT) * w) AS DOUBLE)) AS nrm
           |        FROM w$k),
           |v$k AS (
           |  SELECT w$k.i AS j,
           |    CAST(floor(CAST(w AS DOUBLE) * 1000000.0 / n$k.nrm + 0.5) AS BIGINT) AS v
           |  FROM w$k CROSS JOIN n$k)""".stripMargin
      }
      s"""WITH x AS (SELECT vec_id, embedding FROM embeddings),
         |e AS MATERIALIZED (
         |  SELECT vec_id, embedding, unnest(range(1, len(embedding) + 1)) AS i FROM x),
         |pr AS (
         |  SELECT a.i AS i1, b.i AS j1,
         |    CAST(floor(CAST(a.embedding[a.i] AS DOUBLE)
         |      * CAST(b.embedding[b.i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS p
         |  FROM e a JOIN e b ON b.vec_id = a.vec_id),
         |gr AS (SELECT i1, j1, CAST(sum(p) AS BIGINT) AS gfp,
         |         CAST(count(*) AS BIGINT) AS nv
         |       FROM pr GROUP BY 1, 2),
         |g2 AS MATERIALIZED (SELECT i1 - 1 AS i, j1 - 1 AS j,
         |         CAST(floor(gfp / (nv * 1000.0)) AS BIGINT) AS g FROM gr),
         |v0 AS (SELECT DISTINCT j, CAST(1000000 AS BIGINT) AS v FROM g2),
         |${(1 to 8).map(step).mkString(",\n")},
         |xq AS (
         |  SELECT vec_id, i - 1 AS dim,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS xq
         |  FROM e)
         |SELECT q.vec_id,
         |  round(CAST(sum(q.xq * v.v) AS BIGINT) / 1000000000000.0, 6) AS pc1
         |FROM xq q JOIN v8 v ON v.j = q.dim
         |GROUP BY q.vec_id""".stripMargin
    } { (s, dir) =>
      // upper triangle only (the embedding_gram trick, via the same
      // GramSketch aggregate — one buffer per partition, never a
      // per-pair row stream); vi·vj = vj·vi bit-exactly in IEEE, so
      // mirroring driver-side reconstructs the full Gramian the oracle
      // computes
      val gram = Tables.embeddings(s, dir)
        .agg(Vectors.gramSketch(col("embedding")).as("gs"))
        .select(inline(col("gs")))
        .collect() // ≤ d(d+1)/2 bookkeeping rows — the MLlib Gramian pattern
      val d = gram.map(_.getInt(1)).max + 1
      val g = Array.ofDim[Long](d, d)
      gram.foreach { r =>
        val v = math.floor(r.getLong(2).toDouble / (r.getLong(3) * 1000.0)).toLong
        g(r.getInt(0))(r.getInt(1)) = v
        g(r.getInt(1))(r.getInt(0)) = v
      }
      var v = Array.fill(d)(1000000L)
      for (_ <- 0 until 8) {
        val w = Array.tabulate(d)(i => (0 until d).map(j => g(i)(j) * v(j)).sum)
        val nrm = math.sqrt(w.map(x => BigInt(x) * BigInt(x)).sum.toDouble)
        v = w.map(x => math.floor(x.toDouble * 1000000.0 / nrm + 0.5).toLong)
      }
      val vLit = array(v.map(lit): _*)
      Tables.embeddings(s, dir).select(col("vec_id"),
        round(
          aggregate(
            zip_with(col("embedding"), vLit, (x, vv) =>
              floor(x.cast(DoubleType) * 1000000 + 0.5).cast(LongType) * vv),
            lit(0L), (acc, t) => acc + t) / lit(1.0e12), 6).as("pc1"))
    },

    // ------------------------------------------------------------------
    // k-NN graph build — every vector's top-3 neighbors, the input
    // relation for embedding-based clustering/community detection and
    // the generalization of ann_topk_exact from a probe SET to the
    // whole corpus. All-pairs is corpus-quadratic, so candidates are
    // IVF-home-cell blocked (k-means cells from the shared build):
    // Σ cell² pairs, bounded by the scale-free cell-count knob — the
    // same blocking discipline as the dedup band joins, with the same
    // documented recall trade (a true neighbor in another cell is
    // missed; more cells probed = more recall, same shape). The
    // candidate join carries (id, cell) pairs only; the embeddings
    // ride the cell assignment, and the ranking is the bounded top-k
    // aggregate inside the per-cell join's stage.
    "ann_knn_graph" -> QueryDef.withOracle(
      // the decoded (cos, dst) come back EXACTLY from the packed key:
      // c/1e6 in double equals round(cos, 6) for every 6-decimal value
      s"""WITH $ivfAssignSql,
         |$knnTop3Ctes,
         |u AS (
         |  SELECT src_id, k1 AS k, 1 AS rn FROM m1
         |  UNION ALL SELECT src_id, k2, 2 FROM m2
         |  UNION ALL SELECT src_id, k3, 3 FROM m3),
         |dec AS (
         |  SELECT src_id, ((k - 1) // 10000000000) + 1 AS c, k, rn FROM u)
         |SELECT src_id, c * 10000000000 - k AS dst_id,
         |  CAST(c - 2000000 AS DOUBLE) / 1e6 AS cos_sim, rn
         |FROM dec""".stripMargin) { (s, dir) =>
      // SCALE SHAPE (r15 rewrite, caught by the sf10d battery): the
      // old plan joined the 64-dim embeddings ONTO the in-cell pair
      // stream (id-keyed joins + a salted window over |Σcell²| rows) —
      // at sf10d that is 2.5e9 pair rows × two embedding payloads
      // through THREE exchanges, a ~TB shuffle that filled the disk.
      // Scale-correct shape: embeddings travel WITH the cell
      // assignment (one corpus-sized exchange keyed by cell), the
      // in-cell pair stream is born inside ONE per-cell join and
      // collapses to ≤3 pairs per src in the SAME stage through
      // TopKByKey's partial/final split — the pair stream itself never
      // crosses an exchange, and there is no global window sort.
      val home = ivfAssignments(s, dir).filter(col("rn") === 1)
        .select(col("vec_id"), col("c_label"))
      val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      // merge hint: corpus-cardinality both sides — shuffle on vec_id,
      // never broadcast the embeddings scan (PlanAudit FACT_BROADCAST)
      val assigned = home.join(e.hint("merge"), Seq("vec_id"))
      val a = assigned.select(col("c_label"), col("vec_id").as("src_id"),
        col("embedding").as("s_emb"))
      val b = assigned.select(col("c_label"), col("vec_id").as("dst_id"),
        col("embedding").as("d_emb"))
      val cos = round(Vectors.cosine(col("s_emb"), col("d_emb")), 6)
      Skew.topK(a.join(b, Seq("c_label"))
          .filter(col("src_id") =!= col("dst_id"))
          .select(col("src_id"), col("dst_id"), cos.as("cos_sim")),
        "src_id", "cos_sim", "dst_id", 3)
    },

    // ------------------------------------------------------------------
    // Local Outlier Factor — the DENSITY-based outlier detector
    // embedding_outlier_score's centroid screen can't replace (a
    // vector can sit near its cell centroid yet in a locally sparse
    // pocket, and a dense far-from-centroid cluster is NOT outlying):
    // LOF(p) = mean over p's neighbors o of lrd(o)/lrd(p), with
    // lrd = 1/mean reachability distance and reach(p,o) =
    // max(kdist(o), d(p,o)). Rides ann_knn_graph's k=3 cosine kNN
    // (IVF-cell candidates, top-k aggregate, ×10⁶-snapped cosines), so
    // every distance is an EXACT ×10⁶ integer: kdist/reach stay
    // integers, lrd snaps once to a ×10⁹ long (k·10¹⁵/Σreach, dup
    // guard at Σ=0), and LOF divides the two snapped integer sums once
    // at output. Verdict LOF > 1.5. All joins are id-keyed; singleton
    // IVF cells drop out of the kNN base identically on both engines.
    "embedding_lof" -> QueryDef.withOracle(
      // top-3 kNN base via ann_knn_graph's packed-key chain; d_fp
      // decodes from the packed key as 1e6 − (c − 2e6), identical to
      // 1e6 − floor(cos·1e6 + 0.5)
      s"""WITH $ivfAssignSql,
         |$knnTop3Ctes,
         |ku AS (
         |  SELECT src_id, k1 AS k FROM m1
         |  UNION ALL SELECT src_id, k2 FROM m2
         |  UNION ALL SELECT src_id, k3 FROM m3),
         |knn AS MATERIALIZED (
         |  SELECT src_id,
         |    (((k - 1) // 10000000000) + 1) * 10000000000 - k AS dst_id,
         |    CAST(1000000 - (((k - 1) // 10000000000) + 1 - 2000000)
         |      AS BIGINT) AS d_fp
         |  FROM ku),
         |kd AS MATERIALIZED (
         |  SELECT src_id AS id, CAST(max(d_fp) AS BIGINT) AS kdist,
         |    CAST(count(*) AS BIGINT) AS nk
         |  FROM knn GROUP BY 1),
         |rc AS (
         |  SELECT k.src_id, k.dst_id,
         |    CASE WHEN o.kdist > k.d_fp THEN o.kdist ELSE k.d_fp END AS reach
         |  FROM knn k JOIN kd o ON o.id = k.dst_id),
         |lr AS MATERIALIZED (
         |  SELECT r.src_id AS id, p.nk, p.kdist,
         |    CAST(floor(p.nk * 1e15
         |      / greatest(CAST(sum(r.reach) AS BIGINT), 1) + 0.5) AS BIGINT)
         |      AS lrd_fp
         |  FROM rc r JOIN kd p ON p.id = r.src_id
         |  GROUP BY r.src_id, p.nk, p.kdist),
         |lf AS (
         |  SELECT k.src_id, max(lp.nk) AS nk, max(lp.kdist) AS kdist,
         |    max(lp.lrd_fp) AS lrd_fp,
         |    CAST(sum(lo.lrd_fp) AS BIGINT) AS sl
         |  FROM knn k
         |  JOIN lr lo ON lo.id = k.dst_id
         |  JOIN lr lp ON lp.id = k.src_id
         |  GROUP BY k.src_id)
         |SELECT src_id AS vec_id, nk AS n_neighbors,
         |  kdist / 1.0e6 AS kdist,
         |  lrd_fp / 1.0e9 AS lrd,
         |  floor(CAST(sl AS DOUBLE) / (nk * lrd_fp) * 1e6 + 0.5) / 1.0e6
         |    AS lof,
         |  floor(CAST(sl AS DOUBLE) / (nk * lrd_fp) * 1e6 + 0.5) > 1500000
         |    AS is_outlier
         |FROM lf""".stripMargin) { (s, dir) =>
      val knn = Similarity.defs.toMap.apply("ann_knn_graph").fn(s, dir)
        .select(col("src_id"), col("dst_id"),
          (lit(1000000L) - floor(col("cos_sim") * lit(1.0e6) + lit(0.5))
            .cast(LongType)).as("d_fp"))
        .persist() // read by kdist, reach, and the LOF assembly
      val kd = knn.groupBy(col("src_id").as("id"))
        .agg(max(col("d_fp")).as("kdist"), count(lit(1)).as("nk"))
        .persist() // joined as o (reach) and p (lrd)
      val rc = knn.join(kd.select(col("id").as("dst_id"),
          col("kdist").as("okd")), "dst_id")
        .select(col("src_id"),
          when(col("okd") > col("d_fp"), col("okd")).otherwise(col("d_fp"))
            .as("reach"))
      val lr = rc.groupBy(col("src_id").as("id"))
        .agg(sum(col("reach")).as("sreach"))
        .join(kd, "id")
        .select(col("id"), col("nk"), col("kdist"),
          floor(col("nk") * lit(1.0e15)
            / greatest(col("sreach"), lit(1L)).cast(DoubleType) + lit(0.5))
            .cast(LongType).as("lrd_fp"))
        .persist() // joined as lo (neighbor) and lp (self)
      knn
        .join(lr.select(col("id").as("dst_id"), col("lrd_fp").as("lo")),
          "dst_id")
        .join(lr.select(col("id").as("src_id"), col("nk"), col("kdist"),
          col("lrd_fp").as("lp")), "src_id")
        .groupBy(col("src_id"))
        .agg(max(col("nk")).as("nk"), max(col("kdist")).as("kdist"),
          max(col("lp")).as("lrd_fp"), sum(col("lo")).as("sl"))
        .select(col("src_id").as("vec_id"), col("nk").as("n_neighbors"),
          (col("kdist") / lit(1.0e6)).as("kdist"),
          (col("lrd_fp") / lit(1.0e9)).as("lrd"),
          (floor(col("sl").cast(DoubleType) / (col("nk") * col("lrd_fp"))
            * lit(1.0e6) + lit(0.5)) / lit(1.0e6)).as("lof"),
          (floor(col("sl").cast(DoubleType) / (col("nk") * col("lrd_fp"))
            * lit(1.0e6) + lit(0.5)) > lit(1500000.0)).as("is_outlier"))
    },

    // ------------------------------------------------------------------
    // kNN label-vote classification eval — the standard embedding-
    // quality probe ("do nearest neighbors share labels?") that gates
    // an embedding model before it drives dedup or retrieval: each
    // probe (vec_id < NPROBES, leave-one-out against the full corpus)
    // takes the majority label of its exact top-K cosine neighbors,
    // ties to the smallest label. Rides the shared exactTopK pipeline
    // (broadcast probes × ONE corpus scan, bounded top-K aggregate);
    // the vote adds only K×NPROBES-row joins and a probe-keyed argmax
    // (the lexicographic struct-min, no window). Deterministic → fully
    // oracled.
    "ann_knn_classify" -> QueryDef.withOracle(
      s"""WITH tk AS ($exactTopkSql),
         |v AS (
         |  SELECT tk.probe_id, e.label, CAST(count(*) AS BIGINT) AS cnt
         |  FROM tk JOIN embeddings e ON e.vec_id = tk.neighbor_id
         |  GROUP BY tk.probe_id, e.label),
         |p AS (
         |  SELECT probe_id, label AS pred_label, cnt AS n_votes FROM (
         |    SELECT probe_id, label, cnt,
         |      row_number() OVER (PARTITION BY probe_id
         |        ORDER BY cnt DESC, label ASC) AS rn FROM v)
         |  WHERE rn = 1)
         |SELECT p.probe_id, t.label AS true_label, p.pred_label,
         |  p.n_votes, p.pred_label = t.label AS correct
         |FROM p JOIN embeddings t ON t.vec_id = p.probe_id""".stripMargin) { (s, dir) =>
      val lab = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
      val votes = exactTopK(s, dir)
        .join(lab.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
        .groupBy(col("probe_id"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val pred = votes.groupBy(col("probe_id"))
        // (cnt DESC, label ASC) argmax as a lexicographic struct min
        .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l"),
          col("cnt").as("c"))).as("m"))
        .select(col("probe_id"), col("m.l").as("pred_label"),
          col("m.c").as("n_votes"))
      pred.join(lab.withColumnRenamed("vec_id", "probe_id"), Seq("probe_id"))
        .select(col("probe_id"), col("label").as("true_label"),
          col("pred_label"), col("n_votes"),
          (col("pred_label") === col("label")).as("correct"))
    },

    // ------------------------------------------------------------------
    // Recall-vs-nprobe sweep — the ONE table that decides an IVF
    // deployment's probe count (recall you buy vs cells you scan):
    // aggregate recall@K against the exact ranking at nprobe = 1
    // (home cell only) and nprobe = 2, both served by the SAME shared
    // IVF build and the same exact-ranking pass — the sweep adds only
    // candidate-thin compare joins per probe count, nothing
    // corpus-scale. All counts exact BIGINTs; recall = hits/(K·probes)
    // assembles from exact integers, round(…, 9)-snapped.
    "ann_nprobe_sweep" -> QueryDef.withOracle {
      def hitCte(p: Int): String =
        s"""hit_$p AS (
           |  SELECT CAST($p AS BIGINT) AS nprobe,
           |    CAST(count(*) AS BIGINT) AS total_hits
           |  FROM exact e JOIN ivf_$p i
           |    ON i.probe_id = e.probe_id AND i.neighbor_id = e.neighbor_id)"""
          .stripMargin
      s"""WITH $ivfAssignSql,
         |${ivfTopkCtes(1, 2)},
         |exact AS (SELECT probe_id, neighbor_id FROM ($exactTopkSql)),
         |${hitCte(1)},
         |${hitCte(2)},
         |u AS (SELECT * FROM hit_1 UNION ALL SELECT * FROM hit_2)
         |SELECT nprobe, CAST($NPROBES AS BIGINT) AS n_probes, total_hits,
         |  round(total_hits / ($K.0 * $NPROBES), 9) AS recall_at_k
         |FROM u""".stripMargin
    } { (s, dir) =>
      val assigns = ivfAssignments(s, dir)
      val ex = exactTopK(s, dir)
        .select(col("probe_id"), col("neighbor_id")).persist()
      def hits(p: Int): DataFrame =
        ex.join(ivfTopK(s, dir, assigns, p).select(col("probe_id"), col("neighbor_id")),
            Seq("probe_id", "neighbor_id"))
          .agg(count(lit(1)).as("total_hits"))
          .select(lit(p.toLong).as("nprobe"),
            lit(NPROBES.toLong).as("n_probes"), col("total_hits"),
            round(col("total_hits") / lit(K * 1.0 * NPROBES), 9)
              .as("recall_at_k"))
      hits(1).unionAll(hits(2))
    },

    // ------------------------------------------------------------------
    // Attribute-filtered vector search — the pre-filter vs post-filter
    // question every vector deployment answers: restrict retrieval to
    // the probe's own label class. PRE-filter ranks within the allowed
    // class (always returns K, the correct semantics); POST-filter
    // takes the unfiltered global top-K and drops non-matching labels
    // (cheaper, returns ≤K — the recall you silently lose). Both arms
    // ride the broadcast-probe × one-corpus-scan shape with the
    // bounded top-K aggregate; the verdict row per probe counts what
    // post-filtering kept. Deterministic → fully oracled.
    "ann_filtered_topk" -> QueryDef.withOracle(
      s"""WITH pre AS (${topKSql(
            probeScanSql(probeCosSql, "e.vec_id <> p.vec_id AND e.label = p.label"),
            "probe_id, neighbor_id", "cos_sim DESC")}),
         |post AS (
         |  SELECT t.probe_id, t.neighbor_id
         |  FROM ($exactTopkSql) t
         |  JOIN embeddings pe ON pe.vec_id = t.probe_id
         |  JOIN embeddings ne ON ne.vec_id = t.neighbor_id
         |  WHERE ne.label = pe.label)
         |SELECT p.probe_id,
         |  CAST(count(*) AS BIGINT) AS n_prefilter,
         |  CAST(count(po.neighbor_id) AS BIGINT) AS n_postfilter_kept,
         |  CAST(sum(CASE WHEN po.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_agree,
         |  round(CAST(count(po.neighbor_id) AS DOUBLE) / $K, 9)
         |    AS postfilter_yield
         |FROM pre p LEFT JOIN post po
         |  ON po.probe_id = p.probe_id AND po.neighbor_id = p.neighbor_id
         |GROUP BY p.probe_id""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      // PRE-filter arm: the label equality rides the broadcast join
      // condition, so the scan scores only the allowed class
      val allowed = probeScan(e, Seq(probeEmb, col("label").as("p_label")),
        notSelf && col("label") === col("p_label"), probeCos)
      val pre = cosTopK(allowed).select(col("probe_id"), col("neighbor_id"))
      // POST-filter arm: unfiltered global top-K, labels dropped after
      val lab = e.select(col("vec_id"), col("label"))
      val post = exactTopK(s, dir)
        .join(lab.select(col("vec_id").as("probe_id"),
          col("label").as("pl")), Seq("probe_id"))
        .join(lab.select(col("vec_id").as("neighbor_id"),
          col("label").as("nl")), Seq("neighbor_id"))
        .filter(col("nl") === col("pl"))
        .select(col("probe_id"), col("neighbor_id"))
        .withColumn("kept", lit(1))
      pre.join(post, Seq("probe_id", "neighbor_id"), "left_outer")
        .groupBy(col("probe_id"))
        .agg(count(lit(1)).as("n_prefilter"),
          count(col("kept")).as("n_postfilter_kept"),
          sum(when(col("kept").isNotNull, 1).otherwise(0)).cast(LongType)
            .as("n_agree"),
          round(count(col("kept")).cast(DoubleType) / lit(K), 9)
            .as("postfilter_yield"))
    },

    // ------------------------------------------------------------------
    // Embedding outlier screen — the data-cleaning pass that flags
    // vectors far from their own IVF cell centroid (mislabeled,
    // corrupted, or out-of-distribution embeddings poison both ANN
    // recall and any training mix). Rides the SHARED IVF build: each
    // vector's home-cell cosine (already round(…,6)-snapped) becomes an
    // exact ×10⁶ long; per-cell mean/σ assemble from exact integer
    // moment sums on the ≤|cells| bookkeeping relation, and the flag is
    // cos < mean − 2σ with both sides of the comparison bit-identical
    // across engines. Corpus-scale work = the one IVF build everyone
    // shares + one keyed agg.
    "embedding_outlier_score" -> QueryDef.withOracle(
      s"""WITH $ivfAssignSql,
         |home AS (
         |  SELECT vec_id, c_label AS cell,
         |    CAST(floor(cos_c * 1000000 + 0.5) AS BIGINT) AS cfp
         |  FROM ranked WHERE rn = 1),
         |st AS (
         |  SELECT cell, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(cfp) AS BIGINT) AS s1,
         |    CAST(sum(cfp * cfp) AS BIGINT) AS s2
         |  FROM home GROUP BY cell)
         |SELECT h.vec_id, h.cell,
         |  CAST(h.cfp AS DOUBLE) / 1000000 AS cos_own_cell,
         |  floor(CAST(st.s1 AS DOUBLE) / st.n / 1000000 * 1000000000 + 0.5)
         |    / 1.0e9 AS cell_mean,
         |  CAST(h.cfp AS DOUBLE) < CAST(st.s1 AS DOUBLE) / st.n
         |    - 2 * sqrt((CAST(st.s2 AS DOUBLE) - CAST(st.s1 AS DOUBLE) * st.s1
         |        / st.n) / st.n) AS is_outlier
         |FROM home h JOIN st ON st.cell = h.cell""".stripMargin) { (s, dir) =>
      val home = ivfAssignments(s, dir)
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("c_label").as("cell"),
          floor(col("cos_c") * 1000000 + 0.5).cast(LongType).as("cfp"))
        .persist() // stats re-read the assignment
      val st = home.groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), sum(col("cfp")).as("s1"),
          sum(col("cfp") * col("cfp")).as("s2"))
      val mean = col("s1").cast(DoubleType) / col("n")
      val sd = sqrt((col("s2").cast(DoubleType)
        - col("s1").cast(DoubleType) * col("s1") / col("n")) / col("n"))
      home.join(broadcast(st), Seq("cell")) // ≤|cells| bookkeeping rows
        .select(col("vec_id"), col("cell"),
          (col("cfp").cast(DoubleType) / 1000000).as("cos_own_cell"),
          (floor(mean / 1000000 * lit(1.0e9) + lit(0.5)) / lit(1.0e9))
            .as("cell_mean"),
          (col("cfp").cast(DoubleType) < mean - lit(2) * sd).as("is_outlier"))
    },

    // ------------------------------------------------------------------
    // Range search — ALL neighbors within a similarity radius (cosine ≥
    // τ), the retrieval mode top-k can't express (dedup candidate
    // generation, radius joins, "everything this similar" audits).
    // Scale shape is the BEST in the ANN family: broadcast probe set ×
    // one corpus scan with a threshold FILTER — no ranking, no window,
    // no per-probe sort anywhere; output size is the data's answer,
    // not k. The codegen'd graft_cosine primitive keeps the scan in
    // whole-stage codegen, and the round(…,6) snap pins the boundary
    // so τ-edge rows can't diverge between engines.
    "ann_range_search" -> QueryDef.withOracle(
      s"""SELECT probe_id, neighbor_id, cos_sim FROM (${probeScanSql(probeCosSql)})
         |WHERE cos_sim >= 0.25""".stripMargin) { (s, dir) =>
      probeScan(Tables.embeddings(s, dir), Seq(probeEmb), notSelf, probeCos)
        .filter(col("cos_sim") >= 0.25)
    },

    // ------------------------------------------------------------------
    // IVF cluster-health audit — the "measure, don't guess" table for
    // the k-means build every IVF consumer rides (the dedup_bucket_stats
    // companion for the ANN family): per cell the member count, the
    // balance factor n·K/N (1.0 = uniform; a hot cell is exactly where
    // per-probe scan cost blows up, the knob the √N cell-count rule
    // protects), the mean home-cell cosine (cohesion) and the worst
    // member (the mislabel/outlier tail ann_* rerank depths must
    // absorb). One keyed agg over the SHARED home-cell assignment;
    // per-member cosines snap ×10⁶ before the sum.
    "ann_ivf_quality" -> QueryDef.withOracle(
      s"""WITH $ivfAssignSql,
         |home AS (
         |  SELECT vec_id, c_label AS cell, cos_c FROM ranked WHERE rn = 1),
         |g AS (
         |  SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
         |    CAST(sum(CAST(floor(cos_c * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
         |      AS scos,
         |    min(cos_c) AS min_cos
         |  FROM home GROUP BY cell),
         |t AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n FROM g)
         |SELECT g.cell, g.n_vecs,
         |  floor(CAST(g.n_vecs AS DOUBLE) * $KCELLS / t.n * 1e6 + 0.5) / 1.0e6
         |    AS balance,
         |  floor(CAST(g.scos AS DOUBLE) / g.n_vecs + 0.5) / 1.0e6 AS mean_cos,
         |  g.min_cos
         |FROM g CROSS JOIN t""".stripMargin) { (s, dir) =>
      val home = ivfAssignments(s, dir).filter(col("rn") === 1)
        .select(col("vec_id"), col("c_label").as("cell"), col("cos_c"))
      val g = home.groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(floor(col("cos_c") * 1000000 + 0.5).cast(LongType)).as("scos"),
          min(col("cos_c")).as("min_cos"))
        .persist() // ≤KCELLS rows: the total and the output
      val t = g.agg(sum(col("n_vecs")).as("n"))
      g.crossJoin(broadcast(t))
        .select(col("cell"), col("n_vecs"),
          (floor(col("n_vecs").cast(DoubleType) * kcellsOf(s) / col("n")
            * lit(1.0e6) + 0.5) / lit(1.0e6)).as("balance"),
          (floor(col("scos").cast(DoubleType) / col("n_vecs") + 0.5)
            / lit(1.0e6)).as("mean_cos"),
          col("min_cos"))
    }
  )
}
