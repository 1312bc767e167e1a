package graft.operators

import graft.{GraftSession, QueryDef}
import graft.functions.Vectors
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Graph analytics over the document-similarity graph (the verified
  * near-duplicate edges the dedup family already computes).
  * Connected components live in [[Dedup]] (`dedup_cluster_assign`);
  * here: PageRank-style centrality, the importance signal a crawl
  * pipeline uses to weight boilerplate-heavy template clusters.
  *
  * Everything is FIXED-POINT integer arithmetic (2^20 scale, damping
  * 85/100 as exact integer ops), so per-node sums are order- and
  * partitioning-invariant — rank values are bit-identical across any
  * cluster size, task retry, or engine, which is what lets a
  * 6-iteration iterative job carry a full DuckDB oracle (unrolled
  * CTEs, no recursive-aggregation support needed).
  */
object Graph {

  private val FP = 1048576L // 2^20
  // near-dup clusters are near-cliques (diameter 1-2): ranks converge
  // to 9 decimals well inside 6 synchronous rounds
  private val Iters = 6

  // LPA on near-cliques stabilizes in 2-3 sync rounds; 4 is the fixed
  // deterministic budget (convergence-chasing would break the oracle)
  private val LpaRounds = 4

  /** Power-iteration rounds for graph_eigencentrality (renormalized to
    * mean FP each round, so six rounds settle the top of the ranking
    * on the bucket-capped near-dup graph). */
  private val EigenIters = 6

  // k-core peeling: k=2 strips all tree/pendant structure, leaving
  // only nodes on cycles — the smallest k that is non-trivial on the
  // sparse verified near-dup graph (max degree 2 at test SFs; a
  // deployment on a denser graph raises k). 4 synchronous peels is
  // the fixed budget (KcoreConvergenceSpec pins stabilization).
  private val KcoreK = 2
  private val KcoreRounds = 4

  // HITS mutual-reinforcement rounds: the bipartite purchase graph's
  // score mass concentrates within 3-4 alternations; 4 is the fixed
  // deterministic budget (the LpaRounds argument — convergence-chasing
  // would break the oracle replay)
  private val HitsRounds = 4

  /** Loop edge base: `edges` hash-partitioned by src and cached, then
    * lineage-cut ([[GraftSession.cut]]); returns (cached, cut). Seeds
    * and node sets derive from the cached relation, the rounds iterate
    * over the cut. The cut is why a loop's rounds plan cheaply: without
    * it every round's plan re-embeds the whole near-dup candidate
    * subtree, and Catalyst re-analysis of that tree (driver time, not
    * execution) was the measured per-round cost — 9.5 s lazy vs 2.5 s
    * eager-cut for pageRanks at sf0.1. The src partitioning is the
    * Pregel layout: it satisfies every round's src-side join, so only
    * the (small) per-round state moves and the edges never shuffle
    * again — one O(E) exchange per round instead of two. */
  private[operators] def loopEdgeBase(
      s: SparkSession, edges: DataFrame): (DataFrame, DataFrame) = {
    val base = edges.repartition(col("src")).persist()
    base.count() // force the cache before the lineage cut
    (base, GraftSession.cut(s, base))
  }

  /** Synchronous multi-source min-distance BFS over a cut edge base.
    * `init` holds the sources at dist 0, keyed by `keys` :+ doc_id (a
    * `seed` key runs one BFS per seed in the same rounds). Each round
    * joins the state to the edges on src, relaxes dist + 1 onto dst and
    * keeps the min per key, under an eager [[GraftSession.roundCut]]:
    * the state is read twice per round (carry and frontier join), so a
    * lazy cascade would re-run every earlier round twice per round. */
  private[operators] def frontierBfs(s: SparkSession, edgesCk: DataFrame,
      init: DataFrame, keys: Seq[String], rounds: Int): DataFrame = {
    var dist = GraftSession.roundCut(s, init)
    for (_ <- 0 until rounds) {
      val nxt = edgesCk
        .join(dist.withColumnRenamed("doc_id", "src"), Seq("src"))
        .select(keys.map(col) :+ col("dst").as("doc_id") :+
          (col("dist") + 1).as("dist"): _*)
      dist = GraftSession.roundCut(s, dist.unionByName(nxt)
        .groupBy((keys :+ "doc_id").map(col): _*)
        .agg(min(col("dist")).as("dist")))
    }
    dist
  }

  /** Oracle mirror of [[frontierBfs]]: CTEs d1 … d`rounds` from d0 over
    * CTE `edges`. MATERIALIZED because d_i is read twice per step
    * (carry and frontier join): inlined, DuckDB would re-run the chain
    * 2^rounds times. */
  private def bfsSql(keys: Seq[String], rounds: Int): String = {
    val k = keys.map(_ + ", ").mkString
    (0 until rounds).map { i =>
      s"""d${i + 1} AS MATERIALIZED (
         |  SELECT ${k}doc_id, CAST(min(dist) AS BIGINT) AS dist FROM (
         |    SELECT ${k}doc_id, dist FROM d$i
         |    UNION ALL
         |    SELECT ${keys.map("d." + _ + ", ").mkString}e.dst AS doc_id, d.dist + 1 AS dist
         |    FROM edges e JOIN d$i d ON d.doc_id = e.src)
         |  GROUP BY ${k}doc_id)""".stripMargin
    }.mkString(",\n")
  }

  /** The top-`k` item pairs (part_a < part_b) by co-occurrence over
    * `lists`, one sorted, distinct `array<bigint>` basket per row in
    * column `items`: (part_a, part_b, weight = baskets holding both),
    * ordered by (weight DESC, part_a ASC, part_b ASC). Each basket
    * emits, per item, the tail of its list after that item, and
    * [[graft.plans.TopPartners]] counts a part's tails into one
    * primitive map and keeps its top-k partners: the Σ deg² pair
    * relation never exists as rows, so there is no pair self-join and
    * no (part_a, part_b) hash aggregate. Exact: a pair in the global
    * top-k has fewer than k pairs ranked above it, so fewer than k
    * inside its own part_a group, where the order is the same — it is
    * in that group's top-k. */
  private[graft] def topPairs(lists: DataFrame, k: Int): DataFrame =
    lists.select(posexplode(col("items")).as(Seq("i", "part_a")),
        col("items"))
      .filter(col("i") < size(col("items")) - 1)
      .select(col("part_a"), slice(col("items"), col("i") + 2,
        size(col("items")) - col("i") - 1).as("tail"))
      .groupBy(col("part_a"))
      .agg(Vectors.topPartners(col("tail"), k).as("top"))
      .select(col("part_a"), explode(col("top")).as("t"))
      .select(col("part_a"), col("t.part_b").as("part_b"),
        col("t.weight").as("weight"))
      .orderBy(col("weight").desc, col("part_a").asc, col("part_b").asc)
      .limit(k)

  /** The embedding near-dup graph (dedup_embedding's pairs) as mirrored
    * (src, dst) edges; oracle [[embeddingEdgesSql]]. */
  private def embeddingEdges(s: SparkSession, dir: String): DataFrame =
    Dedup.mirrored(Dedup.defs.toMap.apply("dedup_embedding").fn(s, dir)
      .select(col("vec_a"), col("vec_b")))

  /** Oracle mirror of [[embeddingEdges]]: a `WITH` prefix ending at CTE
    * `edges` (src, dst). */
  private val embeddingEdgesSql: String =
    s"""WITH p AS MATERIALIZED (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM embeddings a JOIN embeddings b
       |    ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE ${Similarity.embCosSql("a", "b")} >= 0.3),
       |edges AS MATERIALIZED (
       |  SELECT vec_a AS src, vec_b AS dst FROM p
       |  UNION ALL SELECT vec_b AS src, vec_a AS dst FROM p)""".stripMargin

  /** Node degrees (n, deg) of an undirected pair relation (doc_a, doc_b). */
  private def pairDegrees(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_a").as("n"))
      .union(pairs.select(col("doc_b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))

  /** Closed triangles (u, x, y) of a pair relation with degrees `deg`,
    * each once, by degree orientation: every pair is directed from its
    * lower-(deg, id) endpoint to the higher, so each node's oriented
    * out-degree is O(√E) and the wedge self-join is O(E^1.5) instead of
    * Σ deg². The oriented edges `o` take an eager lineage cut: the
    * closure reads o three times, and each reference re-embedded the
    * whole LSH-candidate tree — Catalyst re-analysis that was the
    * measured cost (1.5 s wall, 0.01 s task: pure driver time).
    * Oracle: CTEs `deg` and `o` of [[orientedSql]]. */
  private def closedTriangles(
      s: SparkSession, pairs: DataFrame, deg: DataFrame): DataFrame = {
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("doc_a") < col("doc_b"))
    val o = GraftSession.roundCut(s, pairs
      .join(deg.select(col("n").as("doc_a"), col("deg").as("da")), Seq("doc_a"))
      .join(deg.select(col("n").as("doc_b"), col("deg").as("db")), Seq("doc_b"))
      .select(
        when(aFirst, col("doc_a")).otherwise(col("doc_b")).as("u"),
        when(aFirst, col("doc_b")).otherwise(col("doc_a")).as("v"),
        when(aFirst, col("db")).otherwise(col("da")).as("dv")))
    val e1 = o.select(col("u"), col("v").as("x"), col("dv").as("dx"))
    val e2 = o.select(col("u"), col("v").as("y"), col("dv").as("dy"))
    e1.join(e2, Seq("u"))
      .filter(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
      .join(o.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
      .select(col("u"), col("x"), col("y"))
  }

  /** Oracle prefix for the triangle queries: [[Dedup.nearDupPairsSql]]
    * plus CTEs `deg` (n, deg) and `o` (u, v, dv), the oriented pairs. */
  private val orientedSql: String =
    s"""${Dedup.nearDupPairsSql},
       |deg AS MATERIALIZED (
       |  SELECT n, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT doc_a AS n FROM pairs
       |    UNION ALL SELECT doc_b AS n FROM pairs) GROUP BY n),
       |o AS (
       |  SELECT
       |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND p.doc_a < p.doc_b)
       |         THEN p.doc_a ELSE p.doc_b END AS u,
       |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND p.doc_a < p.doc_b)
       |         THEN p.doc_b ELSE p.doc_a END AS v,
       |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND p.doc_a < p.doc_b)
       |         THEN db.deg ELSE da.deg END AS dv
       |  FROM pairs p
       |  JOIN deg da ON da.n = p.doc_a
       |  JOIN deg db ON db.n = p.doc_b)""".stripMargin

  /** One unrolled oracle peel of chain `pfx`: survivors of round i+1 =
    * nodes of round i whose degree WITHIN round i's subgraph is still ≥ k. */
  private def peelSql(pfx: String, i: Int, k: Int): String =
    s"""$pfx${i + 1} AS MATERIALIZED (
       |  SELECT e.src AS id, CAST(count(*) AS BIGINT) AS d
       |  FROM edges e JOIN $pfx$i a ON a.id = e.src
       |  JOIN $pfx$i b ON b.id = e.dst
       |  GROUP BY e.src HAVING count(*) >= $k)""".stripMargin

  /** Oracle peel chain `pfx`0 … `pfx`KcoreRounds at threshold k over CTE
    * `edges`. */
  private def peelChainSql(pfx: String, k: Int): String =
    s"""${pfx}0 AS (SELECT DISTINCT src AS id FROM edges),
       |${(0 until KcoreRounds).map(peelSql(pfx, _, k)).mkString(",\n")}"""
      .stripMargin

  /** Survivor set (id, core_deg) after `rounds` synchronous peels at
    * threshold k — parameterized so KcoreConvergenceSpec can assert
    * rounds-4 == rounds-6 instead of trusting the comment. */
  private[graft] def kcoreSurvivors(
      s: SparkSession, dir: String, k: Int, rounds: Int): DataFrame =
    kcoreSurvivorsMulti(s, dir, Seq(k), rounds).select(col("id"), col("d"))

  /** r16: all requested thresholds peel in ONE 4-round chain — the
    * per-k recurrences are independent, so carrying k in the group key
    * runs them side by side (graph_core_number: 4 lineage-cut jobs
    * instead of 3 chains × 4; per-round work is O(|ks|·E) keyed rows,
    * exactly the three chains' combined volume), over one
    * [[loopEdgeBase]]. */
  private[graft] def kcoreSurvivorsMulti(
      s: SparkSession, dir: String, ks: Seq[Int], rounds: Int): DataFrame = {
    val (_, edgesCk) = loopEdgeBase(s, Dedup.nearDupEdges(s, dir))
    var cur = edgesCk.select(col("src").as("id")).distinct()
      .select(col("id"), explode(typedLit(ks)).as("k"))
    for (_ <- 0 until rounds) {
      // membership semijoin on both endpoints, then a (src, k)-keyed
      // degree count — eager per-round cuts stay: the survivor set is
      // referenced twice per round (both endpoint semijoins), so a
      // lazy chain would double execution per round
      val next = edgesCk
        .join(cur.select(col("id").as("src"), col("k")), Seq("src"))
        .join(cur.select(col("id").as("dst"), col("k")), Seq("dst", "k"))
        .groupBy(col("src"), col("k")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= col("k"))
        .select(col("src").as("id"), col("k"), col("d"))
      cur = GraftSession.roundCut(s, next)
    }
    cur
  }

  /** One unrolled oracle iteration: r_{i+1} = (15·FP + 85·Σ_in r_i/deg) div 100. */
  private def stepSql(i: Int): String =
    s"""r${i + 1} AS MATERIALIZED (
       |  SELECT n.doc_id, (15 * 1048576 + 85 * coalesce(c.contrib_sum, 0)) // 100 AS r
       |  FROM nodes n LEFT JOIN (
       |    SELECT e.dst AS doc_id, CAST(sum(p.r // d.deg) AS BIGINT) AS contrib_sum
       |    FROM edges e
       |    JOIN r$i p ON p.doc_id = e.src
       |    JOIN deg d ON d.doc_id = e.src
       |    GROUP BY e.dst) c ON c.doc_id = n.doc_id)""".stripMargin

  /** Edge-subgraph rank vector (doc_id, r) after `iters` synchronous
    * rounds — the iterative core of `graph_pagerank`, parameterized so
    * PageRankConvergenceSpec can pin the fixed-point claim (round 6 vs
    * round 8 ranks) instead of trusting the Iters=6 comment.
    *
    * SINGLE-REFERENCE CONTRACT (advisor r16): in the
    * no-checkpoint-dir path the returned frame is an UNCUT lazy
    * `iters`-round cascade — read it ONCE per call (graph_pagerank and
    * the spec each do); a second reference re-executes every round.
    * A caller needing multiple reads must cut the result itself
    * (lpaArtifacts cuts at the end for exactly this reason). */
  private[graft] def pageRanks(s: SparkSession, dir: String, iters: Int): DataFrame = {
    val edges = Dedup.nearDupEdges(s, dir)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val (edgesD, edgesCk) = loopEdgeBase(s, edges.join(deg, Seq("src"))) // (src, dst, deg)
    // nodes that can ever receive rank mass = edge endpoints
    val nodesE = edgesD.select(col("dst").as("doc_id")).distinct().persist()
    // r16 loop shape (guide §1.2/§2.4): the rank vector is referenced
    // ONCE per round, so the whole `iters`-round recurrence can stay
    // LAZY — one query, one job, AQE pipelines every round's two
    // exchanges — because the loopEdgeBase cut keeps each round a
    // constant-size 2-join fragment (r16 profile: the lazy chain at
    // 0.9 s wall / 0.03 s task vs 3.0 s / 15.8 s for the eager-cut
    // AQE-off loop). With spark.graft.checkpoint.dir set a per-round
    // RELIABLE checkpoint is taken so a 1000-executor run survives
    // executor loss without replaying the whole iteration — the AQE-on
    // round cut, since each round's plan has fresh exchanges.
    val nodesCk = GraftSession.cut(s, nodesE)
    var r = nodesCk.withColumn("r", lit(FP))
    for (_ <- 0 until iters) {
      val sums = edgesCk
        .join(r.withColumnRenamed("doc_id", "src"), Seq("src"))
        .select(col("dst"), expr("r div deg").as("contrib"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("contrib_sum"))
      val next = nodesCk
        .join(sums, col("doc_id") === col("dst"), "left_outer")
        .select(col("doc_id"),
          expr("(15 * 1048576L + 85 * coalesce(contrib_sum, 0L)) div 100").as("r"))
      r = if (GraftSession.reliableCuts(s)) GraftSession.roundCut(s, next) else next
    }
    r
  }

  /** One unrolled synchronous LPA round: per dst, the mode of its
    * in-neighbors' round-i labels, ties to the smallest label. */
  private def lpaStep(i: Int): String =
    s"""c${i + 1} AS (
       |  SELECT e.dst, p.label, CAST(count(*) AS BIGINT) AS cnt
       |  FROM edges e JOIN l$i p ON p.doc_id = e.src
       |  GROUP BY e.dst, p.label),
       |l${i + 1} AS (
       |  SELECT dst AS doc_id, label FROM (
       |    SELECT dst, label, row_number() OVER (PARTITION BY dst
       |      ORDER BY cnt DESC, label ASC) AS rn FROM c${i + 1})
       |  WHERE rn = 1)""".stripMargin

  /** Shared oracle prefix: near-dup edges + `LpaRounds` unrolled LPA
    * rounds, ending at CTE l`LpaRounds` (doc_id, label) — consumed by
    * graph_lpa (final labels) and graph_modularity (partition quality). */
  private def lpaCtesSql: String =
    s"""${Dedup.nearDupEdgesSql},
       |enodes AS (SELECT DISTINCT dst AS doc_id FROM edges),
       |l0 AS (SELECT doc_id, doc_id AS label FROM enodes),
       |${(0 until LpaRounds).map(lpaStep).mkString(",\n")}""".stripMargin

  /** Mirrored near-dup edge relation (src-partitioned, persisted) and
    * the edge-subgraph LPA labels after `rounds` synchronous rounds.
    * Pregel layout as [[pageRanks]]: per round ONE label-vector join to
    * the cached edges, one (dst, label) count and one per-dst argmax —
    * O(E) rows, node-keyed exchanges, lineage cut per round. */
  private[graft] def lpaArtifacts(
      s: SparkSession, dir: String, rounds: Int): (DataFrame, DataFrame) = {
    // r16 (the pageRanks lazy-cascade argument): the label vector is
    // referenced once per round, so the whole recurrence stays LAZY
    // over the cut edge base — one query, one job, no per-round
    // checkpoint jobs.
    val (_, edgesCk) = loopEdgeBase(s, Dedup.nearDupEdges(s, dir))
    val enodes = edgesCk.select(col("dst").as("doc_id")).distinct()
    // every edge-subgraph node has in-neighbors (edges are mirrored),
    // so the round's argmax is total — no carry-over coalesce needed
    var l = enodes.withColumn("label", col("doc_id"))
    for (_ <- 0 until rounds) {
      val next = edgesCk
        .join(l.withColumnRenamed("doc_id", "src"), Seq("src"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        // (cnt DESC, label ASC) argmax as a lexicographic struct min
        .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l")))
          .as("m"))
        .select(col("dst").as("doc_id"), col("m.l").as("label"))
      l = next
    }
    // one eager cut at the END of the cascade: graph_modularity reads
    // the label vector three times (two endpoint joins + the degree
    // join) and must not re-run the 4-round recurrence per reference.
    // Return the lineage-cut edge relation too — modularity references
    // edges in three more joins and per-reference re-analysis of the
    // LSH subtree was the measured driver cost. This cut's plan IS the
    // whole 4-round recurrence (fresh exchanges), so it stays on the
    // AQE-ON round cut — a cut planned with AQE off ran every round's
    // shuffle at the static partition count (measured: lpa task
    // 0.17→13.9 s, modularity 0.24→19.9 s; reverted).
    (edgesCk, GraftSession.roundCut(s, l))
  }

  val defs: Seq[(String, QueryDef)] = Seq(

    // ------------------------------------------------------------------
    // PageRank over the near-dup graph, 6 (Iters) synchronous iterations.
    // Scale shape = Pregel: per iteration ONE join of the rank vector
    // to the (src, dst, deg) edge relation and ONE keyed aggregation —
    // O(E) work and two bounded exchanges per round; the rounds form one
    // lazy cascade over a lineage-cut edge base, with a reliable
    // checkpoint per round when spark.graft.checkpoint.dir is set (see
    // pageRanks).
    // Only the edge subgraph iterates: a node with no in-edges holds
    // the closed-form base rank (15·FP) div 100 after round 1 and can
    // never influence a neighbor, so singletons — the overwhelming
    // majority of a 100 TB corpus — join once at the end instead of
    // riding every round's shuffles.
    "graph_pagerank" -> QueryDef.withOracle(
      s"""${Dedup.nearDupEdgesSql},
         |deg AS MATERIALIZED (
         |  SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS deg
         |  FROM edges GROUP BY src),
         |nodes AS (SELECT doc_id FROM documents),
         |r0 AS (SELECT doc_id, CAST(1048576 AS BIGINT) AS r FROM nodes),
         |${(0 until Iters).map(stepSql).mkString(",\n")}
         |SELECT doc_id, r AS rank_fp, round(r / 1048576.0, 9) AS rank
         |FROM r$Iters""".stripMargin) { (s, dir) =>
      // singletons: no in-edges → closed-form base rank from round 1 on
      Tables.documents(s, dir).select(col("doc_id"))
        .join(pageRanks(s, dir, Iters), Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("r"), lit(15L * FP / 100L)).as("rank_fp"))
        .withColumn("rank", round(col("rank_fp") / lit(1048576.0), 9))
    },

    // ------------------------------------------------------------------
    // Degree distribution of the near-dup graph — the sanity profile
    // read before running anything iterative on it (a heavy tail here
    // predicts skew in every per-node shuffle). Reuses the cached edge
    // relation; two keyed aggs, output is |distinct degrees| rows.
    "graph_degree_stats" -> QueryDef.withOracle(
      s"""${Dedup.nearDupEdgesSql},
         |deg AS MATERIALIZED (
         |  SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS deg
         |  FROM edges GROUP BY src)
         |SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes
         |FROM deg GROUP BY deg""".stripMargin) { (s, dir) =>
      val pairs = Dedup.nearDupPairs(s, dir)
      pairs.select(col("doc_a").as("src"))
        .union(pairs.select(col("doc_b").as("src")))
        .groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
    },

    // ------------------------------------------------------------------
    // Rich-club coefficient φ(k) over the verified near-dup graph —
    // do high-degree nodes (template families, boilerplate hubs)
    // preferentially link to EACH OTHER? φ(k) = 2·E_k/(N_k(N_k−1))
    // over the subgraph of nodes with deg > k, swept at k ∈ {1,2,4}.
    // In a dedup graph a rising φ(k) means the hubs form one mutually-
    // near-dup core (one template family) rather than k independent
    // stars — which changes the cut strategy (drop the family, not
    // per-pair). Work: the shared verified-pair build + one degree
    // agg; the k sweep expands the ≤|pairs| edge relation against a
    // 3-row literal — counts are exact, φ snaps ×10⁹.
    "graph_rich_club" -> QueryDef.withOracle(
      s"""${Dedup.nearDupPairsSql},
         |deg AS MATERIALIZED (
         |  SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS deg FROM (
         |    SELECT doc_a AS src FROM pairs
         |    UNION ALL SELECT doc_b FROM pairs) GROUP BY src),
         |ks AS (SELECT unnest([1, 2, 4]) AS k),
         |nk AS (
         |  SELECT ks.k, CAST(count(*) AS BIGINT) AS n_nodes
         |  FROM ks JOIN deg ON deg.deg > ks.k GROUP BY ks.k),
         |ek AS (
         |  SELECT ks.k, CAST(count(*) AS BIGINT) AS n_edges
         |  FROM ks JOIN pairs p ON TRUE
         |  JOIN deg a ON a.doc_id = p.doc_a AND a.deg > ks.k
         |  JOIN deg b ON b.doc_id = p.doc_b AND b.deg > ks.k
         |  GROUP BY ks.k)
         |SELECT CAST(nk.k AS INT) AS k, nk.n_nodes,
         |  coalesce(ek.n_edges, 0) AS n_edges,
         |  CASE WHEN nk.n_nodes >= 2 THEN
         |    floor(2.0 * coalesce(ek.n_edges, 0)
         |      / (CAST(nk.n_nodes AS DOUBLE) * (nk.n_nodes - 1))
         |      * 1e9 + 0.5) / 1.0e9
         |  END AS phi
         |FROM nk LEFT JOIN ek USING (k)""".stripMargin) { (s, dir) =>
      val pairs = Dedup.nearDupPairs(s, dir)
        .persist() // degree build + both endpoint-filter joins
      val deg = pairs.select(col("doc_a").as("doc_id"))
        .union(pairs.select(col("doc_b")))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("deg"))
        .persist() // 3 k-arms read it
      // k sweep by row-local explode (3 literals) — no join needed
      val kArr = array(lit(1), lit(2), lit(4))
      val nk = deg.select(col("deg"), explode(kArr).as("k"))
        .filter(col("deg") > col("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("n_nodes"))
      val ek = pairs
        .join(deg.select(col("doc_id").as("doc_a"), col("deg").as("dega")),
          "doc_a")
        .join(deg.select(col("doc_id").as("doc_b"), col("deg").as("degb")),
          "doc_b")
        .select(least(col("dega"), col("degb")).as("dmin"),
          explode(kArr).as("k"))
        .filter(col("dmin") > col("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("n_edges"))
      nk.join(ek, Seq("k"), "left")
        .select(col("k").cast("int").as("k"), col("n_nodes"),
          coalesce(col("n_edges"), lit(0L)).as("n_edges"),
          when(col("n_nodes") >= 2,
            floor(lit(2.0) * coalesce(col("n_edges"), lit(0L))
              / (col("n_nodes").cast(DoubleType) * (col("n_nodes") - 1))
              * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("phi"))
    },

    // ------------------------------------------------------------------
    // Triangle count via degree orientation — the standard bound that
    // makes triangle counting feasible on power-law graphs: direct each
    // undirected edge from its lower-(deg, id) endpoint to the higher,
    // so every node's ORIENTED out-degree is O(√E) regardless of its
    // raw degree, and the wedge self-join (the quadratic step) is
    // O(Σ out_deg²) = O(E^1.5) worst case instead of Σ deg² (which a
    // boilerplate hub makes corpus-quadratic). Wedges close against the
    // oriented edge list with one equi-join; everything shuffles on
    // node ids only.
    "graph_triangles" -> QueryDef.withOracle(
      s"""$orientedSql,
         |w AS (
         |  SELECT e1.v AS x, e2.v AS y
         |  FROM o e1 JOIN o e2 ON e1.u = e2.u
         |  WHERE e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v))
         |SELECT CAST(count(*) AS BIGINT) AS n_triangles
         |FROM w JOIN o ON o.u = w.x AND o.v = w.y""".stripMargin) { (s, dir) =>
      // the pairs feed the degree build, orientation and wedge
      // closure — persisted so the LSH candidate pipeline runs ONCE
      val pairs = Dedup.nearDupPairs(s, dir).persist()
      closedTriangles(s, pairs, pairDegrees(pairs))
        .agg(count(lit(1)).as("n_triangles"))
    },

    // ------------------------------------------------------------------
    // Local clustering coefficient — per-node cliquishness 2T_v /
    // (deg_v·(deg_v−1)), the standard "is this node inside a dense
    // near-dup cluster or just touching one" readout. Same degree-
    // oriented triangle enumeration as graph_triangles (O(E^1.5)
    // wedges, hub-proof), but each closed triangle is exploded to its
    // THREE member nodes before a keyed count — still node-id-keyed
    // shuffles only. Nodes with deg < 2 have no defined coefficient
    // and are excluded (mirrored in the oracle).
    "graph_clustering_coeff" -> QueryDef.withOracle(
      s"""$orientedSql,
         |w AS (
         |  SELECT e1.u AS u, e1.v AS x, e2.v AS y
         |  FROM o e1 JOIN o e2 ON e1.u = e2.u
         |  WHERE e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v)),
         |tri AS (
         |  SELECT w.u, w.x, w.y
         |  FROM w JOIN o ON o.u = w.x AND o.v = w.y),
         |tc AS (
         |  SELECT nd, CAST(count(*) AS BIGINT) AS n_tri FROM (
         |    SELECT u AS nd FROM tri
         |    UNION ALL SELECT x AS nd FROM tri
         |    UNION ALL SELECT y AS nd FROM tri) GROUP BY nd)
         |SELECT d.n AS doc_id, d.deg,
         |  coalesce(t.n_tri, 0) AS n_tri,
         |  round(2.0 * coalesce(t.n_tri, 0) / (d.deg * (d.deg - 1.0)), 9)
         |    AS coeff
         |FROM deg d LEFT JOIN tc t ON t.nd = d.n
         |WHERE d.deg >= 2""".stripMargin) { (s, dir) =>
      val pairs = Dedup.nearDupPairs(s, dir).persist()
      val deg = pairDegrees(pairs)
        .persist() // read by the orientation AND the final coefficient join
      // the 3-way node explode reads the closure once
      val tri = GraftSession.roundCut(s, closedTriangles(s, pairs, deg))
      val tc = tri.select(col("u").as("nd"))
        .union(tri.select(col("x").as("nd")))
        .union(tri.select(col("y").as("nd")))
        .groupBy(col("nd")).agg(count(lit(1)).as("n_tri"))
      deg.filter(col("deg") >= 2)
        .join(tc, col("nd") === col("n"), "left_outer")
        .select(col("n").as("doc_id"), col("deg"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          round(lit(2.0) * coalesce(col("n_tri"), lit(0L))
            / (col("deg") * (col("deg") - lit(1.0))), 9).as("coeff"))
    },

    // ------------------------------------------------------------------
    // Link prediction over the embedding near-dup graph: common-
    // neighbor counts + Adamic-Adar score (Σ 1/ln(deg(b)) over shared
    // neighbors b) for NON-adjacent pairs — "these two vectors share
    // near-dup relatives but aren't yet linked", the candidate-
    // expansion step that recovers pairs the pairwise cosine threshold
    // missed (cosine ≥ τ is not transitive, so this graph genuinely
    // has open wedges — the shingle graph's verified clusters are
    // cliques by construction and would score nothing). Wedge
    // enumeration is Σ deg(b)², which one hub makes corpus-quadratic,
    // so wedge centers are capped at deg ≤ 64 (same cap philosophy as
    // Dedup.capBuckets; a hub's AA weight ≈ 1/ln(huge) is noise while
    // its wedge count is the whole job). Every join shuffles node ids
    // only; the center's degree rides the edge relation.
    "graph_common_neighbors" -> QueryDef.withOracle(
      s"""$embeddingEdgesSql,
        |deg AS MATERIALIZED (
        |  SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
        |  FROM edges GROUP BY src),
        |wedge AS (
        |  SELECT e1.dst AS vec_a, e2.dst AS vec_b, d.deg AS center_deg
        |  FROM edges e1
        |  JOIN edges e2 ON e2.src = e1.src AND e1.dst < e2.dst
        |  JOIN deg d ON d.id = e1.src
        |  WHERE d.deg <= 64)
        |SELECT w.vec_a, w.vec_b,
        |  CAST(count(*) AS BIGINT) AS common_neighbors,
        |  round(sum(1.0 / ln(w.center_deg)), 9) AS adamic_adar
        |FROM wedge w
        |LEFT JOIN edges x ON x.src = w.vec_a AND x.dst = w.vec_b
        |WHERE x.src IS NULL
        |GROUP BY w.vec_a, w.vec_b""".stripMargin) { (s, dir) =>
      val edges = embeddingEdges(s, dir)
        .persist() // read 3×: degree build, both wedge sides, adjacency anti-join
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val centered = edges.join(deg, Seq("src")).filter(col("deg") <= 64)
      val e1 = centered.select(col("src"), col("dst").as("vec_a"), col("deg"))
      val e2 = centered.select(col("src"), col("dst").as("vec_b"))
      e1.join(e2, Seq("src"))
        .filter(col("vec_a") < col("vec_b"))
        .groupBy(col("vec_a"), col("vec_b"))
        .agg(count(lit(1)).as("common_neighbors"),
          round(sum(lit(1.0) / log(col("deg"))), 9).as("adamic_adar"))
        .join(edges.select(col("src").as("vec_a"), col("dst").as("vec_b")),
          Seq("vec_a", "vec_b"), "left_anti")
    },

    // ------------------------------------------------------------------
    // Jaccard + resource-allocation link prediction — the two
    // degree-normalized companions to graph_common_neighbors' raw
    // count/Adamic-Adar (Jaccard penalizes high-degree endpoints, RA
    // penalizes high-degree SHARED neighbors harder than AA's 1/ln).
    // Same capped wedge enumeration over the embedding near-dup graph
    // (center deg ≤ 64, the hub-quadratic guard); endpoint degrees
    // join back over the pair-keyed relation. Each center's 1/deg term
    // snaps to a ×10¹² long BEFORE the per-pair sum — the float-sum
    // order hazard the snapping discipline exists for — and Jaccard is
    // an exact |∩|/(da+db−|∩|) rational snapped once at output.
    "graph_link_jaccard" -> QueryDef.withOracle(
      s"""$embeddingEdgesSql,
        |deg AS MATERIALIZED (
        |  SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
        |  FROM edges GROUP BY src),
        |wedge AS (
        |  SELECT e1.dst AS vec_a, e2.dst AS vec_b,
        |    CAST(floor(1e12 / d.deg + 0.5) AS BIGINT) AS ra_fp
        |  FROM edges e1
        |  JOIN edges e2 ON e2.src = e1.src AND e1.dst < e2.dst
        |  JOIN deg d ON d.id = e1.src
        |  WHERE d.deg <= 64),
        |cn AS (
        |  SELECT w.vec_a, w.vec_b,
        |    CAST(count(*) AS BIGINT) AS common_neighbors,
        |    CAST(sum(w.ra_fp) AS BIGINT) AS ra_sum
        |  FROM wedge w
        |  LEFT JOIN edges x ON x.src = w.vec_a AND x.dst = w.vec_b
        |  WHERE x.src IS NULL
        |  GROUP BY w.vec_a, w.vec_b)
        |SELECT cn.vec_a, cn.vec_b, cn.common_neighbors,
        |  floor(CAST(cn.common_neighbors AS DOUBLE)
        |    / (da.deg + db.deg - cn.common_neighbors) * 1e9 + 0.5) / 1.0e9
        |    AS jaccard,
        |  floor(CAST(cn.ra_sum AS DOUBLE) / 1e12 * 1e9 + 0.5) / 1.0e9
        |    AS resource_alloc
        |FROM cn
        |JOIN deg da ON da.id = cn.vec_a
        |JOIN deg db ON db.id = cn.vec_b""".stripMargin) { (s, dir) =>
      val edges = embeddingEdges(s, dir)
        .persist() // degree build, both wedge sides, adjacency anti-join
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .persist() // wedge-center cap AND both endpoint joins
      val centered = edges.join(deg, Seq("src")).filter(col("deg") <= 64)
      val e1 = centered.select(col("src"), col("dst").as("vec_a"),
        floor(lit(1.0e12) / col("deg") + 0.5).cast(LongType).as("ra_fp"))
      val e2 = centered.select(col("src"), col("dst").as("vec_b"))
      val cn = e1.join(e2, Seq("src"))
        .filter(col("vec_a") < col("vec_b"))
        .groupBy(col("vec_a"), col("vec_b"))
        .agg(count(lit(1)).as("common_neighbors"),
          sum(col("ra_fp")).as("ra_sum"))
        .join(edges.select(col("src").as("vec_a"), col("dst").as("vec_b")),
          Seq("vec_a", "vec_b"), "left_anti")
      cn.join(deg.select(col("src").as("vec_a"), col("deg").as("da")),
          Seq("vec_a"))
        .join(deg.select(col("src").as("vec_b"), col("deg").as("db")),
          Seq("vec_b"))
        .select(col("vec_a"), col("vec_b"), col("common_neighbors"),
          (floor(col("common_neighbors").cast(DoubleType)
            / (col("da") + col("db") - col("common_neighbors"))
            * lit(1.0e9) + 0.5) / lit(1.0e9)).as("jaccard"),
          (floor(col("ra_sum").cast(DoubleType) / lit(1.0e12) * lit(1.0e9)
            + 0.5) / lit(1.0e9)).as("resource_alloc"))
    },

    // ------------------------------------------------------------------
    // 4-cycle (square) census — the motif one step past
    // graph_triangles: squares are the signature of BIPARTITE-like
    // near-dup structure (two templates sharing two fillers each),
    // which triangle counts are blind to (bipartite graphs have
    // none). Exact identity: every square has exactly two diagonals,
    // so squares = Σ_{u<v} C(codeg(u,v), 2) // 2 over ALL endpoint
    // pairs — computed from the same capped wedge enumeration as
    // graph_common_neighbors (center deg ≤ 64, the hub-quadratic
    // guard; the cap is part of the operator's contract and the
    // oracle replays it). One graph-level row, all exact integers; the
    // wedge join shuffles node ids only.
    "graph_square_count" -> QueryDef.withOracle(
      s"""$embeddingEdgesSql,
        |deg AS (
        |  SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
        |  FROM edges GROUP BY src),
        |wedge AS (
        |  SELECT e1.dst AS vec_a, e2.dst AS vec_b,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM edges e1
        |  JOIN edges e2 ON e2.src = e1.src AND e1.dst < e2.dst
        |  JOIN deg d ON d.id = e1.src
        |  WHERE d.deg <= 64
        |  GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_wedge_pairs,
        |  CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_diag_pairs,
        |  CAST(sum(cnt * (cnt - 1) // 2) AS BIGINT) AS diag_square_sum,
        |  CAST(sum(cnt * (cnt - 1) // 2) // 2 AS BIGINT) AS squares
        |FROM wedge""".stripMargin) { (s, dir) =>
      val edges = embeddingEdges(s, dir)
        .persist() // degree build + both wedge sides
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val centered = edges.join(deg, Seq("src")).filter(col("deg") <= 64)
      val e1 = centered.select(col("src"), col("dst").as("vec_a"))
      val e2 = centered.select(col("src"), col("dst").as("vec_b"))
      val wedge = e1.join(e2, Seq("src"))
        .filter(col("vec_a") < col("vec_b"))
        .groupBy(col("vec_a"), col("vec_b"))
        .agg(count(lit(1)).as("cnt"))
      wedge.agg(count(lit(1)).as("n_wedge_pairs"),
          sum(when(col("cnt") >= 2, 1L).otherwise(0L)).as("n_diag_pairs"),
          sum(expr("cnt * (cnt - 1) div 2")).as("diag_square_sum"),
          expr("sum(cnt * (cnt - 1) div 2) div 2").as("squares"))
    },

    // ------------------------------------------------------------------
    // Eigenvector centrality — power iteration over the mirrored
    // near-dup graph (on an undirected graph HITS hubs = authorities =
    // this), the "which doc sits deepest inside the densest duplicate
    // mass" ranking that degree alone misses. Six synchronous rounds in
    // the graph_pagerank Pregel layout: the once-partitioned cached
    // edge relation never moves; each round ships ONE score vector
    // join + a dst-keyed exact-long sum, then renormalizes to mean FP
    // via a 1-row broadcast total — the per-row m/S·N·FP double is
    // IEEE-deterministic from exact integers, so the floor'd scores
    // are partitioning-invariant and the oracle replays all six rounds
    // verbatim. Singletons (no edges) take score 0 in one final
    // left join — they never ride the iteration.
    "graph_eigencentrality" -> QueryDef.withOracle {
      // each round reads m$i TWICE (the total and the renormalize);
      // without MATERIALIZED DuckDB inlines the reference → 2^rounds
      // copies of the whole chain and the oracle never finishes
      def stepSql(i: Int): String =
        s"""m$i AS MATERIALIZED (
           |  SELECT e.dst AS doc_id, CAST(sum(x.v) AS BIGINT) AS msum
           |  FROM edges e JOIN x$i x ON x.doc_id = e.src
           |  GROUP BY e.dst),
           |t$i AS (SELECT CAST(sum(msum) AS BIGINT) AS tot FROM m$i),
           |x${i + 1} AS MATERIALIZED (
           |  SELECT m.doc_id,
           |    CAST(floor(CAST(m.msum AS DOUBLE) / t.tot * nn.nfp) AS BIGINT)
           |      AS v
           |  FROM m$i m CROSS JOIN t$i t CROSS JOIN nn)""".stripMargin
      s"""${Dedup.nearDupEdgesSql},
         |enodes AS MATERIALIZED (SELECT DISTINCT dst AS doc_id FROM edges),
         |nn AS (SELECT CAST(count(*) AS BIGINT) * 1048576 AS nfp FROM enodes),
         |x0 AS (SELECT doc_id, CAST(1048576 AS BIGINT) AS v FROM enodes),
         |${(0 until EigenIters).map(stepSql).mkString(",\n")}
         |SELECT d.doc_id, coalesce(x.v, 0) AS score_fp,
         |  round(coalesce(x.v, 0) / 1048576.0, 9) AS score
         |FROM documents d LEFT JOIN x$EigenIters x ON x.doc_id = d.doc_id"""
        .stripMargin
    } { (s, dir) =>
      val (edges, edgesCk) = loopEdgeBase(s, Dedup.nearDupEdges(s, dir))
      val nodesE = edges.select(col("dst").as("doc_id")).distinct().persist()
      // r16 (guide §1.2): each round's message aggregate used to be
      // read TWICE (the 1-row total, then the renormalize), forcing an
      // extra materialization per round. The total is computable from
      // the NODE vector instead: Σ_dst msum(dst) = Σ_(src,dst) x(src)
      // = Σ_src x(src)·outdeg(src) — the same longs regrouped, so the
      // sum is bit-identical (long addition is order-invariant and
      // x·deg ≡ deg-fold addition even mod 2⁶⁴). With the aggregate
      // referenced once, each round is ONE lineage-cut job (+ the
      // 1-row broadcast subquery).
      // degE derives from the CUT edge base: its layout is concrete, so
      // the degree agg plans exchange-free inside the cut
      val degE = GraftSession.cut(s,
        edgesCk.groupBy(col("src")).agg(count(lit(1)).as("deg")))
      val nfp = nodesE.count() * FP
      var x = GraftSession.cut(s, nodesE.withColumn("v", lit(FP)))
      for (_ <- 0 until EigenIters) {
        val tot = x.join(degE.withColumnRenamed("src", "doc_id"), Seq("doc_id"))
          .agg(sum(col("v") * col("deg")).as("tot"))
        val next = edgesCk
          .join(x.withColumnRenamed("doc_id", "src"), Seq("src"))
          .groupBy(col("dst")).agg(sum(col("v")).as("msum"))
          .crossJoin(broadcast(tot))
          .select(col("dst").as("doc_id"),
            floor(col("msum").cast(DoubleType) / col("tot") * lit(nfp))
              .cast(LongType).as("v"))
        x = GraftSession.roundCut(s, next)
      }
      Tables.documents(s, dir).select(col("doc_id"))
        .join(x, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), coalesce(col("v"), lit(0L)).as("score_fp"),
          round(coalesce(col("v"), lit(0L)) / lit(1048576.0), 9).as("score"))
    },

    // ------------------------------------------------------------------
    // Contamination blast radius: multi-source BFS from the eval-
    // contaminated docs (dedup_decontaminate's seeds) through the
    // verified near-dup graph, depth ≤ 3 — "this doc isn't itself
    // contaminated, but it is a near-dup (or a near-dup of a near-dup)
    // of one that is", the transitive-suspicion pass a decontamination
    // pipeline runs after direct flagging. Each round is one
    // src-keyed join of the (small) frontier against the once-
    // partitioned edge relation + a min-agg — the Pregel layout again;
    // frontier size is bounded by the contaminated neighborhoods, not
    // the corpus. Integer distances → fully oracled via 3 unrolled
    // min-propagation CTEs.
    "graph_contamination_bfs" -> QueryDef.withOracle(
      s"""${Dedup.nearDupEdgesSql},
         |ev AS (SELECT DISTINCT unnest(sh) AS g FROM sh2 WHERE doc_id < 20),
         |corp AS (SELECT doc_id, unnest(sh) AS g FROM sh2 WHERE doc_id >= 20),
         |seeds AS (
         |  SELECT doc_id FROM (
         |    SELECT c.doc_id, count(*) AS n_hit
         |    FROM corp c JOIN ev USING (g) GROUP BY c.doc_id)
         |  WHERE n_hit >= 3),
         |d0 AS (SELECT doc_id, 0 AS dist FROM seeds),
         |${bfsSql(Nil, 3)}
         |SELECT doc_id, dist FROM d3""".stripMargin
    ) { (s, dir) =>
      val sh2 = Dedup.shingled(s, dir).filter(size(col("sh")) > 0)
      val ev = sh2.filter(col("doc_id") < 20)
        .select(explode(col("sh")).as("g")).distinct()
      val seeds = sh2.filter(col("doc_id") >= 20)
        .select(col("doc_id"), explode(col("sh")).as("g"))
        .join(broadcast(ev), Seq("g"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
        .filter(col("n_hit") >= 3)
        .select(col("doc_id"))
      val (_, edgesCk) = loopEdgeBase(s, Dedup.nearDupEdges(s, dir))
      frontierBfs(s, edgesCk, seeds.select(col("doc_id"), lit(0L).as("dist")),
        Nil, 3)
    },

    // ------------------------------------------------------------------
    // Label-propagation communities (LPA), 4 synchronous rounds: each
    // node adopts its in-neighborhood's MODE label, ties to the
    // smallest label — the deterministic synchronous variant, which
    // (unlike min-propagation) is NOT connected components: a node
    // between two dense groups joins the denser one. Pregel layout as
    // graph_pagerank: per round ONE label-vector join to the cached
    // (src, dst) edges, one (dst, label) count and one per-dst argmax
    // agg — O(E) rows, node-keyed exchanges, lineage cut per round.
    // Deterministic (sync rounds + min tie-break) → fully oracled via
    // unrolled CTEs. Singleton docs (no near-dup edges) keep their own
    // id as community, joined once at the end.
    "graph_lpa" -> QueryDef.withOracle(
      s"""$lpaCtesSql
         |SELECT d.doc_id, coalesce(l.label, d.doc_id) AS community
         |FROM documents d LEFT JOIN l$LpaRounds l ON l.doc_id = d.doc_id""".stripMargin
    ) { (s, dir) =>
      val (_, l) = lpaArtifacts(s, dir, LpaRounds)
      Tables.documents(s, dir).select(col("doc_id"))
        .join(l, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("community"))
    },

    // ------------------------------------------------------------------
    // Newman modularity of the LPA partition — the quality number that
    // says whether the communities LPA found are real structure or
    // noise (Q ≈ 0), and the standard acceptance gate before community
    // labels feed a downstream sampling/mixing decision. Q decomposes
    // per community as intra_edges/m − (deg_sum/2m)², so the whole
    // statistic is one labels-to-edges join (both endpoints, O(E) keyed
    // rows on the cached edge relation) + two community-keyed aggs over
    // exact integer counts — no per-community sort, no quadratic term,
    // and the output is bounded by the community count. Exact BIGINTs
    // until the final double assembly, ×10⁹ snapped.
    "graph_modularity" -> QueryDef.withOracle(
      s"""$lpaCtesSql,
         |lab AS (SELECT doc_id, label FROM l$LpaRounds),
         |ed AS (SELECT CAST(count(*) AS BIGINT) AS edir FROM edges),
         |deg AS MATERIALIZED (
         |  SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
         |  FROM edges GROUP BY src),
         |intra AS (
         |  SELECT la.label AS community, CAST(count(*) AS BIGINT) AS intra_dir
         |  FROM edges e
         |  JOIN lab la ON la.doc_id = e.src
         |  JOIN lab lb ON lb.doc_id = e.dst
         |  WHERE la.label = lb.label
         |  GROUP BY la.label),
         |cs AS (
         |  SELECT l.label AS community, CAST(count(*) AS BIGINT) AS n_nodes,
         |    CAST(sum(d.deg) AS BIGINT) AS deg_sum
         |  FROM lab l JOIN deg d ON d.id = l.doc_id GROUP BY l.label)
         |SELECT cs.community, cs.n_nodes,
         |  CAST(coalesce(i.intra_dir, 0) // 2 AS BIGINT) AS intra_edges,
         |  cs.deg_sum,
         |  floor((CAST(coalesce(i.intra_dir, 0) AS DOUBLE) / e.edir
         |      - (CAST(cs.deg_sum AS DOUBLE) / e.edir)
         |        * (CAST(cs.deg_sum AS DOUBLE) / e.edir)) * 1000000000 + 0.5)
         |    / 1.0e9 AS q_contrib
         |FROM cs LEFT JOIN intra i ON i.community = cs.community
         |CROSS JOIN ed e""".stripMargin
    ) { (s, dir) =>
      val (edges, lab) = lpaArtifacts(s, dir, LpaRounds)
      val edir = edges.agg(count(lit(1)).as("edir"))
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val intra = edges
        .join(lab.select(col("doc_id").as("src"), col("label").as("la")), Seq("src"))
        .join(lab.select(col("doc_id").as("dst"), col("label").as("lb")), Seq("dst"))
        .filter(col("la") === col("lb"))
        .groupBy(col("la").as("community")).agg(count(lit(1)).as("intra_dir"))
      val cs = lab
        .join(deg.withColumnRenamed("src", "doc_id"), Seq("doc_id"))
        .groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("deg_sum"))
      val ed = col("edir").cast(DoubleType)
      val ds = col("deg_sum").cast(DoubleType)
      val idir = coalesce(col("intra_dir"), lit(0L))
      cs.join(intra, Seq("community"), "left_outer")
        .crossJoin(broadcast(edir))
        .select(col("community"), col("n_nodes"),
          expr("coalesce(intra_dir, 0L) div 2").as("intra_edges"),
          col("deg_sum"),
          (floor((idir.cast(DoubleType) / ed - (ds / ed) * (ds / ed))
            * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("q_contrib"))
    },

    // ------------------------------------------------------------------
    // Degree assortativity of the embedding-similarity graph — Pearson
    // correlation of endpoint degrees over directed edges ("do hubs
    // link to hubs?", the structural screen that distinguishes a
    // template-cluster topology from organic similarity). Degrees are
    // exact integers, so all five moment sums are exact BIGINTs (one
    // degree agg + two src/dst-keyed joins + a 1-row agg — the whole
    // statistic adds O(E) keyed work on top of the shared edge
    // relation); r assembles in double from exact sums, ×10⁹ snapped.
    "graph_assortativity" -> QueryDef.withOracle(
      s"""$embeddingEdgesSql,
        |deg AS MATERIALIZED (
        |  SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
        |  FROM edges GROUP BY src),
        |dd AS (
        |  SELECT ds.deg AS dx, dt.deg AS dy
        |  FROM edges e
        |  JOIN deg ds ON ds.id = e.src
        |  JOIN deg dt ON dt.id = e.dst),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
        |    CAST(sum(dx * dx) AS BIGINT) AS sxx,
        |    CAST(sum(dy * dy) AS BIGINT) AS syy,
        |    CAST(sum(dx * dy) AS BIGINT) AS sxy
        |  FROM dd)
        |SELECT m AS n_directed_edges,
        |  floor((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |      / sqrt((CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |             * (CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
        |      * 1000000000 + 0.5) / 1.0e9 AS assortativity
        |FROM m""".stripMargin) { (s, dir) =>
      val edges = embeddingEdges(s, dir)
        .persist() // degree build + both endpoint joins
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val dd = edges
        .join(deg.select(col("src"), col("deg").as("dx")), Seq("src"))
        .join(deg.select(col("src").as("dst"), col("deg").as("dy")), Seq("dst"))
      dd.agg(count(lit(1)).as("m"),
          sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
          sum(col("dx") * col("dx")).as("sxx"),
          sum(col("dy") * col("dy")).as("syy"),
          sum(col("dx") * col("dy")).as("sxy"))
        .select(col("m").as("n_directed_edges"),
          (floor((col("m").cast(DoubleType) * col("sxy")
              - col("sx").cast(DoubleType) * col("sy"))
            / sqrt((col("m").cast(DoubleType) * col("sxx")
                - col("sx").cast(DoubleType) * col("sx"))
              * (col("m").cast(DoubleType) * col("syy")
                - col("sy").cast(DoubleType) * col("sy")))
            * lit(1.0e9) + lit(0.5)) / lit(1.0e9)).as("assortativity"))
    },

    // ------------------------------------------------------------------
    // 2-core of the near-dup graph via synchronous peeling: repeatedly
    // drop nodes whose degree within the surviving subgraph falls below
    // k — the classic densest-region extractor that separates genuine
    // template clusters (cycles/near-cliques survive every peel) from
    // chance pair/pendant structure (peeled in round 1). Each round is a
    // membership semijoin on both endpoints of the cached edge relation
    // + one src-keyed count — O(E) keyed work shrinking with the
    // subgraph, lineage cut per round; the edge relation is partitioned
    // once and never moves. Fixed 4-round budget (convergence pinned by
    // KcoreConvergenceSpec), so the unrolled DuckDB oracle is exact.
    "graph_kcore" -> QueryDef.withOracle(
      s"""${Dedup.nearDupEdgesSql},
         |${peelChainSql("p", KcoreK)}
         |SELECT id AS doc_id, d AS core_deg FROM p$KcoreRounds""".stripMargin) { (s, dir) =>
      kcoreSurvivors(s, dir, KcoreK, KcoreRounds)
        .select(col("id").as("doc_id"), col("d").as("core_deg"))
    },

    // ------------------------------------------------------------------
    // Core-number decomposition — each node's coreness (the largest k
    // whose k-core still contains it), the graph summarization behind
    // "how deep is this template family nested" (core 2 = any shared
    // pair structure, rising coreness = mutually-near-dup cliques that
    // should be cut as a family, the graph_rich_club conclusion made
    // per-node). Exact core numbers need a sequential peel (Batagelj-
    // Zaversnik is inherently serial); the distributed form runs the
    // SYNCHRONOUS peel at k = 2, 3, 4 independently — each is the
    // proven graph_kcore loop — and takes coreness = max surviving k,
    // capped at 4 (the KcoreRounds truncation, documented; deeper
    // cores need more peels, not a different shape). All three peels
    // share one cached edge relation; the combine is two left
    // semijoin-shaped joins on the 2-core survivor set. Oracle replays
    // the three MATERIALIZED peel chains and the same CASE combine.
    "graph_core_number" -> QueryDef.withOracle(
      s"""${Dedup.nearDupEdgesSql},
         |${peelChainSql("q", 2)},
         |${peelChainSql("r", 3)},
         |${peelChainSql("t", 4)}
         |SELECT q.id AS doc_id,
         |  CAST(2 + CASE WHEN r.id IS NULL THEN 0 ELSE 1 END
         |         + CASE WHEN t.id IS NULL THEN 0 ELSE 1 END AS BIGINT)
         |    AS core_number
         |FROM q$KcoreRounds q
         |LEFT JOIN r$KcoreRounds r ON r.id = q.id
         |LEFT JOIN t$KcoreRounds t ON t.id = q.id""".stripMargin
    ) { (s, dir) =>
      // one fused 3-threshold peel; the final round is already an
      // eager cut, so the three filtered reads below are free
      val multi = kcoreSurvivorsMulti(s, dir, Seq(2, 3, 4), KcoreRounds)
      val k2 = multi.filter(col("k") === 2).select(col("id"))
      val k3 = multi.filter(col("k") === 3)
        .select(col("id"), lit(1L).as("in3"))
      val k4 = multi.filter(col("k") === 4)
        .select(col("id"), lit(1L).as("in4"))
      k2.join(k3, Seq("id"), "left_outer")
        .join(k4, Seq("id"), "left_outer")
        .select(col("id").as("doc_id"),
          (lit(2L) + coalesce(col("in3"), lit(0L))
            + coalesce(col("in4"), lit(0L))).as("core_number"))
    },

    // ------------------------------------------------------------------
    // Harmonic centrality from 8 deterministically-sampled sources —
    // the distance-based centrality family (closeness proper is
    // undefined on disconnected graphs; the harmonic form Σ 1/d
    // handles unreachable pairs by contributing 0). Exact all-sources
    // closeness is an all-pairs BFS (O(V·E) — a non-starter at corpus
    // scale); the standard estimator fixes a sampled seed set, and
    // md5-ordering makes the sample deterministic so the unrolled
    // 3-round multi-source BFS carries a full oracle. State is
    // (seed, node, dist) — ≤8·V rows; each round is ONE frontier join
    // against the src-partitioned cached edge relation (the
    // graph_contamination_bfs layout with a seed dimension), lineage
    // cut per round. Per-term 1e9//dist snaps are exact integers, so
    // the harmonic sum never touches a float.
    "graph_harmonic" -> QueryDef.withOracle(
      s"""${Dedup.nearDupEdgesSql},
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |seeds AS (
         |  SELECT id FROM nodes ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 8),
         |d0 AS (SELECT id AS seed, id AS doc_id, CAST(0 AS BIGINT) AS dist
         |       FROM seeds),
         |${bfsSql(Seq("seed"), 3)}
         |SELECT doc_id,
         |  CAST(count(CASE WHEN dist > 0 THEN 1 END) AS BIGINT) AS n_reached,
         |  CAST(sum(CASE WHEN dist > 0 THEN 1000000000 // dist ELSE 0 END)
         |    AS BIGINT) AS harmonic_fp
         |FROM d3 GROUP BY doc_id""".stripMargin
    ) { (s, dir) =>
      val (edges, edgesCk) = loopEdgeBase(s, Dedup.nearDupEdges(s, dir))
      val seeds = edges.select(col("src").as("id")).distinct()
        .orderBy(md5(col("id").cast("string")).asc, col("id").asc)
        .limit(8) // TakeOrdered top-8: no global sort materializes
      val dist = frontierBfs(s, edgesCk,
        seeds.select(col("id").as("seed"), col("id").as("doc_id"), lit(0L).as("dist")),
        Seq("seed"), 3)
      dist.groupBy(col("doc_id"))
        .agg(count(when(col("dist") > 0, 1)).as("n_reached"),
          sum(when(col("dist") > 0, expr("1000000000 div dist"))
            .otherwise(0L)).as("harmonic_fp"))
    },

    // ------------------------------------------------------------------
    // HITS hubs & authorities on the customer→part purchase bipartite
    // graph — the mutually-reinforcing ranking PageRank/eigencentrality
    // can't give on a BIPARTITE structure (hub: a customer whose
    // basket concentrates on authoritative parts; authority: a part
    // bought by strong hubs). Four synchronous rounds of the
    // renormalized-integer power iteration (the graph_eigencentrality
    // discipline: scores renormalized to |side|·2²⁰ fixed point each
    // half-step, floor-snapped, so the chain is exact cross-engine);
    // each half-step is ONE keyed join of the once-persisted edge
    // relation + a map-side-combined sum — per-round cost O(E), no
    // per-node windows. Oracle replays via MATERIALIZED per-round CTEs
    // (the DuckDB twice-read-CTE inlining lesson). Per-round lineage
    // cut via GraftSession.roundCut — the Pregel loop discipline.
    "graph_hits" -> QueryDef.withOracle {
      def stepSql(i: Int): String =
        s"""a$i AS MATERIALIZED (
           |  SELECT e.p, CAST(sum(h.v) AS BIGINT) AS av
           |  FROM edges e JOIN h$i h ON h.c = e.c GROUP BY e.p),
           |ta$i AS (SELECT CAST(sum(av) AS BIGINT) AS tot FROM a$i),
           |an$i AS MATERIALIZED (
           |  SELECT a.p,
           |    CAST(floor(CAST(a.av AS DOUBLE) / t.tot * pn.pfp) AS BIGINT)
           |      AS v
           |  FROM a$i a CROSS JOIN ta$i t CROSS JOIN pn),
           |hr$i AS MATERIALIZED (
           |  SELECT e.c, CAST(sum(x.v) AS BIGINT) AS hv
           |  FROM edges e JOIN an$i x ON x.p = e.p GROUP BY e.c),
           |th$i AS (SELECT CAST(sum(hv) AS BIGINT) AS tot FROM hr$i),
           |h${i + 1} AS MATERIALIZED (
           |  SELECT h.c,
           |    CAST(floor(CAST(h.hv AS DOUBLE) / t.tot * cn.cfp) AS BIGINT)
           |      AS v
           |  FROM hr$i h CROSS JOIN th$i t CROSS JOIN cn)""".stripMargin
      s"""WITH edges AS MATERIALIZED (
         |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
         |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
         |cn AS (SELECT CAST(count(DISTINCT c) AS BIGINT) * 1048576 AS cfp
         |       FROM edges),
         |pn AS (SELECT CAST(count(DISTINCT p) AS BIGINT) * 1048576 AS pfp
         |       FROM edges),
         |h0 AS (SELECT DISTINCT c, CAST(1048576 AS BIGINT) AS v FROM edges),
         |${(0 until HitsRounds).map(stepSql).mkString(",\n")}
         |SELECT * FROM (
         |  SELECT 'authority' AS kind, p AS node_id, v AS score_fp,
         |    round(v / 1048576.0, 9) AS score
         |  FROM an${HitsRounds - 1} ORDER BY v DESC, p ASC LIMIT 10)
         |UNION ALL
         |SELECT * FROM (
         |  SELECT 'hub' AS kind, c AS node_id, v AS score_fp,
         |    round(v / 1048576.0, 9) AS score
         |  FROM h$HitsRounds ORDER BY v DESC, c ASC LIMIT 10)"""
        .stripMargin
    } { (s, dir) =>
      val edges0 = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
      // r16 (guide §2.4): the two half-step joins alternate between c
      // and p, and the old single cache (distinct's (c, p) layout)
      // satisfied neither — the FULL edge relation re-exchanged and
      // re-sorted every half-step (8× per run; the r16 profile read
      // 84 s of task time, 11 edge-shuffle stages). Two cached copies,
      // each pre-partitioned on its half-step's join key, mean only
      // the node-sized score vector moves per round — the Pregel
      // layout, at the price of holding the 2-long edge list twice.
      // edges0 itself stays persisted: the two key-partitioned copies
      // below both materialize FROM it, so the lineitem ⋈ orders
      // distinct runs once
      edges0.persist()
      val edgesByC = edges0.repartition(col("c")).persist()
      val edgesByP = edges0.repartition(col("p")).persist()
      val cfp = edgesByC.select(col("c")).distinct().count() * FP
      val pfp = edgesByP.select(col("p")).distinct().count() * FP
      // r16 (guide §1.2): each half-step's renormalization total used
      // to require materializing the edge-join aggregate so it could
      // be read twice (total, then renormalize). The total is the same
      // longs regrouped on the NODE side: Σ_p av(p) = Σ_(c,p) h(c)
      // = Σ_c h(c)·deg(c) — bit-identical (long addition is order-
      // invariant and h·deg ≡ deg-fold addition even mod 2⁶⁴). With
      // the aggregate referenced once, each half-step is ONE
      // lineage-cut job + a degree-weighted 1-row broadcast subquery
      // over the node vector.
      // cut the two key-partitioned edge copies so their layouts are
      // CONCRETE to every half-step join (under cached-plan AQE an
      // InMemoryTableScan's partitioning is unknown at planning time,
      // so the half-steps were re-exchanging O(E) despite the copies)
      val edgesByCCk = GraftSession.cut(s, edgesByC)
      val edgesByPCk = GraftSession.cut(s, edgesByP)
      val degC = GraftSession.cut(s,
        edgesByCCk.groupBy(col("c")).agg(count(lit(1)).as("dc")))
      val degP = GraftSession.cut(s,
        edgesByPCk.groupBy(col("p")).agg(count(lit(1)).as("dp")))
      var h = GraftSession.roundCut(s, edgesByCCk.select(col("c")).distinct()
        .withColumn("v", lit(FP)))
      var an: DataFrame = null
      for (_ <- 0 until HitsRounds) {
        val ta = h.join(degC, Seq("c"))
          .agg(sum(col("v") * col("dc")).as("tot"))
        an = GraftSession.roundCut(s, edgesByCCk.join(h, Seq("c"))
          .groupBy(col("p")).agg(sum(col("v")).as("av"))
          .crossJoin(broadcast(ta))
          .select(col("p"),
            floor(col("av").cast(DoubleType) / col("tot") * lit(pfp))
              .cast(LongType).as("v")))
        val th = an.join(degP, Seq("p"))
          .agg(sum(col("v") * col("dp")).as("tot"))
        h = GraftSession.roundCut(s, edgesByPCk.join(an, Seq("p"))
          .groupBy(col("c")).agg(sum(col("v")).as("hv"))
          .crossJoin(broadcast(th))
          .select(col("c"),
            floor(col("hv").cast(DoubleType) / col("tot") * lit(cfp))
              .cast(LongType).as("v")))
      }
      val auth = an.orderBy(col("v").desc, col("p").asc).limit(10)
        .select(lit("authority").as("kind"), col("p").as("node_id"),
          col("v").as("score_fp"),
          round(col("v") / lit(1048576.0), 9).as("score"))
      val hubs = h.orderBy(col("v").desc, col("c").asc).limit(10)
        .select(lit("hub").as("kind"), col("c").as("node_id"),
          col("v").as("score_fp"),
          round(col("v") / lit(1048576.0), 9).as("score"))
      auth.unionByName(hubs)
    },

    // ------------------------------------------------------------------
    // Bipartite projection of the customer→part purchase graph onto
    // parts: co-purchase edge (a, b) weighted by HOW MANY customers
    // bought both — the item-item relation every "bought together"
    // recommender and graph_hits' one-mode analyses start from. The
    // quadratic hazard is per-customer pair expansion (Σ deg² blows up
    // on a crawler-scale account), so each customer's part list is
    // capped at the first 1024 parts by partkey (the LSH hot-bucket
    // cap discipline, mirrored in the oracle — a cap that converts the
    // worst account from deg² to a constant). A customer's list is the
    // sorted collect_set of its parts — distinct, so the pair count is
    // customer-distinct by construction; null customers and parts drop
    // out, as in the oracle's equi self-join — and topPairs counts the
    // pairs per part in one native aggregate and keeps the top 20 (its
    // comment gives the exactness argument). The Σ deg² pair work sits
    // in the stage that reads the per-customer lists, sized by AQE. An
    // explicit 2×slots re-key on the customer was measured and left
    // out: at sf0.1 (local[4]) it cost 5.8-6.8 s of task time against
    // 4.4-4.9 s without it, at the same 2.5-3.3 s wall, and at sf1d
    // both read 50 s of task time and 15 s of wall.
    "graph_bipartite_projection" -> QueryDef.withOracle(
      """WITH edges AS (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
        |capped AS (
        |  SELECT c, p FROM (
        |    SELECT c, p, row_number() OVER (PARTITION BY c
        |      ORDER BY p ASC) AS rn FROM edges)
        |  WHERE rn <= 1024),
        |pairs AS MATERIALIZED (
        |  SELECT a.p AS part_a, b.p AS part_b,
        |    CAST(count(*) AS BIGINT) AS weight
        |  FROM capped a JOIN capped b ON b.c = a.c AND b.p > a.p
        |  GROUP BY 1, 2)
        |SELECT part_a, part_b, weight FROM pairs
        |ORDER BY weight DESC, part_a ASC, part_b ASC LIMIT 20"""
        .stripMargin) { (s, dir) =>
      val lists = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("o_orderkey") === col("l_orderkey"))
        .filter(col("o_custkey").isNotNull)
        .groupBy(col("o_custkey"))
        .agg(slice(sort_array(collect_set(col("l_partkey"))), 1, 1024)
          .as("items"))
      topPairs(lists, 20)
    },

    // ------------------------------------------------------------------
    // Sampled-Brandes betweenness centrality from 8 seeds over the
    // verified near-dup graph — WHICH documents sit on the shortest
    // paths between template families (the cut vertices whose removal
    // disconnects dup clusters; closeness says "central", betweenness
    // says "bridge"). Exact Brandes is O(V·E) — dead at corpus scale —
    // so this is the standard k-source estimator (k the accuracy knob,
    // Eppstein-Wang / Riondato-Kornaropoulos shape) truncated at 4
    // hops. Forward: 4 synchronous BFS rounds in the graph_closeness
    // Pregel layout carrying the path COUNT σ (exact BIGINT — new
    // frontier nodes sum their predecessors' σ through one keyed agg
    // per round). Backward: Brandes' dependency δ(u) = Σ_pred
    // σ(u)/σ(v)·(1+δ(v)) unrolls depth 4→1 as three pred-edge joins;
    // each per-edge term snaps ×10⁹ BEFORE its per-node sum so δ
    // accumulates as exact longs (cross-engine and partition-order
    // invariant). Depth-4 nodes' δ = 0 — the documented truncation.
    // Top-20 bridge nodes via TakeOrdered.
    "graph_betweenness" -> QueryDef.withOracle {
      def fwdSql(i: Int): String =
        s"""m${i + 1} AS MATERIALIZED (
           |  SELECT d.seed, e.dst AS doc_id, CAST(sum(d.sigma) AS BIGINT) AS sig
           |  FROM edges e JOIN v$i d ON d.doc_id = e.src AND d.dist = $i
           |  GROUP BY d.seed, e.dst),
           |v${i + 1} AS MATERIALIZED (
           |  SELECT * FROM v$i
           |  UNION ALL
           |  SELECT m.seed, m.doc_id, ${i + 1} AS dist, m.sig AS sigma
           |  FROM m${i + 1} m
           |  ANTI JOIN v$i ON v$i.seed = m.seed AND v$i.doc_id = m.doc_id)"""
          .stripMargin
      def bwdSql(d: Int): String = {
        val dv = if (d == 3) "0" else s"coalesce(c${d + 1}.dfp, 0)"
        val dj = if (d == 3) ""
          else s"\n  LEFT JOIN c${d + 1} ON c${d + 1}.seed = a.seed AND c${d + 1}.doc_id = b.doc_id"
        s"""c$d AS MATERIALIZED (
           |  SELECT a.seed, a.doc_id,
           |    CAST(sum(CAST(floor(CAST(a.sigma AS DOUBLE)
           |      * (1.0 + $dv / 1e9) / b.sigma * 1e9 + 0.5) AS BIGINT))
           |      AS BIGINT) AS dfp
           |  FROM edges e
           |  JOIN v4 a ON a.doc_id = e.src AND a.dist = $d
           |  JOIN v4 b ON b.seed = a.seed AND b.doc_id = e.dst
           |    AND b.dist = ${d + 1}$dj
           |  GROUP BY a.seed, a.doc_id)""".stripMargin
      }
      s"""$embeddingEdgesSql,
         |dg AS (SELECT src AS seed, CAST(count(*) AS BIGINT) AS deg
         |       FROM edges GROUP BY src),
         |seeds AS (
         |  SELECT seed FROM dg ORDER BY deg DESC, seed ASC LIMIT 8),
         |v0 AS MATERIALIZED (
         |  SELECT seed, seed AS doc_id, CAST(0 AS BIGINT) AS dist,
         |    CAST(1 AS BIGINT) AS sigma
         |  FROM seeds),
         |${(0 until 4).map(fwdSql).mkString(",\n")},
         |${Seq(3, 2, 1).map(bwdSql).mkString(",\n")}
         |SELECT doc_id AS node_id, CAST(sum(dfp) AS BIGINT) AS bc_fp,
         |  CAST(sum(dfp) AS BIGINT) / 1.0e9 AS betweenness
         |FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2
         |      UNION ALL SELECT * FROM c3)
         |GROUP BY doc_id
         |ORDER BY bc_fp DESC, node_id ASC LIMIT 20""".stripMargin
    } { (s, dir) =>
      val (edges, edgesCk) = loopEdgeBase(s, embeddingEdges(s, dir))
      // hub seeding: the 8 highest-degree nodes (deterministic
      // (deg DESC, id ASC) — hubs anchor the dense neighborhoods where
      // multi-hop shortest paths actually exist; id-ordered seeds land
      // in pair-components and measure nothing)
      val seeds = edges.groupBy(col("src").as("seed"))
        .agg(count(lit(1)).as("deg"))
        .orderBy(col("deg").desc, col("seed").asc).limit(8)
        .select(col("seed"))
      // forward: visited (seed, doc_id, dist, sigma), one frontier
      // join + one (seed, dst) keyed σ-sum + one anti-join per round
      var vis = GraftSession.roundCut(s, seeds.select(col("seed"),
        col("seed").as("doc_id"), lit(0L).as("dist"), lit(1L).as("sigma")))
      for (i <- 0 until 4) {
        val msgs = edgesCk
          .join(vis.filter(col("dist") === i)
            .select(col("seed"), col("doc_id").as("src"), col("sigma")),
            Seq("src"))
          .groupBy(col("seed"), col("dst").as("doc_id"))
          .agg(sum(col("sigma")).as("sig"))
        val fresh = msgs.join(vis.select(col("seed"), col("doc_id")),
            Seq("seed", "doc_id"), "left_anti")
          .select(col("seed"), col("doc_id"), lit(i + 1L).as("dist"),
            col("sig").as("sigma"))
        vis = GraftSession.roundCut(s, vis.unionByName(fresh))
      }
      // backward: δ-contributions per depth, deepest first; each term
      // snaps ×10⁹ before the per-(seed, node) sum
      def backStep(d: Int, deeper: Option[DataFrame]): DataFrame = {
        val a = vis.filter(col("dist") === d)
          .select(col("seed"), col("doc_id").as("src"),
            col("sigma").as("sig_u"))
        val b = vis.filter(col("dist") === d + 1)
          .select(col("seed"), col("doc_id").as("dst"),
            col("sigma").as("sig_v"))
        val joined = edgesCk.join(a, Seq("src")).join(b, Seq("seed", "dst"))
        val withD = deeper match {
          case Some(c) => joined.join(
            c.select(col("seed"), col("doc_id").as("dst"),
              col("dfp").as("dv")), Seq("seed", "dst"), "left")
          case None => joined.withColumn("dv", lit(0L))
        }
        withD
          .select(col("seed"), col("src").as("doc_id"),
            floor(col("sig_u").cast(DoubleType)
              * (lit(1.0) + coalesce(col("dv"), lit(0L)) / lit(1.0e9))
              / col("sig_v") * lit(1.0e9) + 0.5).cast(LongType).as("t"))
          .groupBy(col("seed"), col("doc_id"))
          .agg(sum(col("t")).as("dfp"))
      }
      val c3 = GraftSession.roundCut(s, backStep(3, None))
      val c2 = GraftSession.roundCut(s, backStep(2, Some(c3)))
      val c1 = backStep(1, Some(c2))
      c1.unionByName(c2).unionByName(c3)
        .groupBy(col("doc_id"))
        .agg(sum(col("dfp")).as("bc_fp"))
        .orderBy(col("bc_fp").desc, col("doc_id").asc)
        .limit(20)
        .select(col("doc_id").as("node_id"), col("bc_fp"),
          (col("bc_fp") / lit(1.0e9)).as("betweenness"))
    },

    // ------------------------------------------------------------------
    // Harmonic closeness centrality from 8 sampled sources over the
    // verified near-dup graph — the Eppstein-Wang estimator shape:
    // exact all-pairs closeness is O(V·E) and dead at corpus scale, so
    // production picks k sources and BFSes from each (k is the
    // accuracy knob, NOT a data-size function). Four synchronous
    // rounds of the contamination_bfs Pregel layout, frontier rows
    // keyed (seed, doc) so all 8 BFSes share each round's single edge
    // join. HARMONIC closeness (Σ 1/dist, disconnected-safe — classic
    // closeness is undefined across components) stays EXACT: with
    // integer dists 1..4, 12·HC = 12n₁ + 6n₂ + 4n₃ + 3n₄ is an exact
    // BIGINT; no doubles anywhere until the final /12 display column.
    "graph_closeness" -> QueryDef.withOracle(
      s"""${Dedup.nearDupEdgesSql},
         |seeds AS (
         |  SELECT DISTINCT src AS seed FROM edges ORDER BY seed ASC LIMIT 8),
         |d0 AS MATERIALIZED (
         |  SELECT seed, seed AS doc_id, CAST(0 AS BIGINT) AS dist
         |  FROM seeds),
         |${bfsSql(Seq("seed"), 4)}
         |SELECT seed, CAST(count(*) - 1 AS BIGINT) AS n_reached,
         |  CAST(sum(CASE dist WHEN 1 THEN 12 WHEN 2 THEN 6 WHEN 3 THEN 4
         |                     WHEN 4 THEN 3 ELSE 0 END) AS BIGINT) AS hc12,
         |  sum(CASE dist WHEN 1 THEN 12 WHEN 2 THEN 6 WHEN 3 THEN 4
         |               WHEN 4 THEN 3 ELSE 0 END) / 12.0 AS harmonic
         |FROM d4 GROUP BY seed""".stripMargin
    ) { (s, dir) =>
      val (edges, edgesCk) = loopEdgeBase(s, Dedup.nearDupEdges(s, dir))
      val seeds = edges.select(col("src").as("seed")).distinct()
        .orderBy(col("seed").asc).limit(8)
      val dist = frontierBfs(s, edgesCk,
        seeds.select(col("seed"), col("seed").as("doc_id"), lit(0L).as("dist")),
        Seq("seed"), 4)
      val hc12 = sum(when(col("dist") === 1, 12L)
        .when(col("dist") === 2, 6L).when(col("dist") === 3, 4L)
        .when(col("dist") === 4, 3L).otherwise(0L))
      dist.groupBy(col("seed"))
        .agg((count(lit(1)) - 1).as("n_reached"), hc12.as("hc12"))
        .select(col("seed"), col("n_reached"), col("hc12"),
          (col("hc12") / lit(12.0)).as("harmonic"))
    },

    // ------------------------------------------------------------------
    // Personalized PageRank from the 8 hub seeds (graph_closeness's
    // deterministic seed rule) — "related documents" by random walk
    // with restart, THE graph-side recommender primitive (global
    // pagerank says important-overall; PPR says important-TO-THIS-DOC,
    // which is what near-dup exploration and retrieval expansion
    // actually use). Same integer fixed point as graph_pagerank with
    // the restart mass landing ONLY on the walk's own seed:
    // r'(v) = ([v=seed]·15·FP + 85·Σ_in r(u) div deg(u)) div 100,
    // 4 synchronous rounds keyed (seed, node) so all 8 walks share
    // each round's single edge join (the graph_closeness layout). The
    // per-seed score support is the 4-hop neighborhood — frontier-
    // bounded, never corpus-scale, which also bounds the final
    // per-seed top-5 ranking window by construction. Oracle replays
    // all rounds via MATERIALIZED CTEs with identical integer ops.
    "graph_ppr" -> QueryDef.withOracle {
      def stepSql(i: Int): String =
        s"""r${i + 1} AS MATERIALIZED (
           |  SELECT seed, doc_id,
           |    CAST((CASE WHEN doc_id = seed THEN 15 * 1048576 ELSE 0 END
           |      + 85 * CAST(sum(csum) AS BIGINT)) // 100 AS BIGINT) AS r
           |  FROM (
           |    SELECT p.seed, e.dst AS doc_id, p.r // d.deg AS csum
           |    FROM edges e JOIN r$i p ON p.doc_id = e.src
           |    JOIN deg d ON d.doc_id = e.src
           |    UNION ALL
           |    SELECT seed, seed AS doc_id, CAST(0 AS BIGINT) AS csum
           |    FROM seeds)
           |  GROUP BY seed, doc_id)""".stripMargin
      s"""${Dedup.nearDupEdgesSql},
         |deg AS MATERIALIZED (
         |  SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS deg
         |  FROM edges GROUP BY src),
         |seeds AS (
         |  SELECT DISTINCT src AS seed FROM edges ORDER BY seed ASC LIMIT 8),
         |r0 AS MATERIALIZED (
         |  SELECT seed, seed AS doc_id, CAST(1048576 AS BIGINT) AS r
         |  FROM seeds),
         |${(0 until 4).map(stepSql).mkString(",\n")},
         |rk AS (
         |  SELECT seed, doc_id, r,
         |    row_number() OVER (PARTITION BY seed
         |      ORDER BY r DESC, doc_id ASC) AS rank
         |  FROM r4)
         |SELECT seed, doc_id, CAST(rank AS BIGINT) AS rank, r AS ppr_fp,
         |  round(r / 1048576.0, 9) AS ppr
         |FROM rk WHERE rank <= 5""".stripMargin
    } { (s, dir) =>
      val edges = Dedup.nearDupEdges(s, dir)
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val (edgesD, edgesCk) = loopEdgeBase(s, edges.join(deg, Seq("src")))
      val seeds = edgesD.select(col("src").as("seed")).distinct()
        .orderBy(col("seed").asc).limit(8)
      // r16 (the pageRanks lazy-cascade argument): the score vector is
      // referenced once per round and seedRows twice — both tiny over
      // the cut edge base — so the 4-round recurrence stays LAZY: one
      // query, one job, no per-round checkpoint jobs. With
      // spark.graft.checkpoint.dir set the per-round RELIABLE cut is
      // kept for executor-loss recovery.
      val seedRows =
        GraftSession.roundCut(s, seeds.select(col("seed"), col("seed").as("doc_id")))
      val r4 = {
          var r = seedRows.select(col("seed"), col("doc_id"),
            lit(FP).as("r"))
          for (_ <- 0 until 4) {
            val msgs = edgesCk
              .join(r.withColumnRenamed("doc_id", "src"), Seq("src"))
              .select(col("seed"), col("dst").as("doc_id"),
                expr("r div deg").as("csum"))
            val next = msgs
              .unionByName(seedRows.withColumn("csum", lit(0L)))
              .groupBy(col("seed"), col("doc_id"))
              .agg(sum(col("csum")).as("cs"))
              .select(col("seed"), col("doc_id"),
                expr("(CASE WHEN doc_id = seed THEN 15 * 1048576L " +
                  "ELSE 0L END + 85 * cs) div 100").as("r"))
            r = if (GraftSession.reliableCuts(s)) GraftSession.roundCut(s, next) else next
          }
          r
        }
      // per-seed support = the seed's 4-hop neighborhood (frontier-
      // bounded by construction), so this single-key window never
      // sorts a corpus-scale group
      val wS = Window.partitionBy(col("seed"))
        .orderBy(col("r").desc, col("doc_id").asc)
      r4.withColumn("rank", row_number().over(wS))
        .filter(col("rank") <= 5)
        .select(col("seed"), col("doc_id"), col("rank").cast(LongType).as("rank"),
          col("r").as("ppr_fp"), round(col("r") / lit(1048576.0), 9).as("ppr"))
    }
  )
}
