package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scale evidence beyond the fixed test SFs: synthesize a lineitem-like
  * fact of N rows (deterministic, generated distributed via
  * `spark.range` — no driver materialization), then run the headline
  * aggregation/join/window shapes and report rows/sec.
  *
  * Usage: runMain graft.tools.ScaleStress [nRows] (default 20M)
  */
object ScaleStress {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 20000000L
    val spark = graft.GraftSession.local()
    val listener = new graft.JobGroupListener
    spark.sparkContext.addSparkListener(listener)

    val fact = spark.range(n).select(
      (col("id") % 1500000L).as("orderkey"),
      (col("id") % 200000L).as("partkey"),
      (col("id") % 100L).as("suppkey"),
      (pmod(hash(col("id")), lit(50)) + 1).cast(DoubleType).as("quantity"),
      (pmod(hash(col("id"), lit(1)), lit(100000)) / 100.0 + 1.0).as("price"),
      (pmod(hash(col("id"), lit(2)), lit(11)) / 100.0).as("discount"),
      concat(lit("F"), pmod(col("id"), lit(3))).as("flag"))
    val dim = spark.range(100).select(
      col("id").as("s_suppkey"), concat(lit("SUP_"), col("id")).as("s_name"))

    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[stress] $label: $sec%.2f s  (${n / sec / 1e6}%.1f M input rows/s, $rows result rows)")
    }

    // warm the generator path once
    fact.filter(col("flag") === "F0").agg(count(lit(1))).head()

    time("filtered group-agg (q1 shape)") {
      fact.filter(col("discount") <= 0.05)
        .groupBy(col("flag"))
        .agg(sum(col("quantity").cast(DecimalType(18, 2))).as("sq"),
          sum((col("price") * (lit(1) - col("discount"))).cast(DecimalType(18, 4))).as("rev"),
          count(lit(1)).as("cnt"))
        .count()
    }
    time("broadcast dim join + agg (q6 shape)") {
      fact.join(broadcast(dim), col("suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(sum((col("price") * (lit(1) - col("discount"))).cast(DecimalType(18, 4))).as("rev"))
        .count()
    }
    time("shuffle agg on high-card key (orderkey)") {
      fact.groupBy(col("orderkey"))
        .agg(sum(col("quantity").cast(DecimalType(18, 2))).as("sq"))
        .count()
    }
    time("window topk per group (plain row_number)") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("suppkey")).orderBy(col("price").desc, col("orderkey").asc)
      fact.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10).count()
    }

    // ---- round-2 shapes ------------------------------------------------
    // Banded-minhash dedup candidates over a synthetic 200k-doc corpus
    // (4 docs per template → dense duplicate clusters, like real crawl
    // data). The xxhash64 fast path; candidates ∝ duplicate density.
    val nDocs = 200000L
    val docs = spark.range(nDocs).select(col("id").as("doc_id"),
      // 60 tokens per doc: 59 from the template, one doc-specific
      transform(sequence(lit(0), lit(59)), i =>
        concat(lit("w"), pmod(hash((col("id") % 50000L) * 61 + i, i), lit(30000))))
        .as("toks"))
      // persist barrier: CollapseProject would inline the toks-building
      // transform into the shingle lambda and re-run it per element
      // (the measured-20x lambda-inlining trap) — cache the token
      // arrays so the stress times the DEDUP, not the generator
      .persist()
      .select(col("doc_id"),
        array_distinct(transform(sequence(lit(0), lit(57)), i =>
          xxhash64(concat_ws(" ",
            element_at(col("toks"), i + 1),
            element_at(col("toks"), i + 2),
            element_at(col("toks"), i + 3))))).as("sh"))
    def stressTime(label: String, inputRows: Long)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[stress] $label: $sec%.2f s  (${inputRows / sec / 1e6}%.2f M input rows/s, $rows result rows)")
    }
    docs.count() // materialize the corpus cache before timing
    stressTime("banded-minhash dedup candidates (200k docs)", nDocs) {
      val mins = (0 until 16).map(i => min(xxhash64(col("g"), lit(i))).as(s"m$i"))
      val mh = docs.select(col("doc_id"), explode(col("sh")).as("g"))
        .groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      val bands = mh.select(col("doc_id"),
        posexplode(array((0 until 8).map(b =>
          xxhash64(col(s"m${2 * b}"), col(s"m${2 * b + 1}"))): _*))
          .as(Seq("band", "sig")))
      bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id"), col("y.doc_id")).distinct().count()
    }
    // Mergeable sketches: one small summary per partition through the
    // exchange, never the raw stream.
    stressTime("Misra-Gries heavy hitters (20M skewed tokens)", n) {
      val toks = spark.range(n).select(
        concat(lit("t"), floor(sqrt(pmod(hash(col("id")), lit(4000000)).cast(DoubleType))))
          .as("tok"))
      toks.agg(graft.functions.Vectors.heavyHitters(col("tok"), 512, 20).as("hh"))
        .select(explode(col("hh"))).count()
    }
    stressTime("KLL quantile sketch (20M doubles, 4 groups)", n) {
      spark.range(n).select((col("id") % 4).as("g"),
          pmod(hash(col("id")), lit(100000)).cast(DoubleType).as("v"))
        .groupBy(col("g"))
        .agg(graft.functions.Vectors.kllQuantiles(col("v"), 256,
          Seq(0.5, 0.95, 0.99)).as("est"))
        .count()
    }

    // ---- round-3 shapes ------------------------------------------------
    // Pathological join skew: ONE key holds 95% of all fact rows — the
    // case the salted-join utility exists for. Broadcast is disabled so
    // the join actually shuffles (with a broadcastable dim there is no
    // reducer skew to fix). Three timings: raw skew (AQE skew-join
    // splitting off), AQE's runtime split, and the explicit salt.
    val skewFact = spark.range(n).select(
      when(pmod(col("id"), lit(20)) < 19, lit(7L))
        .otherwise(pmod(hash(col("id")), lit(100)).cast(LongType)).as("suppkey"),
      col("id").as("orderkey"),
      (pmod(hash(col("id"), lit(1)), lit(100000)) / 100.0 + 1.0).as("price"))
    val dimR = dim.select(col("s_suppkey").as("suppkey"), col("s_name"))
    val bcThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    time("skewed SMJ unsalted, AQE skew split OFF (key 7 = 95% of rows)") {
      skewFact.join(dimR, Seq("suppkey")).count()
    }
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    time("skewed SMJ unsalted, AQE skew split ON") {
      skewFact.join(dimR, Seq("suppkey")).count()
    }
    time("skewed join SALTED x16 (Skew.saltedJoin)") {
      graft.operators.Skew.saltedJoin(skewFact, dimR, "suppkey", col("orderkey"), 16)
        .count()
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcThresh)

    // Hot-band LSH: every doc additionally lands in ONE ubiquitous band
    // bucket (a corpus-wide boilerplate band — the shared-header case).
    // Without the cap that single bucket alone contributes ~nDocs²/2
    // candidate pairs (2×10^10 at 200k docs — unrunnable); the cap
    // drops it and candidates stay ∝ duplicate density.
    val bandsAll = {
      val mins = (0 until 16).map(i => min(xxhash64(col("g"), lit(i))).as(s"m$i"))
      val mh = docs.select(col("doc_id"), explode(col("sh")).as("g"))
        .groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      mh.select(col("doc_id"),
        posexplode(array((0 until 8).map(b =>
          xxhash64(col(s"m${2 * b}"), col(s"m${2 * b + 1}"))): _*))
          .as(Seq("band", "sig")))
        .unionByName(docs.select(col("doc_id"), lit(8).as("band"), lit(0L).as("sig")))
        .persist()
    }
    val uncappedUpperBound = bandsAll.groupBy(col("band"), col("sig")).count()
      .agg(sum(col("count") * (col("count") - 1) / 2)).head().getDouble(0)
    stressTime("banded dedup candidates WITH hot band, capped (200k docs)", nDocs) {
      val capped = graft.operators.Dedup.capBuckets(bandsAll, Seq("band", "sig"))
      val dropped = bandsAll.count() - capped.count()
      val cands = capped.as("x").join(capped.as("y"),
          col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id"), col("y.doc_id")).distinct().count()
      println(f"[stress]   hot-band cap: dropped $dropped doc-band rows from over-cap buckets; " +
        f"capped candidates=$cands vs uncapped upper bound ${uncappedUpperBound}%.2e pairs")
      cands
    }

    // Bloom semi-join reduction: 100k-key build side vs the 20M fact.
    // The bloom (~180 KB at 1% fpp) filters the fact scan row-local;
    // only ~1/15th of rows (matches + fp) reach the join exchange.
    val buildKeys = spark.range(100000L).select((col("id") * 15L).as("k"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    time("shuffle join UNPRUNED (20M fact x 100k keys)") {
      fact.join(buildKeys, col("orderkey") === col("k")).count()
    }
    time("bloom-pruned shuffle join (same result set)") {
      val bloom = buildKeys.stat.bloomFilter("k", 100000L, 0.01)
      val bytes = { val o = new java.io.ByteArrayOutputStream(); bloom.writeTo(o); o.toByteArray }
      val pruned = fact.filter(
        graft.functions.Vectors.bloomMightContain(col("orderkey"), bytes))
      val reach = pruned.count()
      // locally the 20M-row shuffle is CPU-cheap so wall-clock ties the
      // unpruned join; the exchange-row reduction below is the number
      // that matters when shuffle bytes cross a network at 100 TB
      println(f"[stress]   bloom prune: $reach of $n rows reach the exchange " +
        f"(${n.toDouble / reach}%.1fx shuffle reduction, ~180 KB filter)")
      pruned.join(buildKeys, col("orderkey") === col("k")).count()
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcThresh)

    // KMV theta sketch: distinct estimates over 20M skewed tokens in 4
    // groups — O(256) state per partial through the exchange.
    stressTime("KMV theta distinct sketch (20M tokens, 4 groups)", n) {
      spark.range(n).select((col("id") % 4).as("g"),
          xxhash64(pmod(hash(col("id")), lit(4000000)))
            .bitwiseAND(lit((1L << 60) - 1)).as("h"))
        .groupBy(col("g"))
        .agg(graft.functions.Vectors.kmvMinHashes(col("h"), 256).as("arr"))
        .count()
    }

    // int8-quantized brute-force ANN scan: 1M synthetic 64-d vectors
    // through the shipped quantized probe scan (10 probes) — the
    // memory-bandwidth tier (4x fewer bytes than f32).
    val nVec = 1000000L
    val qvecs = spark.range(nVec).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), i =>
          (pmod(hash(col("id"), i), lit(255)) - lit(127)).cast("long")).as("qv"))
      .withColumn("qn", aggregate(col("qv"), lit(0L), (a, x) => a + x * x))
      .persist()
    qvecs.count()
    stressTime("int8 brute-force ANN scan (1M x 64-d, 10 probes)", nVec) {
      graft.operators.Similarity.quantizedTopK(qvecs, 5).count()
    }

    // Z-order bit interleave: row-local 16-bit math over 20M rows.
    stressTime("z-order bucket + interleave (20M rows)", n) {
      val zbx = pmod(hash(col("orderkey")), lit(256))
      val zby = pmod(hash(col("partkey"), lit(7)), lit(256))
      val zval = (0 until 8).map(i =>
        shiftleft(shiftright(zbx, i).bitwiseAND(lit(1)), 2 * i + 1) +
          shiftleft(shiftright(zby, i).bitwiseAND(lit(1)), 2 * i)).reduce(_ + _)
      fact.select(zval.as("z")).groupBy(expr("z div 1024")).count().count()
    }

    // ---- round-5 shapes ------------------------------------------------
    // Zipfian bigram stream: ONE stopword opens 40% of all bigrams —
    // the w1 distribution text_bigram_lm's c1-count join sees on real
    // text. At sf0.1 the vocab count broadcasts and there is nothing to
    // skew; at corpus scale (10^8+ vocab) c1 shuffles, and the hot w1
    // key is the straggler risk. Broadcast disabled so the join
    // actually exercises that path: AQE skew split vs explicit salt.
    val bigrams = spark.range(n).select(
      (col("id") % 100000L).as("doc_id"),
      when(pmod(col("id"), lit(5)) < 2, lit("the"))
        .otherwise(concat(lit("w"),
          floor(sqrt(pmod(hash(col("id")), lit(4000000)).cast(DoubleType))))).as("w1"),
      concat(lit("v"), pmod(hash(col("id"), lit(3)), lit(50000))).as("w2"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // the w1 count itself is safe at any skew: partial agg combines the
    // hot key map-side, one row per partition reaches the exchange
    stressTime("bigram c1 count, 40%-hot w1 (map-side combine)", n) {
      bigrams.groupBy(col("w1")).agg(count(lit(1)).as("c1")).count()
    }
    val c1 = bigrams.groupBy(col("w1")).agg(count(lit(1)).as("c1")).persist()
    c1.count()
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    time("bigram c1-join unsalted, AQE skew split OFF (w1='the' = 40%)") {
      bigrams.join(c1, Seq("w1")).count()
    }
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    time("bigram c1-join unsalted, AQE skew split ON") {
      bigrams.join(c1, Seq("w1")).count()
    }
    time("bigram c1-join SALTED x16 (Skew.saltedJoin)") {
      graft.operators.Skew.saltedJoin(bigrams, c1, "w1", col("doc_id"), 16).count()
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcThresh)
    c1.unpersist()

    // Power-law PageRank: 2M directed edges over 500k nodes where one
    // hub dst receives 10% of ALL edges (heavy-tailed in-degree — the
    // graph_pagerank shape the bucket caps can't pre-bound when the
    // graph is an input rather than derived from capped LSH bands).
    // Same Pregel layout as Graph.pageRanks: edges repartitioned by
    // src ONCE, per round one rank-vector join + one per-dst sum, each
    // round's lineage cut. The hot dst is absorbed by partial
    // aggregation (map-side combine: one (dst0, partial) row per task
    // reaches the exchange), so rounds must stay flat — a growing
    // per-round time means the hub is being reduced single-task.
    val nEdges = 2000000L
    val nNodes = 500000L
    val FP = 1048576L
    val rawEdges = spark.range(nEdges).select(
      pmod(hash(col("id")), lit(nNodes)).cast(LongType).as("src"),
      when(pmod(col("id"), lit(10)) === 0, lit(0L))
        .otherwise(pmod(hash(col("id"), lit(1)), lit(nNodes)).cast(LongType)).as("dst"))
      .filter(col("src") =!= col("dst"))
    val degS = rawEdges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val edgesP = rawEdges.join(degS, Seq("src")).repartition(col("src")).persist()
    val nE = edgesP.count()
    val nodesP = edgesP.select(col("dst").as("doc_id")).distinct().persist()
    nodesP.count()
    val hubShare = edgesP.filter(col("dst") === 0L).count()
    println(f"[stress]   pagerank graph: $nE edges, hub dst holds $hubShare (${hubShare * 100.0 / nE}%.1f%%)")
    stressTime(s"power-law PageRank, 6 rounds x $nE edges (hot hub dst)", 6L * nE) {
      var r = nodesP.withColumn("r", lit(FP))
      for (round <- 0 until 6) {
        val t0 = System.nanoTime()
        val sums = edgesP
          .join(r.withColumnRenamed("doc_id", "src"), Seq("src"))
          .select(col("dst"), expr("r div deg").as("contrib"))
          .groupBy(col("dst")).agg(sum(col("contrib")).as("contrib_sum"))
        val next = nodesP
          .join(sums, col("doc_id") === col("dst"), "left_outer")
          .select(col("doc_id"),
            expr(s"(15 * ${FP}L + 85 * coalesce(contrib_sum, 0L)) div 100").as("r"))
        r = graft.GraftSession.roundCut(spark, next)
        println(f"[stress]   round $round: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      r.count()
    }

    // Distributed prefix sum (ev_peak_concurrency's plan) over 20M
    // intervals / 5 types: +1/−1 boundary sweep as per-instant nets →
    // literal range buckets → per-bucket offsets (bookkeeping rows) →
    // bucket-local cumsum. Contrast: the textbook formulation runs ONE
    // window task per type, each sorting the type's whole timeline
    // (~corpus/types rows — unbounded at 100 TB); the bucketed plan's
    // per-task rows are corpus/(types × buckets) and shrink with added
    // buckets, so no task ever owns a timeline.
    import org.apache.spark.sql.expressions.Window
    val iv = spark.range(n).select(
      concat(lit("t"), pmod(col("id"), lit(5))).as("typ"),
      pmod(hash(col("id")), lit(10000000)).cast(LongType).as("t0"))
    val deltas = iv.select(col("typ"), col("t0").as("t"), lit(1L).as("delta"))
      .unionByName(iv.select(col("typ"), (col("t0") + 1800L).as("t"),
        lit(-1L).as("delta")))
    val net = deltas.groupBy(col("typ"), col("t"))
      .agg(sum(col("delta")).as("net")).persist()
    net.count()
    stressTime("peak-concurrency NAIVE: one window task per type", 2L * n) {
      val w = Window.partitionBy(col("typ")).orderBy(col("t").asc)
      net.withColumn("conc", sum(col("net")).over(w))
        .groupBy(col("typ")).agg(max(col("conc"))).count()
    }
    stressTime("peak-concurrency DISTRIBUTED prefix sum (64 buckets/type)", 2L * n) {
      val nb = 64
      val bkt = least(lit(nb - 1), floor(col("t") / (10001800.0 / nb)).cast(IntegerType))
      val gb = net.withColumn("bkt", bkt)
      val wOff = Window.partitionBy(col("typ")).orderBy(col("bkt").asc)
      val offs = gb.groupBy(col("typ"), col("bkt")).agg(sum(col("net")).as("bnet"))
        .select(col("typ"), col("bkt"),
          coalesce(sum(col("bnet"))
            .over(wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("off"))
      val wLoc = Window.partitionBy(col("typ"), col("bkt")).orderBy(col("t").asc)
      gb.join(broadcast(offs), Seq("typ", "bkt"))
        .withColumn("conc", sum(col("net")).over(wLoc) + col("off"))
        .groupBy(col("typ")).agg(max(col("conc"))).count()
    }
    net.unpersist()

    // --- Gram accumulation: mergeable buffer vs triangle explode ---
    // d=64 → 2080 (i,j) products per vector. The explode plan
    // materializes all of them as struct rows into the partial agg;
    // GramSketch adds them into one long[2080] per partition and ships
    // only that. Same exact long sums — bit-identical output.
    val nGvec = math.max(n / 20, 100000L)
    val emb = spark.range(nGvec).select(transform(
      sequence(lit(0), lit(63)),
      i => (pmod(hash(col("id"), i), lit(2000)) / lit(1000.0) - 1.0)
        .cast(FloatType)).as("embedding")).persist()
    emb.count()
    stressTime(s"gram EXPLODE plan ($nGvec vecs × d=64 → ${nGvec * 2080} pair rows)", nGvec) {
      emb.select(explode(flatten(transform(col("embedding"), (vi, i) =>
        transform(slice(col("embedding"), i + 1, size(col("embedding")) - i), (vj, j) =>
          struct(i.cast(IntegerType).as("i"), (i + j).cast(IntegerType).as("j"),
            floor(vi.cast(DoubleType) * vj.cast(DoubleType) * 1000000 + 0.5)
              .cast(LongType).as("p")))))).as("t"))
        .groupBy(col("t.i"), col("t.j"))
        .agg(sum(col("t.p"))).count()
    }
    stressTime(s"gram SKETCH aggregate ($nGvec vecs × d=64, one buffer/partition)", nGvec) {
      emb.agg(graft.functions.Vectors.gramSketch(col("embedding")).as("gs"))
        .select(inline(col("gs"))).count()
    }
    emb.unpersist()

    // --- top-k per group: mergeable aggregate vs window sort ---
    // 100 groups × 20M rows, k=10. The window must move every raw row
    // into its group's sort; the aggregate moves ≤k pairs per (group,
    // partition). Same result set (unique (price, orderkey) order).
    stressTime("topk/group WINDOW row_number (100 groups, k=10)", n) {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("suppkey"))
        .orderBy(col("price").desc, col("orderkey").asc)
      fact.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10).count()
    }
    stressTime("topk/group AGGREGATE TopKByKey (100 groups, k=10)", n) {
      graft.operators.Skew.topK(fact, "suppkey", "price", "orderkey", 10).count()
    }

    // --- IVF probe ranking under a hot cell: top-k aggregate vs naive window ---
    // ann_ivf_topk's final phase ranks each probe's candidate list.
    // With a skewed corpus ONE cell can hold half the vectors, so a
    // probe probing that cell owns ~corpus/2 candidate rows — a plain
    // partitionBy(probe_id) window sorts that whole list in ONE task
    // (the round-5 verdict's scale-killer; per-probe rows grow with
    // the corpus, the task count doesn't). The top-k aggregate keeps
    // ≤k pairs per (probe, partition), independent of cell size.
    val nIvfProbes = 4L
    val nCand = math.max(n / 16, 250000L) // each probe hits the hot cell
    val pairs = spark.range(nIvfProbes * nCand).select(
      (col("id") % nIvfProbes).as("probe_id"),
      (col("id") / nIvfProbes).as("neighbor_id"),
      (pmod(hash(col("id")), lit(1000000)) / 1000000.0).as("cos_sim"))
      .persist()
    pairs.count()
    stressTime(s"IVF hot-cell ranking NAIVE window ($nIvfProbes probes × $nCand cands)",
        nIvfProbes * nCand) {
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
      pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5).count()
    }
    stressTime(s"IVF hot-cell ranking AGGREGATE TopKByKey (k=5)",
        nIvfProbes * nCand) {
      graft.operators.Skew.topK(pairs, "probe_id", "cos_sim", "neighbor_id", 5).count()
    }
    pairs.unpersist()

    // --- record-linkage blocking: fixed-domain key vs the hot-block cap ---
    // etl_record_linkage's blocking key has a FIXED ~200-value domain,
    // so block sizes grow linearly with the register and candidate
    // pairs Σblock² quadratically: doubling the rows must measure ~4×
    // the uncapped candidates. The 1024-member cap drops over-cap
    // blocks whole, bounding candidates at Σ_surviving block² ≤
    // |blocks|·cap² — a constant w.r.t. corpus size. Block sizes are
    // skewed (triangular density via the squared hash) so the cap
    // BITES progressively: at the smaller scale most blocks survive,
    // at the larger scale the hot ones go — measured counts must stay
    // under the printed bound while the uncapped count quadruples.
    val linkCap = 1024L
    for (recs <- Seq(200000L, 400000L)) {
      val hx = pmod(hash(col("id")), lit(200))
      val reg = spark.range(recs).select(col("id").as("rec_id"),
        ((hx * hx) / 200).cast(IntegerType).as("blk"),
        concat(lit("name"), pmod(hash(col("id"), lit(1)), lit(64))).as("nm"))
        .persist()
      reg.count()
      val ra = reg.select(col("rec_id").as("ra"), col("blk"))
      val rb = reg.select(col("rec_id").as("rb"), col("blk"))
      time(s"linkage candidates UNCAPPED ($recs recs, fixed 200-value key)") {
        ra.join(rb, Seq("blk")).filter(col("ra") < col("rb")).count()
      }
      val okB = reg.groupBy(col("blk")).agg(count(lit(1)).as("bn"))
        .filter(col("bn") <= linkCap).select(col("blk"))
      val capped = reg.join(broadcast(okB), Seq("blk")).persist()
      capped.count()
      val ca = capped.select(col("rec_id").as("ra"), col("nm").as("na"), col("blk"))
      val cb = capped.select(col("rec_id").as("rb"), col("nm").as("nb"), col("blk"))
      time(s"linkage candidates CAPPED at $linkCap (bound ≈ ${200 * linkCap * linkCap / 2} pairs at ANY scale)") {
        ca.join(cb, Seq("blk")).filter(col("ra") < col("rb")).count()
      }
      // full capped linkage with the distinct-name scoring collapse:
      // the 64-vocab distance table is built once and broadcast, so
      // scoring adds a hash-probe per candidate, never an edit DP
      val vocab = capped.select(col("nm")).distinct()
      val dtab = vocab.toDF("na").crossJoin(broadcast(vocab.toDF("nb")))
        .withColumn("lev", levenshtein(col("na"), col("nb"), 4))
        .filter(col("lev") >= 0)
      time(s"linkage CAPPED + distinct-name scored ($recs recs)") {
        ca.join(cb, Seq("blk")).filter(col("ra") < col("rb"))
          .join(broadcast(dtab), Seq("na", "nb")).count()
      }
      capped.unpersist(); reg.unpersist()
    }

    // --- round-8 shape: BPE training cost is vocab-bound, not corpus-bound
    // pipe_bpe_merges' claim: after the one corpus-scale word count,
    // every merge round rides the DISTINCT-WORD table, whose size is
    // the vocabulary (Zipf-sublinear in corpus tokens). Measured here:
    // 10× the token stream over the SAME ~50k-word vocabulary must pay
    // ~10× only in the word count; the per-round pair-count + arg-max
    // cost stays flat because its input (vocab rows) is unchanged.
    for (nTok <- Seq(2000000L, 20000000L)) {
      // Zipf-ish draw: density ∝ 1/√u over ~50k distinct word ids
      val words = spark.range(nTok).select(
        concat(lit("w"), floor(sqrt(pmod(hash(col("id")), lit(2500000000L))
          .cast(DoubleType))).cast(LongType)).as("w"))
      val wf = words.groupBy(col("w")).agg(count(lit(1)).as("freq"))
        .select(regexp_replace(col("w"), "(.)", "<$1>").as("syms"), col("freq"))
        .persist()
      var vocabRows = 0L
      time(s"BPE word-frequency build ($nTok tokens → vocab table)") {
        vocabRows = wf.count(); vocabRows
      }
      time(s"BPE one merge round (pair count + arg-max over $vocabRows vocab rows)") {
        wf.select(col("freq"),
            split(expr("substring(syms, 2, length(syms) - 2)"), "><").as("l"))
          .filter(size(col("l")) >= 2)
          .select(col("freq"), explode(transform(
            sequence(lit(1), size(col("l")) - 1),
            i => struct(element_at(col("l"), i).as("x"),
              element_at(col("l"), i + 1).as("y")))).as("b"))
          .groupBy(col("b.x"), col("b.y")).agg(sum(col("freq")).as("freq"))
          .orderBy(col("freq").desc).limit(1).count()
      }
      wf.unpersist()
    }

    // ---- round-9 shape: hot-user user-keyed windows ------------------
    // ev_rate_limit / pipe_lag_features / ev_time_weighted_avg all sort
    // each user's history inside one task (Window.partitionBy(user)).
    // Fine for human users; a bot holding 10% of a 20M-row stream
    // concentrates 2M rows in ONE task — the single-partition sort is
    // the straggler. Mitigation measured here: day-sub-bucketing.
    // Partition by (user, day) instead; a trailing 60 s frame can only
    // reach 59 s across the midnight boundary, so duplicating each
    // day's last-59 s rows into the NEXT day's bucket (count-only
    // carry rows, filtered from the output) keeps the counts exact
    // while the hot user's sort shrinks from |user| to |user,day|.
    {
      val nUsers = 1000000L
      val spanDays = 30L
      val hot = spark.range(n).select(
        // id % 10 == 0 → user 0 (the bot, 10% of the stream); others spread
        when(col("id") % 10 === 0, lit(0L))
          .otherwise(pmod(hash(col("id")), lit(nUsers - 1)) + 1).as("user_id"),
        pmod(hash(col("id"), lit(7)), lit(spanDays * 86400L)).as("ts_s"))
        .persist()
      hot.count() // materialize before timing
      stressTime("rate-limit window NAIVE: one task holds the bot user (10% of 20M)", n) {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"))
          .rangeBetween(-59, 0)
        hot.withColumn("n60", count(lit(1)).over(w))
          .filter(col("n60") > 5).count()
      }
      stressTime("rate-limit window DAY-SUB-BUCKETED (exact, 59s carry)", n) {
        val base = hot.select(col("user_id"), col("ts_s"),
          (col("ts_s") / 86400L).cast("long").as("day"), lit(0).as("carry"))
        val carry = hot.filter(col("ts_s") % 86400L >= 86400L - 59L)
          .select(col("user_id"), col("ts_s"),
            ((col("ts_s") / 86400L).cast("long") + 1).as("day"), lit(1).as("carry"))
        val w = Window.partitionBy(col("user_id"), col("day"))
          .orderBy(col("ts_s")).rangeBetween(-59, 0)
        base.unionByName(carry)
          .withColumn("n60", count(lit(1)).over(w))
          .filter(col("carry") === 0 && col("n60") > 5).count()
      }
      // cross-check: both plans must agree on the flagged-row count —
      // run once at 1/20 scale and compare
      val small = hot.limit(1000000).persist()
      small.count()
      val wN = Window.partitionBy(col("user_id")).orderBy(col("ts_s"))
        .rangeBetween(-59, 0)
      val naiveFlags = small.withColumn("n60", count(lit(1)).over(wN))
        .filter(col("n60") > 5).count()
      val baseS = small.select(col("user_id"), col("ts_s"),
        (col("ts_s") / 86400L).cast("long").as("day"), lit(0).as("carry"))
      val carryS = small.filter(col("ts_s") % 86400L >= 86400L - 59L)
        .select(col("user_id"), col("ts_s"),
          ((col("ts_s") / 86400L).cast("long") + 1).as("day"), lit(1).as("carry"))
      val wB = Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("ts_s")).rangeBetween(-59, 0)
      val bucketFlags = baseS.unionByName(carryS)
        .withColumn("n60", count(lit(1)).over(wB))
        .filter(col("carry") === 0 && col("n60") > 5).count()
      println(s"[stress]   sub-bucket exactness: naive=$naiveFlags bucketed=$bucketFlags " +
        (if (naiveFlags == bucketFlags) "EQUAL" else "*** MISMATCH ***"))
      small.unpersist()
      hot.unpersist()
    }

    // ---- round-8 shape: Poisson bootstrap's exchange is B-bounded ----
    // etl_bootstrap_ci's scale claim: the B=100 replicate expansion is
    // row-local and its map-side partials collapse to B groups per
    // partition BEFORE the exchange, so shuffle volume is B×partitions
    // rows — independent of corpus size. Measured directly: the job
    // group's shuffle-write records (JobGroupListener) at 1/10 scale
    // and full scale; the two counts must be (near-)identical
    // while input rows differ 10×.
    for (nBoot <- Seq(n / 10, n)) {
      val group = s"bootstrap-$nBoot"
      spark.sparkContext.setJobGroup(group, group)
      stressTime(s"poisson bootstrap B=100 over $nBoot rows", nBoot) {
        val base = spark.range(nBoot).select(col("id"),
          (pmod(hash(col("id")), lit(10000)) + 1).cast(LongType).as("xfp"))
        val u = conv(substring(md5(concat(col("id").cast("string"),
          lit(":"), col("b").cast("string")).cast("binary")), 1, 8),
          16, 10).cast(LongType)
        val w = when(u < 1580030168L, 0).when(u < 3160060337L, 1)
          .when(u < 3950075421L, 2).when(u < 4213413783L, 3)
          .when(u < 4279248373L, 4).when(u < 4292415291L, 5).otherwise(6)
        base.select(col("id"), col("xfp"),
            explode(sequence(lit(0L), lit(99L))).as("b"))
          .withColumn("w", w)
          .groupBy(col("b"))
          .agg(sum(col("w") * col("xfp")).as("swx"), sum(col("w")).as("sw"))
          .count()
      }
      spark.sparkContext.clearJobGroup()
      org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark)
      val shuffleRecords = listener.stages(group).map(_.shuffleWriteRecords).sum
      println(s"[stress]   shuffle records written: $shuffleRecords " +
        s"(B×maps bound, input-size-independent)")
    }

    spark.stop()
  }
}
