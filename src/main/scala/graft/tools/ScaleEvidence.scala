package graft.tools

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._

/** Published scaling evidence for the blocked/capped families
  * (docs/SCALING.md): runs each family at a series of SF dirs —
  * including the DERIVED sf1 replica built by tools/make_sf1d.py — and
  * reports, per (family, sf):
  *
  *   * wall seconds and rows out,
  *   * shuffle bytes/records written (the measurement's job group in
  *     [[graft.JobGroupListener]], bus drained before reading),
  *   * for the candidate-generating families: the CAPPED candidate
  *     count the operator actually processes next to the UNCAPPED
  *     count a blocking-only implementation would face (Σ s(s−1)/2
  *     over blocking buckets), and how much the cap dropped.
  *
  * The claim under test: capped candidate growth stays near-linear in
  * corpus size while uncapped growth goes quadratic on replicated/
  * boilerplate clusters — the property that keeps these operators
  * alive at 100 TB. One JSON line per measurement on stdout.
  */
object ScaleEvidence {
  def main(args: Array[String]): Unit = {
    val dirs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1", "target/sf1d")
    val spark = graft.GraftSession.local()
    val listener = new graft.JobGroupListener
    spark.sparkContext.addSparkListener(listener)

    var measured = 0
    def measure(sf: String, family: String,
        extra: Map[String, Long] = Map.empty)(f: => Long): Unit = {
      measured += 1
      val group = s"measure-$measured"
      spark.sparkContext.setJobGroup(group, group)
      val t0 = System.nanoTime()
      val rows = try f finally spark.sparkContext.clearJobGroup()
      val sec = (System.nanoTime() - t0) / 1e9
      GraftSqlBridge.drainListenerBus(spark)
      val st = listener.stages(group)
      val extraJson = extra.map { case (k, v) => s""","$k":$v""" }.mkString
      println(s"""{"family":"$family","sf":"$sf","sec":${math.round(sec * 1000) / 1000.0},""" +
        s""""rows_out":$rows,"shuffle_mb":${math.round(st.map(_.shuffleWriteBytes).sum / 1e4) / 100.0},""" +
        s""""shuffle_records":${st.map(_.shuffleWriteRecords).sum}$extraJson}""")
    }

    // SPARK_GRAFT_FAMILIES restricts the sweep (comma set of: minhash,
    // spans, ivf, linkage, pagerank, relational) — the second-decade
    // sf10d runs only the three CAPPED candidate generators.
    val fams: String => Boolean =
      sys.env.get("SPARK_GRAFT_FAMILIES").map(_.split(",").toSet) match {
        case Some(set) => set.contains
        case None => _ => true
      }

    for (dir <- dirs) {
      val sf = dir.split('/').last
      val docs = spark.read.parquet(s"$dir/documents.parquet").count()
      val li = spark.read.parquet(s"$dir/lineitem.parquet").count()
      println(s"""{"family":"corpus","sf":"$sf","docs":$docs,"lineitem":$li}""")

      // ---- minhash LSH bands: capped vs uncapped candidates ----------
      // Bucket-size histogram (multi-doc buckets): identical text
      // replicates to identical signatures, so k× replication scales
      // every bucket size by exactly k — the histogram lets SCALING.md
      // project the cap's binding point at any replication factor, and
      // the measured sf1d row validates the projection.
      def hist(df: DataFrame, fam: String): Unit = {
        val h = df.filter(col("sz") > 1)
          .groupBy(col("sz")).agg(count(lit(1)).as("nb"))
          .orderBy(col("sz")).collect()
          .map(r => s""""${r.getLong(0)}":${r.getLong(1)}""").mkString(",")
        println(s"""{"family":"$fam","sf":"$sf","hist":{$h}}""")
      }
      if (fams("minhash")) {
      val bkSizes = graft.operators.Dedup.bandedSignatures(spark, dir)
        .groupBy(col("band"), col("sig")).agg(count(lit(1)).as("sz"))
      hist(bkSizes, "minhash_bucket_hist")
      val bk = bkSizes
        .agg(
          sum(expr("sz * (sz - 1) div 2")).as("uncapped"),
          sum(when(col("sz") <= graft.operators.Dedup.MaxBandBucket,
            expr("sz * (sz - 1) div 2")).otherwise(0L)).as("capped"),
          max(col("sz")).as("max_bucket"))
        .head()
      measure(sf, "minhash_lsh_verified", Map(
        "cand_uncapped" -> bk.getLong(0), "cand_capped" -> bk.getLong(1),
        "max_bucket" -> bk.getLong(2))) {
        graft.operators.Dedup.verifiedCandidates(spark, dir).count()
      }
      spark.catalog.clearCache()
      }

      // ---- exact shared spans: hot-window cap ------------------------
      if (fams("spans")) {
      val toks = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          graft.operators.TextOps.tokens(col("text")).as("toks"))
      val wSizes = graft.operators.Dedup.spanWindows(toks, 6)
        .groupBy(col("h")).agg(count(lit(1)).as("sz"))
      hist(wSizes, "span_window_hist")
      val wstats = wSizes
        .agg(
          sum(expr("sz * (sz - 1) div 2")).as("uncapped"),
          sum(when(col("sz") <= graft.operators.Dedup.MaxBandBucket,
            expr("sz * (sz - 1) div 2")).otherwise(0L)).as("capped"),
          max(col("sz")).as("max_bucket"))
        .head()
      measure(sf, "span_dedup_maximal_runs", Map(
        "cand_uncapped" -> wstats.getLong(0), "cand_capped" -> wstats.getLong(1),
        "max_bucket" -> wstats.getLong(2))) {
        graft.operators.Dedup.sharedSpans(toks, 6).count()
      }
      spark.catalog.clearCache()
      }

      // ---- IVF build + cell-blocked kNN candidates --------------------
      // SPARK_GRAFT_IVF_CELLS exercises the spark.graft.ivf.cells knob
      // for the SCALING.md validation rows (cells ∝ corpus keeps cell
      // size, and so the kNN family's in-cell pair count, linear).
      if (fams("ivf")) {
      sys.env.get("SPARK_GRAFT_IVF_CELLS")
        .foreach(spark.conf.set("spark.graft.ivf.cells", _))
      // SPARK_GRAFT_IVF_TRAIN_MOD exercises the sampled-centroid
      // training knob (spark.graft.ivf.train.mod): Lloyd trains on the
      // 1/S hash-sample, the final broadcast pass assigns everything.
      sys.env.get("SPARK_GRAFT_IVF_TRAIN_MOD")
        .foreach(spark.conf.set("spark.graft.ivf.train.mod", _))
      val assignQ = graft.SparkEntry.queries("ann_ivf_assign")
      measure(sf, "ivf_build") { assignQ(spark, dir).count() }
      val cells = assignQ(spark, dir) // home-cell rows: (vec_id, label, cell, cos_c)
        .groupBy(col("cell")).agg(count(lit(1)).as("sz"))
        .agg(sum(expr("sz * (sz - 1) div 2")).as("pairs"),
          max(col("sz")).as("max_cell"), count(lit(1)).as("n_cells"))
        .head()
      measure(sf, "ivf_knn_graph", Map(
        "cell_pairs" -> cells.getLong(0), "max_cell" -> cells.getLong(1),
        "n_cells" -> cells.getLong(2))) {
        graft.SparkEntry.queries("ann_knn_graph")(spark, dir).count()
      }
      spark.catalog.clearCache()
      }

      // ---- linkage blocks: fixed-domain blocking key, hot-block cap ---
      // The blocking key's domain (~200 brand x product-noun values) is
      // FIXED, so block sizes grow linearly with the register and the
      // uncapped pair count quadratically; the 1024-member cap bounds
      // work at |blocks| * cap^2 / 2 and an over-cap block is a FAILED
      // blocking key (dropped whole, re-blocked finer in production).
      if (fams("linkage")) {
      val pBlk = spark.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey"),
          concat(col("p_brand"), lit(":"),
            regexp_extract(col("p_name"), "([a-z0-9]+)$", 1)).as("blk"))
      val blkSizes = pBlk.groupBy(col("blk")).agg(count(lit(1)).as("sz"))
      hist(blkSizes.select(col("sz")), "linkage_block_hist")
      val lb = blkSizes
        .agg(
          sum(expr("sz * (sz - 1) div 2")).as("uncapped"),
          sum(when(col("sz") <= 1024, expr("sz * (sz - 1) div 2"))
            .otherwise(0L)).as("capped"),
          max(col("sz")).as("max_block"), count(lit(1)).as("n_blocks"))
        .head()
      measure(sf, "linkage_scored_pairs", Map(
        "cand_uncapped" -> lb.getLong(0), "cand_capped" -> lb.getLong(1),
        "max_block" -> lb.getLong(2), "n_blocks" -> lb.getLong(3))) {
        graft.SparkEntry.queries("etl_record_linkage")(spark, dir).count()
      }
      spark.catalog.clearCache()
      }

      // ---- iterative graph over the verified near-dup edges ----------
      if (fams("pagerank")) {
      measure(sf, "graph_pagerank_6rounds") {
        graft.SparkEntry.queries("graph_pagerank")(spark, dir).count()
      }
      spark.catalog.clearCache()
      }

      // ---- the two priciest untouched graph plans (round-14 ask):
      // wall + shuffle at sf0.1 vs sf1d characterizes the
      // iteration-cost growth for the alternating HITS half-steps and
      // the sampled-source Brandes betweenness ------------------------
      if (fams("graphheavy")) {
      measure(sf, "graph_hits_6rounds") {
        graft.SparkEntry.queries("graph_hits")(spark, dir).count()
      }
      spark.catalog.clearCache()
      measure(sf, "graph_betweenness") {
        graft.SparkEntry.queries("graph_betweenness")(spark, dir).count()
      }
      spark.catalog.clearCache()
      }

      // ---- the two heaviest not-yet-measured iterative plans
      // (round-15 ask): peeling k-core and connected-component label
      // propagation both iterate over the edge relation — wall +
      // shuffle at sf1d/sf10d characterizes their iteration growth ----
      if (fams("graphheavy2")) {
      measure(sf, "graph_core_number") {
        graft.SparkEntry.queries("graph_core_number")(spark, dir).count()
      }
      spark.catalog.clearCache()
      measure(sf, "dedup_cluster_assign") {
        graft.SparkEntry.queries("dedup_cluster_assign")(spark, dir).count()
      }
      spark.catalog.clearCache()
      }

      // ---- TableSink file-granularity copy-on-write (round-14):
      // merge cost must track TOUCHED BUCKETS, not |table|. Stage the
      // lineitem keys as a bucketed table (one full bucketizing merge),
      // then apply a 100-key CDC batch and compare its wall/shuffle
      // against the full rewrite — plus the manifest's rewritten-vs-
      // re-referenced file split. --------------------------------------
      if (fams("tablesink")) {
      // production-shaped bucketing: a CDC batch touches ≪ B buckets
      // only when B is sized like a real table's file count — with the
      // 16-bucket default any ~100-key batch hits every bucket and COW
      // degenerates to a full rewrite (measured before this knob)
      spark.conf.set("spark.graft.tablesink.buckets", "512")
      val tdir = graft.TempDirs.deletedOnExit("graft_cow_ev").toString
      val sink = new graft.sources.ParquetVersionedTable(spark, tdir)
      val base = spark.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_orderkey")).agg(
          sum(col("l_quantity")).cast("double").as("qty"),
          count(lit(1)).cast("long").as("n"))
        .withColumn("ord", lit(0L))
      measure(sf, "tablesink_full_bucketize") {
        sink.mergeByKey(base, Seq("l_orderkey"), Seq("ord"))
        sink.current.get.count()
      }
      // a 40-key CDC batch via a PUSHED-DOWN key-range filter (a
      // corpus-wide distinct here would dominate the merge's shuffle
      // and hide the copy-on-write signal being measured)
      val changes = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey")).filter(col("l_orderkey") <= 40)
        .distinct()
        .withColumn("qty", lit(-1.0)).withColumn("n", lit(1L))
        .withColumn("ord", lit(1L))
      def manifestFiles(v: Long): Set[(Int, String)] =
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"$tdir/manifest/v=$v")))
          .split('\n').filter(_.startsWith("file "))
          .map { l => val p = l.split(" ", 3); (p(1).toInt, p(2)) }.toSet
      measure(sf, "tablesink_cow_merge_40keys") {
        sink.mergeByKey(changes, Seq("l_orderkey"), Seq("ord"))
        val v0f = manifestFiles(0L); val v1f = manifestFiles(1L)
        val fresh = v1f -- v0f
        println(s"""{"family":"tablesink_cow_manifest","sf":"$sf",""" +
          s""""files_v0":${v0f.size},"files_v1":${v1f.size},""" +
          s""""files_reused":${(v1f & v0f).size},""" +
          s""""files_rewritten":${fresh.size},""" +
          s""""buckets_rewritten":${fresh.map(_._1).size},""" +
          s""""buckets_total":${v0f.map(_._1).size}}""")
        sink.current.get.count()
      }
      spark.catalog.clearCache()
      }

      // ---- relational anchors (linear-scaling reference) --------------
      if (fams("relational")) {
      measure(sf, "q3_join_agg") {
        graft.SparkEntry.queries("q3_join_agg")(spark, dir).count()
      }
      measure(sf, "q28_median_exact") {
        graft.SparkEntry.queries("q28_median_exact")(spark, dir).count()
      }
      spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
