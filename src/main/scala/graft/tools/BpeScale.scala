package graft.tools

import org.apache.spark.sql.SparkSession

/** Rounds-vs-m study for batched BPE merge selection (docs/SCALING.md).
  *
  * The serial bound on BPE training is the ROUND count (one pair-count
  * job per round); batching lifts 30k sequential jobs to ~30k/m̄ where
  * m̄ is the EFFECTIVE batch width — what this tool measures. The
  * theoretical ceiling on m̄ early in training is |alphabet|/2 (each
  * selected pair consumes two symbols and selections must be pairwise
  * symbol-disjoint), so large m starves until merges grow the symbol
  * vocabulary; the study quantifies where.
  *
  * Usage: runMain graft.tools.BpeScale [totalMerges] [m,m,...] [nWords]
  * Prints one line per m: rounds, effective batch, wall seconds, and
  * asserts every m produces the IDENTICAL merge sequence (the
  * sequential-equivalence theorem, checked at production shape).
  */
object BpeScale {

  /** Deterministic synthetic corpus with a production-shaped pair
    * space: `nWords` distinct words (length 5–12 over [a-z0-9]) with
    * zipf-ish frequencies, packed 100 words per document row. At the
    * defaults the derived word-frequency table feeds a pair vocabulary
    * of a few thousand distinct pairs — the shape the large-m question
    * needs, which the tiny sf fixtures (8 supported merges) cannot
    * pose. Returns the corpus dir, deleted when the JVM exits. */
  def syntheticCorpus(spark: SparkSession, nWords: Int = 3000,
      seed: Long = 42L): String = {
    import spark.implicits._
    val rnd = new java.util.Random(seed)
    val alpha = "abcdefghijklmnopqrstuvwxyz0123456789"
    val words = (0 until nWords).map { _ =>
      val len = 5 + rnd.nextInt(8)
      (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    }
    // zipf-ish: word i appears ceil(nWords / (i + 1)^0.8) times
    val bag = words.zipWithIndex.flatMap { case (w, i) =>
      val f = math.max(1, math.ceil(nWords / math.pow(i + 1, 0.8)).toInt)
      Seq.fill(f)(w)
    }
    val shuffled = new scala.util.Random(rnd).shuffle(bag)
    val docs = shuffled.grouped(100).zipWithIndex.map { case (ws, i) =>
      (i.toLong, ws.mkString(" "), "en", "synthetic", ws.map(_.length).sum.toLong)
    }.toSeq
    val dir = graft.TempDirs.deletedOnExit("graft_bpe_corpus").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(8).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  def main(args: Array[String]): Unit = {
    val totalMerges = if (args.length > 0) args(0).toInt else 512
    val ms = (if (args.length > 1) args(1) else "16,64,256")
      .split(",").map(_.trim.toInt).toSeq
    val nWords = if (args.length > 2) args(2).toInt else 3000
    val spark = graft.GraftSession.local()
    val dir = syntheticCorpus(spark, nWords)
    var ref: Seq[(Int, String, String, String, Long)] = null
    for (m <- ms) {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val (merges, rounds) =
        graft.operators.Training.bpeTrainBatched(spark, dir, m, totalMerges)
      val dt = (System.nanoTime() - t0) / 1e9
      if (ref == null) ref = merges
      else assert(merges == ref,
        s"m=$m diverged from the first run's merge sequence")
      println(f"BPESCALE m=$m%-4d nWords=$nWords " +
        f"merges=$totalMerges rounds=$rounds%-5d " +
        f"effective_batch=${totalMerges.toDouble / rounds}%.2f wall=$dt%.1fs " +
        f"seq_equivalent=${ref == merges}")
    }
    spark.stop()
  }
}
