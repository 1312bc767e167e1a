package graft

import graft.functions.Vectors
import graft.sources.Tables
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextRankSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SparkTestSession._
  import spark.implicits._

  private val FP = 1048576L

  /** text_textrank by the adjacency recurrence the oracle states:
    * (doc, src, dst, cnt) counts of mirrored adjacent-token pairs
    * (both ≥ 3 chars, unequal) summed over every row of a doc_id, four
    * damped rounds, top 3 by (rank DESC, word ASC). */
  private def reference(docs: Seq[(Long, String)]): Seq[(Long, Int, String, Long)] =
    docs.filter(_._2 != null).groupBy(_._1).toSeq.flatMap { case (id, rows) =>
      val cnt = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      for ((_, text) <- rows) {
        val toks = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toSeq
        for (Seq(a, b) <- toks.sliding(2) if a.length >= 3 && b.length >= 3 && a != b) {
          cnt((a, b)) += 1; cnt((b, a)) += 1
        }
      }
      val deg = cnt.toSeq.groupMapReduce(_._1._1)(_._2)(_ + _)
      var r = deg.map { case (w, _) => w -> FP }
      for (_ <- 1 to 4) {
        val s = cnt.toSeq.groupMapReduce(_._1._2) { case ((src, _), c) =>
          c * (r(src) / deg(src)) }(_ + _)
        r = deg.map { case (w, _) => w -> (15 * FP + 85 * s.getOrElse(w, 0L)) / 100 }
      }
      r.toSeq.sortBy { case (w, v) => (-v, w) }.take(3).zipWithIndex
        .map { case ((w, v), i) => (id, i + 1, w, v) }
    }.sorted

  private def writeDocs(rows: Seq[(Long, String)], parts: Int): String = {
    val dir = TempDirs.deletedOnExit("graft_textrank").toString
    rows.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("src0").as("source"), length(col("text")).cast("bigint").as("n_chars"))
      .repartition(parts)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def textrank(dir: String): Seq[(Long, Int, String, Long)] =
    SparkEntry.queries("text_textrank")(spark, dir).collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3))).sorted

  test("graft_textrank_top3 builds the graph from adjacent qualifying tokens") {
    def top(lists: Seq[Seq[String]]): Seq[(Int, String, Long)] =
      Seq(Tuple1(lists)).toDF("l").select(Vectors.textrankTop3(col("l")))
        .head().getSeq[Row](0).map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    // one pair: both words keep rank 2²⁰ and tie, so word ASC decides
    assert(top(Seq(Seq("beta", "alpha"))) == Seq((1, "alpha", FP), (2, "beta", FP)))
    // exactly 3 characters qualify, 2 do not: only (abd, abc) is a pair
    assert(top(Seq(Seq("abc", "de", "abd", "abc"))) == Seq((1, "abc", FP), (2, "abd", FP)))
    // equal neighbours are no pair, and pairs never span two lists
    assert(top(Seq(Seq("foo", "foo"), Seq("bar", "bar"))).isEmpty)
    assert(top(Seq(Seq("foo"), Seq("bar"))).isEmpty)
    assert(top(Seq.empty).isEmpty)
  }

  test("text_textrank sums a doc_id's rows and equals the adjacency recurrence") {
    val docs = Seq(
      (1L, "Spark join spark join scan"), (1L, "join scan scan"),
      (2L, "foo foo bar bar foo bar baz qux"),
      (3L, "abc de abd abc xy abd abc"),
      (4L, null), (4L, "alpha"), // fewer than two qualifying tokens
      (5L, "to be or not"),
      (6L, null),
      (7L, "one two three one two three four"), (7L, null),
      (7L, "three four five six one"))
    val want = reference(docs)
    assert(want.map(_._1).distinct == Seq(1L, 2L, 3L, 7L))
    // doc 1 only ranks as one graph: its rows alone would tie differently
    assert(want.filter(_._1 == 1L) != reference(docs.take(1)))
    assert(textrank(writeDocs(docs, 3)) == want)
  }

  test("text_textrank gives the same rows over 1 and 17 input partitions") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1)))
    val one = textrank(writeDocs(docs, 1))
    assert(one.nonEmpty)
    assert(one == textrank(writeDocs(docs, 17)))
    assert(one == reference(docs))
  }

  test("text_textrank executes one exchange, no cache and no bigram Generate") {
    val df = SparkEntry.queries("text_textrank")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val exchanges = collect(plan) { case e: Exchange => e }
    assert(exchanges.length == 1, plan.toString)
    assert(collect(plan) { case m: InMemoryTableScanExec => m }.isEmpty, plan.toString)
    assert(exchanges.forall(_.find(_.isInstanceOf[GenerateExec]).isEmpty), plan.toString)
  }
}
