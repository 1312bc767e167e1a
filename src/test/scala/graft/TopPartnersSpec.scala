package graft

import graft.functions.Vectors
import graft.operators.Graph
import graft.plans.TopPartners
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

class TopPartnersSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def baskets(lists: Seq[Seq[Long]]): DataFrame =
    lists.toDF("items")

  /** Every (a < b, baskets holding both) pair, ranked (weight DESC,
    * a ASC, b ASC), cut at k. */
  private def bruteTopPairs(lists: Seq[Seq[Long]], k: Int): Seq[(Long, Long, Long)] = {
    val w = scala.collection.mutable.Map.empty[(Long, Long), Long].withDefaultValue(0L)
    for (l <- lists; a <- l; b <- l if b > a) w((a, b)) += 1
    w.toSeq.map { case ((a, b), n) => (a, b, n) }
      .sortBy { case (a, b, n) => (-n, a, b) }.take(k)
  }

  private def topPairs(df: DataFrame, k: Int): Seq[(Long, Long, Long)] =
    Graph.topPairs(df, k).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

  /** Random sorted, distinct baskets over a small item domain, so
    * weights tie often. */
  private def randomLists(seed: Int, n: Int, domain: Int): Seq[Seq[Long]] = {
    val rnd = new Random(seed)
    Seq.fill(n)(Seq.fill(rnd.nextInt(7))(rnd.nextInt(domain).toLong)
      .distinct.sorted)
  }

  test("ties order by (weight DESC, part_b ASC) and the result stops at k") {
    val df = Seq(("g", Seq(5L, 3L, 9L)), ("g", Seq(3L, 9L)), ("g", Seq(9L, 1L)),
      ("g", Seq(1L)), ("g", Seq.empty[Long])).toDF("g", "partners")
    val got = df.groupBy(col("g"))
      .agg(Vectors.topPartners(col("partners"), 3).as("top"))
      .head().getSeq[Row](1).map(r => (r.getLong(0), r.getLong(1)))
    // counts 9:3, 1:2, 3:2, 5:1 — 1 and 3 tie and 1 comes first; k = 3
    // drops 5
    assert(got == Seq((9L, 3L), (1L, 2L), (3L, 2L)))
    val schema = df.groupBy(col("g"))
      .agg(Vectors.topPartners(col("partners"), 3).as("top"))
      .schema("top").dataType.simpleString
    assert(schema == "array<struct<part_b:bigint,weight:bigint>>")
  }

  test("serialize/merge round trip keeps every count, extreme keys included") {
    val keys = Seq(0L, 1L, -1L, 127L, 128L, -129L, 20000L, 1L << 40,
      Long.MaxValue, Long.MinValue)
    val a = new TopPartners.Counts
    val b = new TopPartners.Counts
    for ((key, i) <- keys.zipWithIndex) {
      a.add(key, i + 1L)
      if (i % 2 == 0) b.add(key, 300L)
    }
    for (i <- 0 until 1000) b.add(i.toLong * 7919L, 1L) // forces regrowth
    val want = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for ((key, i) <- keys.zipWithIndex) {
      want(key) += i + 1L
      if (i % 2 == 0) want(key) += 300L
    }
    for (i <- 0 until 1000) want(i.toLong * 7919L) += 1L
    def all(c: TopPartners.Counts): Map[Long, Long] =
      c.top(5000).map(r => r.getLong(0) -> r.getLong(1)).toMap

    val a2 = TopPartners.Counts.fromBytes(a.toBytes)
    assert(all(a2) == all(a))
    // merge into an empty buffer (adopts), then a second partial
    val m = new TopPartners.Counts
    m.absorb(a2)
    m.absorb(TopPartners.Counts.fromBytes(b.toBytes))
    assert(all(m) == want.toMap)
    assert(all(TopPartners.Counts.fromBytes(m.toBytes)) == want.toMap)
    assert(all(TopPartners.Counts.fromBytes(new TopPartners.Counts().toBytes)).isEmpty)
  }

  test("same result under repartition(1) and repartition(8)") {
    val lists = randomLists(7, 400, 25)
    val df = baskets(lists)
    val one = topPairs(df.repartition(1), 20)
    val eight = topPairs(df.repartition(8), 20)
    assert(one == eight)
    assert(one == bruteTopPairs(lists, 20))
    // the aggregate alone, per part_a group
    def perPart(d: DataFrame): Map[Long, Seq[(Long, Long)]] =
      d.select(posexplode(col("items")).as(Seq("i", "part_a")), col("items"))
        .select(col("part_a"), expr("slice(items, i + 2, size(items))").as("tail"))
        .groupBy(col("part_a"))
        .agg(Vectors.topPartners(col("tail"), 4).as("top"))
        .collect().map(r => r.getLong(0) ->
          r.getSeq[Row](1).map(e => (e.getLong(0), e.getLong(1)))).toMap
    assert(perPart(df.repartition(1)) == perPart(df.repartition(8)))
  }

  test("empty and single-item baskets emit no pairs") {
    assert(topPairs(baskets(Seq(Seq.empty[Long], Seq(7L), Seq(8L))), 20).isEmpty)
    assert(topPairs(baskets(Seq(Seq.empty[Long], Seq(7L), Seq(7L, 8L), Seq(8L))), 20) ==
      Seq((7L, 8L, 1L)))
  }

  test("a k-th weight tied across part_a groups resolves as the global order") {
    // weights: (1,2) = 3; (1,3) (1,4) (1,5) (2,3) (4,5) (6,7) = 2.
    // Ranks 2-7 tie at weight 2 across part_a groups 1, 2, 4 and 6, and
    // at k = 3 the cut falls inside group 1, which holds more partners
    // than k: its own top-k must keep exactly the global survivors.
    val lists = Seq(Seq(1L, 2L, 3L), Seq(1L, 2L, 3L), Seq(1L, 2L),
      Seq(1L, 4L, 5L), Seq(1L, 4L, 5L), Seq(6L, 7L), Seq(6L, 7L))
    assert(topPairs(baskets(lists), 3) ==
      Seq((1L, 2L, 3L), (1L, 3L, 2L), (1L, 4L, 2L)))
    for (k <- Seq(1, 3, 5, 7, 9))
      assert(topPairs(baskets(lists), k) == bruteTopPairs(lists, k), s"k=$k")
    // and over many random tie-heavy corpora
    for (seed <- 1 to 5; k <- Seq(1, 4, 10)) {
      val r = randomLists(seed, 120, 12)
      assert(topPairs(baskets(r).repartition(3), k) == bruteTopPairs(r, k),
        s"seed=$seed k=$k")
    }
  }
}
