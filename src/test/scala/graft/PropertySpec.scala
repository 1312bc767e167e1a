package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the custom expressions: randomized inputs checked
  * against straightforward reference implementations, driven through
  * the real Column/SQL surface (not expression internals).
  */
class PropertySpec extends AnyFunSuite {
  import SparkTestSession._

  test("sorted intersect count == reference set intersection (randomized)") {
    import spark.implicits._
    val gen = for {
      a <- Gen.listOf(Gen.chooseNum(-50L, 50L))
      b <- Gen.listOf(Gen.chooseNum(-50L, 50L))
    } yield (a.distinct.sorted, b.distinct.sorted)
    val cases = Gen.listOfN(60, gen).sample.get
    val df = cases.toDF("a", "b")
    val got = df.select(
      graft.functions.Vectors.sortedIntersectCount(col("a"), col("b")))
      .collect().map(_.getInt(0)).toSeq
    val want = cases.map { case (a, b) => a.toSet.intersect(b.toSet).size }
    assert(got == want)
  }

  test("bottom-k sample == reference sort-by-mix (randomized)") {
    import spark.implicits._
    val idsGen = Gen.nonEmptyListOf(Gen.chooseNum(0L, 100000L)).map(_.distinct)
    val kGen = Gen.chooseNum(1, 12)
    val cases = Gen.listOfN(25, Gen.zip(idsGen, kGen)).sample.get
    cases.foreach { case (ids, k) =>
      val got = BottomKSampleSpec.sample(ids.toDF("id").withColumn("g", lit(0)),
          "g", "id", k)
        .collect().sortBy(_.getAs[Int]("rn")).map(_.getAs[Long]("id")).toList
      val want = ids.sortBy(id => ((id * 2654435761L) % 1000000007L, id)).take(k)
      assert(got == want, s"ids=$ids k=$k")
    }
  }

  test("cosine expression == reference for random float vectors") {
    import spark.implicits._
    val vecGen = Gen.listOfN(16, Gen.chooseNum(-100, 100).map(_ / 10.0f))
    val cases = Gen.listOfN(30, Gen.zip(vecGen, vecGen)).sample.get
      .filter { case (a, b) =>
        a.exists(_ != 0f) && b.exists(_ != 0f)
      }
    val df = cases.toDF("a", "b")
      .select(col("a").cast("array<float>").as("a"), col("b").cast("array<float>").as("b"))
    val got = df.select(graft.functions.Vectors.cosine(col("a"), col("b")))
      .collect().map(_.getDouble(0))
    val want = cases.map { case (a, b) =>
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.zip(b).foreach { case (x, y) =>
        dot += x.toDouble * y.toDouble
        na += x.toDouble * x.toDouble
        nb += y.toDouble * y.toDouble
      }
      dot / math.sqrt(na * nb)
    }
    got.zip(want).foreach { case (g, w) => assert(math.abs(g - w) < 1e-12) }
  }

  test("distributedNtile == native ntile window (randomized, with ties)") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // duplicate-heavy metric values exercise tie resolution via the id
    val rowsGen = Gen.chooseNum(1, 400).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0, 30)).map(_.zipWithIndex))
    Gen.listOfN(8, rowsGen).sample.get.foreach { rows =>
      val df = rows.map { case (m, id) => (id.toLong, m.toDouble) }.toDF("id", "m")
      val got = graft.operators.Temporal
        .distributedNtile(df, "m", "id", 5, "q", buckets = 7)
        .select(col("id"), col("q")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = df.withColumn("q",
          ntile(5).over(Window.orderBy(col("m").asc, col("id").asc)))
        .select(col("id"), col("q")).collect()
        .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
      assert(got == want, s"n=${rows.size}")
    }
  }

  test("GramSketch == triangle-explode reference (randomized float vectors)") {
    import spark.implicits._
    val vecGen = Gen.listOfN(6, Gen.chooseNum(-100, 100).map(_ / 17.0f))
    val vecs = Gen.listOfN(40, vecGen).sample.get
    val df = vecs.toDF("embedding")
      .select(col("embedding").cast("array<float>").as("embedding"))
    val got = df
      .agg(graft.functions.Vectors.gramSketch(col("embedding")).as("gs"))
      .select(inline(col("gs"))).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val d = 6
    val want = (for { i <- 0 until d; j <- i until d } yield {
      val s = vecs.map(v =>
        math.floor(v(i).toDouble * v(j).toDouble * 1000000.0 + 0.5).toLong).sum
      (i, j) -> (s, vecs.size.toLong)
    }).toMap
    assert(got == want)
  }

  test("TopKByKey == reference sort-take under (value desc, id asc) (randomized)") {
    import graft.operators.Skew
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // (g, id, value bits, rn): bits, so that −0.0 ≠ 0.0 and NaN == NaN
    def rows(df: DataFrame, id: String): Seq[(String, String, Long, Int)] =
      df.select(col("g"), col(id).cast("string"), col("v"), col("rn")).collect()
        .map(r => (r.getString(0), r.getString(1),
          java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getInt(3)))
        .toSeq.sorted
    // Skew.topK against the row_number() <= k reference; ascending
    // negates the value before and after
    def check(df: DataFrame, id: String, k: Int, asc: Boolean = false): Unit = {
      val order = if (asc) col("v").asc else col("v").desc
      val want = df.withColumn("rn",
          row_number().over(Window.partitionBy(col("g")).orderBy(order, col(id).asc)))
        .filter(col("rn") <= k)
      val got =
        if (asc) Skew.topK(df.withColumn("v", -col("v")), "g", "v", id, k)
          .withColumn("v", -col("v"))
        else Skew.topK(df, "g", "v", id, k)
      assert(rows(got, id) == rows(want, id), s"id=$id k=$k asc=$asc")
    }
    // duplicate-heavy values exercise the id tiebreak, ±0.0 must tie
    // and NaN must rank first; string ids need binary UTF-8 order
    // (😀 sorts after ﬀ there, before it in UTF-16); k spans under-
    // and over-filled buffers
    val value = Gen.frequency(6 -> Gen.chooseNum(-3, 3).map(_.toDouble),
      2 -> Gen.oneOf(0.0, -0.0), 1 -> Gen.const(Double.NaN))
    val row = Gen.zip(Gen.oneOf("a", "b", "c"), value,
      Gen.oneOf("", "Z", "a", "é", "ﬀ", "😀"))
    val cases = Gen.listOfN(12, Gen.zip(
      Gen.chooseNum(0, 60).flatMap(Gen.listOfN(_, row)), Gen.chooseNum(1, 8))).sample.get
    cases.foreach { case (rs, k) =>
      val df = rs.zipWithIndex.map { case ((g, v, p), i) => (g, i.toLong, p + i, v) }
        .toDF("g", "id", "sid", "v")
      check(df, "id", k)
      check(df, "sid", k)
      // NaN left out: negation keeps it largest, an ascending sort puts it last
      check(df.filter(!isnan(col("v"))), "id", k, asc = true)
    }
  }
}

class CdcChunksPropertySpec extends AnyFunSuite {
  import SparkTestSession._

  /** Reference implementation straight from the spec: codepoint values
    * (what ascii()/ord return), a boundary after position i >= 4 when
    * (8c[i-3]+4c[i-2]+2c[i-1]+c[i]) % 32 == 0, chunks between cuts. */
  private def refChunks(text: String): Seq[String] = {
    val cps = text.codePoints().toArray
    val bnd = (4 to cps.length).filter { i =>
      (8L * cps(i - 4) + 4L * cps(i - 3) + 2L * cps(i - 2) + cps(i - 1)) % 32 == 0
    }
    val cuts = (Seq(0) ++ bnd ++ Seq(cps.length)).distinct.sorted
    cuts.sliding(2).map { case Seq(a, b) =>
      new String(cps, a, b - a)
    }.toSeq.filter(_.nonEmpty)
  }

  test("CdcChunks == reference over randomized ASCII and multi-byte text") {
    import spark.implicits._
    import org.scalacheck.Gen
    val asciiG = Gen.listOf(Gen.chooseNum(32, 126).map(_.toChar)).map(_.mkString)
    val multiG = Gen.listOf(Gen.oneOf(
      Gen.chooseNum(32, 126).map(_.toChar.toString),
      Gen.oneOf("é", "ß", "日", "本", "語", "€", "𝕏", "—"))).map(_.mkString)
    val texts = (Gen.listOfN(40, asciiG).sample.get ++
      Gen.listOfN(40, multiG).sample.get).filter(_.nonEmpty)
    val got = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .select(col("id"), graft.functions.Vectors.cdcChunks(col("text")))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == refChunks(t).toList, s"text=${t.take(40)}…")
      assert(got(i.toLong).mkString == t, "chunks must reassemble the text")
    }
  }
}
