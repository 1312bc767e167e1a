package perfbench

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark times an action that computes every output column. A
  * `count()` does not: Catalyst prunes the columns nobody reads. */
class MaterializeSpec extends AnyFunSuite {

  test("the timed action evaluates a computed output column; count() does not") {
    val scratch = Files.createTempDirectory("perfbench_selftest").toString
    val spark = Harness.buildSession(scratch)
    try {
      val calls = spark.sparkContext.longAccumulator("computed")
      val computed = udf { (x: Long) => calls.add(1); x * 2 }
      val df = spark.range(1000).withColumn("twice", computed(col("id")))

      assert(df.count() == 1000)
      assert(calls.sum == 0, "count() pruned the computed column")

      val rows = Harness.materialize(df)
      assert(rows.length == 1000)
      assert(calls.sum == 1000, "every row's computed column was evaluated")
      assert(rows.map(_.getLong(1)).sum == 2L * (0L until 1000L).sum)
    } finally {
      spark.stop()
      Harness.deleteTree(new java.io.File(scratch))
    }
  }
}
