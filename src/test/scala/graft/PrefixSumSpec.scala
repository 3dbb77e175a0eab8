package graft

import org.apache.spark.sql.functions.col

import graft.operators.PrefixSum

class PrefixSumSpec extends SparkTestBase {

  test("running totals survive a union that shifts task partition ids") {
    import spark.implicits._
    // the union's tasks for the right side run with partition ids offset by
    // the left side's partition count; offsets must follow the RDD index
    val expect = (0L until 1000L).map(i => (i, i * (i - 1) / 2)).toMap
    Seq(1, 3).foreach { leftParts =>
      val sums = PrefixSum.runningBefore(spark.range(1000).as[Long], 4, Seq(col("id")))(identity) {
        (i, before, _) => (i, before)
      }
      val got = Seq((-1L, -1L)).toDS().repartition(leftParts).union(sums).collect()
        .filter(_._1 >= 0).toMap
      val wrong = expect.filter { case (i, before) => !got.get(i).contains(before) }
      assert(got.size == expect.size && wrong.isEmpty,
        s"left side with $leftParts partitions: ${wrong.size} wrong totals, e.g. ${wrong.take(3)}")
    }
  }
}
