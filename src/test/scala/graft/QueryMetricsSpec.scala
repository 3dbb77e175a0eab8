package graft

import org.apache.spark.GraftListenerDrain
import org.apache.spark.sql.functions._

/** Job-group-keyed Spark metrics and the shared warm-up + interleaved
  * min-of-n timing loop of ScaleRehearsal and StageProbe. */
class QueryMetricsSpec extends SparkTestBase {

  private def inGroup(group: String)(body: => Unit): Unit = {
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
    try body finally spark.sparkContext.clearJobGroup()
  }

  private def drained(): Unit = assert(GraftListenerDrain.drain(spark.sparkContext))

  test("each job group reports its own work, and a later group leaves it unchanged") {
    val sc = spark.sparkContext
    val metrics = new QueryMetrics
    sc.addSparkListener(metrics)
    try {
      inGroup("qm-scan") {
        spark.range(0, 1000, 1, 4).write.format("noop").mode("overwrite").save()
      }
      drained()
      val scan = metrics("qm-scan")
      inGroup("qm-agg") {
        spark.range(0, 1000, 1, 4).groupBy(col("id") % 7).count()
          .write.format("noop").mode("overwrite").save()
      }
      drained()
      val agg = metrics("qm-agg")
      for (t <- Seq(scan, agg)) assert(t.jobs > 0 && t.stages > 0 && t.tasks > 0, t)
      assert(scan.shuffleWrite == 0, scan)
      assert(agg.shuffleWrite > 0 && agg.shuffleRead > 0, agg)
      // what a reset()-window gets wrong: B's events must not touch A
      assert(metrics("qm-scan") == scan)
      assert(metrics("qm-never-ran") == QueryMetrics.Totals())
    } finally sc.removeSparkListener(metrics)
  }

  test("timeArms: one min-of-runs result per arm, no blocks left behind") {
    val arms = Seq(
      "scan" -> (() => spark.range(0, 100, 1, 2).toDF()),
      "ckpt" -> (() => spark.range(0, 100, 1, 2).groupBy(col("id") % 3).count().localCheckpoint()))
    val timed = QueryMetrics.timeArms(spark, arms, runs = 2)
    assert(timed.map(_.name) == Seq("scan", "ckpt"))
    timed.foreach { r =>
      assert(r.runs.size == 2 && r.runs.forall(_ > 0), r)
      assert(r.seconds == r.runs.min, r)
      assert(r.totals.jobs > 0 && r.totals.tasks > 0, r)
    }
    assert(timed(1).totals.shuffleWrite > 0, timed(1))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
