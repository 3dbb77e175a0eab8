package graft

import graft.core.{CopyTask, FileMeta}
import graft.plan.CopyPlan
import graft.queries.Relational

/** The driver-smallness assumptions are guarded, not just commented: these
  * pin the fail-fast behavior so a plan that outgrows its documented scale
  * dies with a pointer at the distributed alternative instead of OOMing the
  * driver.
  */
class GuardsSpec extends SparkTestBase {

  private def fakeTask(i: Int, dir: Boolean = false): CopyTask =
    CopyTask(
      FileMeta(s"/src/f$i", 10L, dir, 1, 128L, 0L, 0L, "rw-r--r--", "u", "g"),
      s"f$i")

  private def planOf(tasks: Seq[CopyTask]): CopyPlan =
    CopyPlan(spark.sparkContext.parallelize(tasks), spark.sparkContext.emptyRDD[String])

  test("sourceFilesForTransfer under the cap returns every planned file") {
    val plan = planOf((1 to 5).map(fakeTask(_)) :+ fakeTask(99, dir = true))
    val files = plan.sourceFilesForTransfer(cap = 10)
    assert(files.sorted === (1 to 5).map(i => s"/src/f$i"))
  }

  test("sourceFilesForTransfer fails fast past the cap, pointing at -exportOnly") {
    val plan = planOf((1 to 12).map(fakeTask(_)))
    val e = intercept[IllegalArgumentException] {
      plan.sourceFilesForTransfer(cap = 10)
    }
    assert(e.getMessage.contains("exportOnly"))
  }

  test("t41 past the driver-state budget routes to the distributed path, same answer") {
    val t41 = SparkEntry.registry.find(_.name == "t41_percentiles").get
    def run() = t41.build(spark, "/root/testdata/sf0.001").collect().map(_.toSeq).toSeq
    val driverPath = run()
    val saved = Relational.PercentileDriverStateBudget
    val distributed =
      try { Relational.PercentileDriverStateBudget = 1L; run() }
      finally Relational.PercentileDriverStateBudget = saved
    assert(distributed == driverPath,
      s"distributed fallback diverged from the driver path:\n$distributed\nvs\n$driverPath")
  }

  test("t41 under budget still answers (guard does not change the happy path)") {
    assert(SparkEntry.registry.find(_.name == "t41_percentiles").get
      .build(spark, "/root/testdata/sf0.001").count() > 0)
  }
}
