package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Spark work attributed by JOB GROUP: jobs, stages, tasks, summed executor
  * task time, shuffle read/write and memory+disk spill per group.
  *
  * Keyed by group, not by a reset()-window: the listener maps stage → group
  * at job start and accumulates per group, so a stage event that the async
  * bus delivers late (observed once at sf10: ~1 GB of t161's banding
  * exchange landing in the next query's window despite a drain) lands in
  * the RIGHT group no matter when it arrives. A drain before the read
  * (see [[QueryMetrics.timeArms]]) only makes that read complete.
  *
  * SPARK_GRAFT_PROBE_STAGES=1 also prints one line per completed stage.
  */
final class QueryMetrics extends SparkListener {
  import QueryMetrics.{Totals, Ungrouped}

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val byGroup = new ConcurrentHashMap[String, Totals]()

  private def add(group: String, t: Totals): Unit = byGroup.merge(group, t, _ + _)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val g = Option(js.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(Ungrouped)
    js.stageIds.foreach(id => stageGroup.put(id, g))
    add(g, Totals(jobs = 1))
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val info = sc.stageInfo
    val tm = info.taskMetrics
    if (tm != null) {
      val g = Option(stageGroup.get(info.stageId)).getOrElse(Ungrouped)
      val t = Totals(stages = 1, tasks = info.numTasks, taskTimeMs = tm.executorRunTime,
        shuffleRead = tm.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = tm.shuffleWriteMetrics.bytesWritten,
        spill = tm.memoryBytesSpilled + tm.diskBytesSpilled)
      add(g, t)
      if (QueryMetrics.stageLines) {
        val wall = (for { c <- info.completionTime; s <- info.submissionTime }
          yield (c - s) / 1e3).getOrElse(-1.0)
        println(f"[stage] $g stage=${info.stageId} tasks=${info.numTasks} " +
          f"run=${t.taskTimeMs / 1e3}%.2fs wall=$wall%.2fs " +
          f"shuffleMB=${t.shuffleWrite / 1e6}%.1f spillMB=${t.spill / 1e6}%.1f " +
          f"name=${info.name.linesIterator.nextOption().getOrElse("").take(80)}")
      }
    }
  }

  /** What every job run under `group` has added so far (zeros if none). */
  def apply(group: String): Totals = byGroup.getOrDefault(group, Totals())
}

object QueryMetrics {

  private val Ungrouped = "ungrouped"

  private val stageLines = sys.env.get("SPARK_GRAFT_PROBE_STAGES").contains("1")

  final case class Totals(
      jobs: Int = 0, stages: Int = 0, tasks: Long = 0L, taskTimeMs: Long = 0L,
      shuffleRead: Long = 0L, shuffleWrite: Long = 0L, spill: Long = 0L) {
    def +(o: Totals): Totals = Totals(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
      taskTimeMs + o.taskTimeMs, shuffleRead + o.shuffleRead,
      shuffleWrite + o.shuffleWrite, spill + o.spill)
  }

  /** One arm's timed runs (seconds, in pass order) and the Spark work of
    * its fastest run. */
  final case class Timed(name: String, runs: Seq[Double], totals: Totals) {
    def seconds: Double = runs.min
  }

  /** Time each arm (built fresh per run, written to the noop sink) as an
    * untimed warm-up pass (codegen, file footers) and then `runs`
    * INTERLEAVED passes; report the min. Same rationale as [[Bench]]:
    * on a shared host a stall lasts minutes, so back-to-back
    * repeats of one arm all land inside one stall, while interleaving
    * lets the min come from a clean pass. Blocks an arm materialized are
    * swept after each run. */
  def timeArms(
      spark: SparkSession,
      arms: Seq[(String, () => DataFrame)],
      runs: Int = math.max(sys.env.getOrElse("SPARK_GRAFT_REHEARSAL_RUNS", "2").toInt, 1)
  ): Seq[Timed] = {
    val sc = spark.sparkContext
    val metrics = new QueryMetrics
    sc.addSparkListener(metrics)
    def group(pass: Int, name: String) = s"run$pass-$name"
    def once(build: () => DataFrame, group: String): Double = {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try build().write.format("noop").mode("overwrite").save()
      finally sc.clearJobGroup()
      val dt = (System.nanoTime() - t0) / 1e9
      Session.sweep(spark)
      dt
    }
    try {
      arms.foreach { case (n, b) => once(b, group(0, n)) }
      val passes = (1 to runs).map(pass => arms.map { case (n, b) => once(b, group(pass, n)) })
      // the LAST run's stage events must all be in before the read
      if (!org.apache.spark.GraftListenerDrain.drain(sc)) Thread.sleep(1000)
      arms.map(_._1).zipWithIndex.map { case (n, i) =>
        val ts = passes.map(_(i))
        Timed(n, ts, metrics(group(ts.indexOf(ts.min) + 1, n)))
      }
    } finally sc.removeSparkListener(metrics)
  }
}
