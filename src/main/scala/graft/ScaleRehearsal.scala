package graft

/** Empirical scale rehearsal and per-query runtime attribution: run a
  * query subset (default: all) warm-up + interleaved min-of-n against an
  * arbitrary sf dir, recording wall-clock plus what the bench total and
  * plan-shape audits can't show — jobs, stages, tasks, summed executor
  * task time, shuffle bytes and memory/disk spill of the fastest run. Is
  * a 2 s query 2 s of compute, or 40 tiny jobs of scheduling floor?
  *
  * The SCALE.md "sf1 rehearsal" table is produced by running this at
  * sf0.1 and at the generated 10× corpus (tools/gen_sf1.py) and comparing:
  * a query whose wall-clock exponent log₁₀(t₁/t₀.₁) stays ≲ 1 scales
  * linearly; shuffle bytes growing ≫ 10× or spill appearing at sf1 names
  * the stage that needs attention before 100 TB. Metrics are keyed by job
  * group ([[QueryMetrics]]), so a late stage event cannot land on the
  * wrong query.
  *
  * Deliberately separate from [[Bench]]: Bench is the driver's
  * fixed-format artifact (min-of-n, DuckDB denominator); this is a
  * diagnostic whose DuckDB arm would be quadratic-cost nonsense at sf1
  * (the all-pairs list-lambda oracles), so it has none.
  *
  * Usage: runMain graft.ScaleRehearsal <sfDir> [name,name,...]
  *   (SPARK_GRAFT_REHEARSAL_RUNS timed passes, default 2)
  * Output: one TSV line per query →
  *   name wall_s jobs stages tasks task_time_s shuf_read_mb shuf_write_mb spill_mb
  */
object ScaleRehearsal {

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: runMain graft.ScaleRehearsal <sfDir> [name,name,...]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val registry = args.lift(1).map(_.split(',').toSeq) match {
      case Some(names) =>
        val missing = names.toSet -- SparkEntry.registry.map(_.name)
        require(missing.isEmpty, s"unknown queries: $missing")
        SparkEntry.registry.filter(q => names.contains(q.name))
      case None => SparkEntry.registry
    }
    val spark = Session.forCorpus("graft-scalerehearsal", sfDir)
    val timed = QueryMetrics.timeArms(spark,
      registry.map(q => q.name -> (() => q.build(spark, sfDir))))
    println("name\twall_s\tjobs\tstages\ttasks\ttask_time_s\tshuf_read_mb\tshuf_write_mb\tspill_mb")
    timed.foreach { r =>
      val t = r.totals
      println(f"${r.name}\t${r.seconds}%.3f\t${t.jobs}\t${t.stages}\t${t.tasks}\t" +
        f"${t.taskTimeMs / 1e3}%.2f\t${t.shuffleRead / 1e6}%.1f\t" +
        f"${t.shuffleWrite / 1e6}%.1f\t${t.spill / 1e6}%.1f")
    }
    spark.stop()
  }
}
