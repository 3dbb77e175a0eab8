package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{ShuffleSizing, SparkEntry}
import graft.queries.Q

/** `query_mix` and `query_full`: one op is one pass over a fixed list of
  * registry queries, each executed in full into the noop sink as
  * `graft.Bench` does, in a seeded order per pass. Before timing, one
  * untimed pass writes every query's result as parquet; run.py hashes those
  * against the DuckDB oracle hashes stored with the bench. Traced passes
  * record one span per query. */
object QueryBench {

  /** Iterative operators: fixpoint loops and multi-round pipelines. */
  val Iterative: Seq[String] = Seq(
    "t137_cc_incremental", "t159_bpe_batched", "t153_contamination_closure", "t170_lsh_recall_power",
    "t157_lsh_recall_full", "t118_curation_pipeline", "t57_sketch_accuracy", "t49_dedup_clusters",
    "t126_pca_power")
  /** Fixed-shape plans, including the relational forms of the copy
    * planner's semi-join, anti-join, diff and bin packing. */
  val Fixed: Seq[String] = Seq(
    "q01_filter_project", "q03_join_agg", "q05_multiway_join", "q07_semi_join", "q08_anti_join",
    "q09_window_rank", "q13_setops", "q20_binpack", "q22_fullouter_diff", "t41_percentiles",
    "t65_bucketed_join", "t110_dup_spans", "t123_bpe_encode")

  /** Workload → (iterative, fixed) queries of one pass. `query_full` is
    * every query above (about 30 s per warm pass on 4 cores). `query_mix`
    * keeps the connected-components fixpoint, the most job-bound of the
    * cheap iterative queries, and the relational forms of the copy
    * planner's semi-join, anti-join, diff and bin packing: a warm pass takes
    * about 8 s, and the cold output pass before timing, which costs several
    * warm passes, keeps a bench run under a minute. */
  val Mixes: Map[String, (Seq[String], Seq[String])] = Map(
    "query_full" -> (Iterative, Fixed),
    "query_mix" -> (Seq("t49_dedup_clusters"),
      Seq("q07_semi_join", "q08_anti_join", "q20_binpack", "q22_fullouter_diff")),
  )

  /** The session `graft.Bench` builds. */
  def session(o: BenchMain.Opts): SparkSession = {
    val b = BenchMain.baseBuilder(o)
    ShuffleSizing.configs(o.data, o.cpus).foreach { case (k, v) => b.config(k, v) }
    val spark = b
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.ui.retainedExecutions", "15")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** Drops the blocks a query materialized, as `graft.Bench` does after each. */
  private def sweep(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

  def run(o: BenchMain.Opts, report: Report): Unit = {
    val spark = session(o)
    val listener = new SpanListener
    if (o.trace) spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(spark.sparkContext)
    val registry = SparkEntry.registry.map(q => q.name -> q).toMap
    val (iterative, fixed) = Mixes(o.workload)
    val mix: Seq[Q] = (iterative ++ fixed).map(n =>
      registry.getOrElse(n, throw new IllegalStateException(s"query $n is not in the registry")))
    val units = mutable.LinkedHashMap(mix.map(_.name -> (0, 0)): _*)
    val seconds = mutable.LinkedHashMap(mix.map(_.name -> mutable.ArrayBuffer.empty[Double]): _*)

    // warm-up and output pass, part of set-up
    val checkDir = o.work.resolve("check")
    mix.foreach { q =>
      try q.build(spark, o.data).coalesce(1).write.mode("overwrite").parquet(checkDir.resolve(q.name).toString)
      catch { case e: Throwable => report.error(s"${q.name} (output pass): ${Report.rootError(String.valueOf(e))}") }
      sweep(spark)
    }

    def runOne(q: Q): Boolean =
      try { q.build(spark, o.data).write.format("noop").mode("overwrite").save(); true }
      catch { case e: Throwable => report.error(s"${q.name}: ${Report.rootError(String.valueOf(e))}"); false }
      finally sweep(spark)

    val (ops, firstMs) = BenchMain.closedLoop(o)(
      // collection debt of one pass must not land in the next (as in graft.Bench)
      prepare = _ => System.gc(),
      op = (i, traced) => {
        val order = new scala.util.Random(o.seed * 7919L + i).shuffle(mix)
        val results = order.map { q =>
          val t0 = System.nanoTime()
          val ok = if (traced) tracer.span(q.name, i)(runOne(q)) else runOne(q)
          if (!traced) seconds(q.name) += (System.nanoTime() - t0) / 1e9
          val (a, f) = units(q.name)
          units(q.name) = (a + 1, f + (if (ok) 0 else 1))
          ok
        }
        results.forall(identity)
      },
      check = (_, ran) => ran)
    units.foreach { case (n, af) => report.queryUnits(n) = af }
    report.notes += seconds.map { case (n, ts) => f"$n ${ts.min}%.2f/${Report.median(ts.toSeq)}%.2f/${ts.max}%.2f" }
      .mkString("untraced query seconds (min/median/max): ", ", ", "")
    report.attempted = units.values.map(_._1.toLong).sum
    report.failed = units.values.map(_._2.toLong).sum
    BenchMain.opMetrics(o, report, ops, firstMs, _.seconds)

    if (o.trace) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val passes = ops.filter(_.traced).map(_.index)
      def spansOf(i: Int, names: Seq[String]) = tracer.spans.filter(s => s.op == i && names.contains(s.name)).toSeq
      val layerWall = passes.map(i => spansOf(i, mix.map(_.name)).map(_.seconds).sum)
      for (n <- mix.map(_.name)) {
        val sp = passes.flatMap(i => spansOf(i, Seq(n)))
        report.metric(s"queries.$n.s", Report.median(sp.map(_.seconds)), "s")
        report.metric(s"queries.$n.jobs", Report.median(sp.map(s => listener.get(s.id).jobs.toDouble)), "count")
      }
      for ((family, names) <- Seq("iterative" -> iterative, "fixed" -> fixed)) {
        val per = passes.zip(layerWall).map { case (i, wall) =>
          val sp = spansOf(i, names)
          (BenchMain.sparkTotals(listener, sp.map(_.id)), sp.map(_.seconds).sum, wall)
        }
        report.metric(s"queries.$family.s", Report.median(per.map(_._2)), "s")
        report.metric(s"queries.$family.share", Report.median(per.map(p => p._2 / p._3)), "frac")
        report.metric(s"queries.$family.jobs", Report.median(per.map(_._1.jobs.toDouble)), "count")
        report.metric(s"queries.$family.task_s", Report.median(per.map(_._1.taskSeconds)), "s")
        report.metric(s"queries.$family.busy_frac",
          Report.median(per.map(p => p._1.taskSeconds / (p._2 * o.cpus))), "frac")
      }
      BenchMain.sparkMetrics(report, o.cpus, passes.zip(layerWall).map { case (i, wall) =>
        (BenchMain.sparkTotals(listener, spansOf(i, mix.map(_.name)).map(_.id)), wall)
      })
      BenchMain.writeSpans(o, tracer)
    }
    spark.stop()
  }
}
