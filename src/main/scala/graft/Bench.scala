package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** Per-round benchmark: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Queries execute fully (noop sink) so sorts/limits are
  * not optimized away the way a bare `.count()` would allow.
  *
  * The artifact is self-defending (round-3 verdict item 1 — the r3 headline
  * number was pure machine contamination and unfalsifiable from the JSON):
  *  - each query is timed over n ≥ 3 runs (SPARK_GRAFT_BENCH_RUNS, default 3)
  *    and `queries` records the MIN — the best run is the least-contaminated
  *    estimate of the code's cost, and repeat runs also absorb one-time
  *    codegen-compile constants that are session, not query, cost;
  *  - every run of every query is kept in `spark_runs` so contamination is
  *    visible as min/median spread instead of silently inflating the total;
  *  - the DuckDB oracle is re-timed on the same machine/tables/thread budget
  *    (tools/oraclebench.py, min of the same n) and recorded per query as
  *    `duckdb` plus `ratio` = spark/duckdb, so the artifact carries its own
  *    denominator instead of relying on a BASELINE measured under unknown
  *    load;
  *  - 1-minute system load is sampled before and after (`load_before`/
  *    `load_after`): either value ≫ cpus means an contended, untrustworthy
  *    run.
  */
object Bench {

  private def loadAvg: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def jstr(s: String): String = Json.str(s)
  private def jnum(d: Double): String = Json.num(d)

  /** Best-effort DuckDB oracle timing on the same tables (restricted to
    * `names`, so a SPARK_GRAFT_BENCH_ONLY run times the same subset on both
    * engines); empty on any failure (missing python/duckdb) — the Spark
    * numbers must not die with the denominator. */
  private def oracleTimes(
      sfDir: String, runs: Int, threads: String, names: Set[String]): Map[String, Double] = {
    val script = new java.io.File("tools/oraclebench.py")
    if (!script.isFile) return Map.empty
    val tmp = Files.createTempFile("graft_oracle_sql", ".json")
    try {
      val json = SparkEntry.oracleSql
        .filter { case (k, _) => names.contains(k) }
        .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
      Files.writeString(tmp, json)
      import scala.sys.process._
      val out = Seq("python3", script.getPath, sfDir, tmp.toString, runs.toString, threads).!!
      // tolerant line parse: a stray tab-containing warning line must skip
      // itself, not discard every other query's timing
      out.linesIterator.flatMap { line =>
        line.split('\t') match {
          case Array(n, s) => s.toDoubleOption.map(n -> _)
          case _ => None
        }
      }.toMap
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] oracle timing unavailable: ${e.getMessage}")
        Map.empty
    } finally Files.deleteIfExists(tmp)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    val runs = math.max(sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt, 1)
    // optional comma-separated name filter for single-query iteration —
    // applied to BOTH engines so ratios always compare the same subset
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSet)
    val selected = SparkEntry.registry.filter(q => only.forall(_.contains(q.name)))
    val loadBefore = loadAvg
    // oracle timing runs FIRST, on an otherwise-idle machine: timing it after
    // the Spark loop measured DuckDB on thermally-throttled cores next to a
    // hot 16 GB JVM and inflated t31 4× (23.4 s vs 6.1 s standalone).
    // SPARK_GRAFT_BENCH_NO_ORACLE=1 skips it for Spark-side iteration loops
    // (ratios print as null); the driver never sets it.
    val duck =
      if (sys.env.get("SPARK_GRAFT_BENCH_NO_ORACLE").contains("1")) Map.empty[String, Double]
      else oracleTimes(sfDir, runs, cpus.toString, selected.map(_.name).toSet)
    val spark = Session.forCorpus("graft-bench", sfDir)
    // untimed warmup: JVM/codegen/parquet-footer costs land here, not on q01
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    // fixed per-query overhead: an empty-plan job through the SAME timing
    // path (noop sink), min over the pass count after one untimed warmup.
    // 138/178 per-query ratios >2x at r12 were this constant against
    // sub-second oracles — recording it lets the artifact carry
    // compute-ratios (launch cost subtracted on both engines) so the gate
    // report separates plan quality from job-launch floor.
    def noopOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(1).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    noopOnce()
    val sparkOverhead = (1 to runs).map(_ => noopOnce()).min
    // Passes are SUITE-INTERLEAVED (run the whole suite n times round-robin)
    // rather than n consecutive runs per query: an external CPU stall on this
    // shared machine lasts minutes (observed: a trivial CASE WHEN query at
    // [29 s, 63 s, 24 s] across its three back-to-back runs, 0.6 s clean), so
    // back-to-back repeats all land inside one stall and the per-query MIN is
    // poisoned. Interleaved, a stall contaminates one pass and the min comes
    // from the clean passes. Codegen still warms on pass 1, so the min keeps
    // absorbing compile constants.
    // a run that THROWS records None, not its time-to-failure: folding a
    // fast crash into the min would report a healthy-looking number for a
    // query that never ran (stderr doesn't survive the tail-capture)
    val passes: Seq[Seq[Option[Double]]] = (1 to runs).map { pass =>
      // full GC at each pass boundary: collection debt left by heavy
      // queries (multi-GB shuffle frames) otherwise lands inside whichever
      // queries run next, charging pass-N noise to innocent queries —
      // 3 forced GCs per bench is noise-reduction, not cost
      if (pass > 1) System.gc()
      selected.map { q =>
        val t0 = System.nanoTime()
        val ok =
          try { q.build(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable => System.err.println(s"[bench] ${q.name}: ${e.getMessage}"); false }
        val dt = (System.nanoTime() - t0) / 1e9
        Session.sweep(spark)
        if (ok) Some(dt) else None
      }
    }
    val results: Seq[(String, Seq[Double])] =
      selected.map(_.name).zipWithIndex.map { case (n, i) => n -> passes.flatMap(_(i)) }
    val failed = results.collect { case (n, ts) if ts.isEmpty => n }
    val loadAfter = loadAvg
    // a query with zero successful runs is EXCLUDED from totals and listed
    // in "failed" on the artifact line — visible, never silently costed
    val mins = results.collect { case (n, ts) if ts.nonEmpty => n -> ts.min }
    val total = mins.map(_._2).sum
    // denominator restricted to queries that actually ran on Spark, so a
    // failed query can't skew the ratio by dropping only its numerator
    val duckTotal = mins.flatMap { case (k, _) => duck.get(k) }.sum
    val failedJson = failed.map(jstr).mkString("[", ",", "]")
    // stdout line precision: the driver captures only the TAIL of sbt output
    // (~1.9 KB). Round 4's line carried full-precision per-run arrays + three
    // per-query maps, overflowed that window, and the driver recorded
    // `parsed: null` — a whole round of perf signal lost to line length. The
    // printed line now holds only the summary + a millisecond-precision
    // `queries` map; everything else goes to BENCH_DETAIL.json.
    def jms(d: Double): String = Json.num(d, "%.3f")
    val total3 = mins.map { case (_, v) => BigDecimal(jms(v)) }.sum  // so sum(queries) == value exactly
    // stdout uses the short unambiguous prefix (q01, t49, m35 — the spec's own
    // "queries":{"q1":sec} shape); BENCH_DETAIL.json carries full names
    val qsShort =
      mins.map { case (k, v) => jstr(k.takeWhile(_ != '_')) + ":" + jms(v) }.mkString("{", ",", "}")
    val qs = mins.map { case (k, v) => jstr(k) + ":" + jms(v) }.mkString("{", ",", "}")
    val runsJson = results
      .map { case (k, ts) => jstr(k) + ":" + ts.map(jnum).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val duckJson = mins
      .map { case (k, _) => jstr(k) + ":" + duck.get(k).map(jnum).getOrElse("null") }
      .mkString("{", ",", "}")
    val ratioJson = mins
      .map { case (k, v) =>
        jstr(k) + ":" + duck.get(k).filter(_ > 0).map(d => jnum(v / d)).getOrElse("null")
      }
      .mkString("{", ",", "}")
    val totalRatio =
      if (duck.nonEmpty && duckTotal > 0) jnum(total / duckTotal) else "null"
    val totalRatio3 =
      if (duck.nonEmpty && duckTotal > 0) jms(total / duckTotal) else "null"
    // compute-ratio: both engines' fixed per-query launch floor subtracted
    // (the reserved __overhead__ row from oraclebench; never a query name,
    // so it can't collide with the per-query maps or the totals above)
    val duckOverhead = duck.getOrElse("__overhead__", 0.0)
    val sparkCompute = mins.map { case (_, v) => math.max(v - sparkOverhead, 0.0) }.sum
    val duckCompute = mins
      .flatMap { case (k, _) => duck.get(k).map(d => math.max(d - duckOverhead, 0.0)) }.sum
    val computeRatio =
      if (duck.nonEmpty && duckCompute > 0) jms(sparkCompute / duckCompute) else "null"
    // per-query compute ratio; null when the oracle's compute rounds to
    // zero (a launch-floor-only query has no meaningful compute ratio)
    val ratioComputeJson = mins
      .map { case (k, v) =>
        jstr(k) + ":" + duck.get(k)
          .map(d => math.max(d - duckOverhead, 0.0))
          .filter(_ > 0.001)
          .map(dc => jnum(math.max(v - sparkOverhead, 0.0) / dc))
          .getOrElse("null")
      }
      .mkString("{", ",", "}")
    // stdout FIRST: the compact line is the primary artifact and must not
    // die with a detail-file I/O failure (read-only cwd, disk full)
    println(
      s"""{"metric":"total","value":$total3,"unit":"sec","queries":$qsShort,"sf":${jstr(sfDir)},""" +
      s""""runs":$runs,"cpus":$cpus,"duckdb_total":${jms(duckTotal)},"total_ratio":$totalRatio3,""" +
      s""""failed":$failedJson,"failed_n":${failed.size},"load_before":${jms(loadBefore)},""" +
      s""""load_after":${jms(loadAfter)},"spark_overhead_s":${jms(sparkOverhead)},""" +
      s""""compute_ratio":$computeRatio,"detail":"BENCH_DETAIL_c$cpus.json"}""")
    val detail =
      s"""{"metric":"total","value":${jnum(total)},"unit":"sec","sf":${jstr(sfDir)},""" +
      s""""runs":$runs,"cpus":$cpus,"queries":$qs,"spark_runs":$runsJson,"duckdb":$duckJson,""" +
      s""""ratio":$ratioJson,"duckdb_total":${jnum(duckTotal)},"total_ratio":$totalRatio,""" +
      s""""spark_overhead_s":${jnum(sparkOverhead)},"duckdb_overhead_s":${jnum(duckOverhead)},""" +
      s""""spark_compute_total":${jnum(sparkCompute)},"duckdb_compute_total":${jnum(duckCompute)},""" +
      s""""compute_ratio":$computeRatio,"ratio_compute":$ratioComputeJson,""" +
      s""""failed":$failedJson,"load_before":${jnum(loadBefore)},"load_after":${jnum(loadAfter)}}"""
    // cpu-suffixed detail file so the driver's low-core scaling run cannot
    // clobber the 32-core per-query artifact (r14 verdict item 2); the
    // unsuffixed name stays for older tooling that reads it
    try {
      Files.writeString(Paths.get(s"BENCH_DETAIL_c$cpus.json"), detail + "\n")
      Files.writeString(Paths.get("BENCH_DETAIL.json"), detail + "\n")
    } catch { case e: Throwable => System.err.println(s"[bench] detail write failed: ${e.getMessage}") }
    // ...and the VERY LAST stdout line is one complete JSON document with the
    // FULL per-query map (r14 verdict item 2: 14 rounds of `parsed: null`).
    // The driver records only the final ~2000 chars of output and parses the
    // last JSON line in it; build.sbt routes forked stdout raw (no "[info] "
    // prefix) and suppresses sbt's "[success]" trailer, so this line owns the
    // window — but it must still render ≤ ~1990 chars to survive intact.
    // 180 short-id entries at 3 decimals don't fit, so precision degrades
    // adaptively — never the map: keys are the stable short ids (never
    // renamed/dropped; full precision lives on the first line and in
    // BENCH_DETAIL_c$cpus.json).
    def trimZeros(s: String): String =
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse else s
    def fmtAt(fmt: String)(v: Double): String = trimZeros(Json.num(v, fmt))
    def mapAt(f: Double => String): String =
      mins.map { case (k, v) => jstr(k.takeWhile(_ != '_')) + ":" + f(v) }.mkString("{", ",", "}")
    def lineAt(f: Double => String, slim: Boolean): String =
      if (slim)
        s"""{"metric":"total","value":$total3,"unit":"sec","queries":${mapAt(f)},"sf":${jstr(sfDir)}}"""
      else
        s"""{"metric":"total","value":$total3,"unit":"sec","queries":${mapAt(f)},"sf":${jstr(sfDir)},""" +
        s""""runs":$runs,"cpus":$cpus,"failed_n":${failed.size}}"""
    val candidates = Seq(
      lineAt(fmtAt("%.3f"), slim = false),
      lineAt(fmtAt("%.3f"), slim = true),
      lineAt(fmtAt("%.2f"), slim = true),
      lineAt(fmtAt("%.1f"), slim = true))
    println(candidates.find(_.length <= 1990).getOrElse(candidates.last))
    spark.stop()
    // a bench with failed queries must not look healthy (round-7 advice:
    // rc:0 with 10 failures, and total_ratio computed over survivors only,
    // masked a whole-family regression). The JSON line is already printed,
    // so the nonzero exit costs nothing but makes the round un-green.
    if (failed.nonEmpty) sys.exit(1)
  }
}
