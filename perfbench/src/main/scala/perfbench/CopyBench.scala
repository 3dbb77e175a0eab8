package perfbench

import java.io.{PrintWriter, StringWriter}
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.Args
import graft.enumerate.Enumerate
import graft.exec.Executor
import graft.plan.Planner

/** The copy workloads, through the copy tool's public entry points.
  *
  *  - `copy_full`: default-flags full copy of a shallow, byte-heavy tree
  *    into an empty destination.
  *  - `sync_update`: `-update -delete -pt` of a metadata-heavy tree onto a
  *    mirror, after a fresh seeded ~1% mutation of the source.
  *  - `sync_noop`: the same sync with nothing changed since the mirror.
  *
  * Untraced ops call `graft.cli.Main.run` exactly as the CLI does. Traced
  * ops call `Args.parse`, `Planner.plan` and `Executor.execute` one by one
  * on `cntfs://` paths (see [[CountingFs]]), then list each tree with a
  * standalone `Enumerate.listTree`. */
object CopyBench {

  /** Files in the sync trees. Each listed entry costs the copy layer one
    * forked permission lookup (no native Hadoop library), about 10 ms on a
    * 4-core VM, and a sync lists both trees three times. `sync_update`
    * keeps a thousand files, so its ~1% mutation changes ten of them;
    * `sync_noop` is kept small enough for an op of about 9 s, most of it
    * the Spark job floor of one BFS level per job. */
  val SyncFiles: Map[String, Int] = Map("sync_update" -> 1000, "sync_noop" -> 120)
  /** Median size of the large files of the `copy_full` tree. */
  val BigFileMedian: Long = 32L << 20

  /** The session `graft.cli.Main.main` builds. */
  def session(o: BenchMain.Opts): SparkSession = {
    val spark = BenchMain.baseBuilder(o)
      .appName("graft-copy")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", math.max(o.cpus, 4096).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** What a traced op recorded, for the per-layer metrics. */
  final class Traced {
    var changed = 0L // files the generator changed before this op
    var layerSpans = Seq.empty[Span] // Args.parse, Planner.plan, Executor.execute
    def layerSeconds: Double = layerSpans.map(_.seconds).sum
    val lists = mutable.ArrayBuffer.empty[(Span, Long, Long)] // span, entries, listStatus calls
    var plan: Option[(Span, Map[String, Long])] = None // span, fs calls
    var planFiles, planTasks, planDeletes = 0L
    var exec: Option[(Span, Executor.CopyStats, Map[String, Long], Long)] = None // + fs calls, wchar
  }

  private def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }

  private def stackText(e: Throwable): String = {
    val w = new StringWriter
    e.printStackTrace(new PrintWriter(w))
    w.toString
  }

  def run(o: BenchMain.Opts, report: Report): Unit = {
    val src = o.work.resolve("src")
    val dst = o.work.resolve("dst")
    val sync = o.workload != "copy_full"
    var (files, nDirs) =
      if (sync) Trees.syncTree(src, o.seed, SyncFiles(o.workload))
      else {
        val f = Trees.copyTree(src, o.seed, BigFileMedian)
        (f, f.keys.map(k => k.take(k.lastIndexOf('/'))).toSet.size + 1)
      }
    val totalBytes = files.values.map(_.len).sum
    if (sync) Trees.mirror(src, dst)
    else report.notes += f"copy_full source: ${files.size} files, ${totalBytes / 1048576.0}%.1f MiB; source and " +
      f"destination (${2 * totalBytes / 1073741824.0}%.2f GiB) stay in the page cache of ${Report.memTotalGib()}%.1f GiB RAM"

    val spark = session(o)
    val listener = new SpanListener
    if (o.trace) spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(spark.sparkContext)
    val flags = if (sync) Seq("-update", "-delete", "-pt") else Nil
    def argv(scheme: String): Array[String] = (flags ++ Seq(scheme + src, scheme + dst)).toArray
    def cntfs(p: Path): String = s"${CountingFs.Scheme}://$p"
    val layerCalls = Set("Args.parse", "Planner.plan", "Executor.execute")

    def resetDst(): Unit =
      if (sync) Trees.mirror(src, dst)
      else { Trees.deleteTree(dst); Files.deleteIfExists(dst) }

    // warm-up, part of set-up: one untimed op on the starting state
    resetDst()
    val (warmCode, _, warmErr) = BenchMain.captured(graft.cli.Main.run(argv(""), spark))
    if (warmCode != 0) report.notes += s"warm-up op exited $warmCode: ${Report.rootError(warmErr)}"
    resetDst()

    var expected: Expected = null
    var counters = (0L, 0L, 0L) // COPY, FAIL, BYTESCOPIED of the last op
    val exitedOk = mutable.ArrayBuffer.empty[(Long, Long)] // BYTESCOPIED, expected bytes
    val traced = mutable.Map.empty[Int, Traced]

    def prepare(i: Int): Unit = {
      System.gc()
      o.workload match {
        case "copy_full" => resetDst(); expected = Expected(files, files.size.toLong, totalBytes, Nil)
        case "sync_update" => expected = Trees.mutate(src, files, o.seed, i); files = expected.files
        case _ => expected = Expected(files, 0L, 0L, Nil)
      }
    }

    def plainOp(i: Int): Boolean = {
      val (code, out, err) = BenchMain.captured(graft.cli.Main.run(argv(""), spark))
      val rx = """COPY=(\d+) SKIP=\d+ FAIL=(\d+) DIR=\d+ BYTESCOPIED=(\d+)""".r.unanchored
      counters = out match {
        case rx(c, f, b) => (c.toLong, f.toLong, b.toLong)
        case _ => (-1L, -1L, -1L)
      }
      if (code != 0) report.error(s"exit $code: ${Report.rootError(err)}")
      code == 0
    }

    def tracedOp(i: Int): Boolean = {
      val t = new Traced
      t.changed = expected.copied
      traced(i) = t
      tracer.span("op", i) {
        try {
          val (parsed, _) = tracer.timed("Args.parse", i)(Args.parse(argv(s"${CountingFs.Scheme}://").toSeq))
          val cfg = parsed.fold(m => throw new IllegalArgumentException(m), identity)
          val c1 = FsCalls.snapshot()
          val (plan, spP) = tracer.timed("Planner.plan", i)(Planner.plan(spark, cfg))
          t.plan = Some((spP, delta(c1, FsCalls.snapshot())))
          tracer.span("plan.inspect", i) {
            t.planTasks = plan.tasks.count()
            t.planFiles = plan.tasks.filter(!_.src.isDir).count()
            t.planDeletes = plan.deletes.count()
          }
          val c2 = FsCalls.snapshot()
          val (_, w0) = Report.procIo()
          val (stats, spE) = tracer.timed("Executor.execute", i)(Executor.execute(spark, plan, cfg))
          val (_, w1) = Report.procIo()
          t.exec = Some((spE, stats, delta(c2, FsCalls.snapshot()), w1 - w0))
          counters = (stats.copied, stats.failed, stats.bytesCopied)
          true
        } catch {
          case e: Throwable =>
            report.error(Report.rootError(stackText(e)))
            false
        } finally {
          t.layerSpans = tracer.spans.filter(s => s.op == i && layerCalls(s.name)).toSeq
          // standalone listings after the op, so they cannot warm the op itself
          for (root <- Seq(src, dst) if Files.exists(root)) {
            val c0 = FsCalls.snapshot()
            val (n, sp) = tracer.timed("Enumerate.listTree", i)(Enumerate.listTree(spark, cntfs(root)).count())
            t.lists += ((sp, n, delta(c0, FsCalls.snapshot())("listStatus")))
          }
        }
      }
    }

    def check(i: Int, ran: Boolean): Boolean = {
      report.attempted += 1
      if (ran) exitedOk += ((counters._3, expected.bytes))
      val problems =
        if (!ran) Seq.empty
        else Seq(
          Option.when(counters._1 != expected.copied)(s"COPY=${counters._1}, generator expects ${expected.copied}"),
          Option.when(counters._3 != expected.bytes)(s"BYTESCOPIED=${counters._3}, generator expects ${expected.bytes}"),
          Option.when(counters._2 != 0)(s"FAIL=${counters._2}"),
          traced.get(i).map(_.planDeletes).filter(_ != expected.deleted.size)
            .map(n => s"planned $n deletes, generator expects ${expected.deleted.size}"),
          Trees.diff(expected.files, Trees.scan(dst)),
        ).flatten
      problems.foreach(p => report.error(s"output check: $p"))
      if (problems.nonEmpty) report.mismatched += 1
      val ok = ran && problems.isEmpty
      if (!ok) { report.failed += 1; if (sync) resetDst() }
      ok
    }

    val (ops, firstMs) = BenchMain.closedLoop(o)(
      prepare, (i, tr) => if (tr) tracedOp(i) else plainOp(i), check)
    BenchMain.opMetrics(o, report, ops, firstMs,
      op => traced.get(op.index).map(_.layerSeconds).getOrElse(op.seconds))

    val opP50 = report.metrics.get("op_s_p50").map(_._1)
    if (o.workload == "copy_full")
      opP50.foreach(s => report.metric("copy_mib_s", totalBytes / 1048576.0 / s, "MiB/s"))
    if (o.workload == "sync_update" && exitedOk.nonEmpty)
      report.metric("bytes_copied_per_changed_byte",
        Report.median(exitedOk.toSeq.map { case (got, want) => got.toDouble / math.max(want, 1L) }), "ratio")

    if (o.trace) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      layerMetrics(o, report, listener, traced.values.toSeq, nDirs)
      BenchMain.writeSpans(o, tracer)
    }
    spark.stop()
  }

  private def layerMetrics(o: BenchMain.Opts, report: Report, listener: SpanListener,
      ops: Seq[Traced], nDirs: Int): Unit = {
    def med(xs: Seq[Double]) = Report.median(xs)
    val withLists = ops.filter(_.lists.nonEmpty)
    val listSec = withLists.map(_.lists.map(_._1.seconds).sum)
    val listEntries = withLists.map(_.lists.map(_._2).sum.toDouble)
    val listStats = withLists.map(t => BenchMain.sparkTotals(listener, t.lists.map(_._1.id).toSeq))
    report.metric("enumerate.list_s", med(listSec), "s")
    report.metric("enumerate.entries", med(listEntries), "count")
    report.metric("enumerate.ms_per_entry", med(listSec.zip(listEntries).map { case (s, n) => 1e3 * s / n }), "ms")
    report.metric("enumerate.entries_per_s", med(listSec.zip(listEntries).map { case (s, n) => n / s }), "1/s")
    report.metric("enumerate.jobs", med(listStats.map(_.jobs.toDouble)), "count")
    report.metric("enumerate.tasks", med(listStats.map(_.tasks.toDouble)), "count")
    report.metric("enumerate.max_task_share", med(withLists.map(_.lists.map { case (sp, _, _) =>
      listener.get(sp.id).longestTaskMs / 1e3 / sp.seconds }.max)), "frac")
    report.metric("enumerate.list_calls", med(withLists.map(_.lists.map(_._3).sum.toDouble)), "count")

    val planned = ops.filter(_.plan.nonEmpty)
    val planS = planned.map(_.plan.get._1.seconds)
    val planStats = planned.map(t => listener.get(t.plan.get._1.id))
    report.metric("plan.s", med(planS), "s")
    report.metric("plan.share", med(planned.map(t => t.plan.get._1.seconds / t.layerSeconds)), "frac")
    report.metric("plan.jobs", med(planStats.map(_.jobs.toDouble)), "count")
    report.metric("plan.task_s", med(planStats.map(_.taskSeconds)), "s")
    report.metric("plan.busy_frac", med(planStats.zip(planS).map { case (s, w) => s.taskSeconds / (w * o.cpus) }), "frac")
    report.metric("plan.shuffle_mib", med(planStats.map(_.shuffleWriteBytes / 1048576.0)), "MiB")
    report.metric("plan.tree_walks", med(planned.map(_.plan.get._2("listStatus").toDouble / nDirs)), "ratio")
    report.metric("plan.checksum_calls", med(planned.map(_.plan.get._2("getFileChecksum").toDouble)), "count")
    report.metric("plan.file_tasks", med(planned.map(_.planFiles.toDouble)), "count")
    report.metric("plan.useful_ratio", med(planned.map(t =>
      if (t.planFiles == 0) 1.0 else t.changed.toDouble / t.planFiles)), "ratio")
    report.metric("plan.deletes", med(planned.map(_.planDeletes.toDouble)), "count")

    val executed = ops.filter(_.exec.nonEmpty)
    if (executed.nonEmpty) {
      val ex = executed.map(_.exec.get)
      val exStats = ex.map(e => listener.get(e._1.id))
      report.metric("exec.s", med(ex.map(_._1.seconds)), "s")
      report.metric("exec.share", med(executed.map(t => t.exec.get._1.seconds / t.layerSeconds)), "frac")
      report.metric("exec.setup_ms", med(ex.map(_._2.setupMs.toDouble)), "ms")
      report.metric("exec.run_ms", med(ex.map(_._2.runMs.toDouble)), "ms")
      report.metric("exec.cleanup_ms", med(ex.map(_._2.cleanupMs.toDouble)), "ms")
      report.metric("exec.jobs", med(exStats.map(_.jobs.toDouble)), "count")
      report.metric("exec.task_s", med(exStats.map(_.taskSeconds)), "s")
      report.metric("exec.busy_frac", med(exStats.zip(ex).map { case (s, e) => s.taskSeconds / (e._1.seconds * o.cpus) }), "frac")
      report.metric("exec.task_skew", med(exStats.map(_.heaviestStageSkew)), "ratio")
      report.metric("exec.mib_s", med(ex.map(e => e._2.bytesCopied / 1048576.0 / e._1.seconds)), "MiB/s")
      report.metric("exec.fs_calls_per_task", med(executed.map(t =>
        t.exec.get._3.values.sum.toDouble / math.max(t.planTasks, 1L))), "ratio")
      val wrote = ex.filter(_._2.bytesCopied > 0)
      if (wrote.nonEmpty)
        report.metric("exec.write_bytes_per_copied_byte", med(wrote.map(e => e._4.toDouble / e._2.bytesCopied)), "ratio")
    }

    // Spark work of the op itself: the three layer calls, not the probes
    val perOp = ops.map(t => (BenchMain.sparkTotals(listener, t.layerSpans.map(_.id)), t.layerSeconds))
    BenchMain.sparkMetrics(report, o.cpus, perOp)
  }
}
