package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** The bench JVM: one workload, one closed-loop client (this thread),
  * timed from outside the program's public entry points. run.py starts it,
  * checks what can only be checked from Python, and prints the result.
  *
  * {{{
  *   BenchMain --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <dir> --out <result.json> --t0-ms <epoch ms>
  *             [--data <table dir>] [--cpus <n>]
  * }}}
  *
  * With `--trace 1` ops alternate between untraced and traced; traced ops
  * record spans (see [[Tracer]]) and per-layer metrics, and the difference
  * of the two medians is the tracing overhead. */
object BenchMain {

  final case class Opts(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      work: Path,
      out: Path,
      t0Ms: Long,
      data: String,
      cpus: Int,
  )

  /** One closed-loop op: wall seconds, outcome, and the process CPU time and
    * I/O it took. */
  final case class Op(index: Int, traced: Boolean, seconds: Double, ok: Boolean, cpuSeconds: Double,
      rchar: Long, wchar: Long)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Opts(
      workload = m("workload"),
      seed = m("seed").toLong,
      seconds = m("seconds").toDouble,
      trace = m.get("trace").contains("1"),
      work = Path.of(m("work")).toAbsolutePath,
      out = Path.of(m("out")).toAbsolutePath,
      t0Ms = m("t0-ms").toLong,
      data = m.getOrElse("data", ""),
      cpus = m.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
    )
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    val report = new Report
    o.workload match {
      case "copy_full" | "sync_update" | "sync_noop" => CopyBench.run(o, report)
      case w if QueryBench.Mixes.contains(w) => QueryBench.run(o, report)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    report.metric("peak_rss_mib", Report.peakRssMib(), "MiB")
    report.write(o.out)
  }

  /** Session settings shared by both halves: no UI, scratch space inside the
    * bench's work directory. */
  def baseBuilder(o: Opts): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)

  /** Runs ops in a closed loop until `seconds` have passed (at least one
    * op). Only `op` is timed; `prepare` and `check` (the output check) run
    * untimed around it. In trace mode every second op is traced, starting
    * with the second, and there are at least two ops. Returns the ops and
    * the epoch ms at which the first one started. */
  def closedLoop(o: Opts)(prepare: Int => Unit, op: (Int, Boolean) => Boolean,
      check: (Int, Boolean) => Boolean): (Seq[Op], Long) = {
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var firstMs = 0L
    val ops = Seq.newBuilder[Op]
    var i = 0
    while (i < (if (o.trace) 2 else 1) || System.nanoTime() < deadline) {
      val traced = o.trace && i % 2 == 1
      prepare(i)
      val (r0, w0) = Report.procIo()
      val c0 = Report.cpuNs()
      if (i == 0) firstMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val ran = op(i, traced)
      val dt = (System.nanoTime() - t0) / 1e9
      val c1 = Report.cpuNs()
      val (r1, w1) = Report.procIo()
      val ok = check(i, ran)
      ops += Op(i, traced, dt, ok, (c1 - c0) / 1e9, r1 - r0, w1 - w0)
      i += 1
    }
    (ops.result(), firstMs)
  }

  /** End-to-end metrics of the untraced ops, and the tracing overhead when
    * there are traced ones. Op time is missing when no op succeeded: a
    * failure's time-to-failure is not the op's cost. */
  def opMetrics(o: Opts, report: Report, ops: Seq[Op], firstOpMs: Long, opSecondsOf: Op => Double): Unit = {
    val plain = ops.filter(!_.traced)
    report.metric("setup_s", (firstOpMs - o.t0Ms) / 1e3, "s")
    report.metric("ops", plain.length, "count")
    report.metric("ops_failed_frac", plain.count(!_.ok).toDouble / plain.length, "frac")
    val okPlain = plain.filter(_.ok)
    report.notes += ops.map(op => f"${op.seconds}%.3f${if (op.traced) "(traced)" else ""}${if (op.ok) "" else "(failed)"}")
      .mkString("op seconds in order: ", ", ", "")
    report.metric("op_s_p50", Report.median(okPlain.map(_.seconds)), "s")
    report.metric("cpu_s_per_op", Report.median(plain.map(_.cpuSeconds)), "s")
    report.metric("io.read_mib_per_op", Report.median(plain.map(_.rchar / 1048576.0)), "MiB")
    report.metric("io.write_mib_per_op", Report.median(plain.map(_.wchar / 1048576.0)), "MiB")
    val okTraced = ops.filter(op => op.traced && op.ok)
    if (okTraced.nonEmpty && okPlain.nonEmpty)
      report.metric("trace.overhead_s",
        Report.median(okTraced.map(opSecondsOf)) - Report.median(okPlain.map(_.seconds)), "s")
  }

  /** Runs `body` with this process's stdout and stderr captured (the CLI
    * reports through both). */
  def captured[T](body: => T): (T, String, String) = {
    val out = new ByteArrayOutputStream
    val err = new ByteArrayOutputStream
    val oldOut = System.out
    val oldErr = System.err
    val po = new PrintStream(out, true, "UTF-8")
    val pe = new PrintStream(err, true, "UTF-8")
    System.setOut(po)
    System.setErr(pe)
    try {
      val r = Console.withOut(po)(Console.withErr(pe)(body))
      (r, out.toString("UTF-8"), err.toString("UTF-8"))
    } finally {
      System.setOut(oldOut)
      System.setErr(oldErr)
    }
  }

  /** Per-op Spark totals over a set of spans. */
  def sparkTotals(listener: SpanListener, spanIds: Seq[Int]): SpanStats = {
    val t = new SpanStats
    spanIds.map(listener.get).foreach { s =>
      t.jobs += s.jobs; t.stages += s.stages; t.tasks += s.tasks; t.taskMs += s.taskMs
      t.gcMs += s.gcMs; t.shuffleWriteBytes += s.shuffleWriteBytes; t.spillBytes += s.spillBytes
    }
    t
  }

  /** The `spark.*` per-layer metrics: per traced op, medians over ops. */
  def sparkMetrics(report: Report, cpus: Int, perOp: Seq[(SpanStats, Double)]): Unit = {
    def med(f: ((SpanStats, Double)) => Double) = Report.median(perOp.map(f))
    report.metric("spark.jobs_per_op", med(_._1.jobs), "count")
    report.metric("spark.stages_per_op", med(_._1.stages), "count")
    report.metric("spark.tasks_per_op", med(_._1.tasks), "count")
    report.metric("spark.task_s_per_op", med(_._1.taskSeconds), "s")
    report.metric("spark.busy_frac", med { case (s, wall) => s.taskSeconds / (wall * cpus) }, "frac")
    report.metric("spark.gc_s_per_op", med(_._1.gcMs / 1e3), "s")
    report.metric("spark.gc_frac", med { case (s, _) => if (s.taskMs > 0) s.gcMs.toDouble / s.taskMs else 0.0 }, "frac")
    report.metric("spark.shuffle_write_mib_per_op", med(_._1.shuffleWriteBytes / 1048576.0), "MiB")
    report.metric("spark.spill_mib_per_op", med(_._1.spillBytes / 1048576.0), "MiB")
  }

  def writeSpans(o: Opts, tracer: Tracer): Unit =
    Files.writeString(o.out.resolveSibling(o.out.getFileName.toString.replace(".json", "") + "-spans.json"),
      tracer.toJson + "\n")
}
