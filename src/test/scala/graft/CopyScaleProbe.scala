package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import scala.io.Source
import scala.util.Using

/** The copy layer's scaling curve: plan-only export and a no-op sync on
  * trees of 10^k one-byte files, with the Spark jobs, wall time and driver
  * peak resident memory of each. Not a suite; run it with
  *
  *   sbt -batch "Test/runMain graft.CopyScaleProbe <dir> 4,5"
  *
  * `<dir>` holds the generated trees (`src-<k>` and its exact mirror
  * `dst-<k>`, 100 files per directory under two directory levels, every
  * mtime equal), reused when they already hold 10^k files. Each decade
  * runs, through `graft.cli.Main.run` as the CLI does:
  *   export — `-exportOnly` of a plain copy: walks the source, plans every
  *            file, writes the parquet plan;
  *   noop   — `-update -delete -pt` onto the mirror: walks both trees,
  *            diffs, copies and deletes nothing.
  * A 100-file warm-up of both ops runs first. Each op runs once: at 10^5
  * files an op takes minutes where the listing forks a process per entry.
  *
  * Output: one TSV line per (decade, op) — log10_files files op wall_s jobs
  * tasks vm_hwm_mb. vm_hwm_mb is the driver process's peak resident set
  * (VmHWM) so far, so it never falls from one line to the next; in local
  * mode the executors share that process.
  */
object CopyScaleProbe {

  private val PerDir = 100
  private val MTime = FileTime.fromMillis(1600000000000L)

  /** 10^k files as d<top>/d<mid>/f<i>, in `src` and `dst` alike. */
  private def tree(base: Path, k: Int): (Path, Path) = {
    val n = math.pow(10, k).toInt
    val (src, dst) = (base.resolve(s"src-$k"), base.resolve(s"dst-$k"))
    def count(root: Path) =
      if (!Files.isDirectory(root)) 0L
      else Using.resource(Files.walk(root))(_.filter(Files.isRegularFile(_)).count())
    if (count(src) != n || count(dst) != n) {
      for (root <- Seq(src, dst); i <- 0 until n) {
        val f = root.resolve(f"d${i / (PerDir * PerDir)}%03d/d${i / PerDir % PerDir}%02d/f${i % PerDir}%02d")
        Files.createDirectories(f.getParent)
        Files.write(f, Array[Byte]('x'))
        Files.setLastModifiedTime(f, MTime)
      }
    }
    (src, dst)
  }

  private def vmHwmMb(): Long =
    Using.resource(Source.fromFile("/proc/self/status"))(_.getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong / 1024 }
      .getOrElse(-1L))

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: CopyScaleProbe <dir> [decades, default 4,5]")
    val base = Paths.get(args(0)).toAbsolutePath
    val decades = args.lift(1).getOrElse("4,5").split(',').map(_.toInt).toSeq
    val spark = Session("graft-copy", s"local[${Session.cpus}]",
      cli.Main.sizing(Array.empty, Session.cpus))
    val sc = spark.sparkContext
    val metrics = new QueryMetrics
    sc.addSparkListener(metrics)

    def op(k: Int, name: String, argv: Seq[String]): Unit = {
      val group = s"$k-$name"
      sc.setJobGroup(group, group, interruptOnCancel = false)
      val out = new java.io.ByteArrayOutputStream()
      val t0 = System.nanoTime()
      val rc =
        try Console.withOut(out)(cli.Main.run(argv.toArray, spark))
        finally sc.clearJobGroup()
      val wall = (System.nanoTime() - t0) / 1e9
      require(rc == 0, s"$group exited $rc: $out")
      require(name != "noop" || out.toString.contains("COPY=0 "), s"$group copied: $out")
      org.apache.spark.GraftListenerDrain.drain(sc)
      val t = metrics(group)
      if (k > 2)
        println(f"$k\t${math.pow(10, k).toLong}\t$name\t$wall%.2f\t${t.jobs}\t${t.tasks}\t${vmHwmMb()}")
    }

    println(s"# cpus=${Session.cpus} max_heap_mb=${Runtime.getRuntime.maxMemory >> 20}")
    println("log10_files\tfiles\top\twall_s\tjobs\ttasks\tvm_hwm_mb")
    for (k <- 2 +: decades) {
      val (src, dst) = tree(base, k)
      op(k, "export", Seq("-exportOnly", "-exportPath", base.resolve(s"plan-$k").toString,
        src.toString, base.resolve(s"out-$k").toString))
      op(k, "noop", Seq("-update", "-delete", "-pt", src.toString, dst.toString))
    }
    spark.stop()
  }
}
