package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

/** What one bench run hands back to run.py: unit counts, named metrics with
  * their units, and the errors of failed units. Written as JSON once the run
  * ends. */
final class Report {
  var attempted = 0L
  var failed = 0L
  var mismatched = 0L
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val errors = mutable.LinkedHashMap.empty[String, Int]
  val notes = mutable.ArrayBuffer.empty[String]
  /** query name → (executions, failed executions); run.py adds oracle
    * mismatches on top. */
  val queryUnits = mutable.LinkedHashMap.empty[String, (Int, Int)]

  def metric(name: String, value: Double, unit: String): Unit =
    if (!value.isNaN && !value.isInfinite) metrics(name) = (value, unit)

  def error(msg: String): Unit = errors(msg) = errors.getOrElse(msg, 0) + 1

  def write(p: Path): Unit = {
    import Report._
    val ms = metrics.map { case (k, (v, u)) => s"${str(k)}:[$v,${str(u)}]" }.mkString("{", ",", "}")
    val es = errors.map { case (k, n) => s"${str(k)}:$n" }.mkString("{", ",", "}")
    val qs = queryUnits.map { case (k, (a, f)) => s"${str(k)}:[$a,$f]" }.mkString("{", ",", "}")
    Files.writeString(p,
      s"""{"attempted":$attempted,"failed":$failed,"mismatched":$mismatched,"metrics":$ms,""" +
        s""""errors":$es,"notes":${notes.map(str).mkString("[", ",", "]")},"query_units":$qs}""" + "\n")
  }
}

object Report {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Counters of this process's I/O system calls (rchar, wchar). */
  def procIo(): (Long, Long) = {
    val kv = Files.readAllLines(Path.of("/proc/self/io")).toArray.map(_.toString.split(":\\s*"))
      .collect { case Array(k, v) => k -> v.trim.toLong }.toMap
    (kv.getOrElse("rchar", 0L), kv.getOrElse("wchar", 0L))
  }

  /** CPU time of this process, all threads, in ns. */
  def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def memTotalGib(): Double =
    Files.readAllLines(Path.of("/proc/meminfo")).toArray.map(_.toString)
      .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toDouble / 1048576).getOrElse(Double.NaN)

  /** Peak resident set size of this process, MiB. */
  def peakRssMib(): Double =
    Files.readAllLines(Path.of("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** The most specific exception named in an error text: the first one that
    * is not Spark's own job-abort wrapper. */
  def rootError(text: String): String = {
    val rx = """([A-Za-z_$][\w.$]*(?:Exception|Error))(?=(: [^\n]*)?)""".r
    val all = rx.findAllMatchIn(text).map(m => m.group(1) + Option(m.group(2)).getOrElse("")).toSeq
    val specific = all.filterNot(_.startsWith("org.apache.spark.SparkException"))
    specific.headOption.orElse(all.headOption).getOrElse(text.linesIterator.nextOption().getOrElse(""))
      .take(300)
  }
}
