package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer's public entry point. `parent` is the span id
  * of the caller (-1 for an op's root span); spans of one op share `op`. */
final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Each span sets a Spark job group named after its
  * id, so [[SpanListener]] can attribute jobs, stages and tasks to it; the
  * innermost open span owns the group. Spans are written out by the caller
  * once the run ends. */
final class Tracer(sc: SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  private var open = List.empty[(Int, String)]

  def span[T](name: String, op: Int)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open = (id, name) :: open
    sc.setJobGroup(id.toString, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, name, parent, op, t0, System.nanoTime())
      open = open.tail
      open.headOption match {
        case Some((p, pName)) => sc.setJobGroup(p.toString, pName, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** [[span]] that also returns the span it recorded. */
  def timed[T](name: String, op: Int)(body: => T): (T, Span) = {
    val r = span(name, op)(body)
    (r, spans.last)
  }

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":${Report.str(s.name)},"parent":${s.parent},"op":${s.op},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[", ",\n", "]")
}

/** Spark work attributed to one span (job group). Task times are
  * launch-to-finish milliseconds as the scheduler reports them. */
final class SpanStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskMsByStage = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]

  def taskSeconds: Double = taskMs / 1e3
  def longestTaskMs: Long = taskMsByStage.values.flatten.maxOption.getOrElse(0L)

  /** Longest ÷ median task of the stage that took the most task time. */
  def heaviestStageSkew: Double =
    taskMsByStage.values.maxByOption(_.sum) match {
      case Some(ts) if ts.nonEmpty =>
        val sorted = ts.sorted
        val med = sorted(sorted.length / 2)
        if (med > 0) sorted.last.toDouble / med else 1.0
      case _ => 1.0
    }
}

/** Job-group-keyed listener: every job started under a span's group, and
  * every stage and task of that job, count toward that span. Keyed on the
  * group rather than on time windows, so late listener events still land on
  * the span that caused them. */
final class SpanListener extends SparkListener {
  private val bySpan = new ConcurrentHashMap[String, SpanStats]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()

  private def stats(span: String): SpanStats = bySpan.computeIfAbsent(span, _ => new SpanStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.foreach { g =>
      val s = stats(g)
      s.synchronized { s.jobs += 1 }
      e.stageIds.foreach(stageSpan.put(_, g))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { g =>
      val s = stats(g)
      s.synchronized { s.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { g =>
      val s = stats(g)
      val m = e.taskMetrics
      s.synchronized {
        s.tasks += 1
        s.taskMs += e.taskInfo.duration
        s.taskMsByStage.getOrElseUpdate(e.stageId, ArrayBuffer.empty[Long]) += e.taskInfo.duration
        if (m != null) {
          s.gcMs += m.jvmGCTime
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.diskBytesSpilled
        }
      }
    }

  def get(spanId: Int): SpanStats = Option(bySpan.get(spanId.toString)).getOrElse(new SpanStats)
}
