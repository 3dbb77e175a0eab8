package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.GraftListenerDrain
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan auditor: prints the formatted physical plan for the named queries
  * (or all) so scan pruning (ReadSchema/PushedFilters), join strategies
  * (BroadcastHashJoin vs SortMergeJoin), and WholeStageCodegen spans can be
  * reviewed. Each query's plan follows the plans of the actions its build
  * ran (eager `localCheckpoint`s, counts, collects, writes), in order: the
  * final plan reads a checkpointed sub-plan as one `Scan ExistingRDD`.
  * Usage: runMain graft.Explain [sfDir] [name...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.registry.map(_.name)
    val spark = Session.forCorpus("graft-explain", sfDir)
    val actions = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, durationNs: Long): Unit = actions.add(action -> qe)
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    names.foreach { n =>
      println(s"\n================ $n ================")
      val df = SparkEntry.queries(n)(spark, sfDir)
      GraftListenerDrain.drain(spark.sparkContext) // listener events arrive asynchronously
      Iterator.continually(actions.poll()).takeWhile(_ != null).zipWithIndex.foreach { case ((action, qe), i) =>
        println(s"---------------- build action ${i + 1}: $action ----------------")
        println(qe.explainString(ExplainMode.fromString("formatted")))
      }
      df.explain("formatted")
    }
    spark.stop()
  }
}
