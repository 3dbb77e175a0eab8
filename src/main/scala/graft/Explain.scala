package graft

/** Plan auditor: prints the formatted physical plan for the named queries
  * (or all) so scan pruning (ReadSchema/PushedFilters), join strategies
  * (BroadcastHashJoin vs SortMergeJoin), and WholeStageCodegen spans can be
  * reviewed. Usage: runMain graft.Explain [sfDir] [name...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.registry.map(_.name)
    val spark = Session.forCorpus("graft-explain", sfDir)
    names.foreach { n =>
      println(s"\n================ $n ================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
