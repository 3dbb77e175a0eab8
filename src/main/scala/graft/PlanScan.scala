package graft

/** Plan-audit diagnostic: builds every registered query and tallies physical
  * operators from the executed plan, flagging scale anti-patterns
  * (CartesianProduct, single-partition Window.orderBy shows up as a Window
  * whose required distribution is all-tuples — approximated here by an
  * `Exchange SinglePartition` feeding a Window). Source of the operator
  * counts quoted in SCALE.md.
  *
  * Usage: runMain graft.PlanScan [sfDir]  (default sf0.001 — q20/t41 run
  * eager jobs at build time, so small data keeps the scan fast)
  *
  * SPARK_GRAFT_PLANSCAN_OUT=<path> additionally writes the raw census as a
  * JSON artifact (name-sorted queries, nonzero counts only) so per-round
  * operator drift — a new BroadcastNestedLoopJoin, a lost broadcast, an
  * extra SinglePartition exchange — is a one-line `diff PLANSCAN_r{N}.json
  * PLANSCAN_r{N-1}.json` instead of prose in SCALE.md.
  */
object PlanScan {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.forCorpus("graft-planscan", sfDir)
    val keys = Seq(
      "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct",
      "HashAggregate", "ObjectHashAggregate", "SortAggregate",
      "Window", "Exchange SinglePartition",
      // runtime partition pruning planted in a scan's PartitionFilters
      // (t80's contract; informational — more is better)
      "dynamicpruning")
    val totals = scala.collection.mutable.LinkedHashMap(keys.map(_ -> 0): _*)
    val perQuery = scala.collection.mutable.LinkedHashMap.empty[String, Seq[(String, Int)]]
    val fails = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.registry.foreach { q =>
      try {
        val plan = q.build(spark, sfDir).queryExecution.executedPlan.toString
        // word-boundary match so "HashAggregate" doesn't also count every
        // ObjectHashAggregate, nor "Window" every WindowGroupLimit
        val hits = keys.map(k =>
          k -> ("\\b" + java.util.regex.Pattern.quote(k) + "\\b").r
            .findAllMatchIn(plan).size)
        hits.foreach { case (k, n) => totals(k) += n }
        perQuery(q.name) = hits.filter(_._2 > 0)
        if (sys.env.contains("SPARK_GRAFT_PLANSCAN_VERBOSE")) {
          val nz = hits.filter(_._2 > 0)
          println(s"DETAIL ${q.name}: ${nz.map { case (k, n) => s"$k x$n" }.mkString(", ")}")
        }
        val bad = hits.filter { case (k, n) =>
          n > 0 && (k == "CartesianProduct" || k == "Exchange SinglePartition")
        }
        if (bad.nonEmpty)
          println(s"WARN ${q.name}: ${bad.map { case (k, n) => s"$k x$n" }.mkString(", ")}")
      } catch {
        case e: Throwable =>
          println(s"FAIL ${q.name}: ${e.getMessage}")
          fails += q.name
      }
      Session.sweep(spark)
    }
    println(totals.map { case (k, n) => s"$k=$n" }.mkString("TOTALS ", " ", ""))
    sys.env.get("SPARK_GRAFT_PLANSCAN_OUT").foreach { path =>
      def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
      def obj(kvs: Seq[(String, Int)]) =
        kvs.map { case (k, n) => s""""${esc(k)}": $n""" }.mkString("{", ", ", "}")
      val queries = perQuery.toSeq.sortBy(_._1)
        .map { case (name, kvs) => s"""    "${esc(name)}": ${obj(kvs)}""" }
        .mkString(",\n")
      val json =
        s"""{
           |  "sf_dir": "${esc(sfDir)}",
           |  "n_queries": ${perQuery.size},
           |  "fails": ${fails.sorted.map(n => s""""${esc(n)}"""").mkString("[", ", ", "]")},
           |  "totals": ${obj(totals.toSeq)},
           |  "queries": {
           |$queries
           |  }
           |}
           |""".stripMargin
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"WROTE $path")
    }
    spark.stop()
  }
}
