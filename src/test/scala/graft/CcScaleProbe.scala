package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.ConnectedComponents

/** Connected components on synthetic graphs on both sides of
  * `ConnectedComponents.LocalEdgeBound`: wall time and Spark jobs of the
  * distributed loop (local-solve bound 0) and the driver-side
  * union-find (bound ∞) at each size, so the bound is set from measured
  * crossovers rather than estimates. Not a suite; run it with
  *
  *   sbt -batch "Test/runMain graft.CcScaleProbe 14,17,20 random"
  *
  * Shapes (2^k rows each, ids are Longs):
  *   random — endpoints hashed into 2^k ids: one giant component plus
  *            many small trees, every round of the loop busy
  *   pairs  — 2^k disjoint edges: the most nodes (2^(k+1)) and star rows
  *            (2^k) an edge count admits, the local path's memory worst case
  * An optional third argument picks the bounds (`0`, `max`; default both).
  * SPARK_DRIVER_MEM sets the forked JVM's -Xmx (build.sbt), so running one
  * bound under a small heap shows whether that path fits in it.
  *
  * Output: one TSV line per (size, bound) — log2_edges edges bound wall_s
  * jobs, the fastest of SPARK_GRAFT_REHEARSAL_RUNS interleaved passes
  * ([[QueryMetrics.timeArms]]).
  */
object CcScaleProbe {

  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.getOrElse("14,17,20").split(',').map(_.toInt).toSeq
    val shape = args.lift(1).getOrElse("random")
    val bounds = args.lift(2).getOrElse("0,max").split(',').toSeq
      .map(b => if (b == "max") Long.MaxValue else b.toLong)
    val spark = Session("graft-ccprobe", s"local[${Session.cpus}]",
      Session.sizing(Session.cpus, Session.cpus))

    def graph(k: Int): DataFrame = {
      val n = 1L << k
      val ids = spark.range(n)
      shape match {
        case "random" => ids.select(
          pmod(xxhash64(col("id"), lit(1)), lit(n)).as("a"),
          pmod(xxhash64(col("id"), lit(2)), lit(n)).as("b"))
        case "pairs" => ids.select((col("id") * 2).as("a"), (col("id") * 2 + 1).as("b"))
        case other => sys.error(s"unknown shape $other (random, pairs)")
      }
    }

    def label(bound: Long) = if (bound == Long.MaxValue) "max" else bound.toString

    println(s"# shape=$shape max_heap_mb=${Runtime.getRuntime.maxMemory >> 20} " +
      s"cpus=${Session.cpus} default_bound=${ConnectedComponents.LocalEdgeBound}")
    println("log2_edges\tedges\tbound\twall_s\tjobs")
    for (k <- sizes) {
      val g = graph(k) // a cheap plan, rebuilt per run: timeArms sweeps checkpoints
      val edges = g.filter(col("a") =!= col("b")).distinct().count()
      val arms = bounds.map { b =>
        s"$k-${label(b)}" ->
          (() => ConnectedComponents.largeSmallStarWithRounds(g, "a", "b", localBound = b)._1)
      }
      QueryMetrics.timeArms(spark, arms).zip(bounds).foreach { case (r, b) =>
        println(f"$k\t$edges\t${label(b)}\t${r.seconds}%.3f\t${r.totals.jobs}")
      }
      Session.sweep(spark)
    }
    spark.stop()
  }
}
