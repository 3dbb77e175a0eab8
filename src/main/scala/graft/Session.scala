package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one place a graft entry point builds its SparkSession. Bench,
  * Verify, the copy CLI, the diagnostics and the spec session differ only
  * in app name, master and the (shuffle.partitions, AQE
  * initialPartitionNum) sizing pair; every other setting is shared, so
  * a diagnostic plans and times the engine the bench and the correctness
  * dump run.
  */
object Session {

  /** Local cores: SPARK_GRAFT_CPUS, else every core the JVM sees. */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The sizing pair: `spark.sql.shuffle.partitions` (the non-AQE floor)
    * and the initial partition number AQE coalesces down from. */
  def sizing(partitions: Int, initial: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> partitions.toString,
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> initial.toString)

  private val shared: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    // events.ts ships as INT64 TIMESTAMP(NANOS) in some corpus
    // generations; without this a read fails with PARQUET_TYPE_ILLEGAL
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.ui.enabled" -> "false",
    // default 100 evicts across a 45-query suite (~4 codegen units each),
    // forcing janino recompiles of identical source on every repeat run
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    // Suite-growth hygiene (round-9 drift diagnosis): per-query times
    // carry SHARED-JVM overhead that scales with the whole suite, not the
    // query — the r9 binary re-run on the r8 123-query subset alone came
    // in 13% UNDER r8 while the same queries inside the 161-run read 16%
    // over. Status stores are one accumulating term: even with the UI off,
    // SQLAppStatusListener retains 1000 executions' plan graphs and the
    // job/stage stores default to 1000 entries each — a 161×3-pass run
    // holds ~500 execution plans on heap. Retain a handful instead.
    "spark.sql.ui.retainedExecutions" -> "15",
    "spark.ui.retainedJobs" -> "100",
    "spark.ui.retainedStages" -> "100",
    "spark.ui.retainedTasks" -> "5000")

  /** Every setting a session built with `sizing` runs under. */
  def settings(sizing: Seq[(String, String)]): Seq[(String, String)] = sizing ++ shared

  def apply(appName: String, master: String, sizing: Seq[(String, String)]): SparkSession = {
    val builder = SparkSession.builder().appName(appName).master(master)
    settings(sizing).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // [[sweep]] emits one intended WARN per checkpointed RDD ("lineage
    // truncated, cannot be recomputed"); silence that logger so output
    // lines aren't buried in noise
    Configurator.setLevel("org.apache.spark.rdd.MapPartitionsRDD", Level.ERROR)
    spark
  }

  /** A `local[cpus]` session over the corpus under `dir`, partitions scaled
    * with its size (see [[ShuffleSizing]]). */
  def forCorpus(appName: String, dir: String): SparkSession =
    apply(appName, s"local[$cpus]", ShuffleSizing.configs(dir, cpus))

  /** Drop the blocks a query materialized (localCheckpoint), so a run of
    * many queries does not accumulate executor storage memory. With a
    * [[mark]], only RDDs created after it are dropped. */
  def sweep(spark: SparkSession, after: Int = -1): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (id > after) rdd.unpersist(blocking = false)
    }

  /** An RDD id watermark: every RDD created later has a larger id. */
  def mark(spark: SparkSession): Int = spark.sparkContext.emptyRDD[Unit].id
}
