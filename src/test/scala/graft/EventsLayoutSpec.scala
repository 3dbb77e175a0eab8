package graft

import java.nio.file.Files

import org.apache.spark.GraftListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** Regression for the round-8 testdata schema drift: `events.ts` has
  * shipped as INT64 nanos (read as raw Long under nanosAsLong), plain
  * TIMESTAMP(MICROS), and TIMESTAMP_NTZ across generations. Tables.tsNs
  * must normalize every layout to the SAME epoch-ns Long — this spec
  * writes the same logical instants in each writable layout and asserts
  * the loader's ts_ns/ts_us agree bit-for-bit.
  */
class EventsLayoutSpec extends SparkTestBase {
  import spark.implicits._

  // µs-aligned instants (the ns layout would truncate sub-µs anyway)
  private val instantsNs = Seq(
    0L, 1000L, 1755100000000000000L, 812345678901234000L)

  private def write(mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): String = {
    val base = instantsNs.zipWithIndex
      .map { case (ns, i) => (i.toLong, ns, i.toLong, s"t$i", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = Files.createTempDirectory("graft_evlayout").toString
    mk(base).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def load(dir: String): Seq[(Long, Long, java.sql.Timestamp)] =
    Tables.events(spark, dir)
      .select(col("event_id"), col("ts_ns"), col("ts_us"))
      .orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2))).toSeq

  private def writeAndLoad(mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : Seq[(Long, Long, java.sql.Timestamp)] = load(write(mk))

  test("Long-ns, Timestamp-µs, and Timestamp-NTZ layouts normalize identically") {
    val asLong = writeAndLoad(identity) // ts stays BIGINT → the raw-ns path
    val asTs = writeAndLoad(df =>
      df.withColumn("ts", timestamp_micros(expr("ts div 1000"))))
    val asNtz = writeAndLoad(df =>
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz")))
    assert(asLong == asTs, "µs-timestamp layout diverges from raw-ns layout")
    assert(asLong == asNtz, "NTZ layout diverges from raw-ns layout")
    // and the values really are the planted instants
    assert(asLong.map(_._2) == instantsNs)
  }

  test("NTZ normalization is session-timezone independent") {
    // the file carries UTC wall times (written under the repo's UTC pin —
    // the generator contract); a library caller READING without that pin
    // must still get the same epochs (review finding: the plain
    // NTZ→timestamp cast silently shifted by the session's UTC offset)
    val dir = write(df =>
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz")))
    withConf("spark.sql.session.timeZone" -> "America/New_York") {
      assert(load(dir).map(_._2) == instantsNs,
        "NTZ epoch values must not depend on spark.sql.session.timeZone")
    }
  }

  test("a float64 embeddings re-generation casts down to ARRAY<FLOAT>, not a break") {
    val dir = Files.createTempDirectory("graft_emblayout").toString
    Seq((1L, Seq(1.0, 0.5), 0), (2L, Seq(0.25, -1.0), 1))
      .toDF("vec_id", "embedding", "label") // Seq[Double] → list<double> on disk
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val loaded = Tables.embeddings(spark, dir)
    assert(loaded.schema("embedding").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
    val v = loaded.orderBy("vec_id").collect()
      .map(_.getSeq[Float](1).toSeq)
    assert(v.toSeq == Seq(Seq(1.0f, 0.5f), Seq(0.25f, -1.0f)))
  }

  test("an unsupported ts type fails loudly, not with silent garbage") {
    val err = intercept[IllegalStateException] {
      Tables.tsNs(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.StringType))))
    }
    assert(err.getMessage.contains("unsupported type"))
  }

  test("a second read of a table runs no Spark job, and a rewritten file is re-inferred") {
    val dir = Files.createTempDirectory("graft_tables").toString
    val path = s"$dir/t.parquet"
    Seq((1L, "a")).toDF("id", "s").write.parquet(path)
    // the read's schema and the Spark jobs it ran
    def read(): (Seq[String], Int) = {
      val sc = spark.sparkContext
      val group = s"tables-${System.nanoTime()}"
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit =
          if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group)) jobs.incrementAndGet()
      }
      sc.addSparkListener(listener)
      sc.setJobGroup(group, group, interruptOnCancel = false)
      try {
        val names = Tables.table(spark, dir, "t").schema.fieldNames.toSeq
        (names, { assert(GraftListenerDrain.drain(sc)); jobs.get })
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(listener)
      }
    }
    val (first, _) = read()
    assert(first == Seq("id", "s"))
    assert(read() == ((first, 0)))
    // a rewrite lists new files, whatever the directory's own status
    Seq((1L, 2.0, "a")).toDF("id", "x", "s").write.mode("overwrite").parquet(path)
    assert(read()._1 == Seq("id", "x", "s"))
    assert(read() == ((Seq("id", "x", "s"), 0)))
    // a missing table fails as Spark reports it
    intercept[org.apache.spark.sql.AnalysisException](Tables.table(spark, dir, "missing"))
  }
}
