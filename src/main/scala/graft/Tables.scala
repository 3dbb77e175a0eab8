package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated test tables (TESTDATA.md / FIXTURES.md §1).
  *
  * All tables are plain parquet. `events.ts` has shipped in two physical
  * layouts across testdata generations: INT64 TIMESTAMP(NANOS) — which
  * Spark's vectorized reader rejects ([PARQUET_TYPE_ILLEGAL]) unless
  * `spark.sql.legacy.parquet.nanosAsLong=true`, under which it arrives as a
  * raw ns Long — and plain TIMESTAMP(MICROS), which arrives as TimestampType.
  * [[events]] normalizes both to the same two columns: the raw `ts_ns: Long`
  * (epoch nanoseconds) and a µs proper timestamp `ts_us`. This matches
  * DuckDB's `epoch_ns(ts)` on the oracle side, which returns epoch ns for
  * both TIMESTAMP and TIMESTAMP_NS inputs.
  */
object Tables {

  /** Normalize a `ts` column of any shipped physical layout to epoch-ns
    * Long. TIMESTAMP_NTZ (isAdjustedToUTC=false footers) is interpreted as
    * UTC wall time INDEPENDENT of spark.sql.session.timeZone: the naive
    * value is first shifted into the session zone (convert_timezone) so
    * the session-zoned cast lands on the UTC-interpreted epoch — matching
    * DuckDB's naive-timestamp `epoch_ns(ts)` on the oracle side for any
    * caller session, not just the repo's own UTC-pinned entrypoints. (The
    * round-trip is exact except for wall times falling inside the session
    * zone's DST transition hour; UTC sessions have none.) */
  def tsNs(schema: StructType, tsCol: String = "ts"): Column =
    schema(tsCol).dataType match {
      case LongType         => col(tsCol)                           // nanosAsLong path
      case TimestampType    => unix_micros(col(tsCol)) * lit(1000L) // µs timestamp path
      case TimestampNTZType =>
        unix_micros(
          convert_timezone(lit("UTC"), expr("current_timezone()"), col(tsCol))
            .cast(TimestampType)) * lit(1000L)
      case other => throw new IllegalStateException(
        s"events.$tsCol has unsupported type $other (expected Long ns or Timestamp µs/NTZ)")
    }

  /** Session settings that change what parquet schema inference returns
    * (`nanosAsLong` turns a NANOS column into a Long). */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** Most table paths [[schemas]] holds before it starts over. */
  private val MaxSchemas = 256

  /** Parquet schemas inferred so far, per qualified table path and values
    * of [[InferenceConfs]], with the listing (name, length, modification
    * time of every file) they were inferred from: inference runs a
    * one-task Spark job per read, and a query reads the same few tables
    * over and over. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[(String, Seq[String]), (Seq[(String, Long, Long)], StructType)]()

  /** The parquet table `name` under `dir`. A read whose table files are
    * listed as the last inference saw them reuses that schema and runs no
    * Spark job; a first read, or one after any file was rewritten, added
    * or removed, infers it as Spark does. A missing table fails as Spark
    * reports it. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = new Path(s"$dir/$name.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listing =
      try {
        val it = fs.listFiles(path, true)
        val files = Seq.newBuilder[(String, Long, Long)]
        while (it.hasNext) { val st = it.next(); files += ((st.getPath.toString, st.getLen, st.getModificationTime)) }
        Some(files.result().sortBy(_._1))
      } catch { case _: java.io.FileNotFoundException => None }
    val key = (fs.makeQualified(path).toString, InferenceConfs.map(spark.conf.getOption(_).toString))
    listing.flatMap(l => Option(schemas.get(key)).filter(_._1 == l)) match {
      case Some((_, schema)) => spark.read.schema(schema).parquet(path.toString)
      case None =>
        val df = spark.read.parquet(path.toString)
        listing.foreach { l =>
          if (schemas.size >= MaxSchemas) schemas.clear()
          schemas.put(key, (l, df.schema))
        }
        df
    }
  }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")

  /** embeddings with `embedding` normalized to ARRAY<FLOAT> — the type the
    * codegen'd similarity kernels (functions.SimExprs) bind to. Guards the
    * same class of generator drift that hit events.ts in round 8: a future
    * float64 re-generation degrades to one map-side cast instead of
    * breaking every ANN/dedup query. */
  def embeddings(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val raw = table(s, d, "embeddings")
    raw.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => raw
      case _: ArrayType =>
        raw.withColumn("embedding", col("embedding").cast(ArrayType(FloatType)))
      case other => throw new IllegalStateException(
        s"embeddings.embedding has unsupported type $other (expected ARRAY<FLOAT>)")
    }
  }

  /** events with `ts_ns: Long` (raw epoch ns) and `ts_us: Timestamp` (µs). */
  def events(s: SparkSession, d: String): DataFrame = {
    // the nanosAsLong legacy flag is flipped ONLY when the footer actually
    // carries the TIMESTAMP(NANOS) physical layout (the read fails without
    // it) — a session reading µs-layout events keeps its conf untouched,
    // so a library caller's unrelated NANOS parquet reads still fail loud
    // the way they expect. Once set it stays set (Spark captures the conf
    // into the scan at planning, so a restore would break THIS read).
    val raw =
      try table(s, d, "events")
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if !java.lang.Boolean.parseBoolean(
              s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")) =>
          s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          table(s, d, "events")
      }
    val cols = raw.columns.map {
      case "ts" => tsNs(raw.schema).as("ts_ns")
      case c    => col(c)
    }
    raw.select(cols.toIndexedSeq: _*)
      // FLOOR division ns → µs: `div` truncates toward zero, which rounds
      // a pre-1970 (negative) timestamp UP by 1 µs; post-1970 values are
      // unaffected by the correction term
      .withColumn("ts_us", timestamp_micros(
        expr("(ts_ns div 1000) - (CASE WHEN ts_ns % 1000 < 0 THEN 1 ELSE 0 END)")))
  }
}
