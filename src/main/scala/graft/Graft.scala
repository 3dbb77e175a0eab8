package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{Args, CopyConfig}
import graft.exec.Executor
import graft.plan.{CopyPlan, Planner}

/** The library facade — what a user of the reference would call instead of
  * `hadoop jar distcp.jar` or the programmatic `new DistCPPlus(conf, isReal)`
  * embed (DistCPPlus.java:151-158).
  *
  * Copy layer:
  * {{{
  *   val cfg   = Graft.parseArgs(Seq("-update", "-delete", "-pt", src, dst))
  *   val plan  = Graft.plan(spark, cfg)       // planned, not run: inspect first
  *   if (plan.hasFileCopied) Graft.execute(spark, plan, cfg)
  * }}}
  *
  * Analytics layer:
  * {{{
  *   Graft.registerViews(spark, "/data/sf100")  // tables as temp views
  *   spark.sql("SELECT ... FROM lineitem JOIN orders ON ...")
  *   Graft.query(spark, "/data/sf100", "t31_minhash_lsh")  // registry entry
  * }}}
  */
object Graft {

  val TableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Parse the distcp-style CLI flag surface (Arguments.java:111-272). */
  def parseArgs(argv: Seq[String]): Either[String, CopyConfig] = Args.parse(argv)

  /** Plan a copy without executing (ref op 19 dry-run semantics). */
  def plan(spark: SparkSession, cfg: CopyConfig): CopyPlan = Planner.plan(spark, cfg)

  /** Execute a previously-built plan. */
  def execute(spark: SparkSession, p: CopyPlan, cfg: CopyConfig): Executor.CopyStats =
    Executor.execute(spark, p, cfg)

  /** Plan + execute in one call. */
  def copy(spark: SparkSession, cfg: CopyConfig): Executor.CopyStats =
    execute(spark, plan(spark, cfg), cfg)

  /** Register every test-corpus table as a temp view so `spark.sql` works
    * directly (`events` exposed with ts_ns/ts_us, see Tables.events). */
  def registerViews(spark: SparkSession, dir: String): Unit =
    TableNames.foreach {
      case "events" => Tables.events(spark, dir).createOrReplaceTempView("events")
      case t => Tables.table(spark, dir, t).createOrReplaceTempView(t)
    }

  /** Run a registry query by name (see README.md for the catalog). */
  def query(spark: SparkSession, dir: String, name: String): DataFrame =
    SparkEntry.queries.getOrElse(
      name,
      throw new IllegalArgumentException(
        s"unknown query '$name'; available: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"),
    )(spark, dir)

  /** Point-in-time join — see [[graft.operators.AsofJoin.asof]]. */
  def asofJoin(
      probe: DataFrame,
      build: DataFrame,
      keys: Seq[String],
      probeTime: String,
      buildTime: String,
      strict: Boolean = false,
      forward: Boolean = false,
      tolerance: Option[org.apache.spark.sql.Column] = None): DataFrame =
    operators.AsofJoin.asof(probe, build, keys, probeTime, buildTime, strict, forward, tolerance)

  /** Skew-mitigated equi-join — see [[graft.operators.SaltedJoin.join]]. */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      salts: Int,
      joinType: String = "inner"): DataFrame =
    operators.SaltedJoin.join(left, right, keys, salts, joinType)

  /** Per-key top-k without sorting key groups (custom plan node) — see
    * [[graft.operators.TopK.perKey]]. */
  def topKPerKey(
      df: DataFrame,
      keys: Seq[String],
      order: Seq[org.apache.spark.sql.Column],
      k: Int): DataFrame =
    operators.TopK.perKey(df, keys, order, k)

  /** Time-series densification — see [[graft.operators.GapFill.gapFill]]. */
  def gapFill(
      df: DataFrame,
      keys: Seq[String],
      bucket: String,
      fills: Map[String, org.apache.spark.sql.Column],
      maxBucketsPerKey: Long = 10_000_000L): DataFrame =
    operators.GapFill.gapFill(df, keys, bucket, fills, maxBucketsPerKey)

  /** Fit a unigram LM on `train` and score `docs` by average per-token
    * negative log-likelihood in integer micro-nats (CCNet-style quality
    * filtering) — see [[graft.operators.LmScore]]. */
  def lmQualityScore(
      docs: DataFrame,
      train: DataFrame,
      id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val lm = operators.LmScore.vocab(operators.LmScore.tokens(train, id, text))
    operators.LmScore.score(docs, id, text, lm, operators.LmScore.totals(lm))
  }

  /** 8×8 average-hash signatures of a GRFT1-raster (id, payload) frame —
    * one shuffle-free partition-wise decode pass; see
    * [[graft.queries.Multimodal.aHashBands]]. Returns (doc_id, bands). */
  def imageSignatures(
      df: DataFrame,
      id: String = "doc_id",
      payload: String = "payload"): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, concat, expr, lit, raise_error, when}
    // same quarantine semantics as binaryFileIngest: a null or non-numeric
    // id fails LOUDLY with the offending value in the message instead of
    // becoming a null long that NPEs namelessly in the decode kernel's
    // r.getLong(0)
    val idCol = expr(s"try_cast(`${id.replace("`", "``")}` AS BIGINT)")
    queries.Multimodal.aHashBands(
      df.select(
        when(idCol.isNull,
          raise_error(concat(
            lit(s"imageSignatures: id column '$id' is not a valid BIGINT: "),
            coalesce(col(id).cast("string"), lit("NULL")))).cast("long"))
          .otherwise(idCol)
          .as("doc_id"),
        col(payload).as("payload")))
  }

  /** Image near-dup admission of a batch of signatures against a static
    * signature store (both (doc_id, bands) frames from
    * [[imageSignatures]]) — banded candidates, probe-time bucket cap,
    * exact Hamming ≤ 6 verify; see
    * [[graft.queries.Multimodal.phashAdmission]]. */
  def imageAdmission(batchSigs: DataFrame, storeSigs: DataFrame): DataFrame =
    queries.Multimodal.phashAdmission(batchSigs, storeSigs)

  /** Bounded-cadence LSH recall certification with the slice size as the
    * statistical-power knob (200 ≈ the cheap probe, 2000 ≈ the
    * guarantee-grade ±≤60 bp form; truth-arm cost is O(slice²) at ANY
    * corpus size) — see [[graft.queries.Similarity.lshRecallCadence]]. */
  def lshRecallCertification(spark: SparkSession, dir: String, sliceDocs: Int = 200): DataFrame = {
    require(sliceDocs >= 2, s"need at least 2 docs in the slice, got $sliceDocs")
    queries.Similarity.lshRecallCadence(spark, dir, sliceDocs)
  }

  /** [[lshRecallCertification]] over any (doc_id, text, ...) frame — point
    * it at the production corpus; ci95_bp self-reports the statistical
    * power the chosen slice actually bought. */
  def lshRecallCertification(docs: DataFrame, sliceDocs: Int): DataFrame = {
    require(sliceDocs >= 2, s"need at least 2 docs in the slice, got $sliceDocs")
    queries.Similarity.lshRecallCadenceDocs(docs, sliceDocs)
  }

  /** Inject the graft_* SQL functions into a live session — see
    * [[GraftExtensions.register]] (builder-time sessions can use
    * `.withExtensions(new GraftExtensions)` instead). */
  def registerFunctions(spark: SparkSession): Unit = GraftExtensions.register(spark)
}
