package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-stage cost attribution for composite queries — the harness behind
  * SCALE.md's "stage probe" rows (t153's SetSimJoin≈70% attribution, the
  * t57 isolated-arm readings). [[ScaleRehearsal]] times whole registry
  * queries; this times named SUB-PLANS of one query so a wall-clock
  * number can be attributed to the stage that owns it before anyone
  * redesigns the wrong one. Same timing loop ([[QueryMetrics.timeArms]]):
  * warmup pass + interleaved min-of-n, job-group-keyed shuffle/spill.
  *
  * Probes are cumulative prefixes of the query's pipeline, so
  * arm[i+1] − arm[i] isolates one stage's cost. The t121 arms mirror
  * DupSpans/PrefixSum internals for attribution only — the operator
  * remains the single source of semantics (its own spec pins them).
  *
  * Usage: runMain graft.StageProbe <sfDir> <query>
  *   (query: t121 | t147 | t153 | t57)
  */
object StageProbe {

  /** t121 = DupSpans.strip → PrefixSum → pack. Cumulative arms:
    * grams_hash (the ONE corpus-sized tokenize+explode+hash),
    * dup_grams (+ the k-gram hash aggregation),
    * find_spans (+ candidate re-slice joins, exact verify, span merge),
    * strip_full (+ span collect + reassembly join + in-place token drop),
    * t121_full (+ prefix sum + chunk explode + pack agg). */
  private def t121Arms(k: Int = 8): Seq[(String, (SparkSession, String) => DataFrame)] = {
    def toks(s: SparkSession, d: String) =
      Tables.documents(s, d).select(col("doc_id").as("__id"),
        split(col("text"), java.util.regex.Pattern.quote(" ")).as("__t"))
    def sitesH(s: SparkSession, d: String) =
      toks(s, d)
        .filter(size(col("__t")) >= k)
        .select(col("__id"),
          posexplode(graft.functions.ArrayFns.kgramHashesAt(col("__t"), k)))
        .select(col("__id"), (col("pos") + 1).cast("long").as("p"), col("col").as("h"))
    Seq(
      "grams_hash" -> ((s, d) => sitesH(s, d)),
      "dup_grams" -> ((s, d) =>
        sitesH(s, d).groupBy(col("h"))
          .agg(countDistinct(col("__id")).as("nd"))
          .filter(col("nd") >= 2).select("h")),
      "find_spans" -> ((s, d) =>
        graft.operators.DupSpans.find(
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          "doc_id", "text", k)),
      "strip_full" -> ((s, d) =>
        graft.operators.DupSpans.strip(
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          "doc_id", "text", k)),
      "t121_full" -> ((s, d) =>
        SparkEntry.queries("t121_dedup_pack")(s, d)),
    )
  }

  /** t147 = SetSimJoin.join (PPJoin, τ=0.8) over doc bigram-hash sets.
    * Cumulative arms mirroring the operator's internals (attribution
    * only — `operators/SetSimJoin.scala` owns the semantics):
    * tokens_explode (the corpus-sized ngram-hash explode),
    * token_df (+ the token-keyed document-frequency wordcount),
    * prefix_build (+ df-join, per-doc collect+sort, prefix slice explode),
    * cand_pairs (+ the prefix×prefix join with length/positional filters
    * and the pair distinct — the stage the 0.73 exponent suspects),
    * t147_full (+ token-array joins, two-pointer verify, τ decision). */
  private def t147Arms(tauPct: Int = 80): Seq[(String, (SparkSession, String) => DataFrame)] = {
    def toks(s: SparkSession, d: String) =
      Tables.documents(s, d)
        .select(col("doc_id").as("__id"),
          graft.functions.ArrayFns.wordNgramHashes(lower(col("text")), 2).as("__t"))
        .filter(size(col("__t")) > 0)
    def u(s: SparkSession, d: String) =
      toks(s, d).select(col("__id"), size(col("__t")).cast("long").as("__n"),
        explode(col("__t")).as("__w"))
    def pre(s: SparkSession, d: String) = {
      val dfreq = u(s, d).groupBy(col("__w")).agg(count(lit(1)).as("__df"))
      u(s, d).join(dfreq, Seq("__w"))
        .groupBy(col("__id"))
        .agg(sort_array(collect_list(struct(col("__df"), col("__w")))).as("__o"),
          max(col("__n")).as("__n"))
        .select(col("__id"), col("__n"),
          posexplode(expr(
            s"slice(transform(__o, x -> x.__w), 1, cast(__n - (($tauPct * __n + 99) div 100) + 1 as int))")))
        .select(col("__id"), col("__n"), (col("pos") + 1).cast("long").as("__p"),
          col("col").as("__w"))
    }
    Seq(
      "tokens_explode" -> ((s, d) => u(s, d)),
      "token_df" -> ((s, d) =>
        u(s, d).groupBy(col("__w")).agg(count(lit(1)).as("__df"))),
      "prefix_build" -> ((s, d) => pre(s, d)),
      "cand_pairs" -> ((s, d) => {
        val p = pre(s, d).localCheckpoint()
        p.as("a")
          .join(p.as("b"), col("a.__w") === col("b.__w") &&
            col("a.__n") * 100 >= col("b.__n") * tauPct &&
            (col("a.__n") < col("b.__n") ||
              (col("a.__n") === col("b.__n") && col("a.__id") < col("b.__id"))) &&
            (lit(1L) + least(col("a.__n") - col("a.__p"), col("b.__n") - col("b.__p")))
              * lit(100L + tauPct) >= lit(tauPct.toLong) * (col("a.__n") + col("b.__n")))
          .select(
            least(col("a.__id"), col("b.__id")).as("__id1"),
            greatest(col("a.__id"), col("b.__id")).as("__id2"))
          .distinct()
      }),
      "t147_full" -> ((s, d) =>
        SparkEntry.queries("t147_ppjoin")(s, d)),
    )
  }

  /** t153 = probe-gram direct hits + t147's PPJoin pairs + connected
    * components + cluster closure. Cumulative arms (the PPJoin pipeline's
    * internal attribution lives in [[t147Arms]]):
    * direct_hits (probe distinct + gram join + per-doc distinct count),
    * ppjoin_pairs (+ the full SetSimJoin — t147's known 50 GB spiller),
    * components (+ large-small-star rounds over the pair set),
    * t153_full (+ flagged-component closure and the full-outer report). */
  private def t153Arms(): Seq[(String, (SparkSession, String) => DataFrame)] = {
    def pairs(s: SparkSession, d: String) =
      graft.queries.Similarity.bigramPairs(s, d)
        .select(col("doc_id1"), col("doc_id2"))
    Seq(
      "direct_hits" -> ((s, d) => {
        val grams = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(graft.functions.ArrayFns.wordNgramHashes(lower(col("text")), 3)).as("g"))
        val probe = grams.filter(col("doc_id") % 50 === 0).select("g").distinct()
        grams.filter(col("doc_id") % 50 =!= 0)
          .join(probe, "g")
          .groupBy(col("doc_id"))
          .agg(count_distinct(col("g")).as("ns"))
          .filter(col("ns") >= 3)
          .select(col("doc_id"))
      }),
      "ppjoin_pairs" -> ((s, d) => pairs(s, d)),
      "components" -> ((s, d) =>
        graft.operators.ConnectedComponents
          .largeSmallStar(pairs(s, d).localCheckpoint(), "doc_id1", "doc_id2")),
      "t153_full" -> ((s, d) =>
        SparkEntry.queries("t153_contamination_closure")(s, d)),
    )
  }

  /** t57's three certification arms ISOLATED plus both combined
    * schedules — NOT cumulative (each arm is independent; the delta
    * column is meaningless here, read sec/spill per row). */
  private val t57Arms: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "exact_n" -> ((s, d) =>
      Tables.lineitem(s, d).select(col("l_orderkey")).distinct()
        .agg(count(lit(1)).as("exact_n"))),
    "exact_p50" -> ((s, d) =>
      graft.operators.GroupedQuantiles.exact(
        Tables.lineitem(s, d).select(lit("all").as("g"), col("l_extendedprice")),
        "g", "l_extendedprice", Seq(0.5), s.sparkContext.defaultParallelism)),
    "sketches" -> ((s, d) =>
      Tables.lineitem(s, d).agg(
        approx_count_distinct(col("l_orderkey"), 0.01).as("est_n"),
        expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("p50_est"))),
    "combined_conc" -> ((s, d) =>
      graft.operators.SketchCertify.sketchAccuracy(
        Tables.lineitem(s, d), s.sparkContext.defaultParallelism)),
    "combined_seq" -> ((s, d) =>
      graft.operators.SketchCertify.sketchAccuracy(
        Tables.lineitem(s, d), s.sparkContext.defaultParallelism, sequentialArms = true)),
    // pairwise cross-joins to isolate WHICH arm spills when it executes as
    // a broadcast child instead of to a sink
    "pair_n_p50" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      li.select(col("l_orderkey")).distinct().agg(count(lit(1)).as("exact_n"))
        .crossJoin(graft.operators.GroupedQuantiles.exact(
          li.select(lit("all").as("g"), col("l_extendedprice")),
          "g", "l_extendedprice", Seq(0.5), s.sparkContext.defaultParallelism))
    }),
    "pair_n_sk" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      li.select(col("l_orderkey")).distinct().agg(count(lit(1)).as("exact_n"))
        .crossJoin(li.agg(
          approx_count_distinct(col("l_orderkey"), 0.01).as("est_n"),
          expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("p50_est")))
    }),
    "pair_p50_sk" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      graft.operators.GroupedQuantiles.exact(
          li.select(lit("all").as("g"), col("l_extendedprice")),
          "g", "l_extendedprice", Seq(0.5), s.sparkContext.defaultParallelism)
        .crossJoin(li.agg(
          approx_count_distinct(col("l_orderkey"), 0.01).as("est_n"),
          expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("p50_est")))
    }),
    // each arm materialized via eager localCheckpoint ALONE — does the
    // checkpoint execution path itself (no AQE final-stage re-planning)
    // reintroduce the spill the sink path avoids?
    "ckpt_n" -> ((s, d) =>
      Tables.lineitem(s, d).select(col("l_orderkey")).distinct()
        .agg(count(lit(1)).as("exact_n")).localCheckpoint()),
    "ckpt_p50" -> ((s, d) =>
      graft.operators.GroupedQuantiles.exact(
        Tables.lineitem(s, d).select(lit("all").as("g"), col("l_extendedprice")),
        "g", "l_extendedprice", Seq(0.5), s.sparkContext.defaultParallelism).localCheckpoint()),
    "ckpt_sk" -> ((s, d) =>
      Tables.lineitem(s, d).agg(
        approx_count_distinct(col("l_orderkey"), 0.01).as("est_n"),
        expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("p50_est")).localCheckpoint()),
  )

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: runMain graft.StageProbe <sfDir> <query>")
      sys.exit(2)
    }
    val Array(sfDir, query) = args.take(2)
    val arms = query match {
      case "t121" => t121Arms()
      case "t147" => t147Arms()
      case "t153" => t153Arms()
      case "t57" => t57Arms
      case other => sys.error(s"no stage probe defined for: $other")
    }
    val spark = Session.forCorpus("graft-stageprobe", sfDir)
    val timed = QueryMetrics.timeArms(spark,
      arms.map { case (n, build) => n -> (() => build(spark, sfDir)) })
    println(f"${"arm"}%-14s ${"sec"}%8s ${"delta"}%8s ${"shuffleMB"}%10s ${"spillMB"}%8s")
    var prev = 0.0
    timed.foreach { r =>
      println(f"${r.name}%-14s ${r.seconds}%8.2f ${r.seconds - prev}%8.2f " +
        f"${r.totals.shuffleWrite / 1e6}%10.1f ${r.totals.spill / 1e6}%8.1f")
      prev = r.seconds
    }
    spark.stop()
  }
}
