package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram language-model quality scoring (CCNet-style perplexity
  * filtering, Wenzek et al. LREC'20): fit token counts on a target slice,
  * score any document set by its average per-token negative
  * log-likelihood under that LM — the t113 engine, factored out so the
  * batch query and the streaming ingestion stage run the IDENTICAL
  * computation (per-doc function of a static LM ⇒ micro-batch union
  * equals one-shot batch, proven in StreamingSpec).
  *
  * Numerics are engine-portable by construction: each token's cost is
  * quantized to BIGINT micro-nats once (per distinct count value), the
  * per-doc sum is an exact integer sum (order-independent under partial
  * aggregation), and the mean is an integer division.
  *
  * 100-TB shape: [[vocab]] is a token-keyed partial-agg'd wordcount whose
  * output is vocabulary-sized (≪ corpus); it broadcasts into [[score]]
  * with the 1-row totals, so scoring is map-side until the per-doc
  * re-agg keyed by the doc id.
  */
object LmScore {

  // resolution by exact name (dotted column names keep working)
  private def q(c: String): Column = col(s"`${c.replace("`", "``")}`")

  /** (id, token) frame under the corpus [a-z]+ tokenization contract.
    * Documents with zero matching tokens contribute no rows (and thus no
    * score — no LM evidence). */
  def tokens(docs: DataFrame, id: String, text: String): DataFrame =
    tokensWith(docs.withColumn("__id", q(id)), text, Seq("__id"))

  /** (carry…, w) token frame — THE corpus [a-z]+ tokenization contract in
    * one place (Dsir's split fit carries its predicate flag through here),
    * so the tokenization Dsir.weightsSplit applies can never drift from
    * the one [[tokens]]/Dsir.bucketed apply — the row-identity
    * weightsSplit promises against weights() depends on them sharing this
    * expression. */
  def tokensWith(docs: DataFrame, text: String, carry: Seq[String]): DataFrame =
    docs.select(
      (carry.map(q) :+
        explode(graft.functions.ArrayFns.words(q(text))).as("w")): _*)

  /** The LM itself: unigram counts of a token frame. */
  def vocab(toks: DataFrame): DataFrame =
    toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))

  /** 1-row (t, v) totals — token mass and vocabulary size — for the add-1
    * smoothing denominator. */
  def totals(vocabDf: DataFrame): DataFrame =
    vocabDf.agg(sum(col("cnt")).as("t"), count(lit(1)).as("v"))

  /** Incremental LM maintenance: merging fitted vocabularies equals
    * refitting on the concatenated corpora (counts add) — so a production
    * LM updates from per-partition/per-day vocab deltas without ever
    * re-reading old text. Proven merge==refit in LmScoringSpec. */
  def mergeVocabs(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("w")).agg(sum(col("cnt")).as("cnt"))

  /** Score `docs` against a fitted LM: (id, n_tok, avg_nll_micro) with the
    * mean NLL in integer micro-nats. OOV tokens smooth to 1/(t+v). */
  def score(
      docs: DataFrame,
      id: String,
      text: String,
      vocabDf: DataFrame,
      totalsDf: DataFrame): DataFrame =
    tokens(docs, id, text)
      .join(broadcast(vocabDf), Seq("w"), "left")
      .crossJoin(broadcast(totalsDf))
      .select(col("__id"), expr(
        "CAST(ROUND(-ln((COALESCE(cnt, 0) + 1) / CAST(t + v AS DOUBLE)) * 1000000, 0) AS BIGINT)")
        .as("c"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_tok"), expr("sum(c) div count(*)").as("avg_nll_micro"))
      .select(col("__id").as(id), col("n_tok"), col("avg_nll_micro"))
}
