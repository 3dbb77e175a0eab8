package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared gram arm of the template/boilerplate family (t164 coverage
  * report, t165 incremental df maintenance,
  * [[graft.streaming.DocStreams.templateDfStream]]): token k-grams of the
  * lower-cased `[a-z]+` token stream, keyed by 8-byte xxhash64
  * fingerprints (DupSpans' convention — corpus-sized shuffles move longs,
  * never gram strings), distinct per document.
  *
  * Everything is codegen'd built-ins (regexp_extract_all / transform /
  * xxhash64), so the explode runs inside whole-stage codegen with
  * projection pruned to the id + text columns.
  */
object TemplateGrams {

  /** Distinct per-row gram fingerprints. Keeps every input column except
    * `textCol`, plus the gram fingerprint `h` — one output row per
    * (input row, distinct gram). Rows with fewer than k tokens have no
    * k-gram and are dropped (both engines of the t164/t165 oracles apply
    * the same filter). */
  def grams(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    // the internal token column and the output key would silently shadow /
    // ambiguate same-named input columns (DupSpans sidesteps this by
    // selecting only what it needs; this operator keeps pass-through
    // columns, so it must refuse the collision instead)
    require(!docs.columns.contains("h") && !docs.columns.contains("__t"),
      "input must not already have columns named 'h' or '__t'")
    val tc = s"`${textCol.replace("`", "``")}`"
    val keep = docs.columns.filter(_ != textCol).map(col).toSeq
    // Round-14 kernel: the per-window slice+concat+xxhash64 HOF became ONE
    // native pass over token fingerprints (SimKit.kgramHashesAt), and the
    // dedup moved INSIDE the row (kgramHashesDistinct) — the old
    // explode-then-DataFrame-distinct shape shuffled the whole gram table
    // to dedup keys that are already unique per (row, gram). Fingerprint
    // values changed with the hash; they are internal only (oracles hash
    // their own gram strings), and the t165 store is always written and
    // read by this same kernel.
    docs
      .withColumn("__t", graft.functions.ArrayFns.words(col(tc)))
      .filter(size(col("__t")) >= k)
      .select(keep :+ explode(
        graft.functions.ArrayFns.kgramHashes(col("__t"), k, distinct = true)).as("h"): _*)
  }

  /** One batch's PARTIAL per-gram document frequency: (h, df_part). df is
    * additive across disjoint document batches, so partials from any
    * batch decomposition sum to the full-corpus df — the invariant the
    * t165 oracle gate and the streaming spec certify. */
  def partialDf(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    grams(docs.select(col(s"`${idCol.replace("`", "``")}`"), col(s"`${textCol.replace("`", "``")}`")),
      textCol, k)
      .groupBy(col("h")).agg(count(lit(1)).as("df_part"))

  /** Compacted view of a log-structured partial-df store written by the
    * batch query (t165) or the stream: collapse replay-duplicated rows —
    * a committed batch appends exactly one (h, df_part, batch) row per
    * gram, so a crashed-and-replayed append leaves literal duplicate
    * rows that `distinct` removes exactly — then sum the partials. */
  def mergedDf(store: DataFrame): DataFrame =
    store.distinct().groupBy(col("h")).agg(sum(col("df_part")).as("df"))
}
