package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.ArrayFns

/** Text-analysis operators over the `documents` table (SURVEY.md §2.3 Q23–Q24
  * plus the LLM-pipeline text ops: language-ID, quality scoring, token
  * counting, fingerprinting, keep-first dedup).
  *
  * All per-row functions are pure codegen'd built-ins (regexp_count, md5,
  * length) — no UDFs — so at 100 TB they run inside whole-stage codegen with
  * full column pruning (only `doc_id`/`text`/`lang` are read from parquet).
  * Aggregations are partial-agg friendly.
  */
object Text {

  // Stopword-hit counting per language; zh detected by CJK codepoints.
  // \x{...} escapes parse identically in Java regex (Spark) and RE2 (DuckDB).
  //
  // The metric is "maximal [A-Za-z]+ run equal to a stopword" — NOT \b:
  // the engines' \b disagree outside ASCII (edge-gate finding, EDGE.md).
  // Java's \b is Unicode-aware, so a combining mark is a word char and
  // "zͦaͦlͦgͦoͦ" is ONE word; RE2's \b is ASCII-only, so the same text has a
  // boundary around every base letter and the embedded 'a' counts as a
  // stopword hit. RE2 has no lookarounds, so the two sides express the
  // SAME letter-run contract differently: Spark patterns confine the
  // match with Java lookarounds; oracles filter the extracted
  // [A-Za-z]+ token list against the word set ([[wordHitCntSql]]).
  private def wordRunPat(words: Seq[String]): String =
    s"(?<![A-Za-z])(${words.mkString("|")})(?![A-Za-z])"
  private def wordHitCntSql(words: Seq[String], tcol: String = "text"): String =
    s"len(list_filter(regexp_extract_all($tcol, '[A-Za-z]+'), " +
      s"w -> w IN (${words.map(w => s"'$w'").mkString(", ")})))"
  private val enWords = Seq("the", "and", "of", "to", "in")
  // the quality-rule stopword set (t27 score, t53 filter) — ONE definition
  // interpolated into both Spark and oracle sides so the two rules can't
  // drift apart (alternation order is irrelevant: letter runs are maximal,
  // so exactly one alternative can equal a given run)
  private val stopWords = Seq("the", "a", "and", "of", "to", "in")
  private val deWords = Seq("der", "die", "das", "und", "ist")
  private val esWords = Seq("el", "los", "las", "es", "y")
  private val frWords = Seq("le", "les", "des", "est")
  private val enPat = wordRunPat(enWords)
  private val stopPat = wordRunPat(stopWords)
  private val dePat = wordRunPat(deWords)
  private val esPat = wordRunPat(esWords)
  private val frPat = wordRunPat(frWords)
  private def stopCntSql(tcol: String = "text"): String = wordHitCntSql(stopWords, tcol)
  private val zhPat = "[\\x{4e00}-\\x{9fff}]"

  // The heuristic quality score (t27): word, punctuation and stopword-hit
  // counts, weighted 0.5 length + 0.3 stopword ratio + 0.2 punctuation
  // sparsity. ONE definition for every query that scores documents; the
  // oracle SQL spells the same formula out per query.
  private def withQualityCounts(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_words", regexp_count(col("text"), lit("[A-Za-z]+")).cast("long"))
      .withColumn("n_punct", regexp_count(col("text"), lit("[.,!?;:]")).cast("long"))
      .withColumn("n_stop", regexp_count(col("text"), lit(stopPat)).cast("long"))
  private def qualityScore: Column =
    (least(col("n_words") / 100.0, lit(1.0)) * 0.5
      + (col("n_stop") * 1.0 / greatest(col("n_words"), lit(1L))) * 0.3
      + (lit(1.0) - least(col("n_punct") * 1.0 / greatest(col("n_words"), lit(1L)), lit(1.0))) * 0.2)
  // the score on t143's integer grid (1e-4 steps), exact under grouping
  private def qualityGrid: Column = round(qualityScore * 10000).cast("long")

  // Duplicated-span mining K (tokens) for t110/t111: a span must repeat at
  // this length verbatim to count as duplicated text — ExactSubstr's
  // threshold role. Declared BEFORE `all`: the oracle SQL strings below
  // interpolate it at object init.
  private val DupK = 8

  // BPE merge rounds for t122 — enough that later rounds see merged
  // multi-char symbols competing with raw characters (the part iteration
  // 0 can't exercise), small enough that the unrolled oracle stays sane.
  private val BpeSteps = 8

  // Batched-BPE rule count for t159 — large enough that batching shows its
  // round-count win (32 rules land in far fewer than 32 recount rounds),
  // small enough that the 32-round unrolled DuckDB oracle stays tractable.
  private val BpeBatchedSteps = 32

  /** The BPE trainer's vocabulary: (w, freq) over a token frame's `w`
    * column. */
  private def wordFreq(toks: DataFrame): DataFrame =
    toks.groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** [[wordFreq]] of the corpus's lowercased [a-z]+ words. */
  private def docWordFreq(s: SparkSession, d: String): DataFrame =
    wordFreq(Tables.documents(s, d)
      .select(explode(ArrayFns.words(col("text"))).as("w")))

  /** The BpeSteps-rule merge table trained on `wf`, collected to the
    * driver as ordered (lhs, rhs) pairs for [[graft.operators.Bpe.encodeVocab]]. */
  private def bpeMerges(s: SparkSession, wf: DataFrame): Seq[(String, String)] =
    graft.operators.Bpe.train(s, wf, "w", "freq", steps = BpeSteps)
      .select(col("lhs"), col("rhs")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

  val all: Seq[Q] = Seq(
    // ----- Q23: per-language corpus stats -----
    Q(
      "q23_text_stats",
      (s, d) =>
        Tables.documents(s, d)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            round(sum(col("n_chars")).cast("double") / count(lit(1)), 4).as("avg_chars"),
            sum(length(col("text")).cast("long")).as("total_len"))
          .orderBy("lang"),
      Some("""SELECT lang, COUNT(*) AS n_docs,
             |  ROUND(CAST(SUM(n_chars) AS DOUBLE)/COUNT(*), 4) AS avg_chars,
             |  CAST(SUM(LENGTH(text)) AS BIGINT) AS total_len
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    ),

    // ----- Q24: exact duplicate detection via content hash -----
    Q(
      "q24_exact_dedup",
      (s, d) =>
        Tables.documents(s, d)
          .groupBy(md5(col("text").cast("binary")).as("h"))
          .agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") > 1)
          .orderBy("h"),
      Some("""SELECT MD5(text) AS h, COUNT(*) AS cnt
             |FROM documents GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY h""".stripMargin),
    ),

    // ----- exact dedup, keep-first survivor selection -----
    Q(
      "t34_dedup_keepfirst",
      (s, d) =>
        Tables.documents(s, d)
          .groupBy(md5(col("text").cast("binary")).as("h"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("cnt"))
          .orderBy("h"),
      Some("""SELECT MD5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS cnt
             |FROM documents GROUP BY 1 ORDER BY h""".stripMargin),
    ),

    // ----- language-ID heuristic (n-gram/stopword hits), confusion matrix -----
    Q(
      "t26_lang_id",
      (s, d) =>
        Tables.documents(s, d)
          .withColumn("en_n", regexp_count(col("text"), lit(enPat)))
          .withColumn("de_n", regexp_count(col("text"), lit(dePat)))
          .withColumn("es_n", regexp_count(col("text"), lit(esPat)))
          .withColumn("fr_n", regexp_count(col("text"), lit(frPat)))
          .withColumn("zh_n", regexp_count(col("text"), lit(zhPat)))
          .withColumn("lang_guess",
            when(col("zh_n") > 0, "zh")
              .when(col("en_n") >= col("de_n") && col("en_n") >= col("es_n") && col("en_n") >= col("fr_n"), "en")
              .when(col("de_n") >= col("es_n") && col("de_n") >= col("fr_n"), "de")
              .when(col("es_n") >= col("fr_n"), "es")
              .otherwise("fr"))
          .groupBy(col("lang"), col("lang_guess"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("lang", "lang_guess"),
      Some(s"""WITH t AS (
              |  SELECT lang,
              |    ${wordHitCntSql(enWords)} AS en_n,
              |    ${wordHitCntSql(deWords)} AS de_n,
              |    ${wordHitCntSql(esWords)} AS es_n,
              |    ${wordHitCntSql(frWords)} AS fr_n,
              |    len(regexp_extract_all(text, '$zhPat')) AS zh_n
              |  FROM documents)
              |SELECT lang,
              |  CASE WHEN zh_n > 0 THEN 'zh'
              |       WHEN en_n >= de_n AND en_n >= es_n AND en_n >= fr_n THEN 'en'
              |       WHEN de_n >= es_n AND de_n >= fr_n THEN 'de'
              |       WHEN es_n >= fr_n THEN 'es'
              |       ELSE 'fr' END AS lang_guess,
              |  COUNT(*) AS n_docs
              |FROM t GROUP BY 1, 2 ORDER BY lang, lang_guess""".stripMargin),
    ),

    // ----- quality scoring (length / punctuation / stopword ratios) -----
    Q(
      "t27_quality_score",
      (s, d) =>
        withQualityCounts(Tables.documents(s, d))
          .select(col("doc_id"), col("n_words"), col("n_punct"),
            round(qualityScore, 4).as("score"))
          .orderBy("doc_id"),
      Some(s"""WITH t AS (
             |  SELECT doc_id,
             |    CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_words,
             |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS n_punct,
             |    CAST(${stopCntSql()} AS BIGINT) AS n_stop
             |  FROM documents)
             |SELECT doc_id, n_words, n_punct,
             |  ROUND(LEAST(n_words/100.0, 1.0)*0.5
             |      + (n_stop*1.0/GREATEST(n_words, 1))*0.3
             |      + (1.0 - LEAST(n_punct*1.0/GREATEST(n_words, 1), 1.0))*0.2, 4) AS score
             |FROM t ORDER BY doc_id""".stripMargin),
    ),

    // ----- token counting: whitespace + BPE-ish regex tokenizer -----
    Q(
      "t28_token_count",
      (s, d) =>
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            regexp_count(col("text"), lit("\\S+")).cast("long").as("n_ws_tokens"),
            regexp_count(col("text"), lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]")).cast("long").as("n_bpe_tokens"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_ws_tokens,
             |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
             |FROM documents ORDER BY doc_id""".stripMargin),
    ),

    // ----- corpus-wide n-gram statistics: top-50 word bigrams -----
    // One construction pass per row (explode → hash-agg with map-side
    // combine, shuffle keyed on bigram) — the canonical distributed
    // wordcount shape, scales linearly with corpus tokens. The (cnt DESC,
    // bigram) order is total, so the LIMIT cut is deterministic.
    Q(
      "t46_bigram_topk",
      (s, d) =>
        Tables.documents(s, d)
          .select(ArrayFns.words(col("text")).as("toks"))
          .filter(size(col("toks")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, size(toks) - 1), i -> concat(toks[i-1], ' ', toks[i]))")).as("bigram"))
          .groupBy(col("bigram"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("bigram"))
          .limit(50),
      Some("""WITH toks AS (
             |  SELECT regexp_extract_all(lower(text), '[a-z]+') AS t FROM documents),
             |bg AS (
             |  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
             |                i -> t[i] || ' ' || t[i+1])) AS bigram
             |  FROM toks WHERE len(t) >= 2)
             |SELECT bigram, COUNT(*) AS cnt
             |FROM bg GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 50""".stripMargin),
    ),

    // ----- deterministic stratified sampling (training-data mixing) -----
    // Hash-based admission: md5(doc_id) mod 100 under a per-language rate
    // (downsample the dominant language, upsample the rare one) — the
    // standard reproducible alternative to rand() sampling: membership is a
    // pure function of the row key, so re-runs, retries, and the oracle all
    // agree. Pure codegen'd built-ins, no shuffle before the output sort.
    Q(
      "t47_stratified_sample",
      (s, d) =>
        Tables.documents(s, d)
          .withColumn("bucket", expr(
            "CAST(conv(substring(md5(CAST(CAST(doc_id AS STRING) AS BINARY)), 1, 8), 16, 10) AS BIGINT) % 100"))
          .withColumn("rate",
            when(col("lang") === "en", lit(20L))
              .when(col("lang") === "zh", lit(80L))
              .otherwise(lit(60L)))
          .filter(col("bucket") < col("rate"))
          .select(col("doc_id"), col("lang"), col("bucket"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id, lang,
             |  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
             |FROM documents
             |WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
             |      < CASE lang WHEN 'en' THEN 20 WHEN 'zh' THEN 80 ELSE 60 END
             |ORDER BY doc_id""".stripMargin),
    ),

    // ----- benchmark-contamination check: shared word-3-grams vs a probe set -----
    // Every 50th doc plays the held-out benchmark; a corpus doc is flagged
    // when it shares >= 3 distinct word-3-grams with ANY probe doc. Grams are
    // 64-bit hashes from one native-kernel call per row (WordNgramHashes —
    // only equality is used, so the signed/unsigned difference vs the
    // oracle's UBIGINT never surfaces). The broadcast is valid because the
    // REAL probe is a fixed, externally-bounded benchmark suite (MMLU-sized:
    // at most ~10^7 grams regardless of corpus size); this demo derives the
    // probe from the corpus only for oracle determinism, and at that 2%-of-
    // corpus scaling a real deployment would shuffle-join on g instead —
    // corpus-side grams still never shuffle here.
    Q(
      "t48_contamination",
      (s, d) => {
        val grams = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(ArrayFns.wordNgramHashes(lower(col("text")), 3)).as("g"))
        val probe = grams.filter(col("doc_id") % 50 === 0).select("g").distinct()
        grams.filter(col("doc_id") % 50 =!= 0)
          .join(broadcast(probe), "g")
          .groupBy(col("doc_id"))
          .agg(count_distinct(col("g")).as("n_shared"))
          .filter(col("n_shared") >= 3)
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS t FROM documents),
             |g AS (
             |  SELECT doc_id,
             |    unnest(list_distinct(list_transform(generate_series(1, len(t) - 2),
             |      i -> CAST(('0x' || substring(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 16)) AS UBIGINT)))) AS g
             |  FROM toks WHERE len(t) >= 3),
             |probe AS (SELECT DISTINCT g FROM g WHERE doc_id % 50 = 0)
             |SELECT c.doc_id, CAST(COUNT(DISTINCT c.g) AS BIGINT) AS n_shared
             |FROM g c JOIN probe p ON c.g = p.g
             |WHERE c.doc_id % 50 <> 0
             |GROUP BY c.doc_id HAVING COUNT(DISTINCT c.g) >= 3
             |ORDER BY doc_id""".stripMargin),
    ),

    // ----- repetition filter: type-token ratio (Gopher/C4-style quality rule) -----
    // Low TTR = the doc repeats a small vocabulary (templates, keyword spam).
    // One construction pass per row, pure built-ins, partial-agg-free —
    // trivially 100-TB-parallel. The `repetitive` decision uses the
    // UNROUNDED ratio on both engines so the flag can't flip at the 4dp
    // boundary.
    Q(
      "t50_type_token_ratio",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"), expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("toks"))
          .withColumn("n_tokens", size(col("toks")).cast("long"))
          .filter(col("n_tokens") >= 10)
          .withColumn("n_types", size(array_distinct(col("toks"))).cast("long"))
          .withColumn("ttr_raw", col("n_types") * 1.0 / col("n_tokens"))
          .select(
            col("doc_id"), col("n_tokens"), col("n_types"),
            round(col("ttr_raw"), 4).as("ttr"),
            (col("ttr_raw") < 0.3).as("repetitive"))
          .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
             |x AS (
             |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             |         CAST(len(list_distinct(toks)) AS BIGINT) AS n_types
             |  FROM t WHERE len(toks) >= 10)
             |SELECT doc_id, n_tokens, n_types,
             |  ROUND(n_types*1.0/n_tokens, 4) AS ttr,
             |  n_types*1.0/n_tokens < 0.3 AS repetitive
             |FROM x ORDER BY doc_id""".stripMargin),
    ),

    // ----- training-data mixture report: token share per (source, lang) -----
    // The standard "data mixing" table a pretraining pipeline publishes:
    // how many docs/tokens each source×language cell contributes and its
    // share of the corpus. Token counts are integer sums (order-independent);
    // the corpus total is one broadcast scalar joined to ~|sources|×|langs|
    // aggregated cells, so nothing here grows with corpus rows at 100 TB —
    // the only full-data pass is the partial-agg'd groupBy.
    Q(
      "t52_source_mix",
      (s, d) => {
        val cells = Tables.documents(s, d)
          .select(col("source"), col("lang"),
            regexp_count(col("text"), lit("\\S+")).cast("long").as("toks"))
          .groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("tokens"))
        val total = cells.agg(sum(col("tokens")).as("total_toks"))
        cells.crossJoin(broadcast(total))
          .select(
            col("source"), col("lang"), col("n_docs"), col("tokens"),
            round(col("tokens") * 1.0 / col("total_toks"), 4).as("token_share"))
          .orderBy("source", "lang")
      },
      Some("""WITH t AS (
             |  SELECT source, lang,
             |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS toks
             |  FROM documents),
             |c AS (
             |  SELECT source, lang, COUNT(*) AS n_docs,
             |         CAST(SUM(toks) AS BIGINT) AS tokens
             |  FROM t GROUP BY 1, 2)
             |SELECT source, lang, n_docs, tokens,
             |  ROUND(tokens * 1.0 / (SELECT CAST(SUM(tokens) AS BIGINT) FROM c), 4) AS token_share
             |FROM c ORDER BY source, lang""".stripMargin),
    ),

    // ----- composite quality filter (Gopher/C4-style rule stack) -----
    // Four signals per doc — word count, mean word length, alphabetic
    // fraction, stopword presence — and one keep/drop verdict. The verdict
    // compares UNROUNDED doubles on both engines (identical IEEE ops on
    // identical integers), so the boolean can't flip at a rounding boundary;
    // only the reported signal columns are rounded. Pure codegen'd built-ins,
    // no shuffle before the output sort.
    Q(
      "t53_quality_filter",
      (s, d) =>
        Tables.documents(s, d)
          .withColumn("n_words", regexp_count(col("text"), lit("[A-Za-z]+")).cast("long"))
          .withColumn("n_alpha",
            length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("long"))
          .withColumn("mean_wlen_raw",
            col("n_alpha") * 1.0 / greatest(col("n_words"), lit(1L)))
          .withColumn("alpha_frac_raw",
            col("n_alpha") * 1.0 / greatest(length(col("text")).cast("long"), lit(1L)))
          .withColumn("has_stop", regexp_count(col("text"), lit(stopPat)) > 0)
          .select(
            col("doc_id"), col("n_words"),
            round(col("mean_wlen_raw"), 4).as("mean_wlen"),
            round(col("alpha_frac_raw"), 4).as("alpha_frac"),
            col("has_stop"),
            (col("n_words") >= 20 && col("mean_wlen_raw") >= 3.0
              && col("mean_wlen_raw") <= 10.0 && col("alpha_frac_raw") >= 0.6
              && col("has_stop")).as("keep"))
          .orderBy("doc_id"),
      Some(s"""WITH t AS (
             |  SELECT doc_id,
             |    CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_words,
             |    CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha,
             |    CAST(LENGTH(text) AS BIGINT) AS n_chars,
             |    ${stopCntSql()} > 0 AS has_stop
             |  FROM documents)
             |SELECT doc_id, n_words,
             |  ROUND(n_alpha * 1.0 / GREATEST(n_words, 1), 4) AS mean_wlen,
             |  ROUND(n_alpha * 1.0 / GREATEST(n_chars, 1), 4) AS alpha_frac,
             |  has_stop,
             |  (n_words >= 20 AND n_alpha * 1.0 / GREATEST(n_words, 1) >= 3.0
             |   AND n_alpha * 1.0 / GREATEST(n_words, 1) <= 10.0
             |   AND n_alpha * 1.0 / GREATEST(n_chars, 1) >= 0.6
             |   AND has_stop) AS keep
             |FROM t ORDER BY doc_id""".stripMargin),
    ),

    // ----- document fingerprint over normalized content -----
    Q(
      "t29_fingerprint",
      (s, d) =>
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")).cast("binary")).as("fp"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  MD5(TRIM(regexp_replace(LOWER(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
             |FROM documents ORDER BY doc_id""".stripMargin),
    ),

    // ----- t66: TF-IDF top terms per source (corpus characterization) -----
    // Term scoring uses FIXED-POINT idf (1e6 // document-frequency, integer
    // division) instead of ln(N/df): the ranking is then exact integer
    // arithmetic, immune to last-ulp libm log() divergence between engines
    // flipping a near-tie in the top-k cut. Plan shape: tokenize+explode is
    // map-side; tf is a (doc,term) hash agg; df reuses the tf rows (one
    // row per (doc,term) already) with a second agg on term; the tf⋈df join
    // shuffles on term — all partial-agg friendly, no driver collection, so
    // the same plan runs at corpus scale where the vocabulary is the small
    // side (broadcastable if needed).
    Q(
      "t66_tfidf_terms",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            explode(ArrayFns.words(col("text"))).as("term"))
        val tf = toks.groupBy(col("doc_id"), col("source"), col("term"))
          .agg(count(lit(1)).as("tf"))
        val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("score").desc, col("term"))
        tf.join(df, "term")
          .withColumn("idf_fp", expr("1000000L div df"))
          .groupBy(col("source"), col("term"))
          .agg(sum(col("tf") * col("idf_fp")).as("score"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 3)
          .select(col("source"), col("rank"), col("term"), col("score"))
          .orderBy("source", "rank")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, source, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
             |  FROM documents),
             |tf AS (SELECT doc_id, source, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2, 3),
             |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
             |sc AS (
             |  SELECT source, tf.term, CAST(SUM(tf.tf * (1000000 // df.df)) AS BIGINT) AS score
             |  FROM tf JOIN df ON tf.term = df.term GROUP BY 1, 2),
             |r AS (
             |  SELECT source, term, score,
             |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY score DESC, term) AS rank
             |  FROM sc)
             |SELECT source, rank, term, score FROM r WHERE rank <= 3
             |ORDER BY source, rank""".stripMargin),
    ),

    // ----- t68: regex redaction scan (PII-masking machinery) -----
    // The production shape masks emails/phones/ids before training; the
    // synthetic corpus plants no PII, so the demo pattern targets tokens the
    // corpus does contain — the machinery (global regexp_replace + match
    // counting + per-source report) is what's exercised and oracled.
    // Everything is codegen'd regexp built-ins; one partial-agg'd groupBy on
    // |sources| keys.
    Q(
      "t68_redaction_scan",
      (s, d) => {
        // letter-run contract, not \b (the engines' \b diverge outside
        // ASCII — see the wordRunPat scaladoc / EDGE.md)
        val redactWords = Seq("key", "hash", "value")
        val pat = wordRunPat(redactWords)
        Tables.documents(s, d)
          .withColumn("n_hits", regexp_count(col("text"), lit(pat)).cast("long"))
          .withColumn("len_after",
            length(regexp_replace(col("text"), pat, "[X]")).cast("long"))
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("n_hits") > 0, 1L).otherwise(0L)).as("docs_hit"),
            sum(col("n_hits")).as("total_hits"),
            sum(col("len_after")).as("chars_after"))
          .orderBy("source")
      },
      // RE2 has no lookarounds, so the oracle can't mirror the masking
      // regexp_replace directly; it derives the post-mask length
      // arithmetically instead — each letter-run hit w is replaced by the
      // 3-char '[X]', so len_after = length − Σ len(w) + 3·n_hits.
      Some(s"""WITH h AS (
             |  SELECT source, length(text) AS n_chars,
             |    list_filter(regexp_extract_all(text, '[A-Za-z]+'),
             |                w -> w IN ('key', 'hash', 'value')) AS hits
             |  FROM documents),
             |t AS (
             |  SELECT source,
             |    CAST(len(hits) AS BIGINT) AS n_hits,
             |    CAST(n_chars - COALESCE(list_sum(list_transform(hits, w -> length(w))), 0)
             |         + 3 * len(hits) AS BIGINT) AS len_after
             |  FROM h)
             |SELECT source, COUNT(*) AS n_docs,
             |  CAST(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_hit,
             |  CAST(SUM(n_hits) AS BIGINT) AS total_hits,
             |  CAST(SUM(len_after) AS BIGINT) AS chars_after
             |FROM t GROUP BY source ORDER BY source""".stripMargin),
    ),

    // ----- t69: sequence packing into token-budget bins (training prep) -----
    // The "concat-and-split" batch prep of LLM training: documents are laid
    // end-to-end in a deterministic order and cut into fixed token-budget
    // bins — bin id = floor(cumulative_tokens_before_doc / budget). Packing
    // is PER SOURCE, so the running sum is a key-partitioned window (each
    // source's stream packs independently) — never a global single-partition
    // scan; at 100 TB the packing key is (source, shard) and the window
    // stays bounded by shard size. Token counts reuse t28's whitespace-token
    // definition.
    Q(
      "t69_seq_pack",
      (s, d) => {
        val budget = 2048L
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            regexp_count(col("text"), lit("\\S+")).cast("long").as("n_tok"))
          .withColumn("cum_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
          // `div` = exact integer division; `/` widens to double, whose
          // 53-bit mantissa mis-bins once per-source cumulative tokens pass
          // 2^53 — the oracle's `//` is exact at any magnitude
          .withColumn("bin", expr(s"cum_before div $budget"))
          .groupBy(col("source"), col("bin"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("bin_tokens"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
          .orderBy("source", "bin")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, source,
             |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, source, n_tok,
             |    COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
             |  FROM t)
             |SELECT source, CAST(cum_before // 2048 AS BIGINT) AS bin, COUNT(*) AS n_docs,
             |  CAST(SUM(n_tok) AS BIGINT) AS bin_tokens,
             |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
             |FROM c GROUP BY source, bin ORDER BY source, bin""".stripMargin),
    ),

    // ----- t70: fixed-window document chunking with overlap -----
    // Context-window prep: each document splits into 512-char windows with
    // 64-char stride overlap; chunk starts are pure per-row integer
    // arithmetic (sequence + explode — map-side, no shuffle until the
    // per-source rollup), so chunk fan-out parallelizes with the corpus.
    // The report aggregates chunk counts and coverage rather than emitting
    // every chunk body (the chunk text itself is a substring expression
    // downstream operators apply lazily).
    Q(
      "t70_chunk_split",
      (s, d) => {
        val win = 512L
        val stride = 448L // 64-char overlap
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), length(col("text")).cast("long").as("n_chars"))
          .withColumn("n_chunks",
            when(col("n_chars") <= win, lit(1L))
              .otherwise(lit(1L) + ceil((col("n_chars") - win).cast("double") / stride).cast("long")))
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chunks")).as("total_chunks"),
            max(col("n_chunks")).as("max_chunks"),
            sum(col("n_chunks") * win - (col("n_chunks") - 1) * (win - stride))
              .as("chunked_chars_ub"))
          .orderBy("source")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, source, CAST(LENGTH(text) AS BIGINT) AS n_chars
             |  FROM documents),
             |k AS (
             |  SELECT source,
             |    CASE WHEN n_chars <= 512 THEN 1
             |         ELSE 1 + CAST(CEIL((n_chars - 512) / 448.0) AS BIGINT) END AS n_chunks
             |  FROM t)
             |SELECT source, COUNT(*) AS n_docs,
             |  CAST(SUM(n_chunks) AS BIGINT) AS total_chunks,
             |  CAST(MAX(n_chunks) AS BIGINT) AS max_chunks,
             |  CAST(SUM(n_chunks * 512 - (n_chunks - 1) * 64) AS BIGINT) AS chunked_chars_ub
             |FROM k GROUP BY source ORDER BY source""".stripMargin),
    ),

    // ----- t81: per-source document cap (corpus mixture control) -----
    // The standard pretraining-mix lever: no single source may contribute
    // more than N documents (a per-domain/per-crawl cap against one scrape
    // dominating the mixture). Admission is a row_number over a
    // (source)-partitioned, doc_id-ordered window — deterministic (retry-
    // and engine-stable, like t47's hash admission), key-partitioned so no
    // global sort, and one shuffle on the source key. The report shows
    // kept/total per source so the mixture change is auditable. At 100 TB
    // a hot source's window sort is bounded by that source's rows per
    // partition — the same contract as every keyed window here.
    Q(
      "t81_source_cap",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("doc_id"))
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("n_chars"))
          .withColumn("kept", row_number().over(w) <= 50)
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("kept"), col("n_chars")).otherwise(0L)).as("chars_kept"))
          .orderBy("source")
      },
      Some("""WITH r AS (
             |  SELECT source, n_chars,
             |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) <= 50 AS kept
             |  FROM documents)
             |SELECT source, COUNT(*) AS n_docs,
             |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |  CAST(SUM(CASE WHEN kept THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept
             |FROM r GROUP BY source ORDER BY source""".stripMargin),
    ),

    // ----- t83: n-gram repetition metrics (Gopher-style quality rule) -----
    // Per doc: the fraction of all word n-grams occupied by the single most
    // frequent n-gram — the "top-2-gram / top-3-gram fraction" repetition
    // rules of Rae et al. 2021 (Gopher), arXiv:2112.11446 §A1.1. A doc
    // looping one phrase scores high and gets filtered. Fractions stay in
    // integer basis points (max_cnt*10000 div total) — floor division is
    // exact on both engines, no float divergence possible. Shape at 100 TB:
    // explode → count on (doc_id, gram) is the canonical wordcount (full
    // map-side combine on the composite key), the per-doc reduce keys on
    // doc_id, and the per-source report is tiny; one shuffle per gram arm.
    Q(
      "t83_repetition",
      (s, d) => {
        def arm(n: Int, thresholdBp: Int, tag: String) = {
          val gram = (1 until n).foldLeft(col("toks")(col("i") - 1).cast("string")) {
            (acc, k) => concat(acc, lit(" "), col("toks")(col("i") - 1 + k))
          }
          Tables.documents(s, d)
            .select(col("doc_id"), col("source"),
              ArrayFns.words(col("text")).as("toks"))
            .filter(size(col("toks")) >= n)
            .select(col("doc_id"), col("source"),
              explode(sequence(lit(1), size(col("toks")) - (n - 1))).as("i"),
              col("toks"))
            .select(col("doc_id"), col("source"), gram.as("g"))
            .groupBy(col("doc_id"), col("source"), col("g"))
            .agg(count(lit(1)).as("c"))
            .groupBy(col("doc_id"), col("source"))
            .agg(expr("max(c) * 10000 div sum(c)").as("bp"))
            .groupBy(col("source"))
            .agg(
              count(lit(1)).as(s"n_docs_$tag"),
              sum(when(col("bp") >= thresholdBp, 1L).otherwise(0L)).as(s"n_rep_$tag"),
              max(col("bp")).as(s"max_bp_$tag"))
        }
        arm(2, 500, "bi").join(arm(3, 400, "tri"), Seq("source")).orderBy("source")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, source,
             |         regexp_extract_all(lower(text), '[a-z]+') AS t
             |  FROM documents),
             |bg AS (
             |  SELECT doc_id, source,
             |    unnest(list_transform(generate_series(1, len(t)-1),
             |           i -> t[i] || ' ' || t[i+1])) AS g
             |  FROM toks WHERE len(t) >= 2),
             |bi AS (
             |  SELECT source, COUNT(*) AS n_docs_bi,
             |    CAST(SUM(CASE WHEN bp >= 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_rep_bi,
             |    MAX(bp) AS max_bp_bi
             |  FROM (
             |    SELECT doc_id, source, CAST((MAX(c)*10000)//SUM(c) AS BIGINT) AS bp
             |    FROM (SELECT doc_id, source, g, COUNT(*) AS c FROM bg GROUP BY ALL)
             |    GROUP BY doc_id, source)
             |  GROUP BY source),
             |tg AS (
             |  SELECT doc_id, source,
             |    unnest(list_transform(generate_series(1, len(t)-2),
             |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
             |  FROM toks WHERE len(t) >= 3),
             |tri AS (
             |  SELECT source, COUNT(*) AS n_docs_tri,
             |    CAST(SUM(CASE WHEN bp >= 400 THEN 1 ELSE 0 END) AS BIGINT) AS n_rep_tri,
             |    MAX(bp) AS max_bp_tri
             |  FROM (
             |    SELECT doc_id, source, CAST((MAX(c)*10000)//SUM(c) AS BIGINT) AS bp
             |    FROM (SELECT doc_id, source, g, COUNT(*) AS c FROM tg GROUP BY ALL)
             |    GROUP BY doc_id, source)
             |  GROUP BY source)
             |SELECT bi.source, n_docs_bi, n_rep_bi, max_bp_bi,
             |       n_docs_tri, n_rep_tri, max_bp_tri
             |FROM bi JOIN tri ON bi.source = tri.source ORDER BY bi.source""".stripMargin),
    ),

    // ----- t85: corpus-frequency document scoring (unigram-LM rarity) -----
    // Two-pass "score docs by corpus statistics": pass 1 builds the unigram
    // frequency table, pass 2 joins it back token-by-token and reports the
    // 10 documents with the rarest average vocabulary — the unigram arm of
    // perplexity-style quality scoring (docs full of tokens the corpus has
    // barely seen are OCR junk / boilerplate candidates). The score is the
    // mean corpus-count of the doc's token instances, floor-scaled ×100 —
    // all-integer, so engines can't diverge. Scale shape: both the freq
    // table and the per-doc reduce are canonical partial-agg'd wordcounts;
    // the token⋈freq join keys on the word. That key is Zipf-skewed ("the"
    // joins everywhere) — at 100 TB broadcast the vocabulary head (a few
    // MB covers it) and shuffle-join only the tail, or let AQE split the
    // hot partitions; the toy corpus takes the plain shuffle join.
    Q(
      "t85_rarity_score",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            explode(ArrayFns.words(col("text"))).as("w"))
        val freq = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        toks.join(freq, Seq("w"))
          .groupBy(col("doc_id"), col("source"))
          .agg(count(lit(1)).as("n_toks"),
            expr("(sum(cnt) * 100) div count(*)").as("avg_freq"))
          .orderBy(col("avg_freq"), col("doc_id"))
          .limit(10)
      },
      Some("""WITH tk AS (
             |  SELECT doc_id, source,
             |         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
             |  FROM documents),
             |f AS (SELECT w, COUNT(*) AS cnt FROM tk GROUP BY w),
             |sc AS (
             |  SELECT doc_id, source, COUNT(*) AS n_toks,
             |         CAST((SUM(cnt) * 100) // COUNT(*) AS BIGINT) AS avg_freq
             |  FROM tk JOIN f USING (w) GROUP BY doc_id, source)
             |SELECT doc_id, source, n_toks, avg_freq
             |FROM sc ORDER BY avg_freq, doc_id LIMIT 10""".stripMargin),
    ),

    // ----- t88: deterministic weighted priority sample -----
    // Priority-sampling-style weighted selection (Duffield et al., JACM'07
    // shape): each doc draws a deterministic pseudo-uniform from md5 of its
    // id and competes on priority u/weight — heavier docs get smaller keys
    // more often, so the top-k skews toward weight, yet any retry or
    // backfill reproduces the identical sample (same property t47's
    // stratified admission relies on). The key is ONE IEEE division of a
    // hash-derived double by the weight — no pow/log, so both engines
    // order identically and the sample is bit-stable. Scale shape: keys
    // are embarrassingly parallel; the global top-k is
    // TakeOrderedAndProject (per-partition partial top-k, single tiny
    // merge) — the q11 shape, no full sort, no shuffle of the data.
    Q(
      "t88_weighted_sample",
      (s, d) =>
        Tables.documents(s, d)
          .filter(col("n_chars") > 0)
          .withColumn("h", expr(
            "CAST(conv(substring(md5(CAST(CAST(doc_id AS STRING) AS BINARY)), 1, 8), 16, 10) AS BIGINT)"))
          .withColumn("key", col("h").cast("double") / col("n_chars").cast("double"))
          .orderBy(col("key"), col("doc_id"))
          .limit(50)
          .select(col("doc_id"), col("source"), col("n_chars")),
      Some("""SELECT doc_id, source, n_chars FROM (
             |  SELECT doc_id, source, n_chars,
             |    CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             |         AS DOUBLE) / CAST(n_chars AS DOUBLE) AS key
             |  FROM documents WHERE n_chars > 0)
             |ORDER BY key, doc_id LIMIT 50""".stripMargin),
    ),

    // ----- t100: count-min sketch heavy hitters, certified vs exact -----
    // The streaming-scale frequency sketch (Cormode & Muthukrishnan '05):
    // d=4 hash rows × w=1024 counters, h_j(tok) = md5('cms'||j||':'||tok)
    // first-8-hex mod w — fully deterministic, so the sketch (unlike
    // sampling-based sketches) is reproducible across engines and the
    // oracle rebuilds it bit-identically. Counter updates are sums, so the
    // sketch is order- and partition-independent: at 100 TB it builds in
    // one map-side pass (4 KiB of state per task, merged by a 4096-key
    // agg), where the exact token groupBy shuffles the full vocabulary.
    // Here BOTH arms run and the report certifies the CMS contract on the
    // top-20 exact heavy hitters: est = min_j cell[j][h_j] ≥ exact, with
    // the overcount column showing the collision error the 100-TB user
    // would actually pay. Distinct tokens are counted once BEFORE the ×4
    // row expansion, so the sketch build explodes the vocabulary, not the
    // token stream.
    Q(
      "t100_cms_heavy",
      (s, d) => {
        def cmsHash(tok: Column, j: Column): Column =
          conv(substring(md5(concat(lit("cms"), j.cast("string"), lit(":"), tok)
            .cast("binary")), 1, 8), 16, 10).cast("long") % 1024
        val toks = Tables.documents(s, d)
          .select(explode(ArrayFns.words(col("text"))).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
          .localCheckpoint()
        val cells = toks
          .select(col("tok"), col("cnt"), explode(expr("sequence(0, 3)")).as("j"))
          .withColumn("h", cmsHash(col("tok"), col("j")))
          .groupBy(col("j"), col("h")).agg(sum(col("cnt")).as("cell"))
        val top = toks.orderBy(col("cnt").desc, col("tok")).limit(20)
          .select(col("tok"), col("cnt"), explode(expr("sequence(0, 3)")).as("j"))
          .withColumn("h", cmsHash(col("tok"), col("j")))
        top.join(broadcast(cells), Seq("j", "h"))
          .groupBy(col("tok"), col("cnt"))
          .agg(min(col("cell")).as("cms_est"))
          .select(col("tok"), col("cnt").as("exact_cnt"), col("cms_est"),
            (col("cms_est") - col("cnt")).as("overcount"))
          .orderBy(col("exact_cnt").desc, col("tok"))
      },
      Some("""WITH tc AS (
             |  SELECT tok, COUNT(*) AS cnt FROM (
             |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok FROM documents)
             |  GROUP BY tok),
             |js AS (SELECT unnest([0, 1, 2, 3]) AS j),
             |cells AS (
             |  SELECT j,
             |    CAST(('0x' || substring(md5('cms' || CAST(j AS VARCHAR) || ':' || tok), 1, 8)) AS BIGINT) % 1024 AS h,
             |    CAST(SUM(cnt) AS BIGINT) AS cell
             |  FROM tc, js GROUP BY j, h),
             |top AS (SELECT tok, cnt FROM tc ORDER BY cnt DESC, tok LIMIT 20),
             |th AS (
             |  SELECT t.tok, t.cnt, j,
             |    CAST(('0x' || substring(md5('cms' || CAST(j AS VARCHAR) || ':' || t.tok), 1, 8)) AS BIGINT) % 1024 AS h
             |  FROM top t, js)
             |SELECT th.tok, th.cnt AS exact_cnt, MIN(c.cell) AS cms_est,
             |  MIN(c.cell) - th.cnt AS overcount
             |FROM th JOIN cells c ON th.j = c.j AND th.h = c.h
             |GROUP BY th.tok, th.cnt
             |ORDER BY exact_cnt DESC, tok""".stripMargin),
    ),

    // ----- t105: BPE iteration 0 — weighted adjacent-pair counts -----
    // The inner loop of byte-pair-encoding training (Sennrich et al.,
    // ACL'16): count adjacent symbol pairs across the corpus, weighted by
    // word frequency; the top pair becomes the first merge. Symbols here
    // are characters with the GPT-style '_' word-start marker, so the
    // ('_', first-char) boundary pairs compete with in-word pairs exactly
    // as in real tokenizer training. Scale shape is the important part:
    // pairs explode over the DISTINCT vocabulary (each word processed
    // once, multiplied by its frequency) — never over the token stream —
    // so the expensive pass is vocabulary-sized, the word-frequency
    // groupBy is the only corpus-sized shuffle, and every further BPE
    // iteration would reuse the same cached vocabulary with re-segmented
    // symbols. Top-20 via TakeOrdered (no global sort).
    Q(
      "t105_bpe_pairs",
      (s, d) => {
        docWordFreq(s, d).select(col("freq"), concat(lit("_"), col("w")).as("sym"))
          .select(col("freq"), explode(expr(
            "transform(sequence(1, length(sym) - 1), i -> substring(sym, i, 2))")).as("pair"))
          .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("pair"))
          .limit(20)
      },
      Some("""WITH wf AS (
             |  SELECT w, COUNT(*) AS freq FROM (
             |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents)
             |  GROUP BY w),
             |sy AS (SELECT '_' || w AS sym, freq FROM wf),
             |pp AS (
             |  SELECT unnest(list_transform(generate_series(1, length(sym) - 1),
             |                i -> substring(sym, i, 2))) AS pair, freq
             |  FROM sy)
             |SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt
             |FROM pp GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20""".stripMargin),
    ),

    // ----- t110: exact duplicated-span detection (ExactSubstr dedup) -----
    // The exact-substring arm of training-data dedup (Lee et al., ACL'22
    // "Deduplicating Training Data Makes Language Models Better"): find
    // every maximal run of ≥K consecutive tokens that also appears in
    // another document. The single-node formulation is a corpus-wide
    // suffix array; the distributed re-expression is k-gram islands:
    // every K-token window becomes a (doc, pos, gram) site, grams seen in
    // ≥2 distinct docs mark their sites duplicated, and per-doc runs of
    // consecutive duplicated sites merge into maximal spans via
    // gaps-and-islands (pos − row_number is constant on a run). Output =
    // one row per maximal span, exactly the byte ranges ExactSubstr cuts.
    //
    // 100-TB shape: the only corpus-sized shuffle carries 8-byte
    // xxhash64(gram) keys, never the K-token strings — duplicated hashes
    // are found first, then the (duplicated-mass-bounded) candidate sites
    // re-derive their gram strings map-side and are verified on the FULL
    // string, so a cross-string hash collision cannot create a false span
    // and exactness is unconditional both ways. The candidate joins carry
    // no broadcast hint (AQE broadcasts small sides, shuffles at heavy
    // duplication). The islands window is keyed per doc (bounded by doc
    // length, never a global sort), and the O(n·K) hash fan-out is
    // map-side, pipelined into the shuffle write.
    Q(
      "t110_dup_spans",
      (s, d) => {
        graft.operators.DupSpans
          .find(Tables.documents(s, d).select(col("doc_id"), col("text")),
            "doc_id", "text", DupK)
          .select(col("doc_id"), col("span_start"), col("span_end"),
            (col("span_end") - col("span_start") + 1).as("span_tokens"))
          .orderBy("doc_id", "span_start")
      },
      Some(s"""WITH toks AS (
             |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |pos AS (
             |  SELECT doc_id, unnest(range(1, len(t) - $DupK + 2)) AS p, t
             |  FROM toks WHERE len(t) >= $DupK),
             |grams AS (
             |  SELECT doc_id, p, array_to_string(t[p:p+${DupK - 1}], ' ') AS g FROM pos),
             |dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) > 1),
             |sites AS (SELECT doc_id, p FROM grams JOIN dup USING (g)),
             |isl AS (
             |  SELECT doc_id, p,
             |    p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS grp
             |  FROM sites),
             |spans AS (
             |  SELECT doc_id, CAST(MIN(p) AS BIGINT) AS span_start,
             |    CAST(MAX(p) + ${DupK - 1} AS BIGINT) AS span_end
             |  FROM isl GROUP BY doc_id, grp)
             |SELECT doc_id, span_start, span_end,
             |  CAST(span_end - span_start + 1 AS BIGINT) AS span_tokens
             |FROM spans ORDER BY doc_id, span_start""".stripMargin),
    ),

    // ----- t111: duplicated-span removal (cleaned-corpus emission) -----
    // The actionable half of t110: strip every duplicated span from every
    // document and emit the cleaned corpus — the report row carries an md5
    // of the reconstructed text so the oracle certifies exact
    // reconstruction without hauling document bodies through the compare
    // (docs stripped to nothing keep '' — the caller's drop policy, not
    // ours). Reassembly never shuffles tokens: the per-doc span list
    // (bounded by the duplicated region count) joins back at DOCUMENT
    // cardinality and tokens are dropped in place with an indexed
    // higher-order filter over the still-intact token array — the only
    // corpus-sized work is that map-side lambda. Split-and-rejoin is
    // lossless because spans cover whole tokens on the single-space
    // tokenization both engines share.
    Q(
      "t111_dup_strip",
      (s, d) => {
        graft.operators.DupSpans
          .strip(Tables.documents(s, d).select(col("doc_id"), col("text")),
            "doc_id", "text", DupK)
          .select(
            col("doc_id"),
            col("n_tok_before"),
            (col("n_tok_before") - col("n_tok_kept")).as("n_tok_removed"),
            when(col("n_tok_kept") === 0, lit(""))
              .otherwise(md5(col("text").cast("binary"))).as("clean_md5"))
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (
             |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |tokx AS (
             |  SELECT doc_id, p, t[p] AS w FROM (
             |    SELECT doc_id, unnest(range(1, len(t) + 1)) AS p, t FROM toks)),
             |pos AS (
             |  SELECT doc_id, unnest(range(1, len(t) - $DupK + 2)) AS p, t
             |  FROM toks WHERE len(t) >= $DupK),
             |grams AS (
             |  SELECT doc_id, p, array_to_string(t[p:p+${DupK - 1}], ' ') AS g FROM pos),
             |dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) > 1),
             |sites AS (SELECT doc_id, p FROM grams JOIN dup USING (g)),
             |isl AS (
             |  SELECT doc_id, p,
             |    p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS grp
             |  FROM sites),
             |spans AS (
             |  SELECT doc_id, MIN(p) AS s, MAX(p) + ${DupK - 1} AS e
             |  FROM isl GROUP BY doc_id, grp),
             |covered AS (SELECT doc_id, unnest(range(s, e + 1)) AS p FROM spans),
             |kept AS (
             |  SELECT k.doc_id, k.p, k.w FROM tokx k
             |  ANTI JOIN covered c ON k.doc_id = c.doc_id AND k.p = c.p),
             |kc AS (
             |  SELECT doc_id, COUNT(*) AS n_kept,
             |    MD5(string_agg(w, ' ' ORDER BY p)) AS h
             |  FROM kept GROUP BY doc_id)
             |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tok_before,
             |  CAST(len(t.t) - COALESCE(kc.n_kept, 0) AS BIGINT) AS n_tok_removed,
             |  COALESCE(kc.h, '') AS clean_md5
             |FROM toks t LEFT JOIN kc ON t.doc_id = kc.doc_id
             |ORDER BY t.doc_id""".stripMargin),
    ),

    // ----- t113: unigram-LM quality scoring (perplexity filter) -----
    // CCNet-style (Wenzek et al., LREC'20): train a unigram LM on the
    // English slice, score EVERY document by its average per-token negative
    // log-likelihood under that LM — high avg-NLL means far from the target
    // distribution (wrong language, gibberish, boilerplate), the classic
    // pre-training quality signal. Cross-engine numerics are integer-exact:
    // each token's cost is quantized map-side to BIGINT micro-nats (ROUND
    // happens once per distinct count value, never per float-summation
    // order), the per-doc sum is an exact integer sum, and the mean is an
    // integer div. 100-TB shape: the LM is a token-keyed partial-agg'd
    // wordcount whose output is vocabulary-sized (≪ corpus) and broadcast
    // into the scoring pass with the two scalar totals; the only
    // corpus-sized shuffle is the per-doc re-agg keyed by doc_id.
    // Documents with zero [a-z] tokens have no LM evidence and are absent
    // from the output by contract (same in both engines).
    Q(
      "t113_lm_quality",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val lm = graft.operators.LmScore.vocab(
          graft.operators.LmScore.tokens(docs.filter(col("lang") === "en"), "doc_id", "text"))
        graft.operators.LmScore
          .score(docs, "doc_id", "text", lm, graft.operators.LmScore.totals(lm))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, lang, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
             |  FROM documents),
             |vocab AS (SELECT w, COUNT(*) AS cnt FROM toks WHERE lang = 'en' GROUP BY w),
             |tv AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t, COUNT(*) AS v FROM vocab),
             |cost AS (
             |  SELECT doc_id,
             |    CAST(ROUND(-ln((COALESCE(cnt, 0) + 1) / CAST(t + v AS DOUBLE)) * 1000000, 0) AS BIGINT) AS c
             |  FROM toks LEFT JOIN vocab USING (w) CROSS JOIN tv)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
             |  CAST(SUM(c) // COUNT(*) AS BIGINT) AS avg_nll_micro
             |FROM cost GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    ),

    // ----- t114: DSIR importance weights (hashed n-gram features) -----
    // Data Selection via Importance Resampling (Xie et al., NeurIPS'23):
    // hash unigram features into B=256 buckets, fit target (English slice)
    // and raw (everything else) bucket distributions with add-1 smoothing,
    // and score each document with the summed per-token log importance
    // ratio ln p_tgt(b) − ln p_raw(b) — documents resembling the target
    // slice get positive weight. The bucket hash is the repo's portable
    // md5-prefix hash (t47's contract), identical in both engines. The two
    // feature distributions are B-row aggregates — CONSTANT size, broadcast
    // always, at any corpus scale — and per-bucket log-ratios are quantized
    // once to BIGINT micro-nats (256 ROUNDs total), so the corpus pass is a
    // map-side bucket→λ lookup plus an exact integer per-doc sum; the only
    // corpus-sized shuffle is the per-doc agg keyed by doc_id.
    Q(
      "t114_dsir_weights",
      (s, d) =>
        // split form: target and raw partition the scored corpus itself,
        // so both distributions fit from ONE conditional agg inside a
        // single tokenize pass (Dsir.weightsSplit) — the generic
        // three-frame weights() pays three corpus tokenizations here
        graft.operators.Dsir
          .weightsSplit(Tables.documents(s, d), col("lang") === "en")
          .orderBy("doc_id"),
      Some("""WITH tk AS (
             |  SELECT doc_id, lang, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
             |  FROM documents),
             |toks AS (
             |  SELECT doc_id, lang,
             |    CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT) % 256 AS b FROM tk),
             |tgt AS (SELECT b, COUNT(*) AS ct FROM toks WHERE lang = 'en' GROUP BY b),
             |rw  AS (SELECT b, COUNT(*) AS cr FROM toks WHERE lang <> 'en' GROUP BY b),
             |tots AS (SELECT (SELECT CAST(SUM(ct) AS BIGINT) FROM tgt) AS tt,
             |                (SELECT CAST(SUM(cr) AS BIGINT) FROM rw) AS tr),
             |bs AS (SELECT unnest(range(256)) AS b),
             |lam AS (
             |  SELECT bs.b,
             |    CAST(ROUND((ln((COALESCE(ct, 0) + 1) / CAST(tt + 256 AS DOUBLE))
             |              - ln((COALESCE(cr, 0) + 1) / CAST(tr + 256 AS DOUBLE))) * 1000000, 0)
             |     AS BIGINT) AS lam
             |  FROM bs LEFT JOIN tgt ON bs.b = tgt.b LEFT JOIN rw ON bs.b = rw.b
             |  CROSS JOIN tots)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
             |  CAST(SUM(lam) AS BIGINT) AS logw_micro
             |FROM toks JOIN lam USING (b)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    ),

    // ----- t116: vocabulary mass coverage (tokenizer sizing profile) -----
    // Per language: how many distinct words cover 90% of the token mass —
    // the corpus-compressibility profile that sizes tokenizer vocabularies
    // and flags boilerplate-heavy slices (tiny vocab90 = repetitive text).
    // A word is inside vocab90 while the mass accumulated BEFORE it is
    // under the threshold, counted with pure integer arithmetic
    // (10·cum_before < 9·total — no float division anywhere). Shape: the
    // corpus-sized work is one partial-agg'd wordcount; the windows run
    // over VOCABULARY-sized partitions keyed by lang (≪ corpus, never a
    // global sort over tokens).
    Q(
      "t116_vocab_coverage",
      (s, d) => {
        val freq = Tables.documents(s, d)
          .select(col("lang"),
            explode(ArrayFns.words(col("text"))).as("w"))
          .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("cnt"))
        val cw = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang")).orderBy(col("cnt").desc, col("w"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        val tw = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
        freq
          .withColumn("cum", sum(col("cnt")).over(cw))
          .withColumn("tot", sum(col("cnt")).over(tw))
          .groupBy(col("lang"))
          .agg(
            max(col("tot")).as("total_tokens"),
            count(lit(1)).as("total_vocab"),
            sum(when((col("cum") - col("cnt")) * 10 < col("tot") * 9, 1L).otherwise(0L))
              .as("vocab90"))
          .orderBy("lang")
      },
      Some("""WITH toks AS (
             |  SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
             |  FROM documents),
             |freq AS (SELECT lang, w, COUNT(*) AS cnt FROM toks GROUP BY lang, w),
             |c AS (
             |  SELECT lang, cnt,
             |    SUM(cnt) OVER (PARTITION BY lang ORDER BY cnt DESC, w
             |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |    SUM(cnt) OVER (PARTITION BY lang) AS tot
             |  FROM freq)
             |SELECT lang, CAST(MAX(tot) AS BIGINT) AS total_tokens,
             |  CAST(COUNT(*) AS BIGINT) AS total_vocab,
             |  CAST(SUM(CASE WHEN (cum - cnt) * 10 < tot * 9 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS vocab90
             |FROM c GROUP BY lang ORDER BY lang""".stripMargin),
    ),

    // ----- t117: first-occurrence n-gram novelty (curation ordering) -----
    // Score each document by the fraction of its distinct 8-grams that
    // first appear in it (min doc_id over the corpus) — the novelty signal
    // data-curation orderings use to de-prioritize derivative documents.
    // The gram key is the 8-byte xxhash64 fingerprint, exactly as DupSpans
    // keys its k-grams — the corpus-sized distinct/agg shuffles move longs,
    // never the 32-char md5 hex the first cut shipped (~4× the bytes per
    // row). The fingerprint never reaches the output, so the oracle gate
    // stays the exact per-doc counts; the engines hash differently (oracle
    // keeps md5) but both are deterministic, and a count-visible collision
    // needs two of this corpus's ~10⁶ grams to collide in 64 (resp. 128)
    // bits — P ≈ 10⁻⁷, and a collision would be a permanent, visible gate
    // failure, not a flake. Shape: one corpus-sized explode → distinct (doc,
    // gram), then TWO aggregations off it — per-doc gram counts and
    // gram-keyed min-doc rolled up to per-doc novel counts — joined at
    // document cardinality. The novel count comes straight off the
    // min-agg (each gram is novel in exactly one doc), so no corpus-sized
    // join back to the gram sites exists anywhere in the plan.
    Q(
      "t117_gram_novelty",
      (s, d) => {
        val grams = graft.operators.TemplateGrams
          .grams(Tables.documents(s, d).select(col("doc_id"), col("text")), "text", 8)
          // both aggregations below consume the distinct gram sites; the
          // checkpoint materializes the explode+distinct once (t30-t32's
          // shared-subtree pattern) instead of running it per consumer
          .localCheckpoint()
        val perDoc = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
        val novel = grams.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("novel"))
        perDoc.join(novel, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_grams"),
            coalesce(col("novel"), lit(0L)).as("novel"),
            expr("coalesce(novel, 0L) * 10000 div n_grams").as("novelty_bp"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t FROM documents),
             |pos AS (
             |  SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
             |  FROM toks WHERE len(t) >= 8),
             |g AS (
             |  SELECT DISTINCT doc_id, md5(array_to_string(t[i:i+7], ' ')) AS h FROM pos),
             |f AS (SELECT h, MIN(doc_id) AS fd FROM g GROUP BY h)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
             |  CAST(SUM(CASE WHEN fd = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS novel,
             |  CAST(SUM(CASE WHEN fd = doc_id THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT)
             |    AS novelty_bp
             |FROM g JOIN f USING (h) GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    ),

    // ----- t118: composed curation decision (the scorers as a pipeline) -----
    // The distribution-based scorers composed into one admission DAG, the
    // way a curation run actually uses them: per document, LM avg-NLL
    // (t113 arm) and DSIR importance weight (t114 arm) joined at document
    // cardinality, a keep rule over fixed integer thresholds (length floor
    // ≥ 30 tokens, NLL below 9.5 nats, non-negative importance), and a
    // per-language admission report with exact kept-token accounting. Both
    // scorer arms reuse the verified operators; the join and rollup are
    // doc-cardinality — composition adds no corpus-sized stage beyond the
    // arms themselves.
    Q(
      "t118_curation_pipeline",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val lm = graft.operators.LmScore.vocab(
          graft.operators.LmScore.tokens(docs.filter(col("lang") === "en"), "doc_id", "text"))
        val nll = graft.operators.LmScore
          .score(docs, "doc_id", "text", lm, graft.operators.LmScore.totals(lm))
        val dsir = graft.operators.Dsir
          .weights(docs,
            target = docs.filter(col("lang") === "en"),
            raw = docs.filter(col("lang") =!= "en"))
          .select(col("doc_id"), col("logw_micro"))
        nll.join(dsir, Seq("doc_id"))
          .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
          .withColumn("keep",
            col("n_tok") >= 30L && col("avg_nll_micro") < 9500000L && col("logw_micro") >= 0L)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
            sum(when(col("keep"), col("n_tok")).otherwise(0L)).as("kept_tokens"))
          .orderBy("lang")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, lang, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
             |  FROM documents),
             |vocab AS (SELECT w, COUNT(*) AS cnt FROM toks WHERE lang = 'en' GROUP BY w),
             |tv AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t, COUNT(*) AS v FROM vocab),
             |cost AS (
             |  SELECT doc_id,
             |    CAST(ROUND(-ln((COALESCE(cnt, 0) + 1) / CAST(t + v AS DOUBLE)) * 1000000, 0) AS BIGINT) AS c
             |  FROM toks LEFT JOIN vocab USING (w) CROSS JOIN tv),
             |nll AS (
             |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
             |    CAST(SUM(c) // COUNT(*) AS BIGINT) AS avg_nll_micro
             |  FROM cost GROUP BY doc_id),
             |bt AS (
             |  SELECT doc_id, lang,
             |    CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT) % 256 AS b FROM toks),
             |tgt AS (SELECT b, COUNT(*) AS ct FROM bt WHERE lang = 'en' GROUP BY b),
             |rw  AS (SELECT b, COUNT(*) AS cr FROM bt WHERE lang <> 'en' GROUP BY b),
             |tots AS (SELECT (SELECT CAST(SUM(ct) AS BIGINT) FROM tgt) AS tt,
             |                (SELECT CAST(SUM(cr) AS BIGINT) FROM rw) AS tr),
             |bs AS (SELECT unnest(range(256)) AS b),
             |lam AS (
             |  SELECT bs.b,
             |    CAST(ROUND((ln((COALESCE(ct, 0) + 1) / CAST(tt + 256 AS DOUBLE))
             |              - ln((COALESCE(cr, 0) + 1) / CAST(tr + 256 AS DOUBLE))) * 1000000, 0)
             |     AS BIGINT) AS lam
             |  FROM bs LEFT JOIN tgt ON bs.b = tgt.b LEFT JOIN rw ON bs.b = rw.b
             |  CROSS JOIN tots),
             |dsir AS (
             |  SELECT doc_id, CAST(SUM(lam) AS BIGINT) AS logw_micro
             |  FROM bt JOIN lam USING (b) GROUP BY doc_id),
             |dec AS (
             |  SELECT d.lang, n.n_tok,
             |    (n.n_tok >= 30 AND n.avg_nll_micro < 9500000 AND ds.logw_micro >= 0) AS keep
             |  FROM nll n JOIN dsir ds USING (doc_id) JOIN documents d USING (doc_id))
             |SELECT lang, COUNT(*) AS n_docs,
             |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
             |  CAST(SUM(CASE WHEN keep THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens
             |FROM dec GROUP BY lang ORDER BY lang""".stripMargin),
    ),

    // ----- t119: frequency-ranked token-id encoding (tokenize-to-ids) -----
    // The step between vocabulary fitting (t116) and sequence packing
    // (t69): assign every word its dense id by frequency rank (ties by
    // word) and re-emit each document as its ordered id sequence — the
    // report row carries an md5 of the comma-joined ids so the oracle
    // certifies the exact sequence without hauling arrays through the
    // compare. The global rank deliberately avoids the single-partition
    // `Window.orderBy` funnel: ids come from the q20/t41 two-pass scheme
    // (range-partition the vocab by (cnt DESC, w), count per partition,
    // fold #partitions longs on the driver, broadcast offsets, number
    // locally) — exact global row numbers with no vocabulary-sized stage
    // on one task. Encoding is then a token→id join (AQE broadcasts a
    // small vocab; a web-scale vocab degrades to a shuffled join keyed on
    // the word) and a per-doc re-assembly bounded by doc length.
    Q(
      "t119_token_ids",
      (s, d) => {
        import s.implicits._
        val tok = Tables.documents(s, d)
          .select(col("doc_id"), posexplode(ArrayFns.words(col("text"))))
          .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"), col("col").as("w"))
        val vocab = tok.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
          .select(col("cnt"), col("w")).as[(Long, String)]
        val ids = graft.operators.PrefixSum
          .runningBefore(vocab, s.sparkContext.defaultParallelism,
            Seq(col("cnt").desc, col("w")))(_ => 1L) {
            case ((_, w), before, _) => (w, before + 1)
          }
          .toDF("w", "id")
        tok.join(ids, Seq("w"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tok"),
            expr("md5(CAST(array_join(transform(array_sort(collect_list(struct(p, id))), " +
              "x -> CAST(x.id AS STRING)), ',') AS BINARY))").as("ids_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH tk AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t FROM documents),
             |tok AS (
             |  SELECT doc_id, p, t[p] AS w
             |  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS p FROM tk)),
             |vocab AS (SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w),
             |ids AS (
             |  SELECT w, ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS id FROM vocab)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
             |  md5(string_agg(CAST(id AS VARCHAR), ',' ORDER BY p)) AS ids_md5
             |FROM tok JOIN ids USING (w)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    ),

    // ----- t120: global concat-and-chunk packing (pretraining samples) -----
    // The OTHER packing flavor next to t69's per-source token bins: the
    // whole corpus concatenated in doc_id order and cut into fixed
    // 512-token training samples whose boundaries cross documents — the
    // actual pretraining sample-boundary computation. Per chunk: how many
    // docs contribute, the exact token fill (512 everywhere but the tail),
    // and the contributing doc-id range. Global offsets come from the
    // q20/t41 two-pass scheme at DOCUMENT cardinality (range-partition by
    // doc_id, fold #partitions longs on the driver, broadcast) — no
    // corpus- or doc-sized single-partition stage; the chunk explode is
    // bounded by each doc's own chunk span (n/512 + 2).
    Q(
      "t120_pack_chunks",
      (s, d) => {
        import s.implicits._
        val C = 512L
        val nt = Tables.documents(s, d)
          .select(col("doc_id"),
            expr("CAST(regexp_count(lower(text), '[a-z]+') AS BIGINT)").as("n"))
          .filter(col("n") > 0L)
          .as[(Long, Long)]
        graft.operators.PrefixSum
          .runningBefore(nt, s.sparkContext.defaultParallelism, Seq(col("doc_id")))(_._2) {
            case ((id, n), before, _) => (id, n, before)
          }
          .toDF("doc_id", "n", "off")
          .select(col("doc_id"), col("n"), col("off"),
            explode(sequence(expr(s"off div $C"), expr(s"(off + n - 1) div $C"))).as("chunk"))
          .groupBy(col("chunk"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(least(expr(s"(chunk + 1) * $C"), col("off") + col("n")) -
              greatest(expr(s"chunk * $C"), col("off"))).as("n_tokens"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
          .orderBy("chunk")
      },
      Some("""WITH nt AS (
             |  SELECT doc_id, CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS n
             |  FROM documents
             |  WHERE len(regexp_extract_all(lower(text), '[a-z]+')) > 0),
             |o AS (
             |  SELECT doc_id, n,
             |    CAST(SUM(n) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS BIGINT) AS off
             |  FROM nt),
             |ch AS (
             |  SELECT doc_id, n, off, unnest(range(off // 512, (off + n - 1) // 512 + 1)) AS c
             |  FROM o)
             |SELECT CAST(c AS BIGINT) AS chunk, COUNT(*) AS n_docs,
             |  CAST(SUM(LEAST((c + 1) * 512, off + n) - GREATEST(c * 512, off)) AS BIGINT) AS n_tokens,
             |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
             |FROM ch GROUP BY c ORDER BY chunk""".stripMargin),
    ),

    // ----- t121: dedup-then-pack (cross-family pipeline composition) -----
    // The dedup and packing families composed the way a curation run chains
    // them: strip every cross-document duplicated span (t111's operator),
    // then cut the CLEANED corpus into 512-token training samples (t120's
    // scheme over n_tok_kept). Emptied documents drop out before packing;
    // sample boundaries shift versus t120 exactly by the removed
    // duplicated mass. No new corpus-sized stage beyond the two verified
    // arms — the packing side runs at document cardinality.
    Q(
      "t121_dedup_pack",
      (s, d) => {
        import s.implicits._
        val C = 512L
        val kept = graft.operators.DupSpans
          .strip(Tables.documents(s, d).select(col("doc_id"), col("text")),
            "doc_id", "text", DupK)
          .select(col("doc_id"), col("n_tok_kept").as("n"))
          .filter(col("n") > 0L)
          .as[(Long, Long)]
        graft.operators.PrefixSum
          .runningBefore(kept, s.sparkContext.defaultParallelism, Seq(col("doc_id")))(_._2) {
            case ((id, n), before, _) => (id, n, before)
          }
          .toDF("doc_id", "n", "off")
          .select(col("doc_id"), col("n"), col("off"),
            explode(sequence(expr(s"off div $C"), expr(s"(off + n - 1) div $C"))).as("chunk"))
          .groupBy(col("chunk"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(least(expr(s"(chunk + 1) * $C"), col("off") + col("n")) -
              greatest(expr(s"chunk * $C"), col("off"))).as("n_tokens"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
          .orderBy("chunk")
      },
      Some(s"""WITH toks AS (
             |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |tokx AS (
             |  SELECT doc_id, p, t[p] AS w FROM (
             |    SELECT doc_id, unnest(range(1, len(t) + 1)) AS p, t FROM toks)),
             |pos AS (
             |  SELECT doc_id, unnest(range(1, len(t) - $DupK + 2)) AS p, t
             |  FROM toks WHERE len(t) >= $DupK),
             |grams AS (
             |  SELECT doc_id, p, array_to_string(t[p:p+${DupK - 1}], ' ') AS g FROM pos),
             |dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) > 1),
             |sites AS (SELECT doc_id, p FROM grams JOIN dup USING (g)),
             |isl AS (
             |  SELECT doc_id, p,
             |    p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS grp
             |  FROM sites),
             |spans AS (
             |  SELECT doc_id, MIN(p) AS s, MAX(p) + ${DupK - 1} AS e
             |  FROM isl GROUP BY doc_id, grp),
             |covered AS (SELECT doc_id, unnest(range(s, e + 1)) AS p FROM spans),
             |kept AS (
             |  SELECT k.doc_id, k.p FROM tokx k
             |  ANTI JOIN covered c ON k.doc_id = c.doc_id AND k.p = c.p),
             |nt AS (
             |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM kept GROUP BY doc_id),
             |o AS (
             |  SELECT doc_id, n,
             |    CAST(SUM(n) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS BIGINT) AS off
             |  FROM nt),
             |ch AS (
             |  SELECT doc_id, n, off, unnest(range(off // 512, (off + n - 1) // 512 + 1)) AS c
             |  FROM o)
             |SELECT CAST(c AS BIGINT) AS chunk, COUNT(*) AS n_docs,
             |  CAST(SUM(LEAST((c + 1) * 512, off + n) - GREATEST(c * 512, off)) AS BIGINT) AS n_tokens,
             |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
             |FROM ch GROUP BY c ORDER BY chunk""".stripMargin),
    ),

    // ----- t122: iterative BPE merge training (the full greedy loop) -----
    // t105 is "BPE iteration 0"; this is the loop an actual tokenizer
    // training run executes: count weighted adjacent pairs over the
    // vocabulary, merge the argmax pair everywhere (leftmost-greedy,
    // non-overlapping), recount, repeat — here for 8 rounds. Output is
    // the merge table a tokenizer ships. Scale shape (see operators/Bpe):
    // the corpus-sized pass is the word-count only; every round is a
    // vocabulary-sized pair count + a TakeOrdered(1) argmax + a map-side
    // fold re-segmentation, with per-round state checkpointed flat. The
    // oracle unrolls the same 8 rounds as chained CTEs with a
    // list_reduce fold, pinning the tie-break (count DESC, lhs, rhs) and
    // the greedy-merge semantics in both engines by construction.
    Q(
      "t122_bpe_train",
      (s, d) => graft.operators.Bpe.train(s, docWordFreq(s, d), "w", "freq", steps = BpeSteps),
      Some(graft.operators.Bpe.oracleSql(
        BpeSteps,
        """SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
          |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents)
          |  GROUP BY w""".stripMargin)),
    ),

    // ----- BPE corpus encoding (train → ENCODE → pack) -----
    // The deployment half of t122: learn the merge table, then encode the
    // corpus with it and report per-document subword counts + fertility
    // (pieces per word — the standard tokenizer-eval metric). Scale shape
    // (see operators/Bpe.encodeVocab): the merge-fold chain runs once per
    // DISTINCT word — vocabulary-sized, tiny next to the token stream
    // under a Zipf corpus — and the corpus-sized step is a plain hash
    // join of the exploded token stream against the encoded vocabulary
    // (AQE broadcasts it when small, shuffles on the word key otherwise),
    // followed by a doc-keyed partial agg. The merge table itself is
    // model-sized and rides into one projection as literals. The oracle
    // re-derives the SAME merges with t122's unrolled chain, so rule
    // drift between engines is impossible by construction.
    Q(
      "t123_bpe_encode",
      (s, d) => {
        // localCheckpoint both reused frames: toks feeds the vocabulary AND
        // the final join (two corpus explodes otherwise), and wf feeds
        // train AND encodeVocab (two corpus-sized aggregations otherwise)
        // — the same consumed-N-times materialization SemDeDup uses.
        val toks = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(ArrayFns.words(col("text"))).as("w"))
          .localCheckpoint()
        val wf = wordFreq(toks).localCheckpoint()
        val merges = bpeMerges(s, wf)
        val enc = graft.operators.Bpe.encodeVocab(wf.select(col("w")), "w", merges)
          .select(col("w"), col("n_pieces"))
        toks.join(enc, "w")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_words"), sum(col("n_pieces")).as("n_pieces"))
          .select(col("doc_id"), col("n_words"), col("n_pieces"),
            round(col("n_pieces") * 1.0 / col("n_words"), 4).as("fertility"))
          .orderBy("doc_id")
      },
      Some(graft.operators.Bpe.encodeOracleSql(
        BpeSteps,
        """SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
          |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents)
          |  GROUP BY w""".stripMargin,
        """SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
          |  FROM documents""".stripMargin)),
    ),

    // ----- t159: BATCHED BPE training (the production-vocab scale path) -----
    // t122's design is right but its constant factor is not: one merge per
    // recount round means a real 32k–100k vocab run is ~10⁵ sequential
    // Spark jobs. This is the fix — per round, accept up to 8 ranked pairs
    // that are pairwise-disjoint, fresh-symboled, and strictly
    // count-separated (operators/Bpe.acceptBatch C1–C3, with the
    // sequential-equivalence proof) and land them in ONE fold pass. The
    // merge table is provably rule-for-rule identical to the sequential
    // trainer's, so the oracle IS the sequential 32-round unrolled chain —
    // the equivalence claim is exactly what the DuckDB gate checks. The
    // per-round job count is unchanged from t122 (one vocab-sized pair
    // count + one argmax fetch of ≤ 4·batch rows + one map-side fold), so
    // cutting rounds ~batch× cuts wall-clock the same factor; BpeSpec
    // asserts the round count actually drops on this corpus and
    // property-tests batched == sequential over random vocabularies.
    Q(
      "t159_bpe_batched",
      (s, d) =>
        graft.operators.Bpe.train(s, docWordFreq(s, d), "w", "freq",
          steps = BpeBatchedSteps, batch = 8),
      Some(graft.operators.Bpe.oracleSql(
        BpeBatchedSteps,
        """SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
          |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents)
          |  GROUP BY w""".stripMargin)),
    ),

    // ----- t169: BPE round-trip certification (decode ∘ encode = id) -----
    // t122/t123/t159 produce merge tables and ids; NOTHING there certifies
    // the one property tokenizer users actually depend on — that decoding
    // the pieces reproduces the text. This closes it per document: decode
    // every encoded vocabulary word (concatenate pieces, strip the '_'
    // marker), re-assemble each document from its token stream's decoded
    // pieces in position order, and compare against the canonical
    // space-joined token stream. BPE merges only ever CONCATENATE adjacent
    // symbols, so ok = 1 and n_bad_words = 0 everywhere is the theorem;
    // a segmentation bug (dropped symbol, wrong merge site, marker
    // mishandling) flips rows and the oracle hash catches it. Scale
    // shape: identical to t123 — the fold chain runs per DISTINCT word,
    // the corpus-sized work is one token-stream hash join plus a
    // doc-keyed agg whose per-doc collect_list is document-sized (KB),
    // never corpus-sized. The oracle re-derives the SAME rules via the
    // unrolled chain, so the certification can't drift between engines.
    Q(
      "t169_bpe_roundtrip",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"),
            posexplode(ArrayFns.words(col("text")))
              .as(Seq("pos", "w")))
          .localCheckpoint()
        val wf = wordFreq(toks).localCheckpoint()
        val merges = bpeMerges(s, wf)
        val dec = graft.operators.Bpe.encodeVocab(wf.select(col("w")), "w", merges)
          .select(col("w"), col("n_pieces"),
            expr("substring(array_join(pieces, ''), 2)").as("dec"))
        val canon = Tables.documents(s, d)
          .select(col("doc_id"),
            array_join(ArrayFns.words(col("text")), " ")
              .as("canon"))
        toks.join(dec, "w")
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_words"),
            sum(col("n_pieces")).as("n_pieces"),
            sum(when(col("dec") =!= col("w"), 1L).otherwise(0L)).as("n_bad_words"),
            array_join(
              expr("transform(array_sort(collect_list(struct(pos, dec))), x -> x.dec)"),
              " ").as("rebuilt"))
          .join(canon, "doc_id")
          .select(col("doc_id"), col("n_words"), col("n_pieces"), col("n_bad_words"),
            when(col("rebuilt") === col("canon"), 1L).otherwise(0L).as("ok"))
          .orderBy("doc_id")
      },
      Some(graft.operators.Bpe.roundTripOracleSql(
        BpeSteps,
        """SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
          |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents)
          |  GROUP BY w""".stripMargin,
        """SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w,
          |    generate_subscripts(regexp_extract_all(lower(text), '[a-z]+'), 1) AS pos
          |  FROM documents""".stripMargin,
        """SELECT doc_id, array_to_string(regexp_extract_all(lower(text), '[a-z]+'), ' ')
          |    AS canon FROM documents""".stripMargin)),
    ),

    // ----- t172: BPE round-trip certification, CADENCE form -----
    // t169's full-reassembly audit is corpus-sized by construction: the
    // per-doc collect_list of every decoded token materializes the whole
    // corpus inside aggregation buffers (measured: the round-14 sf100
    // rehearsal's one new spiller, 9.6 GB). But the reassembly is
    // REDUNDANT for the certification verdict: rebuilt and canon are
    // space-joins of the SAME extracted token sequence, and [a-z]+ tokens
    // are space-free, so the join is injective — rebuilt == canon ⟺
    // dec == w at every position ⟺ n_bad_words == 0. This is that
    // theorem as the registered production-cadence form: identical rules,
    // identical per-word decode, but the per-doc aggregation state is
    // four longs (count/sum/sum/derived ok) instead of the document text
    // — bounded state at any corpus, zero spill by shape. t169 remains
    // the offline audit (it additionally exercises position numbering
    // and assembly itself — machinery t172 deliberately trusts).
    // TextSpec pins row-identity between the two forms' shared columns.
    Q(
      "t172_bpe_roundtrip_cadence",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(ArrayFns.words(col("text"))).as("w"))
          .localCheckpoint()
        val wf = wordFreq(toks).localCheckpoint()
        val merges = bpeMerges(s, wf)
        val dec = graft.operators.Bpe.encodeVocab(wf.select(col("w")), "w", merges)
          .select(col("w"), col("n_pieces"),
            expr("substring(array_join(pieces, ''), 2)").as("dec"))
        toks.join(dec, "w")
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_words"),
            sum(col("n_pieces")).as("n_pieces"),
            sum(when(col("dec") =!= col("w"), 1L).otherwise(0L)).as("n_bad_words"))
          .select(col("doc_id"), col("n_words"), col("n_pieces"), col("n_bad_words"),
            when(col("n_bad_words") === 0L, 1L).otherwise(0L).as("ok"))
          .orderBy("doc_id")
      },
      Some(graft.operators.Bpe.roundTripCadenceOracleSql(
        BpeSteps,
        """SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
          |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents)
          |  GROUP BY w""".stripMargin,
        """SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
          |  FROM documents""".stripMargin)),
    ),

    // ----- temperature-based source mixing (α = 0.5) -----
    // The mixture-reweighting step of a multi-source training run
    // (multilingual-LM style temperature sampling): source s is drawn with
    // p_s ∝ n_s^α instead of its natural token share, upweighting the tail
    // sources. α is pinned to 0.5 because sqrt is the one power IEEE-754
    // requires correctly rounded — both engines produce bit-identical
    // per-source weights (pow(x, 0.7) would be libm-dependent). The weight
    // is then scaled to integer micro-units per source (the LmScore
    // integer-micro-nats trick) so the normalizing SUM is an
    // order-independent integer sum under Spark's partial aggregation.
    // One corpus-sized pass (source-keyed partial agg), then a
    // handful-of-rows scalar cross-join — nothing here grows with docs.
    Q(
      "t124_mix_temperature",
      (s, d) => {
        val cells = Tables.documents(s, d)
          .select(col("source"),
            regexp_count(col("text"), lit("\\S+")).cast("long").as("toks"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("tokens"))
          .withColumn("w_micro",
            round(sqrt(col("tokens")) * 1e6).cast("long"))
        val tot = cells.agg(sum(col("tokens")).as("tt"), sum(col("w_micro")).as("tw"))
        cells.crossJoin(broadcast(tot))
          .select(
            col("source"), col("n_docs"), col("tokens"),
            round(col("tokens") * 1.0 / col("tt"), 4).as("nat_share"),
            round(col("w_micro") * 1.0 / col("tw"), 4).as("temp_share"),
            round((col("w_micro") * 1.0 / col("tw")) / (col("tokens") * 1.0 / col("tt")), 4)
              .as("resample_factor"))
          .orderBy("source")
      },
      Some("""WITH c AS (
             |  SELECT source, COUNT(*) AS n_docs,
             |    CAST(SUM(CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)) AS BIGINT) AS tokens
             |  FROM documents GROUP BY source),
             |w AS (
             |  SELECT source, n_docs, tokens,
             |    CAST(ROUND(sqrt(tokens) * 1e6) AS BIGINT) AS w_micro
             |  FROM c),
             |t AS (SELECT CAST(SUM(tokens) AS BIGINT) AS tt,
             |             CAST(SUM(w_micro) AS BIGINT) AS tw FROM w)
             |SELECT source, n_docs, tokens,
             |  ROUND(tokens * 1.0 / tt, 4) AS nat_share,
             |  ROUND(w_micro * 1.0 / tw, 4) AS temp_share,
             |  ROUND((w_micro * 1.0 / tw) / (tokens * 1.0 / tt), 4) AS resample_factor
             |FROM w CROSS JOIN t ORDER BY source""".stripMargin),
    ),

    // ----- t127: deterministic epoch shuffle + round-robin sharding -----
    // The training-order layout step: before a run, the corpus gets a
    // seeded global permutation (so epochs differ but reruns reproduce)
    // and the permuted stream is dealt round-robin into N shards —
    // balanced to ±1 document by construction and hash-mixed within each
    // shard. The shuffle key is a 60-bit md5 prefix of seed:doc_id
    // (identical arithmetic in DuckDB, so the permutation is
    // cross-engine exact); the global position comes from the q20/t119
    // two-pass prefix-sum scheme — range-partition by (key, doc_id),
    // fold #partitions Longs on the driver, number locally — so there is
    // NO single-partition ORDER BY funnel anywhere, the exact trap a
    // naive ROW_NUMBER() OVER (ORDER BY hash) falls into at 100 TB.
    Q(
      "t127_epoch_shuffle",
      (s, d) => {
        import s.implicits._
        val nShards = 8
        val keyed = Tables.documents(s, d)
          .select(col("doc_id"),
            expr("cast(conv(substring(md5(cast(concat('ep1:', cast(doc_id as string)) as binary)), 1, 15), 16, 10) as bigint)")
              .as("hk"))
          .select(col("doc_id"), col("hk")).as[(Long, Long)]
        graft.operators.PrefixSum
          .runningBefore(keyed, s.sparkContext.defaultParallelism,
            Seq(col("hk"), col("doc_id")))(_ => 1L) {
            case ((id, _), rank, _) => (id, rank % nShards, rank / nShards)
          }
          .toDF("doc_id", "shard", "pos_in_shard")
          .orderBy("doc_id")
      },
      Some("""WITH h AS (
             |  SELECT doc_id,
             |    CAST(('0x' || substring(md5('ep1:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hk
             |  FROM documents),
             |r AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY hk, doc_id) - 1 AS rk FROM h)
             |SELECT doc_id, CAST(rk % 8 AS BIGINT) AS shard,
             |  CAST(rk // 8 AS BIGINT) AS pos_in_shard
             |FROM r ORDER BY doc_id""".stripMargin),
    ),

    // ----- t128: BM25 keyword retrieval, top-20 -----
    // The retrieval scorer a decontamination/eval-harvest pass runs over a
    // corpus (Robertson-Spärck Jones BM25, k1=1.2, b=0.75): per-term
    // tf saturation scaled by inverse document frequency and length
    // normalization. Scale shape: the per-doc tf/dl pass is map-side
    // codegen'd regexp counts; the corpus statistics (N, Σdl, per-term df)
    // are ONE partial-agg'd pass collapsing to a 1-row scalar that rides a
    // broadcast cross join back onto the docs; the top-20 executes as
    // TakeOrdered (per-partition heaps), never a global sort. Cross-engine
    // determinism: the raw idf ratio (N-df+0.5)/(df+0.5) replaces the
    // usual ln() of it — monotone in the same argument, so ranking is
    // UNCHANGED, and the whole score is +,*,/ over exact integers, each
    // IEEE-correctly-rounded and written in the identical association in
    // both engines (ln differs in the last ulp between libm and DuckDB).
    // The term sum is a fixed 3-term left-to-right add, not an agg.
    // Term hits use the letter-run contract (wordRunPat / wordHitCntSql),
    // NOT \b: Java's Unicode \b vs RE2's ASCII \b diverge when a keyword
    // abuts CJK/accented/combining chars — the EDGE.md finding-4 class.
    Q(
      "t128_bm25_topk",
      (s, d) => {
        val tfd = Tables.documents(s, d)
          .select(
            col("doc_id"),
            regexp_count(lower(col("text")), lit("[a-z]+")).cast("long").as("dl"),
            regexp_count(lower(col("text")), lit(wordRunPat(Seq("hash")))).cast("long").as("tf_hash"),
            regexp_count(lower(col("text")), lit(wordRunPat(Seq("join")))).cast("long").as("tf_join"),
            regexp_count(lower(col("text")), lit(wordRunPat(Seq("merge")))).cast("long").as("tf_merge"))
        val g = tfd.agg(
          count(lit(1)).as("n"),
          sum(col("dl")).as("sumdl"),
          sum(when(col("tf_hash") > 0, 1L).otherwise(0L)).as("df_hash"),
          sum(when(col("tf_join") > 0, 1L).otherwise(0L)).as("df_join"),
          sum(when(col("tf_merge") > 0, 1L).otherwise(0L)).as("df_merge"))
        def term(tf: String, df: String): Column =
          ((col("n") - col(df) + 0.5) / (col(df) + 0.5)) * (col(tf) * 2.2) /
            (col(tf) + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") * col("n") / col("sumdl"))))
        tfd.crossJoin(broadcast(g))
          .select(col("doc_id"), col("dl"), col("tf_hash"), col("tf_join"), col("tf_merge"),
            round(term("tf_hash", "df_hash") + term("tf_join", "df_join")
              + term("tf_merge", "df_merge"), 4).as("bm25"))
          .orderBy(col("bm25").desc, col("doc_id"))
          .limit(20)
      },
      Some(s"""WITH t AS (
             |  SELECT doc_id,
             |    CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS dl,
             |    CAST(${wordHitCntSql(Seq("hash"), "lower(text)")} AS BIGINT) AS tf_hash,
             |    CAST(${wordHitCntSql(Seq("join"), "lower(text)")} AS BIGINT) AS tf_join,
             |    CAST(${wordHitCntSql(Seq("merge"), "lower(text)")} AS BIGINT) AS tf_merge
             |  FROM documents),
             |g AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS sumdl,
             |  CAST(SUM(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_hash,
             |  CAST(SUM(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_join,
             |  CAST(SUM(CASE WHEN tf_merge > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_merge FROM t)
             |SELECT doc_id, dl, tf_hash, tf_join, tf_merge,
             |  ROUND(
             |    ((n - df_hash + 0.5) / (df_hash + 0.5)) * (tf_hash * 2.2) / (tf_hash + 1.2 * (0.25 + 0.75 * (dl * n / sumdl)))
             |  + ((n - df_join + 0.5) / (df_join + 0.5)) * (tf_join * 2.2) / (tf_join + 1.2 * (0.25 + 0.75 * (dl * n / sumdl)))
             |  + ((n - df_merge + 0.5) / (df_merge + 0.5)) * (tf_merge * 2.2) / (tf_merge + 1.2 * (0.25 + 0.75 * (dl * n / sumdl))), 4) AS bm25
             |FROM t CROSS JOIN g
             |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin),
    ),

    // ----- t135: deterministic per-source inspection sample -----
    // The eyeball-QA step of a curation run: pull a fixed handful of docs
    // per SOURCE (stratified, so a tail source is never crowded out),
    // chosen by smallest 60-bit md5 of doc_id — a uniform per-stratum
    // sample that is deterministic and rerun-stable, so two reviewers (or
    // two days) see the SAME docs. Runs on the native TopKPerKey exec
    // (t90's operator): per-partition bounded heaps + one clustered
    // exchange — no Window, no rank-everything-to-keep-8, no global sort.
    // The oracle's ROW_NUMBER window is the semantics being replaced, not
    // the plan.
    Q(
      "t135_source_sample",
      (s, d) =>
        graft.operators.TopK.perKey(
            Tables.documents(s, d)
              .select(col("source"), col("doc_id"),
                expr("cast(conv(substring(md5(cast(concat('smp:', cast(doc_id as string)) as binary)), 1, 15), 16, 10) as bigint)")
                  .as("h")),
            Seq("source"),
            Seq(col("h"), col("doc_id")),
            k = 8)
          .orderBy("source", "h", "doc_id"),
      Some("""SELECT source, doc_id, h FROM (
             |  SELECT source, doc_id,
             |    CAST(('0x' || substring(md5('smp:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
             |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY
             |      CAST(('0x' || substring(md5('smp:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT), doc_id) AS rn
             |  FROM documents)
             |WHERE rn <= 8 ORDER BY source, h, doc_id""".stripMargin),
    ),

    // ----- Gopher-style composite quality rules -----
    // The rule-table filter every web-scale pretraining pipeline runs before
    // anything model-based (Rae et al. 2021 §A1.1 "quality filtering"):
    // cheap per-document statistics, each gated by a fixed threshold, plus
    // the conjunction. Emitting the per-rule flags (not just `pass`) is the
    // production shape — rule ablations and filter-rate dashboards read the
    // marginal columns.
    //
    // Scale: one corpus explode → hash-agg keyed (doc_id, word) for the
    // repetition stat, partial-agg'd both levels, then a 1:1 join back to
    // the per-doc regex stats (AQE picks the join side; both are
    // doc-cardinality). No windows, no driver state; at 100 TB this is two
    // wordcount-shaped shuffles and codegen'd regex work.
    Q(
      "t138_gopher_rules",
      (s, d) => {
        val words = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(ArrayFns.words(col("text"))).as("w"))
        val stats = words
          .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(
            sum(col("c")).as("n_words"),
            sum(length(col("w")).cast("long") * col("c")).as("n_alpha"),
            max(col("c")).as("top_c"))
        val flag = (c: Column) => when(c, lit(1)).otherwise(lit(0))
        Tables.documents(s, d)
          .select(col("doc_id"),
            regexp_count(col("text"), lit(stopPat)).cast("long").as("n_stop"))
          .join(stats, Seq("doc_id"), "left")
          .select(
            col("doc_id"),
            coalesce(col("n_words"), lit(0L)).as("n_words"),
            round(coalesce(col("n_alpha"), lit(0L)) * 1.0
              / greatest(coalesce(col("n_words"), lit(0L)), lit(1L)), 4).as("mean_wl"),
            round(coalesce(col("top_c"), lit(0L)) * 1.0
              / greatest(coalesce(col("n_words"), lit(0L)), lit(1L)), 4).as("top_frac"),
            col("n_stop"))
          .select(col("doc_id"), col("n_words"), col("mean_wl"), col("top_frac"), col("n_stop"),
            flag(col("n_words").between(20L, 100000L)).as("r_wc"),
            flag(col("mean_wl").between(3.0, 10.0)).as("r_mwl"),
            flag(col("top_frac") <= 0.125).as("r_rep"),
            flag(col("n_stop") >= 2L).as("r_stop"))
          .withColumn("pass",
            flag(col("r_wc") + col("r_mwl") + col("r_rep") + col("r_stop") === 4))
          .orderBy("doc_id")
      },
      Some(s"""WITH w AS (
             |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
             |  FROM documents),
             |wc AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY doc_id, w),
             |st AS (
             |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
             |         CAST(SUM(len(w) * c) AS BIGINT) AS n_alpha,
             |         CAST(MAX(c) AS BIGINT) AS top_c
             |  FROM wc GROUP BY doc_id),
             |b AS (
             |  SELECT doc_id,
             |         CAST(${stopCntSql()} AS BIGINT) AS n_stop
             |  FROM documents),
             |j AS (
             |  SELECT b.doc_id, COALESCE(st.n_words, 0) AS n_words,
             |    ROUND(COALESCE(st.n_alpha, 0) * 1.0
             |      / GREATEST(COALESCE(st.n_words, 0), 1), 4) AS mean_wl,
             |    ROUND(COALESCE(st.top_c, 0) * 1.0
             |      / GREATEST(COALESCE(st.n_words, 0), 1), 4) AS top_frac,
             |    b.n_stop
             |  FROM b LEFT JOIN st ON b.doc_id = st.doc_id),
             |r AS (
             |  SELECT doc_id, n_words, mean_wl, top_frac, n_stop,
             |    CASE WHEN n_words BETWEEN 20 AND 100000 THEN 1 ELSE 0 END AS r_wc,
             |    CASE WHEN mean_wl BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END AS r_mwl,
             |    CASE WHEN top_frac <= 0.125 THEN 1 ELSE 0 END AS r_rep,
             |    CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS r_stop
             |  FROM j)
             |SELECT doc_id, n_words, mean_wl, top_frac, n_stop, r_wc, r_mwl, r_rep, r_stop,
             |  CASE WHEN r_wc + r_mwl + r_rep + r_stop = 4 THEN 1 ELSE 0 END AS pass
             |FROM r ORDER BY doc_id""".stripMargin),
    ),

    // ----- sequence-length sweep: padding-waste audit -----
    // Before a training run commits to a context length, the pipeline
    // reports, for each candidate length L, how many sequences the corpus
    // packs into and how much padding it wastes (each document chunks into
    // ceil(tok/L) sequences; the last is partially filled). All integer
    // arithmetic — `div` here, `//` in the oracle — so the sums are exact
    // and order-independent.
    //
    // Scale: per-doc token counts (codegen'd regex, no shuffle) cross a
    // broadcast 4-row length dimension, then one hash-agg keyed on L —
    // corpus-linear with a 4× fan-out, no window, no driver state.
    Q(
      "t139_pack_sweep",
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("doc_id"), regexp_count(col("text"), lit("\\S+")).cast("long").as("tok"))
        val lens = s.range(1).select(explode(typedLit(Seq(64L, 128L, 256L, 512L))).as("seq_len"))
        tok.crossJoin(broadcast(lens))
          .withColumn("n_seqs", expr("(tok + seq_len - 1) div seq_len"))
          .groupBy(col("seq_len"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("tok")).as("total_tokens"),
            sum(col("n_seqs")).as("total_seqs"),
            sum(col("n_seqs") * col("seq_len") - col("tok")).as("pad_waste"))
          .select(col("seq_len"), col("n_docs"), col("total_tokens"), col("total_seqs"),
            col("pad_waste"),
            round(col("total_tokens") * 1.0
              / greatest(col("total_seqs") * col("seq_len"), lit(1L)), 4).as("efficiency"))
          .orderBy("seq_len")
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS tok
             |  FROM documents),
             |l AS (SELECT CAST(unnest([64, 128, 256, 512]) AS BIGINT) AS seq_len),
             |x AS (
             |  SELECT seq_len, tok, (tok + seq_len - 1) // seq_len AS n_seqs
             |  FROM tok CROSS JOIN l)
             |SELECT seq_len, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(tok) AS BIGINT) AS total_tokens,
             |  CAST(SUM(n_seqs) AS BIGINT) AS total_seqs,
             |  CAST(SUM(n_seqs * seq_len - tok) AS BIGINT) AS pad_waste,
             |  ROUND(SUM(tok) * 1.0 / GREATEST(SUM(n_seqs) * seq_len, 1), 4) AS efficiency
             |FROM x GROUP BY seq_len ORDER BY seq_len""".stripMargin),
    ),

    // ----- Bloom-prefiltered benchmark decontamination -----
    // t48 is the exact-overlap contract; this is how the same contract runs
    // when the probe set is BIG. At 100 TB the eval/benchmark gram set is
    // 10⁷–10⁸ keys: the exact distinct set is GBs broadcast to every task,
    // while a Bloom filter at fpp=0.01 is ~1.2 bytes/key (~100× smaller),
    // ships once, and kills ~99% of non-matching corpus grams with a
    // branch-free codegen'd probe BEFORE any shuffle. Blooms have no false
    // negatives, so prefilter → exact verify join is result-identical to
    // the exact join alone (BloomProbeSpec pins both halves); the verify
    // join carries NO hint — AQE broadcasts the small survivor set at test
    // scale and shuffles on the 8-byte gram key at heavy contamination.
    // The oracle is pure exact overlap — the bloom is invisible to
    // semantics, which is exactly the property being certified.
    Q(
      "t141_bloom_decontam",
      (s, d) => {
        val grams = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(ArrayFns.wordNgramHashes(lower(col("text")), 4)).as("g"))
        // consumed three times (size, bloom build, verify join)
        val evalG = grams.filter(col("doc_id") % 25 === 0)
          .select("g").distinct().localCheckpoint()
        val bf = evalG.stat.bloomFilter("g", math.max(evalG.count(), 64L), 0.01)
        val bytes = graft.functions.BloomProbe.toBytes(bf)
        grams.filter(col("doc_id") % 25 =!= 0)
          .filter(graft.functions.BloomProbe.mightContainLong(col("g"), bytes))
          .join(evalG, "g")
          .groupBy(col("doc_id"))
          .agg(count_distinct(col("g")).as("n_shared"))
          .filter(col("n_shared") >= 2)
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS t FROM documents),
             |g AS (
             |  SELECT doc_id,
             |    unnest(list_distinct(list_transform(generate_series(1, len(t) - 3),
             |      i -> CAST(('0x' || substring(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]), 1, 16)) AS UBIGINT)))) AS g
             |  FROM toks WHERE len(t) >= 4),
             |probe AS (SELECT DISTINCT g FROM g WHERE doc_id % 25 = 0)
             |SELECT c.doc_id, CAST(COUNT(DISTINCT c.g) AS BIGINT) AS n_shared
             |FROM g c JOIN probe p ON c.g = p.g
             |WHERE c.doc_id % 25 <> 0
             |GROUP BY c.doc_id HAVING COUNT(DISTINCT c.g) >= 2
             |ORDER BY doc_id""".stripMargin),
    ),

    // ----- per-source quality tiering (quantile buckets for mixing) -----
    // The DCLM/FineWeb-style mixing prep: bucket each source's documents
    // into quality quartiles so the mixer can up-sample high tiers — tier
    // boundaries must be PER SOURCE (a mid-tier web doc and a mid-tier
    // code doc have incomparable absolute scores). Thresholds are exact
    // type-1 quantiles over the integer-quantized score (smallest value
    // with cum-freq ≥ ⌈p·n⌉, all-integer arithmetic both engines), so
    // tiering is deterministic with tie mass falling in the lower tier.
    //
    // Scale: the corpus is scanned twice with codegen'd regex stats (the
    // right trade at 100 TB — a checkpoint of a corpus-sized frame costs
    // more than a second scan); the cum-freq window runs over the
    // DISTRIBUTION (source × ≤10001 distinct quantized scores), never the
    // corpus; thresholds are a per-source handful broadcast back. No
    // corpus-sized window anywhere — the trap a per-source ntile() would
    // walk into (one hot partition per source at 100 TB).
    Q(
      "t143_quality_tiers",
      (s, d) => {
        def scored = withQualityCounts(Tables.documents(s, d))
          .select(col("doc_id"), col("source"),
            regexp_count(col("text"), lit("\\S+")).cast("long").as("tok"),
            qualityGrid.as("se"))
        val dist = scored.groupBy(col("source"), col("se"))
          .agg(count(lit(1)).as("freq"))
        val tot = dist.groupBy(col("source")).agg(sum(col("freq")).as("n"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("se"))
        val th = dist.join(broadcast(tot), "source")
          .withColumn("cum", sum(col("freq")).over(w))
          .groupBy(col("source"))
          .agg(
            min(when(col("cum") >= expr("(n + 3) div 4"), col("se"))).as("q1"),
            min(when(col("cum") >= expr("(n + 1) div 2"), col("se"))).as("q2"),
            min(when(col("cum") >= expr("(3 * n + 3) div 4"), col("se"))).as("q3"))
        scored.join(broadcast(th), "source")
          .withColumn("tier",
            lit(1) + (col("se") > col("q1")).cast("int")
              + (col("se") > col("q2")).cast("int")
              + (col("se") > col("q3")).cast("int"))
          .groupBy(col("source"), col("tier"))
          .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"))
          .orderBy("source", "tier")
      },
      Some(s"""WITH sc AS (
             |  SELECT doc_id, source,
             |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS tok,
             |    CAST(ROUND((LEAST(CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT)/100.0, 1.0)*0.5
             |      + (CAST(${stopCntSql()} AS BIGINT)*1.0
             |         / GREATEST(CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT), 1))*0.3
             |      + (1.0 - LEAST(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT)*1.0
             |         / GREATEST(CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT), 1), 1.0))*0.2)
             |      * 10000) AS BIGINT) AS se
             |  FROM documents),
             |dist AS (SELECT source, se, CAST(COUNT(*) AS BIGINT) AS freq FROM sc GROUP BY source, se),
             |tot AS (SELECT source, CAST(SUM(freq) AS BIGINT) AS n FROM dist GROUP BY source),
             |cum AS (
             |  SELECT d.source, d.se, t.n,
             |    SUM(d.freq) OVER (PARTITION BY d.source ORDER BY d.se) AS cum
             |  FROM dist d JOIN tot t ON d.source = t.source),
             |th AS (
             |  SELECT source,
             |    MIN(CASE WHEN cum >= (n + 3) // 4 THEN se END) AS q1,
             |    MIN(CASE WHEN cum >= (n + 1) // 2 THEN se END) AS q2,
             |    MIN(CASE WHEN cum >= (3 * n + 3) // 4 THEN se END) AS q3
             |  FROM cum GROUP BY source)
             |SELECT sc.source,
             |  1 + CAST(sc.se > th.q1 AS INT) + CAST(sc.se > th.q2 AS INT)
             |    + CAST(sc.se > th.q3 AS INT) AS tier,
             |  CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(sc.tok) AS BIGINT) AS n_tokens
             |FROM sc JOIN th ON sc.source = th.source
             |GROUP BY sc.source, tier ORDER BY sc.source, tier""".stripMargin),
    ),

    // ----- canonical fingerprinting under Unicode normalization -----
    // The canonicalization step ahead of every exact-dedup arm: without
    // NFC, composed and decomposed encodings of the same visible text
    // ("café" as U+00E9 vs e+U+0301) hash apart and dodge q24/t34/t29
    // entirely. The kernel is a codegen'd Catalyst expression
    // (functions/TextNorm.scala, also SQL-exposed as graft_nfc /
    // graft_nfkc / graft_strip_accents) whose fast path returns the input
    // object untouched when already normalized — the overwhelmingly common
    // case, so at 100 TB the pass is a zero-allocation map-side scan. The
    // shipped corpus is ASCII (every row is_nfc=1) — value variety for the
    // normalization behavior itself lives in TextNormSpec's composed/
    // decomposed/ligature/Hangul fixtures; this gate pins the plumbing,
    // the md5-parity with DuckDB's nfc_normalize, and the fingerprint
    // equality canon_fp must satisfy.
    Q(
      "t144_canon_fingerprint",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"),
            graft.queries.Similarity.canonicalFp(col("text")).as("canon_fp"),
            (graft.functions.TextNorm.nfc(col("text")) === col("text")).cast("int").as("is_nfc"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id, md5(nfc_normalize(lower(text))) AS canon_fp,
             |  CASE WHEN nfc_normalize(text) = text THEN 1 ELSE 0 END AS is_nfc
             |FROM documents ORDER BY doc_id""".stripMargin),
    ),

    // ----- blocklist scan: Aho–Corasick multi-pattern matching -----
    // UT1-style blocklist filtering. The pattern set includes "low" ⊂
    // "slow" deliberately: every "slow" occurrence must count BOTH
    // patterns (overlapping, all-occurrence semantics), which is what the
    // automaton's dictionary-suffix links produce in one pass and what the
    // oracle's per-pattern position scan counts — and exactly where a
    // first-match-wins regex alternation would silently undercount.
    // Substring (not word-boundary) semantics on both sides; ASCII corpus,
    // so UTF-16 kernel positions and DuckDB codepoint slices agree.
    // Scale: one codegen'd map-side pass, O(text + matches) per doc
    // regardless of blocklist size (real lists run 10⁴–10⁵ patterns, where
    // regex alternation is O(text × patterns)); no shuffle at all.
    Q(
      "t145_blocklist_scan",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"),
            graft.functions.Blocklist
              .hits(lower(col("text")), Seq("slow", "low", "table", "merge batch"))
              .as("n_hits"))
          .withColumn("blocked", (col("n_hits") >= 4L).cast("int"))
          .orderBy("doc_id"),
      Some("""WITH pats AS (
             |  SELECT unnest(['slow', 'low', 'table', 'merge batch']) AS p),
             |d AS (SELECT doc_id, lower(text) AS t FROM documents)
             |SELECT doc_id,
             |  CAST(COALESCE(SUM(len(list_filter(
             |    generate_series(1, len(t) - len(p) + 1),
             |    i -> t[i : i + len(p) - 1] = p))), 0) AS BIGINT) AS n_hits,
             |  CASE WHEN COALESCE(SUM(len(list_filter(
             |    generate_series(1, len(t) - len(p) + 1),
             |    i -> t[i : i + len(p) - 1] = p))), 0) >= 4 THEN 1 ELSE 0 END AS blocked
             |FROM d CROSS JOIN pats
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    ),

    // ----- per-source distribution drift: Jensen–Shannon divergence -----
    // The mixture-drift monitor: how far each source's unigram
    // distribution sits from the corpus blend. JS (symmetric, bounded
    // [0, ln 2]) rather than KL, so a source missing corpus words stays
    // finite. Every per-word term is quantized to integer micro-nats
    // BEFORE summing (the t113 LmScore convention — ln() is
    // cross-engine-deterministic on identical doubles, and integer sums
    // are order-independent), so the result is exact under any partial
    // aggregation.
    // Scale: two wordcount shuffles (corpus + per-source) and a
    // vocabulary×sources grid built from broadcast totals — every frame
    // after the wordcounts is vocabulary-scale, never corpus-scale.
    Q(
      "t154_source_drift",
      (s, d) => {
        val words = Tables.documents(s, d)
          .select(col("source"),
            explode(ArrayFns.words(col("text"))).as("w"))
        val corpus = words.groupBy(col("w")).agg(count(lit(1)).as("cq"))
        val tq = corpus.agg(sum(col("cq")).as("tq"))
        val src = words.groupBy(col("source"), col("w")).agg(count(lit(1)).as("cs"))
        val ts = src.groupBy(col("source")).agg(sum(col("cs")).as("ts"))
        val p = col("cs0") / col("ts")
        val q = col("cq") / col("tq")
        val m = (p + q) / 2
        corpus.crossJoin(broadcast(ts))
          .join(src, Seq("source", "w"), "left")
          .crossJoin(broadcast(tq))
          .withColumn("cs0", coalesce(col("cs"), lit(0L)))
          .withColumn("term",
            when(col("cs0") === 0, lit(0.5) * q * log(q / m))
              .otherwise(lit(0.5) * p * log(p / m) + lit(0.5) * q * log(q / m)))
          .withColumn("unats", round(col("term") * 1000000).cast("long"))
          .groupBy(col("source"))
          .agg(max(col("ts")).as("n_tokens"), sum(col("unats")).as("js_unats"))
          .select(col("source"), col("n_tokens"), col("js_unats"),
            round(col("js_unats") / 1000000.0, 4).as("js"))
          .orderBy("source")
      },
      Some("""WITH w AS (
             |  SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
             |  FROM documents),
             |corpus AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cq FROM w GROUP BY w),
             |tq AS (SELECT CAST(SUM(cq) AS BIGINT) AS tq FROM corpus),
             |src AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cs FROM w GROUP BY source, w),
             |ts AS (SELECT source, CAST(SUM(cs) AS BIGINT) AS ts FROM src GROUP BY source),
             |grid AS (
             |  SELECT ts.source, corpus.w, corpus.cq, ts.ts, tq.tq,
             |    COALESCE(src.cs, 0) AS cs0
             |  FROM corpus CROSS JOIN ts CROSS JOIN tq
             |  LEFT JOIN src ON src.source = ts.source AND src.w = corpus.w),
             |terms AS (
             |  SELECT source, ts,
             |    CAST(ROUND((CASE WHEN cs0 = 0
             |      THEN 0.5 * (cq * 1.0 / tq)
             |           * ln((cq * 1.0 / tq) / (((cs0 * 1.0 / ts) + (cq * 1.0 / tq)) / 2))
             |      ELSE 0.5 * (cs0 * 1.0 / ts)
             |           * ln((cs0 * 1.0 / ts) / (((cs0 * 1.0 / ts) + (cq * 1.0 / tq)) / 2))
             |         + 0.5 * (cq * 1.0 / tq)
             |           * ln((cq * 1.0 / tq) / (((cs0 * 1.0 / ts) + (cq * 1.0 / tq)) / 2))
             |      END) * 1000000, 0) AS BIGINT) AS unats
             |  FROM grid)
             |SELECT source, CAST(MAX(ts) AS BIGINT) AS n_tokens,
             |  CAST(SUM(unats) AS BIGINT) AS js_unats,
             |  ROUND(SUM(unats) / 1000000.0, 4) AS js
             |FROM terms GROUP BY source ORDER BY source""".stripMargin),
    ),

    // ----- per-source datasheet (Gebru et al. 2021, "Datasheets for
    // Datasets") -----
    // The one-page release table a corpus ships with: per source — docs,
    // tokens, language spread, mean quality, and the verified near-dup
    // rate. Every column composes an arm the oracle gate already verifies
    // in isolation (t28 token counts, t27 score quantized to the t143
    // integer grid, t147's guaranteed-complete pair set), so the
    // datasheet can't drift from the operators it summarizes.
    // Scale: per-doc stats are one codegen'd scan; the dup flag joins the
    // pair-bounded t147 output back at doc cardinality (hint-free); the
    // final agg is |sources|-sized.
    Q(
      "t155_datasheet",
      (s, d) => {
        val stats = withQualityCounts(Tables.documents(s, d))
          .select(col("doc_id"), col("source"), col("lang"),
            regexp_count(col("text"), lit("\\S+")).cast("long").as("tok"),
            qualityGrid.as("se"))
        val pairs = graft.queries.Similarity.bigramPairs(s, d)
        val dupDocs = pairs.select(col("doc_id1").as("doc_id"))
          .union(pairs.select(col("doc_id2").as("doc_id")))
          .distinct()
          .withColumn("is_dup", lit(1L))
        stats.join(dupDocs, Seq("doc_id"), "left")
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("tok")).as("n_tokens"),
            count_distinct(col("lang")).as("n_langs"),
            round(sum(col("se")) * 1.0 / (count(lit(1)) * 10000), 4).as("mean_quality"),
            sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_docs"))
          .withColumn("dup_rate", round(col("n_dup_docs") * 1.0 / col("n_docs"), 4))
          .orderBy("source")
      },
      Some(s"""WITH st AS (
             |  SELECT doc_id, source, lang,
             |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS tok,
             |    CAST(ROUND((LEAST(CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT)/100.0, 1.0)*0.5
             |      + (CAST(${stopCntSql()} AS BIGINT)*1.0
             |         / GREATEST(CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT), 1))*0.3
             |      + (1.0 - LEAST(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT)*1.0
             |         / GREATEST(CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT), 1), 1.0))*0.2)
             |      * 10000) AS BIGINT) AS se
             |  FROM documents),
             |toks AS (SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t FROM documents),
             |bg AS (
             |  SELECT doc_id, unnest(list_distinct(list_transform(
             |    generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1]))) AS w
             |  FROM toks WHERE len(t) >= 2),
             |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM bg GROUP BY doc_id),
             |p AS (
             |  SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS inter
             |  FROM bg a JOIN bg b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2),
             |e AS (
             |  SELECT d1, d2 FROM p JOIN sz s1 ON p.d1 = s1.doc_id JOIN sz s2 ON p.d2 = s2.doc_id
             |  WHERE inter * 100 >= 80 * (s1.n + s2.n - inter)),
             |dup AS (
             |  SELECT DISTINCT doc_id FROM (
             |    SELECT d1 AS doc_id FROM e UNION ALL SELECT d2 FROM e))
             |SELECT st.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(st.tok) AS BIGINT) AS n_tokens,
             |  CAST(COUNT(DISTINCT st.lang) AS BIGINT) AS n_langs,
             |  ROUND(SUM(st.se) * 1.0 / (COUNT(*) * 10000), 4) AS mean_quality,
             |  CAST(SUM(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_dup_docs,
             |  ROUND(SUM(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0
             |    / COUNT(*), 4) AS dup_rate
             |FROM st LEFT JOIN dup ON st.doc_id = dup.doc_id
             |GROUP BY st.source ORDER BY st.source""".stripMargin),
    ),

    // ----- incremental crawl triage: exact-dup / near-dup / novel -----
    // What an ingestion pipeline decides for every document of a NEW crawl
    // against the existing corpus: drop it (byte-identical after
    // canonicalization), route it to dedup arbitration (near-duplicate of
    // an existing doc), or admit it as novel. Old corpus = doc_id % 3 = 0
    // slice; exact matches compare t144's NFC-canonical fingerprints;
    // near matches are t147's guaranteed-complete bigram-Jaccard pairs
    // restricted to old↔new crossings; precedence exact > near > novel.
    // Scale: the fp anti-check is a hash-keyed semi join on 16-byte keys
    // (the q24 index shape); the near arm reuses SetSimJoin's prefix
    // filter; the final agg is |sources|×3. All joins hint-free.
    Q(
      "t156_crawl_triage",
      (s, d) => {
        val fp = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            graft.queries.Similarity.canonicalFp(col("text")).as("fp"))
          .localCheckpoint()
        val oldFp = fp.filter(col("doc_id") % 3 === 0).select("fp").distinct()
        val newDocs = fp.filter(col("doc_id") % 3 =!= 0)
        val exact = newDocs.join(oldFp, Seq("fp"), "semi")
          .select(col("doc_id")).withColumn("is_exact", lit(1))
        val pairs = graft.queries.Similarity.bigramPairs(s, d)
          .select(col("doc_id1"), col("doc_id2"))
        val near = pairs
          .select(when(col("doc_id1") % 3 === 0, col("doc_id2"))
            .when(col("doc_id2") % 3 === 0, col("doc_id1")).as("doc_id"))
          .filter(col("doc_id").isNotNull && col("doc_id") % 3 =!= 0)
          .distinct()
          .withColumn("is_near", lit(1))
        newDocs
          .join(exact, Seq("doc_id"), "left")
          .join(near, Seq("doc_id"), "left")
          .withColumn("verdict",
            when(col("is_exact") === 1, lit("exact_dup"))
              .when(col("is_near") === 1, lit("near_dup"))
              .otherwise(lit("novel")))
          .groupBy(col("source"), col("verdict"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("source", "verdict")
      },
      Some("""WITH fp AS (
             |  SELECT doc_id, source, md5(nfc_normalize(lower(text))) AS fp FROM documents),
             |oldfp AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 3 = 0),
             |newdocs AS (SELECT doc_id, source, fp FROM fp WHERE doc_id % 3 <> 0),
             |toks AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS t FROM documents),
             |bg AS (
             |  SELECT doc_id, unnest(list_distinct(list_transform(
             |    generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1]))) AS w
             |  FROM toks WHERE len(t) >= 2),
             |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM bg GROUP BY doc_id),
             |p AS (
             |  SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS inter
             |  FROM bg a JOIN bg b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2),
             |e AS (
             |  SELECT d1, d2 FROM p JOIN sz s1 ON p.d1 = s1.doc_id JOIN sz s2 ON p.d2 = s2.doc_id
             |  WHERE inter * 100 >= 80 * (s1.n + s2.n - inter)),
             |near AS (
             |  SELECT DISTINCT CASE WHEN d1 % 3 = 0 THEN d2 ELSE d1 END AS doc_id
             |  FROM e WHERE (d1 % 3 = 0) <> (d2 % 3 = 0)),
             |cls AS (
             |  SELECT nd.source,
             |    CASE WHEN nd.fp IN (SELECT fp FROM oldfp) THEN 'exact_dup'
             |         WHEN nd.doc_id IN (SELECT doc_id FROM near) THEN 'near_dup'
             |         ELSE 'novel' END AS verdict
             |  FROM newdocs nd)
             |SELECT source, verdict, CAST(COUNT(*) AS BIGINT) AS n_docs
             |FROM cls GROUP BY source, verdict ORDER BY source, verdict""".stripMargin),
    ),

    // ----- t160: datasheet drill-down with small-cell suppression -----
    // t155 at the (source, lang) grain — the cut release reviews actually
    // request — plus the k-anonymity-style rule that makes the finer grain
    // releasable at all: a cell with fewer than K=5 documents could
    // re-identify individual documents through its statistics, so every
    // metric INCLUDING the count is masked to NULL and only the
    // `suppressed` flag survives. The suppression decision is an integer
    // compare on an exact count — no cross-engine float risk — and the
    // masking happens AFTER aggregation, so the plan is t155's (per-doc
    // codegen'd stats + the SetSimJoin dup arm joined back at doc
    // cardinality) with a |sources×langs|-sized final projection on top.
    // Scale: identical to t155; the drill-down grain only widens the final
    // agg key, never the shuffled data.
    Q(
      "t160_datasheet_cells",
      (s, d) => {
        val K = 5L
        val stats = withQualityCounts(Tables.documents(s, d))
          .select(col("doc_id"), col("source"), col("lang"),
            regexp_count(col("text"), lit("\\S+")).cast("long").as("tok"),
            qualityGrid.as("se"))
        val pairs = graft.queries.Similarity.bigramPairs(s, d)
        val dupDocs = pairs.select(col("doc_id1").as("doc_id"))
          .union(pairs.select(col("doc_id2").as("doc_id")))
          .distinct()
          .withColumn("is_dup", lit(1L))
        val cells = stats.join(dupDocs, Seq("doc_id"), "left")
          .groupBy(col("source"), col("lang"))
          .agg(
            count(lit(1)).as("nd"),
            sum(col("tok")).as("nt"),
            round(sum(col("se")) * 1.0 / (count(lit(1)) * 10000), 4).as("mq"),
            sum(coalesce(col("is_dup"), lit(0L))).as("ndup"))
        val keep = col("nd") >= K
        cells.select(
            col("source"), col("lang"),
            when(keep, col("nd")).as("n_docs"),
            when(keep, col("nt")).as("n_tokens"),
            when(keep, col("mq")).as("mean_quality"),
            when(keep, round(col("ndup") * 1.0 / col("nd"), 4)).as("dup_rate"),
            when(keep, 0L).otherwise(1L).as("suppressed"))
          .orderBy("source", "lang")
      },
      Some(s"""WITH st AS (
             |  SELECT doc_id, source, lang,
             |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS tok,
             |    CAST(ROUND((LEAST(CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT)/100.0, 1.0)*0.5
             |      + (CAST(${stopCntSql()} AS BIGINT)*1.0
             |         / GREATEST(CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT), 1))*0.3
             |      + (1.0 - LEAST(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT)*1.0
             |         / GREATEST(CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT), 1), 1.0))*0.2)
             |      * 10000) AS BIGINT) AS se
             |  FROM documents),
             |toks AS (SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t FROM documents),
             |bg AS (
             |  SELECT doc_id, unnest(list_distinct(list_transform(
             |    generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1]))) AS w
             |  FROM toks WHERE len(t) >= 2),
             |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM bg GROUP BY doc_id),
             |p AS (
             |  SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS inter
             |  FROM bg a JOIN bg b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2),
             |e AS (
             |  SELECT d1, d2 FROM p JOIN sz s1 ON p.d1 = s1.doc_id JOIN sz s2 ON p.d2 = s2.doc_id
             |  WHERE inter * 100 >= 80 * (s1.n + s2.n - inter)),
             |dup AS (
             |  SELECT DISTINCT doc_id FROM (
             |    SELECT d1 AS doc_id FROM e UNION ALL SELECT d2 FROM e)),
             |cells AS (
             |  SELECT st.source, st.lang, CAST(COUNT(*) AS BIGINT) AS nd,
             |    CAST(SUM(st.tok) AS BIGINT) AS nt,
             |    ROUND(SUM(st.se) * 1.0 / (COUNT(*) * 10000), 4) AS mq,
             |    CAST(SUM(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ndup
             |  FROM st LEFT JOIN dup ON st.doc_id = dup.doc_id
             |  GROUP BY st.source, st.lang)
             |SELECT source, lang,
             |  CASE WHEN nd >= 5 THEN nd END AS n_docs,
             |  CASE WHEN nd >= 5 THEN nt END AS n_tokens,
             |  CASE WHEN nd >= 5 THEN mq END AS mean_quality,
             |  CASE WHEN nd >= 5 THEN ROUND(ndup * 1.0 / nd, 4) END AS dup_rate,
             |  CASE WHEN nd >= 5 THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS suppressed
             |FROM cells ORDER BY source, lang""".stripMargin),
    ),

    // ----- token-budget allocation: largest-remainder apportionment -----
    // t124 reports mixture WEIGHTS; this emits the actual integer token
    // QUOTA per source for a fixed training budget B — the number the
    // sampler consumes. Hamilton's largest-remainder method on exact
    // integers: base quota ⌊B·nᵢ/N⌋, then the B − Σ⌊·⌋ leftover tokens go
    // to the largest exact remainders (B·nᵢ mod N, ties by source), so
    // Σ quota = B exactly and no floating point exists anywhere —
    // apportionment off by even one token is a real bug class in epoch
    // accounting.
    // Scale: one wordcount-shaped agg to per-source totals, then
    // everything runs on the |sources|-sized frame (the rank window is
    // 20 rows); the corpus-total scalar rides a 1-row cross join.
    Q(
      "t158_token_allocation",
      (s, d) => {
        val B = 100000L
        val perSrc = Tables.documents(s, d)
          .select(col("source"), regexp_count(col("text"), lit("\\S+")).cast("long").as("tok"))
          .groupBy(col("source")).agg(sum(col("tok")).as("n_tokens"))
        val tot = perSrc.agg(sum(col("n_tokens")).as("nn"))
        val based = perSrc.crossJoin(broadcast(tot))
          .withColumn("base", expr(s"($B * n_tokens) div nn"))
          .withColumn("rem", expr(s"($B * n_tokens) % nn"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("rem").desc, col("source"))
        val leftover = expr(s"$B - sum(base) over ()")
        based
          .withColumn("rk", row_number().over(w).cast("long"))
          .withColumn("quota",
            col("base") + when(col("rk") <= leftover, 1L).otherwise(0L))
          .select(col("source"), col("n_tokens"), col("base"), col("quota"))
          .orderBy("source")
      },
      Some("""WITH t AS (
             |  SELECT source,
             |    CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS n_tokens
             |  FROM documents GROUP BY source),
             |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS nn FROM t),
             |b AS (
             |  SELECT source, n_tokens,
             |    (100000 * n_tokens) // nn AS base,
             |    (100000 * n_tokens) % nn AS rem
             |  FROM t CROSS JOIN tot),
             |r AS (
             |  SELECT source, n_tokens, base,
             |    ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk,
             |    100000 - SUM(base) OVER () AS leftover
             |  FROM b)
             |SELECT source, n_tokens, CAST(base AS BIGINT) AS base,
             |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS quota
             |FROM r ORDER BY source""".stripMargin),
    ),

    // ----- t164: template-gram boilerplate coverage (per-source report) -----
    // CCNet-style boilerplate detection re-expressed at phrase granularity
    // (the synthetic corpus has no line structure to hash): a token 4-gram
    // whose corpus document-frequency is >= 3 is a template phrase, and
    // each source is reported with how many of its docs such phrases touch,
    // how many are >= 5% covered (the strip-candidates), the mean coverage
    // in basis points, and how many distinct template grams its docs carry.
    // Grams are keyed by 8-byte xxhash64 fingerprints (t117's convention —
    // the fingerprint never reaches the output, so the oracle gate stays
    // the exact integer report). Shape: one corpus-sized explode → distinct
    // (source, doc, gram) — checkpointed once for its three consumers —
    // then a gram-keyed df agg; the template set (df >= 3) is
    // frequency-thresholded and therefore FAR smaller than the gram
    // universe, so the coverage joins against it carry no hint and AQE
    // broadcasts it from real sizes (at web scale the threshold would be a
    // df *fraction*, which keeps the same plan shape). Everything after is
    // doc- or source-cardinality.
    Q(
      "t164_boilerplate",
      (s, d) => {
        val grams = graft.operators.TemplateGrams
          .grams(Tables.documents(s, d).select(col("source"), col("doc_id"), col("text")),
            "text", 4)
          .localCheckpoint()
        val tpl = grams.groupBy(col("h")).agg(count(lit(1)).as("df"))
          .filter(col("df") >= 3).select(col("h"))
        val perDocAll = grams.groupBy(col("source"), col("doc_id"))
          .agg(count(lit(1)).as("n_grams"))
        val perDocTpl = grams.join(tpl, Seq("h"))
          .groupBy(col("source"), col("doc_id")).agg(count(lit(1)).as("n_tpl"))
        val perDoc = perDocAll.join(perDocTpl, Seq("source", "doc_id"), "left")
          .withColumn("n_tpl", coalesce(col("n_tpl"), lit(0L)))
          .withColumn("cover_bp", expr("n_tpl * 10000 div n_grams"))
        val tplPerSource = grams.join(tpl, Seq("h"))
          .select(col("source"), col("h")).distinct()
          .groupBy(col("source")).agg(count(lit(1)).as("n_template_grams"))
        perDoc.groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("n_tpl") > 0, 1L).otherwise(0L)).as("n_touched"),
            sum(when(col("cover_bp") >= 500, 1L).otherwise(0L)).as("n_flagged"),
            expr("sum(cover_bp) div count(1)").as("avg_cover_bp"))
          .join(tplPerSource, Seq("source"), "left")
          .withColumn("n_template_grams", coalesce(col("n_template_grams"), lit(0L)))
          .orderBy("source")
      },
      Some("""WITH toks AS (
             |  SELECT source, doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t FROM documents),
             |g AS (
             |  SELECT DISTINCT source, doc_id, md5(array_to_string(t[i:i+3], ' ')) AS h
             |  FROM (SELECT source, doc_id, t, unnest(range(1, len(t) - 2)) AS i
             |        FROM toks WHERE len(t) >= 4)),
             |tpl AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 3),
             |pa AS (SELECT source, doc_id, COUNT(*) AS n_grams FROM g GROUP BY source, doc_id),
             |pt AS (SELECT g.source, g.doc_id, COUNT(*) AS n_tpl
             |       FROM g JOIN tpl USING (h) GROUP BY g.source, g.doc_id),
             |pd AS (
             |  SELECT pa.source, pa.doc_id, pa.n_grams, COALESCE(pt.n_tpl, 0) AS n_tpl,
             |         COALESCE(pt.n_tpl, 0) * 10000 // pa.n_grams AS cover_bp
             |  FROM pa LEFT JOIN pt ON pa.source = pt.source AND pa.doc_id = pt.doc_id),
             |ts AS (
             |  SELECT source, CAST(COUNT(DISTINCT h) AS BIGINT) AS n_template_grams
             |  FROM g JOIN tpl USING (h) GROUP BY source)
             |SELECT p.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(CASE WHEN n_tpl > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_touched,
             |  CAST(SUM(CASE WHEN cover_bp >= 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
             |  CAST(SUM(cover_bp) // COUNT(*) AS BIGINT) AS avg_cover_bp,
             |  COALESCE(MAX(ts.n_template_grams), 0) AS n_template_grams
             |FROM pd p LEFT JOIN ts ON p.source = ts.source
             |GROUP BY p.source ORDER BY p.source""".stripMargin),
    ),

    // ----- t165: incremental template-df maintenance (append == rebuild) --
    // t164's template set is a corpus-global df table — the one piece of
    // state a rolling crawl must MAINTAIN, not recompute. The store is
    // log-structured: each batch appends its PARTIAL per-gram df rows
    // (h, df_part, batch) to an h-bucketed table (t162's warehouse
    // pattern), and readers compact by summing — bucketBy("h") makes that
    // read-side groupBy shuffle-free, and a periodic rewrite of the summed
    // rows is the compaction, exactly the LSM shape a 100-TB df store
    // needs (counts are associative, so partials merge without ever
    // rebuilding). The query writes a base snapshot, appends a delta batch
    // (doc_id % 10 == 0), then reports the merged df histogram with
    // promotion accounting: grams crossing the df >= 3 template threshold
    // only via the delta (n_promoted), and grams first seen in it (n_new).
    // The oracle computes the same histogram from a full-corpus REBUILD —
    // equality IS the append+compact == rebuild certification.
    Q(
      "t165_template_delta",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        def partial(part: org.apache.spark.sql.DataFrame, tag: String) =
          graft.operators.TemplateGrams.partialDf(part, "doc_id", "text", 4)
            .withColumn("batch", lit(tag))
        val base = Extended.sinkDir("t165_wh", d)
        partial(docs.filter(col("doc_id") % 10 =!= 0), "base")
          .write.mode("overwrite").option("path", base)
          .bucketBy(8, "h").saveAsTable("t165_gram_df")
        partial(docs.filter(col("doc_id") % 10 === 0), "delta")
          .write.mode("append").option("path", base)
          .bucketBy(8, "h").saveAsTable("t165_gram_df")
        s.table("t165_gram_df")
          .groupBy(col("h"))
          .agg(sum(col("df_part")).as("df"),
            sum(when(col("batch") === "base", col("df_part")).otherwise(0L)).as("df_base"))
          .groupBy(col("df"))
          .agg(
            count(lit(1)).as("n_grams"),
            sum(when(col("df_base") < 3 && col("df") >= 3, 1L).otherwise(0L)).as("n_promoted"),
            sum(when(col("df_base") === 0L, 1L).otherwise(0L)).as("n_new"))
          .orderBy("df")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t FROM documents),
             |g AS (
             |  SELECT DISTINCT doc_id, md5(array_to_string(t[i:i+3], ' ')) AS h
             |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 2)) AS i
             |        FROM toks WHERE len(t) >= 4)),
             |m AS (SELECT h, COUNT(*) AS df,
             |        SUM(CASE WHEN doc_id % 10 <> 0 THEN 1 ELSE 0 END) AS df_base
             |      FROM g GROUP BY h)
             |SELECT CAST(df AS BIGINT) AS df, CAST(COUNT(*) AS BIGINT) AS n_grams,
             |  CAST(SUM(CASE WHEN df_base < 3 AND df >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_promoted,
             |  CAST(SUM(CASE WHEN df_base = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
             |FROM m GROUP BY df ORDER BY df""".stripMargin),
    ),

    // ----- t166: within-document repetition (the degenerate-text filter) -----
    // The Gopher repetition rules nothing else in the registry covers: the
    // CROSS-document family (t31/t110/t147) finds text shared between
    // documents, while a looping generator or boilerplate-stuffed page
    // repeats itself INSIDE one document. Per document and per n ∈ {2,3,4},
    // the duplicate word-n-gram fraction in basis points —
    // (occurrences beyond each gram's first) / total grams, which reduces to
    // (total − distinct)/total, so the whole statistic is two counts — plus
    // the Rae et al. 2021-style rule flags (dup2 ≤ 20%, dup3 ≤ 18%,
    // dup4 ≤ 16%) and their conjunction. t50's type-token ratio is the
    // 1-gram corner of this; t138's top_frac sees only the single hottest
    // word — a doc alternating two phrases passes both and fails here.
    //
    // The statistic is a PURE per-document function, so it never leaves
    // the row: ONE codegen'd kernel call per document
    // (functions.SimKit.intraDupCounts — a single [a-z]+ tokenization
    // pass computing all six counts natively; the gram keys are 64-bit
    // FNV folds with t117's collision argument, and only the counts
    // surface, so the oracle counts the gram strings themselves). ZERO
    // corpus shuffle anywhere. The sf10 rehearsal priced the rejected
    // shapes: explode into a corpus-wide (doc_id, n)-keyed distinct agg =
    // 1.6 GB shuffle + 10 GB hash-table spill (34 s); interpreted
    // transform/array_distinct HOFs = 31 s of lambda overhead; the native
    // kernel does the same work inside whole-stage codegen. At 100 TB
    // this is one embarrassingly parallel scan.
    Q(
      "t166_intra_repetition",
      (s, d) => {
        // `div`, not `/`: Column./ on longs is DOUBLE division; both
        // engines must floor in exact integer arithmetic
        def dupBp(n: Int): Column =
          expr(s"CASE WHEN t$n > 0 THEN (t$n - s$n) * 10000 div t$n ELSE 0L END")
        val flag = (c: Column) => when(c, lit(1)).otherwise(lit(0))
        Tables.documents(s, d)
          .select(col("doc_id"),
            graft.functions.ArrayFns.intraDupCounts(lower(col("text"))).as("c"))
          .select(col("doc_id"),
            col("c")(0).as("t2"), col("c")(1).as("s2"),
            col("c")(2).as("t3"), col("c")(3).as("s3"),
            col("c")(4).as("t4"), col("c")(5).as("s4"))
          .select(
            col("doc_id"),
            col("t2").as("n2_grams"), dupBp(2).as("dup2_bp"),
            col("t3").as("n3_grams"), dupBp(3).as("dup3_bp"),
            col("t4").as("n4_grams"), dupBp(4).as("dup4_bp"))
          .select(col("*"),
            flag(col("dup2_bp") <= 2000L).as("r_dup2"),
            flag(col("dup3_bp") <= 1800L).as("r_dup3"),
            flag(col("dup4_bp") <= 1600L).as("r_dup4"))
          .withColumn("pass",
            flag(col("r_dup2") + col("r_dup3") + col("r_dup4") === 3))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t FROM documents),
             |pos AS (
             |  SELECT doc_id, nn.n AS n, t,
             |         unnest(generate_series(1, len(t) - nn.n + 1)) AS i
             |  FROM toks CROSS JOIN (SELECT unnest([2, 3, 4]) AS n) nn
             |  WHERE len(t) >= nn.n),
             |g AS (SELECT doc_id, n, array_to_string(t[i:i+n-1], ' ') AS gram FROM pos),
             |st AS (
             |  SELECT doc_id, n, COUNT(*) AS total, COUNT(DISTINCT gram) AS dist
             |  FROM g GROUP BY doc_id, n),
             |st2 AS (SELECT *, (total - dist) * 10000 // total AS dup_bp FROM st),
             |wide AS (
             |  SELECT doc_id,
             |    MAX(CASE WHEN n = 2 THEN total END) AS g2,
             |    MAX(CASE WHEN n = 2 THEN dup_bp END) AS d2,
             |    MAX(CASE WHEN n = 3 THEN total END) AS g3,
             |    MAX(CASE WHEN n = 3 THEN dup_bp END) AS d3,
             |    MAX(CASE WHEN n = 4 THEN total END) AS g4,
             |    MAX(CASE WHEN n = 4 THEN dup_bp END) AS d4
             |  FROM st2 GROUP BY doc_id),
             |r AS (
             |  SELECT d.doc_id,
             |    COALESCE(g2, 0) AS n2_grams, COALESCE(d2, 0) AS dup2_bp,
             |    COALESCE(g3, 0) AS n3_grams, COALESCE(d3, 0) AS dup3_bp,
             |    COALESCE(g4, 0) AS n4_grams, COALESCE(d4, 0) AS dup4_bp
             |  FROM documents d LEFT JOIN wide ON d.doc_id = wide.doc_id),
             |f AS (
             |  SELECT *,
             |    CASE WHEN dup2_bp <= 2000 THEN 1 ELSE 0 END AS r_dup2,
             |    CASE WHEN dup3_bp <= 1800 THEN 1 ELSE 0 END AS r_dup3,
             |    CASE WHEN dup4_bp <= 1600 THEN 1 ELSE 0 END AS r_dup4
             |  FROM r)
             |SELECT *,
             |  CASE WHEN r_dup2 + r_dup3 + r_dup4 = 3 THEN 1 ELSE 0 END AS pass
             |FROM f ORDER BY doc_id""".stripMargin),
    ),

    // ----- t168: quality-score calibration curve vs the rule-table label -----
    // Before a curation run commits to a keep threshold on the cheap t27
    // heuristic score, it calibrates the score against the expensive rule
    // label it approximates (t138's Gopher conjunction): for each candidate
    // threshold τ, the confusion counts and precision/recall in basis
    // points — the ROC-style table that picks the operating point (t92's
    // curve-not-a-point pattern turned on the quality axis). Score arm =
    // t27/t143's integer-quantized grid; label arm = t138's conjunction —
    // both verbatim, so the curve measures exactly the production pair.
    //
    // Scale: the score arm is codegen'd regex (no shuffle); the label arm
    // is t138's two wordcount-shaped hash-aggs; the join is doc-keyed and
    // the 5-row τ dimension broadcasts, leaving one 5-group hash-agg. All
    // counts exact integers; precision/recall in integer basis points.
    Q(
      "t168_calibration",
      (s, d) => {
        val scored = withQualityCounts(Tables.documents(s, d))
          .select(col("doc_id"), qualityGrid.as("se"))
        val stats = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(ArrayFns.words(col("text"))).as("w"))
          .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(
            sum(col("c")).as("n_words"),
            sum(length(col("w")).cast("long") * col("c")).as("n_alpha"),
            max(col("c")).as("top_c"))
        val labeled = Tables.documents(s, d)
          .select(col("doc_id"),
            regexp_count(col("text"), lit(stopPat)).cast("long").as("n_stop"))
          .join(stats, Seq("doc_id"), "left")
          .select(col("doc_id"),
            (coalesce(col("n_words"), lit(0L)).between(20L, 100000L) &&
              round(coalesce(col("n_alpha"), lit(0L)) * 1.0
                / greatest(coalesce(col("n_words"), lit(0L)), lit(1L)), 4).between(3.0, 10.0) &&
              round(coalesce(col("top_c"), lit(0L)) * 1.0
                / greatest(coalesce(col("n_words"), lit(0L)), lit(1L)), 4) <= 0.125 &&
              col("n_stop") >= 2L).cast("int").as("label"))
        val taus = s.range(1)
          .select(explode(typedLit(Seq(3000L, 4000L, 5000L, 6000L, 7000L))).as("tau"))
        scored.join(labeled, "doc_id")
          .crossJoin(broadcast(taus))
          .withColumn("pred", (col("se") >= col("tau")).cast("int"))
          .groupBy(col("tau"))
          .agg(
            sum(when(col("pred") === 1 && col("label") === 1, 1L).otherwise(0L)).as("tp"),
            sum(when(col("pred") === 1 && col("label") === 0, 1L).otherwise(0L)).as("fp"),
            sum(when(col("pred") === 0 && col("label") === 1, 1L).otherwise(0L)).as("fn"),
            sum(when(col("pred") === 0 && col("label") === 0, 1L).otherwise(0L)).as("tn"))
          .withColumn("precision_bp",
            expr("CASE WHEN tp + fp > 0 THEN tp * 10000 div (tp + fp) ELSE 0L END"))
          .withColumn("recall_bp",
            expr("CASE WHEN tp + fn > 0 THEN tp * 10000 div (tp + fn) ELSE 0L END"))
          .orderBy("tau")
      },
      Some(s"""WITH sc AS (
             |  SELECT doc_id,
             |    CAST(ROUND((LEAST(CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT)/100.0, 1.0)*0.5
             |      + (CAST(${stopCntSql()} AS BIGINT)*1.0
             |         / GREATEST(CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT), 1))*0.3
             |      + (1.0 - LEAST(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT)*1.0
             |         / GREATEST(CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT), 1), 1.0))*0.2)
             |      * 10000) AS BIGINT) AS se
             |  FROM documents),
             |w AS (
             |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
             |  FROM documents),
             |wc AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY doc_id, w),
             |st AS (
             |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
             |         CAST(SUM(len(w) * c) AS BIGINT) AS n_alpha,
             |         CAST(MAX(c) AS BIGINT) AS top_c
             |  FROM wc GROUP BY doc_id),
             |lab AS (
             |  SELECT d.doc_id,
             |    CASE WHEN COALESCE(st.n_words, 0) BETWEEN 20 AND 100000
             |          AND ROUND(COALESCE(st.n_alpha, 0) * 1.0
             |              / GREATEST(COALESCE(st.n_words, 0), 1), 4) BETWEEN 3.0 AND 10.0
             |          AND ROUND(COALESCE(st.top_c, 0) * 1.0
             |              / GREATEST(COALESCE(st.n_words, 0), 1), 4) <= 0.125
             |          AND CAST(${stopCntSql("d.text")} AS BIGINT) >= 2
             |         THEN 1 ELSE 0 END AS label
             |  FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id),
             |j AS (
             |  SELECT sc.se, lab.label, tt.tau
             |  FROM sc JOIN lab ON sc.doc_id = lab.doc_id
             |  CROSS JOIN (SELECT unnest([3000, 4000, 5000, 6000, 7000]) AS tau) tt),
             |cm AS (
             |  SELECT tau,
             |    CAST(SUM(CASE WHEN se >= tau AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             |    CAST(SUM(CASE WHEN se >= tau AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             |    CAST(SUM(CASE WHEN se < tau AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             |    CAST(SUM(CASE WHEN se < tau AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
             |  FROM j GROUP BY tau)
             |SELECT CAST(tau AS BIGINT) AS tau, tp, fp, fn, tn,
             |  CASE WHEN tp + fp > 0 THEN tp * 10000 // (tp + fp) ELSE 0 END AS precision_bp,
             |  CASE WHEN tp + fn > 0 THEN tp * 10000 // (tp + fn) ELSE 0 END AS recall_bp
             |FROM cm ORDER BY tau""".stripMargin),
    ),
  )

}
