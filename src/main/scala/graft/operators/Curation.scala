package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Training-data curation operators: the selection/mixing/packing layer a
  * large-scale LLM pipeline runs AFTER cleaning (TextAnalysis) and dedup
  * (Dedup/Similarity) and BEFORE the trainer reads the data.
  *
  * q41 — train/test decontamination: n-gram overlap between the training
  *       split and the held-out split (the q36 deterministic hash split).
  * q42 — deterministic stratified sampling ("data mixing"): per-language
  *       keep rates applied via a content-hash bucket, reproducible
  *       across engines/runs/partitionings (no randomSplit).
  * q43 — sequence packing: concat-and-chop assignment of documents into
  *       fixed-size token contexts, per (lang, shard) stream.
  * q44 — blocklist scrub + PII pattern counts: redaction as a pure
  *       projection, verifiable via the redacted text's md5.
  * q45 — quality-quota curation: keep the best ceil(n/5) docs per
  *       language by the q17 quality score.
  *
  * Everything is Catalyst built-ins (codegen'd, no UDFs); every op has an
  * exactly-equivalent DuckDB oracle. Scale notes inline per operator.
  */
object Curation {

  private[graft] val toks = split(trim(col("text")), " +")

  /** First 8 md5 hex chars -> [0, 100) bucket (q36's split bucket). */
  private def splitBucket = (conv(substring(md5(col("text")), 1, 8), 16, 10)
    .cast("long") % 100).as("bucket")

  // ---------------------------------------------------------------------
  // q41 — train/test decontamination. The held-out split (q36's bucket
  // >= 95) must not share content with the training split (bucket < 90):
  // a train document is CONTAMINATED if it shares any word 4-gram with
  // any test document. (Real deployments use 8-13-gram windows; this
  // corpus's vocabulary is ~40 words, so 4-grams play the same
  // statistical role — planted near-dup pairs that straddle the split
  // boundary surface here, random cross-split collisions mostly don't.)
  //
  // Scale shape: n-grams never leave the executor as strings — the join
  // key is md5(gram) (16 bytes), per-doc grams are array_distinct'd
  // before exploding, and the test side (5% of the corpus, distinct
  // (gram, doc)) is the small side of the equi-join. The output is one
  // row per train document (LEFT join keeps the clean ones), so result
  // size is bounded by the corpus, not by the pair count.
  // ---------------------------------------------------------------------
  private val DeconN = 4

  def q41Decontamination(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), splitBucket, toks.as("toks"))
    val grams = d.select(col("doc_id"), col("bucket"),
      explode(expr(
        s"""CASE WHEN size(toks) >= $DeconN
           |     THEN array_distinct(transform(sequence(0, size(toks) - $DeconN),
           |            i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2], ' ', toks[i+3])))
           |     ELSE array() END""".stripMargin)).as("g"))
      .select(col("doc_id"), col("bucket"), md5(col("g")).as("gh"))
    val train = grams.filter(col("bucket") < 90)
      .select(col("doc_id"), col("gh"))
    val test = grams.filter(col("bucket") >= 95)
      .select(col("doc_id").as("test_doc"), col("gh")).distinct()
    val hits = train.join(test, "gh")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gh")).as("n_shared_ngrams"),
        countDistinct(col("test_doc")).as("n_test_docs"))
    d.filter(col("bucket") < 90).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared_ngrams"), lit(0L)).as("n_shared_ngrams"),
        coalesce(col("n_test_docs"), lit(0L)).as("n_test_docs"),
        (coalesce(col("n_test_docs"), lit(0L)) > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  val q41Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |         CAST(('0x' || substr(md5(text), 1, 8))::BIGINT AS BIGINT) % 100 AS bucket,
       |         regexp_split_to_array(trim(text), ' +') AS toks
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, bucket,
       |         unnest(list_distinct(CASE WHEN len(toks) >= $DeconN
       |           THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
       |                 for i in range(1, len(toks) - ${DeconN - 2})]
       |           ELSE [] END)) AS gram
       |  FROM d),
       |tr AS (SELECT doc_id, gram FROM g WHERE bucket < 90),
       |te AS (SELECT DISTINCT doc_id AS test_doc, gram FROM g WHERE bucket >= 95),
       |hits AS (
       |  SELECT tr.doc_id,
       |         COUNT(DISTINCT tr.gram) AS n_shared_ngrams,
       |         COUNT(DISTINCT te.test_doc) AS n_test_docs
       |  FROM tr JOIN te USING (gram) GROUP BY tr.doc_id)
       |SELECT d.doc_id,
       |       COALESCE(hits.n_shared_ngrams, 0) AS n_shared_ngrams,
       |       COALESCE(hits.n_test_docs, 0) AS n_test_docs,
       |       COALESCE(hits.n_test_docs, 0) > 0 AS contaminated
       |FROM d LEFT JOIN hits ON d.doc_id = hits.doc_id
       |WHERE d.bucket < 90
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q42 — deterministic stratified sampling for corpus mixing: each
  // language is downsampled to a target keep-rate (upweighting rare
  // strata is the dual operation with rates > observed share). The keep
  // decision is a pure function of the document content — md5 hex chars
  // 9-16 (decorrelated from q36's split, which uses chars 1-8) mod 100
  // against the stratum's rate — so the sample is reproducible across
  // engines, runs, and partitionings, and composes with the q36 split.
  // Zero shuffles except the final tiny per-language rollup.
  // ---------------------------------------------------------------------
  private val MixRates: Seq[(String, Int)] =
    Seq("en" -> 50, "de" -> 80, "fr" -> 80, "es" -> 80, "zh" -> 90)

  def q42StratifiedMix(spark: SparkSession, sfDir: String): DataFrame = {
    val rate = MixRates.foldRight(lit(100)) { case ((l, r), els) =>
      when(col("lang") === l, lit(r)).otherwise(els)
    }
    Tables.documents(spark, sfDir)
      .select(col("lang"), col("n_chars"),
        (conv(substring(md5(col("text")), 9, 8), 16, 10).cast("long") % 100)
          .as("mix_bucket"))
      .withColumn("kept", col("mix_bucket") < rate)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_chars")).otherwise(0L)).as("chars_kept"))
      .orderBy("lang")
  }

  val q42Sql: String = {
    val cases = MixRates.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
      .mkString(" ")
    s"""SELECT lang,
       |       CAST(COUNT(*) AS BIGINT) AS n_total,
       |       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       CAST(SUM(CASE WHEN kept THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept
       |FROM (SELECT lang, n_chars,
       |             CAST(('0x' || substr(md5(text), 9, 8))::BIGINT AS BIGINT) % 100
       |               < CASE $cases ELSE 100 END AS kept
       |      FROM documents)
       |GROUP BY lang
       |ORDER BY lang""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q43 — sequence packing (concat-and-chop): within each (lang, shard)
  // stream, documents are concatenated in doc_id order and chopped into
  // fixed CtxTokens-token training contexts; each document is assigned
  // its starting chunk and the number of chunks it spans. This is the
  // deterministic packing a pretraining data loader performs, expressed
  // as a running-sum window — integer arithmetic only, so the oracle
  // matches bit-for-bit.
  //
  // Scale shape: packing is embarrassingly parallel ACROSS streams and
  // inherently sequential WITHIN one — so the stream key (lang, shard)
  // is the unit of parallelism, with the shard derived from the content
  // hash. At 100 TB you raise NumShards so each stream's window sort
  // fits an executor (the window sorts within partitions of bounded
  // size; no global sort exists in the plan).
  // ---------------------------------------------------------------------
  private val CtxTokens = 256
  private val NumShards = 4

  def q43SequencePack(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(col("text")), 17, 4), 16, 10).cast("long") % NumShards)
          .as("shard"),
        size(toks).cast("long").as("n_tokens"))
      .withColumn("tok_offset",
        coalesce(sum(col("n_tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("doc_id"), col("lang"), col("shard"), col("n_tokens"),
        col("tok_offset"),
        expr(s"tok_offset div $CtxTokens").as("chunk_id"),
        expr(s"((tok_offset + n_tokens - 1) div $CtxTokens) - (tok_offset div $CtxTokens) + 1")
          .as("n_chunks_spanned"))
      .orderBy("doc_id")
  }

  val q43Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang,
       |         CAST(('0x' || substr(md5(text), 17, 4))::BIGINT AS BIGINT) % $NumShards AS shard,
       |         CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |o AS (
       |  SELECT doc_id, lang, shard, n_tokens,
       |         CAST(COALESCE(SUM(n_tokens) OVER (
       |           PARTITION BY lang, shard ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
       |  FROM d)
       |SELECT doc_id, lang, shard, n_tokens, tok_offset,
       |       tok_offset // $CtxTokens AS chunk_id,
       |       ((tok_offset + n_tokens - 1) // $CtxTokens) - (tok_offset // $CtxTokens) + 1
       |         AS n_chunks_spanned
       |FROM o
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q44 — blocklist scrub + PII pattern counts: per document, count
  // blocklisted vocabulary hits and email/URL pattern matches, and emit
  // the md5 of the token-level redacted text. Pure per-row projection —
  // the scrub never shuffles, and the redacted text itself never leaves
  // the executor (only its fingerprint does). The email/URL regexes use
  // only syntax with identical semantics in Java regex and RE2 (DuckDB).
  // On this corpus the regex counters are structurally exercised but hit
  // zero (no emails/URLs in the synthetic text); the blocklist hits are
  // the live path.
  // ---------------------------------------------------------------------
  private val Blocklist = Seq("spark", "vector", "stream")
  private val EmailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private val UrlRe   = """https?://[^ ]+"""

  def q44Scrub(spark: SparkSession, sfDir: String): DataFrame = {
    val blockedPred = Blocklist.map(w => s"t = '$w'").mkString(" OR ")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), toks.as("toks"))
      .select(col("doc_id"),
        expr(s"size(filter(toks, t -> $blockedPred))").as("n_blocked"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("text"), lit(UrlRe), lit(0))).as("n_urls"),
        md5(concat_ws(" ", expr(
          s"transform(toks, t -> CASE WHEN $blockedPred THEN '[REDACTED]' ELSE t END)")))
          .as("redacted_md5"))
      .orderBy("doc_id")
  }

  val q44Sql: String = {
    val blockedPred = Blocklist.map(w => s"t = '$w'").mkString(" OR ")
    s"""SELECT doc_id,
       |       len(list_filter(toks, t -> $blockedPred)) AS n_blocked,
       |       len(regexp_extract_all(text, '${EmailRe.replace("\\", "\\\\")}')) AS n_emails,
       |       len(regexp_extract_all(text, '$UrlRe')) AS n_urls,
       |       md5(array_to_string(
       |         list_transform(toks, t -> CASE WHEN $blockedPred THEN '[REDACTED]' ELSE t END),
       |         ' ')) AS redacted_md5
       |FROM (SELECT doc_id, text, regexp_split_to_array(trim(text), ' +') AS toks
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q45 — quality-quota curation: keep the best ceil(n/5) documents per
  // language by the q17 quality score (ties broken by doc_id — and the
  // score arithmetic is bit-identical across engines, q17's oracle
  // proves it, so the rank order is too). The per-language quota makes
  // this a composition of two windows over the SAME partitioning: one
  // shuffle by lang, then rank + count in one pass. At 100 TB lang is a
  // low-cardinality skewed key: the plan works because the window sort
  // is within-partition; a production variant shards hot languages
  // exactly like q43's (lang, shard) streams.
  // ---------------------------------------------------------------------
  def q45QualityCurate(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("text"), toks.as("toks"))
      .select(col("doc_id"), col("lang"),
        size(col("toks")).as("n_tokens"),
        expr(s"size(filter(toks, t -> ${TextAnalysis.stopPredSql}))").as("n_stop"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[.,!?;:]", ""))).as("n_punct"),
        length(col("text")).as("n_chars_calc"))
      .select(col("doc_id"), col("lang"),
        (lit(0.4) * (col("n_stop").cast("double") / col("n_tokens"))
          + lit(0.3) * (lit(1.0) - col("n_punct").cast("double") / col("n_chars_calc"))
          + lit(0.3) * least(lit(1.0), col("n_tokens").cast("double") / lit(100.0)))
          .as("quality"))
    val w = Window.partitionBy(col("lang"))
    scored
      .withColumn("rank", row_number().over(
        w.orderBy(col("quality").desc, col("doc_id"))))
      .withColumn("n_lang", count(lit(1)).over(w))
      .filter(col("rank") <= expr("(n_lang + 4) div 5"))
      .select(col("lang"), col("rank"), col("doc_id"), col("quality"))
      .orderBy("lang", "rank")
  }

  // ---------------------------------------------------------------------
  // q62 — Gopher-style rule-bundle quality filter (Rae et al. 2021,
  // "Scaling Language Models", Table A1 — the computable subset): each
  // document gets a keep/drop verdict plus the rules it failed, emitted
  // as a canonical comma-joined STRING in fixed rule order ('' = all
  // rules pass; the array form is one split(',') away), because a
  // curation pipeline tunes thresholds from the failure distribution,
  // not from a bare boolean. Rules: word-count bounds,
  // mean word length in [3,10], '#' and '...' symbol ratios, fraction
  // of words with an alphabetic character, >= 2 distinct (English)
  // stopwords — the paper's English-centric rule, kept as-is; non-en
  // documents failing it is the expected behavior a per-language rule
  // table would override — and within-doc duplicate-bigram fraction
  // (the q38 repetition signal as a hard gate). Pure per-row projection
  // — zero shuffles; the failed-rules string is joined in fixed rule
  // order in both engines, so the gate hash-matches exactly.
  // ---------------------------------------------------------------------
  def q62GopherFilter(spark: SparkSession, sfDir: String): DataFrame = {
    // All token-level metrics come from ONE fused codegen pass over the
    // token array (TokenRuleStats) — the HOF formulation walked the
    // boxed array interpreted once per metric (8x; 1.7 s at sf0.1, now
    // one codegen'd visit per token). The two text-level symbol ratios
    // stay as builtin length/replace (already codegen'd).
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"),
        split(lower(trim(col("text"))), " +").as("toks"))
      .withColumn("st", graft.functions.GraftFunctions.tokenRuleStats(
        col("toks"), TextAnalysis.stopwords))
      .withColumn("n_words", col("st.n_words").cast("long"))
      .withColumn("mean_wl",
        col("st.sum_wlen").cast("double") / col("st.n_words"))
      .withColumn("hash_ratio",
        (length(col("text")) - length(replace(col("text"), lit("#"), lit(""))))
          .cast("double") / col("n_words"))
      .withColumn("ellipsis_ratio",
        ((length(col("text")) - length(replace(col("text"), lit("..."), lit(""))))
          / lit(3)).cast("double") / col("n_words"))
      .withColumn("alpha_frac",
        col("st.n_alpha").cast("double") / col("st.n_words"))
      .withColumn("n_stop", col("st.n_stop"))
      .withColumn("dup_bigram_frac",
        when(col("st.n_words") < 2, lit(1.0)).otherwise(
          lit(1.0) - col("st.n_distinct_bigrams").cast("double")
            / greatest(col("st.n_words") - 1, lit(1))))
    // `failed` is emitted as a canonical comma-joined STRING, not an
    // array: rule order is fixed, so the join loses no information, and
    // scalar columns stay comparable by any downstream tabular tool
    // (array cells break pandas-style sorting). The array form is one
    // split(',') away for consumers that want it.
    d.select(col("doc_id"), col("n_words"),
        array_join(filter(array(
          when(col("n_words") < 50, lit("too_short")),
          when(col("n_words") > 100000, lit("too_long")),
          when(col("mean_wl") < 3 || col("mean_wl") > 10, lit("mean_word_len")),
          when(col("hash_ratio") > 0.1, lit("hash_ratio")),
          when(col("ellipsis_ratio") > 0.3, lit("ellipsis_ratio")),
          when(col("alpha_frac") < 0.8, lit("alpha_frac")),
          when(col("n_stop") < 2, lit("stopwords")),
          when(col("dup_bigram_frac") > 0.2, lit("dup_bigrams"))),
          x => x.isNotNull), ",").as("failed"))
      .withColumn("keep", col("failed") === "")
      .orderBy("doc_id")
  }

  val q62Sql: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), ' +') AS toks, text
      |  FROM documents),
      |m AS (
      |  SELECT doc_id,
      |    CAST(len(toks) AS BIGINT) AS n_words,
      |    CAST(list_reduce(list_prepend(0, list_transform(toks, t -> length(t))),
      |         (a, b) -> a + b) AS DOUBLE) / len(toks) AS mean_wl,
      |    CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
      |      / len(toks) AS hash_ratio,
      |    CAST((length(text) - length(replace(text, '...', ''))) / 3 AS DOUBLE)
      |      / len(toks) AS ellipsis_ratio,
      |    CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
      |      / len(toks) AS alpha_frac,
      |    len(list_intersect(list_distinct(toks),
      |        ['the','a','and','of','in','to'])) AS n_stop,
      |    CASE WHEN len(toks) < 2 THEN 1.0 ELSE
      |      1.0 - CAST(len(list_distinct([toks[i] || ' ' || toks[i+1]
      |                                    for i in range(1, len(toks))])) AS DOUBLE)
      |          / greatest(len(toks) - 1, 1) END AS dup_bigram_frac
      |  FROM d)
      |SELECT doc_id, n_words, failed, failed = '' AS keep
      |FROM (
      |  SELECT doc_id, n_words,
      |    -- COALESCE: array_to_string of an EMPTY list is '' on current
      |    -- DuckDB but NULL on 1.x — pin the all-rules-pass value to ''
      |    -- on both so the oracle is engine-version-independent.
      |    COALESCE(array_to_string(list_filter([
      |      CASE WHEN n_words < 50 THEN 'too_short' END,
      |      CASE WHEN n_words > 100000 THEN 'too_long' END,
      |      CASE WHEN mean_wl < 3 OR mean_wl > 10 THEN 'mean_word_len' END,
      |      CASE WHEN hash_ratio > 0.1 THEN 'hash_ratio' END,
      |      CASE WHEN ellipsis_ratio > 0.3 THEN 'ellipsis_ratio' END,
      |      CASE WHEN alpha_frac < 0.8 THEN 'alpha_frac' END,
      |      CASE WHEN n_stop < 2 THEN 'stopwords' END,
      |      CASE WHEN dup_bigram_frac > 0.2 THEN 'dup_bigrams' END
      |    ], x -> x IS NOT NULL), ','), '') AS failed
      |  FROM m)
      |ORDER BY doc_id""".stripMargin

  val q45Sql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, lang,
       |         0.4 * (CAST(len(list_filter(toks, t -> ${TextAnalysis.stopPredSql})) AS DOUBLE) / len(toks))
       |         + 0.3 * (1.0 - CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text))
       |         + 0.3 * LEAST(1.0, CAST(len(toks) AS DOUBLE) / 100.0) AS quality
       |  FROM (SELECT doc_id, lang, text, regexp_split_to_array(trim(text), ' +') AS toks
       |        FROM documents)),
       |ranked AS (
       |  SELECT lang, doc_id, quality,
       |         ROW_NUMBER() OVER (PARTITION BY lang
       |                            ORDER BY quality DESC, doc_id) AS rank,
       |         COUNT(*) OVER (PARTITION BY lang) AS n_lang
       |  FROM scored)
       |SELECT lang, rank, doc_id, quality
       |FROM ranked
       |WHERE rank <= (n_lang + 4) // 5
       |ORDER BY lang, rank""".stripMargin

  // ---------------------------------------------------------------------
  // q67 — epoch-weighted mixture materialization: the step after q42's
  // rate decision — each stratum (language) carries a REPEAT weight
  // (percent; < 100 downsamples, > 100 upsamples, e.g. 250 = "2.5
  // epochs"), and every document materializes floor(w) copies plus one
  // more iff its content-hash bucket falls under frac(w) — the
  // deterministic fractional-epoch rule an LLM mixture applies when a
  // source is scheduled for a non-integer number of passes. Bucket uses
  // md5 chars 25-32, decorrelated from q36's split (1-8), q42's mix
  // (9-16) and q43's shard (17-20), so all four compose independently.
  //
  // Scale shape: pure projection + explode — zero shuffles before the
  // deterministic output sort; output size is the upsampled corpus by
  // construction. Integer arithmetic only, so the oracle matches
  // bit-for-bit.
  // ---------------------------------------------------------------------
  private val EpochWeights: Seq[(String, Int)] =
    Seq("en" -> 80, "de" -> 150, "fr" -> 150, "es" -> 150, "zh" -> 250)

  def q67UpsampleMix(spark: SparkSession, sfDir: String): DataFrame = {
    val w = EpochWeights.foldRight(lit(100)) { case ((l, p), els) =>
      when(col("lang") === l, lit(p)).otherwise(els)
    }
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(col("text")), 25, 8), 16, 10).cast("long") % 100)
          .as("bucket"),
        w.as("w"))
      .withColumn("n_copies",
        expr("CAST(w div 100 AS BIGINT)")
          + when(col("bucket") < col("w") % 100, 1L).otherwise(0L))
      .select(col("doc_id"), col("lang"),
        explode(expr(
          "CASE WHEN n_copies > 0 THEN sequence(1L, n_copies) ELSE array() END"))
          .as("copy_idx"))
      .orderBy("doc_id", "copy_idx")
  }

  val q67Sql: String = {
    val cases = EpochWeights.map { case (l, p) => s"WHEN lang = '$l' THEN $p" }
      .mkString(" ")
    s"""SELECT doc_id, lang, unnest(range(1, n_copies + 1)) AS copy_idx
       |FROM (
       |  SELECT doc_id, lang,
       |         w // 100 + CASE WHEN bucket < w % 100 THEN 1 ELSE 0 END AS n_copies
       |  FROM (SELECT doc_id, lang,
       |               CAST(('0x' || substr(md5(text), 25, 8))::BIGINT AS BIGINT) % 100 AS bucket,
       |               CASE $cases ELSE 100 END AS w
       |        FROM documents))
       |ORDER BY doc_id, copy_idx""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q64 — cross-source contamination matrix: for every unordered pair of
  // sources, how many distinct word 4-grams they share, as an overlap
  // coefficient |A ∩ B| / min(|A|, |B|). This is the corpus-level audit a
  // curation pipeline runs BEFORE mixing sources (q42) — two "independent"
  // crawls with high overlap double-weight the same content, and a source
  // that overlaps an eval-derived source is a decontamination (q41) leak.
  //
  // Scale shape: grams leave the executor only as md5 hashes (16 bytes);
  // the per-source gram sets are distinct'd BEFORE the self-join (map-side
  // combine on (source, gh)), so the join input is set-sized, not
  // occurrence-sized. Each gh matches at most S sources, so the self-join
  // fans out to <= S(S-1)/2 rows per shared gram — bounded by the source
  // count (a constant ~10-100), never by the corpus. The matrix agg output
  // is S^2 rows; the source-size side is an S-row aggregate joined
  // broadcast. One content shuffle total (on gh).
  // ---------------------------------------------------------------------
  def q64SourceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val grams = Tables.documents(spark, sfDir)
      .select(col("source"), toks.as("toks"))
      .select(col("source"),
        explode(expr(
          s"""CASE WHEN size(toks) >= $DeconN
             |     THEN array_distinct(transform(sequence(0, size(toks) - $DeconN),
             |            i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2], ' ', toks[i+3])))
             |     ELSE array() END""".stripMargin)).as("g"))
      // unhex: shuffle/join on the 16-byte binary hash, not its 32-char
      // hex spelling (the q54 width fix; gh is join-internal)
      .select(col("source"), unhex(md5(col("g"))).as("gh"))
      .distinct()
      // three consumers (sizes + both self-join sides): cache the
      // set-sized frame once rather than re-running the explode+distinct
      // shuffle per consumer (Bench/Verify clear the cache per query)
      .cache()
    val sizes = grams.groupBy(col("source"))
      .agg(count(lit(1)).as("n_grams"))
    val shared = grams.toDF("src_a", "gh")
      .join(grams.toDF("src_b", "gh"), "gh")
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("shared_grams"))
    // All-pairs frame (S^2 rows — driver-trivial at any corpus size) so
    // zero-overlap pairs appear explicitly in the audit.
    val a = sizes.select(col("source").as("src_a"), col("n_grams").as("grams_a"))
    val b = sizes.select(col("source").as("src_b"), col("n_grams").as("grams_b"))
    a.crossJoin(b).filter(col("src_a") < col("src_b"))
      .join(shared, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("grams_a"), col("grams_b"),
        coalesce(col("shared_grams"), lit(0L)).as("shared_grams"),
        (coalesce(col("shared_grams"), lit(0L)).cast("double")
          / least(col("grams_a"), col("grams_b")).cast("double")).as("overlap"))
      .orderBy("src_a", "src_b")
  }

  val q64Sql: String =
    s"""WITH g AS (
       |  SELECT DISTINCT source,
       |         md5(gram) AS gh
       |  FROM (
       |    SELECT source,
       |           unnest(list_distinct(CASE WHEN len(toks) >= $DeconN
       |             THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
       |                   for i in range(1, len(toks) - ${DeconN - 2})]
       |             ELSE [] END)) AS gram
       |    FROM (SELECT source, regexp_split_to_array(trim(text), ' +') AS toks
       |          FROM documents))),
       |sizes AS (SELECT source, COUNT(*) AS n_grams FROM g GROUP BY source),
       |shared AS (
       |  SELECT ga.source AS src_a, gb.source AS src_b, COUNT(*) AS shared_grams
       |  FROM g ga JOIN g gb USING (gh)
       |  WHERE ga.source < gb.source
       |  GROUP BY ga.source, gb.source)
       |SELECT a.source AS src_a, b.source AS src_b,
       |       a.n_grams AS grams_a, b.n_grams AS grams_b,
       |       COALESCE(shared.shared_grams, 0) AS shared_grams,
       |       CAST(COALESCE(shared.shared_grams, 0) AS DOUBLE)
       |         / CAST(LEAST(a.n_grams, b.n_grams) AS DOUBLE) AS overlap
       |FROM sizes a JOIN sizes b ON a.source < b.source
       |LEFT JOIN shared ON shared.src_a = a.source AND shared.src_b = b.source
       |ORDER BY src_a, src_b""".stripMargin

  // ---------------------------------------------------------------------
  // q73 — retrieval context chunking: overlapping fixed-size token
  // windows per document (size ChunkC, stride ChunkS < ChunkC), the
  // standard RAG-index preparation. Differs from q43 (packing ACROSS
  // documents into training contexts) and q59 (the same sliding plan on
  // audio samples): chunks here never cross a document, overlap by
  // design (ChunkC - ChunkS tokens of context continuity), and each
  // carries its provenance span + a content fingerprint so a downstream
  // index can dedup shared chunks (composes with q68/q15).
  //
  // Chunk count per doc: 1 if len <= ChunkC, else
  // ceil((len - ChunkC)/ChunkS) + 1 — the last window is the only one
  // allowed to be short, and every token lands in >= 1 chunk. Pure
  // projection + explode: zero shuffles, embarrassingly parallel at any
  // corpus size (the ORDER BY is presentation-only).
  // ---------------------------------------------------------------------
  private[graft] val ChunkC = 64 // tokens per chunk
  private[graft] val ChunkS = 48 // stride (overlap = 16)

  def q73ChunkPlan(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(trim(col("text")), " +").as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n_tokens"), posexplode(expr(
        s"""transform(
           |  sequence(0, IF(size(toks) <= $ChunkC, 0,
           |    cast(ceil((size(toks) - $ChunkC) / $ChunkS.0) as int))),
           |  ci -> struct(
           |    ci * $ChunkS AS tok_start,
           |    least(ci * $ChunkS + $ChunkC, size(toks)) AS tok_end,
           |    md5(array_join(slice(toks, ci * $ChunkS + 1,
           |      least($ChunkC, size(toks) - ci * $ChunkS)), ' ')) AS chunk_fp))"""
          .stripMargin)).as(Seq("chunk_idx", "c")))
      .select(col("doc_id"), col("n_tokens"), col("chunk_idx"),
        col("c.tok_start").as("tok_start"), col("c.tok_end").as("tok_end"),
        col("c.chunk_fp").as("chunk_fp"))
      .orderBy("doc_id", "chunk_idx")

  val q73Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, len(toks) AS n_tokens, u.chunk_idx, u.tok_start,
       |         u.tok_end, u.chunk_fp FROM (
       |    SELECT doc_id, toks,
       |           unnest([{'chunk_idx': ci,
       |                    'tok_start': ci * $ChunkS,
       |                    'tok_end': least(ci * $ChunkS + $ChunkC, len(toks)),
       |                    'chunk_fp': md5(array_to_string(
       |                      toks[ci*$ChunkS+1 : least(ci*$ChunkS+$ChunkC, len(toks))], ' '))}
       |                   for ci in range(0,
       |                     CASE WHEN len(toks) <= $ChunkC THEN 1
       |                          ELSE CAST(ceil((len(toks) - $ChunkC)/$ChunkS.0) AS INT) + 1
       |                     END)]) AS u
       |    FROM d))
       |SELECT doc_id, n_tokens, chunk_idx, tok_start, tok_end, chunk_fp
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------------------------------------------------------------------
  // q77 — fixed-size deterministic stratified sample: exactly
  // min(n, SampleN) documents per (lang, source) stratum, chosen by
  // content-hash order (md5 of text:doc_id — content-stable across runs
  // AND collision-safe for duplicated texts). This is the eval-set /
  // human-review draw every curation pipeline needs: q42 keeps a RATE per
  // stratum, this keeps a COUNT — the two are the Bernoulli and
  // reservoir halves of deterministic sampling.
  //
  // Scale shape: the rank filter is a CONSTANT limit, so Spark 3.5's
  // WindowGroupLimit rewrite prunes each map partition to its local
  // top-SampleN BEFORE the stratum shuffle — the exchange carries
  // O(partitions x strata x SampleN) rows, not the corpus (this is what
  // q45's data-dependent ceil(n/5) quota cannot do; the plan gate pins
  // it). Skewed strata are exactly the case where this matters: a
  // 10^9-doc language still ships only SampleN rows per map task.
  // ---------------------------------------------------------------------
  private[graft] val SampleN = 8 // docs per (lang, source) stratum

  def q77StratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val keyed = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"),
        md5(concat(col("text"), lit(":"), col("doc_id"))).as("sk"))
    keyed
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("lang"), col("source"))
          .orderBy(col("sk"), col("doc_id"))))
      .filter(col("rank") <= SampleN)
      .select(col("lang"), col("source"), col("rank"), col("doc_id"))
      .orderBy("lang", "source", "rank")
  }

  val q77Sql: String =
    s"""SELECT lang, source, rank, doc_id FROM (
       |  SELECT lang, source, doc_id,
       |         row_number() OVER (
       |           PARTITION BY lang, source
       |           ORDER BY md5(text || ':' || doc_id), doc_id) AS rank
       |  FROM documents)
       |WHERE rank <= $SampleN
       |ORDER BY lang, source, rank""".stripMargin

  // ---------------------------------------------------------------------
  // q88 — equal-frequency length bucketing: assign every document to one
  // of 10 token-length deciles and summarize each bucket. This is the
  // batching step that minimizes padding waste when packing sequences of
  // similar length together (dynamic batching by length bucket); the
  // per-bucket stats ARE the padding-efficiency report (max_toks -
  // avg_toks = wasted tokens/doc if padded to the bucket max).
  //
  // Scale note: ntile needs a total order. A single global sort is the
  // textbook plan and what Catalyst emits (range-partitioned exchange,
  // NOT a single-task window: the ORDER BY-without-PARTITION BY window
  // collapses to one task only for row_number-style unbounded frames
  // when the optimizer cannot split; ntile over a range-sorted exchange
  // still funnels through one window task — so at 100 TB the right
  // deployment is per-shard deciles or quantile-sketch cutpoints, e.g.
  // q57's approx_percentile, then a broadcast bucket lookup; the exact
  // ntile here doubles as that sketch path's oracle). Ties broken by
  // doc_id for cross-engine determinism.
  // ---------------------------------------------------------------------
  private[graft] val LenBuckets = 10

  def q88LengthBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.orderBy(col("tok_cnt").asc, col("doc_id").asc)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(toks).cast("long").as("tok_cnt"))
      .withColumn("bucket", ntile(LenBuckets).over(w).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("tok_cnt")).as("min_toks"),
        max(col("tok_cnt")).as("max_toks"),
        sum(col("tok_cnt")).as("sum_toks"))
      .orderBy("bucket")
  }

  val q88Sql: String =
    s"""SELECT bucket, COUNT(*) AS n_docs,
       |       MIN(tok_cnt) AS min_toks, MAX(tok_cnt) AS max_toks,
       |       CAST(SUM(tok_cnt) AS BIGINT) AS sum_toks
       |FROM (SELECT doc_id, tok_cnt,
       |             ntile($LenBuckets) OVER (ORDER BY tok_cnt, doc_id) AS bucket
       |      FROM (SELECT doc_id,
       |                   len(regexp_split_to_array(trim(text), ' +')) AS tok_cnt
       |            FROM documents))
       |GROUP BY bucket
       |ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // q232 — q88's SCALE variant: the same exact-ntile length bucketing
  // with NO doc-scale global window. q88's scale note names this plan;
  // this entry makes the comment's claim a tested fact (verdict r10 #4).
  //
  // ntile(k) OVER (ORDER BY tok_cnt, doc_id) is a pure function of each
  // row's GLOBAL RANK, and the rank decomposes exactly:
  //   rank = (#docs with smaller tok_cnt)            -- the key offset
  //        + (row_number among ties, by doc_id)      -- within-key rank
  // so the only global-order work runs over the KEY-CARDINALITY frame
  // (distinct token lengths — thousands at web scale, not documents):
  //   pass 1: groupBy(tok_cnt).count()  -> per-length counts;
  //   pass 2: prefix-sum the counts (an unpartitioned window over the
  //           AGGREGATE — bounded by construction, allowed by the
  //           PlanSpec global-window gate) -> per-length rank offsets;
  //   pass 3: broadcast the offsets back; each doc's rank = offset +
  //           row_number within its tok_cnt PARTITION (a partitioned
  //           window); bucket = the closed-form ntile of (rank, n).
  // The bucket arithmetic reproduces SQL ntile exactly: with n rows,
  // k buckets, q = n div k, r = n mod k, the first r buckets hold q+1
  // rows — bucket(rank) = ceil(rank/(q+1)) while rank <= r*(q+1), else
  // r + ceil((rank - r*(q+1))/q). Output is identical to q88 row for
  // row (same DuckDB oracle; Q232 spec also pins q232 == q88).
  //
  // Skew: the rank decomposes TWICE — across keys, and across
  // order-preserving doc_id BLOCKS of width [[RankBlockW]] within each
  // key — so EVERY window in the plan has a hard partition-size bound:
  // the within-(key, block) row_number sees <= RankBlockW rows even if
  // one tok_cnt value holds the whole corpus, and both prefix windows
  // run over aggregates (key-cardinality / blocks-per-key frames). The
  // (key, block) offset frame totals ~n_docs/RankBlockW rows corpus-wide
  // (~1.5M at 10^11 docs — tens of MB, broadcastable; past that it
  // joins as an ordinary shuffle without changing the arithmetic).
  // ---------------------------------------------------------------------
  private val RankBlockW = 1L << 16

  def q232LengthBucketsScaled(spark: SparkSession, sfDir: String): DataFrame =
    q232WithBlockW(spark, sfDir, RankBlockW)

  /** Block width exposed for the spec: at oracle SFs every doc_id fits
    * one production-width block, so the equality spec ALSO runs a
    * small-W variant that forces many blocks per key — proving the
    * two-level rank recomposition, not just the degenerate case. */
  private[graft] def q232WithBlockW(spark: SparkSession, sfDir: String,
      blockW: Long): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(toks).cast("long").as("tok_cnt"))
      // doc_id-RANGE blocks preserve doc_id order across blocks, so
      // key offset + block offset + within-block rank == global rank
      .withColumn("blk", expr(s"doc_id div $blockW"))
    val byKB = docs.groupBy(col("tok_cnt"), col("blk"))
      .agg(count(lit(1)).as("cnt"))
    val byLen = byKB.groupBy(col("tok_cnt"))
      .agg(sum(col("cnt")).as("cnt"))
    // prefix offsets over the key-cardinality aggregate (bounded frame)
    val offs = byLen.withColumn("off",
      sum(col("cnt")).over(Window.orderBy(col("tok_cnt"))) - col("cnt"))
    // prefix offsets across blocks WITHIN each key (partitioned window
    // over the blocks-per-key aggregate)
    val kbOffs = byKB.withColumn("boff",
      sum(col("cnt")).over(
        Window.partitionBy(col("tok_cnt")).orderBy(col("blk"))) - col("cnt"))
    val total = byLen.agg(sum(col("cnt")).as("n"))
    docs
      .join(broadcast(offs.select(col("tok_cnt"), col("off"))), Seq("tok_cnt"))
      .join(broadcast(kbOffs.select(col("tok_cnt"), col("blk"), col("boff"))),
        Seq("tok_cnt", "blk"))
      .withColumn("rig", row_number().over(
        Window.partitionBy(col("tok_cnt"), col("blk"))
          .orderBy(col("doc_id"))).cast("long"))
      .withColumn("rank", col("off") + col("boff") + col("rig"))
      .crossJoin(broadcast(total))
      .withColumn("bucket", expr(
        s"""CASE WHEN rank <= (n % $LenBuckets) * (n div $LenBuckets + 1)
           |     THEN (rank + n div $LenBuckets) div (n div $LenBuckets + 1)
           |     ELSE n % $LenBuckets
           |          + (rank - (n % $LenBuckets) * (n div $LenBuckets + 1)
           |             + n div $LenBuckets - 1) div (n div $LenBuckets)
           |END""".stripMargin))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("tok_cnt")).as("min_toks"),
        max(col("tok_cnt")).as("max_toks"),
        sum(col("tok_cnt")).as("sum_toks"))
      .orderBy("bucket")
  }

  // ---------------------------------------------------------------------
  // q95 — contiguous sample-index assignment: give every document a
  // dense 0..n-1 id in doc_id order (the "sample index" a trainer's
  // dataloader addresses shards by). The naive SQL is
  // row_number() OVER (ORDER BY doc_id) — an ORDER BY-without-PARTITION
  // window that Catalyst executes as a SINGLE task holding the whole
  // corpus (WindowExec warns "No Partition Defined"); at 100 TB that is
  // the plan that never finishes. This operator is the scalable
  // two-pass prefix-sum shape instead:
  //
  //   pass 1: range-partition by doc_id, count rows per partition
  //           (aggregate-sized result to the driver: P longs);
  //   pass 2: broadcast the per-partition prefix offsets; each partition
  //           assigns offset + local index over its sorted rows.
  //
  // The frozen-layout machinery (and the boundary-resampling hazard it
  // guards against) lives in [[TwoPass.frozenPrefix]], shared with
  // q113/q177/q183. Rows are sorted by doc_id within each frozen
  // partition, so offset + local rank == global rank, exactly the
  // oracle's row_number. The per-partition loop is a mapPartitions —
  // the one pattern where imperative iteration is the *scale-correct*
  // choice, not a shortcut (no shuffle beyond the range exchange, no
  // single-task stage, no driver data path).
  // ---------------------------------------------------------------------
  private val IdParts = 8

  def q95ContiguousIds(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (docs, offsets, _) = TwoPass.frozenPrefix(
      Tables.documents(spark, sfDir).select(col("doc_id")),
      IdParts, Seq(col("doc_id")), Seq(count(lit(1))))
    val bc = spark.sparkContext.broadcast(offsets)

    // pass 2: offset + local index per cached partition
    val out = docs.as[Long].mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val off = bc.value.get(pid).map(_(0)).getOrElse(0L)
      var i = 0L
      it.map { d => val r = (d, off + i); i += 1; r }
    }.toDF("doc_id", "seq_id").orderBy("doc_id")
      .localCheckpoint(true) // materialize before releasing the layout
    docs.unpersist()
    out
  }

  val q95Sql: String =
    """SELECT doc_id,
      |       ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS seq_id
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q99 — temperature-scaled language mixture (the multilingual
  // rebalancing rule from XLM-R / mBERT: sample language l with
  // p_l ∝ (n_l / N)^alpha, alpha < 1 upsamples low-resource languages).
  // Output: per-language corpus count, normalized mixture weight, and
  // the expected document budget at a fixed total sample size.
  //
  // Scale shape: ONE partial-aggregable count over the corpus; the
  // power/normalize arithmetic runs on the aggregate (|langs| rows —
  // hundreds at web scale). The two "totals" the normalization needs
  // (N and Z = sum of powered shares) are aggregate-of-aggregate:
  // broadcast-joined 1-row frames, never a second corpus pass.
  //
  // Float discipline: pow() is <=1-ulp (not correctly-rounded) in both
  // JVM and C libm, so the emitted weight is rounded to 6 dp and the
  // expected count derives from the ROUNDED weight — bit-stable across
  // engines (same trick as q55's decimal sums).
  // ---------------------------------------------------------------------
  private[graft] val MixAlpha  = 0.3
  private[graft] val MixBudget = 100000L

  def q99TemperatureMix(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.documents(spark, sfDir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val total = counts.agg(sum(col("n_docs")).as("total"))
    val powered = counts.crossJoin(broadcast(total))
      .withColumn("praw", pow(col("n_docs").cast("double") / col("total"),
        lit(MixAlpha)))
    val z = powered.agg(sum(col("praw")).as("zsum"))
    powered.crossJoin(broadcast(z))
      .withColumn("p_mix", round(col("praw") / col("zsum"), 6))
      .withColumn("expected_docs",
        floor(col("p_mix") * lit(MixBudget) + lit(0.5)).cast("long"))
      .select(col("lang"), col("n_docs"), col("p_mix"), col("expected_docs"))
      .orderBy("lang")
  }

  val q99Sql: String =
    s"""WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
       |t AS (SELECT SUM(n_docs) AS total FROM c),
       |p AS (SELECT lang, n_docs,
       |             pow(n_docs * 1.0 / total, $MixAlpha) AS praw
       |      FROM c, t),
       |z AS (SELECT SUM(praw) AS zsum FROM p)
       |SELECT lang, n_docs, ROUND(praw / zsum, 6) AS p_mix,
       |       CAST(FLOOR(ROUND(praw / zsum, 6) * $MixBudget + 0.5) AS BIGINT)
       |         AS expected_docs
       |FROM p, z
       |ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // q113 — deterministic weight-proportional sampling WITHOUT
  // randomness: systematic (fixed-interval) sampling over the
  // cumulative weight line. Conceptually: lay every document's weight
  // (n_chars — a token-budget proxy) end to end on [0, W); drop K
  // equally spaced marks (multiples of W/K); a document is selected
  // with multiplicity = #marks inside its interval. Selection
  // probability is exactly proportional to weight, the sample total is
  // exactly K, and the result is reproducible bit-for-bit across
  // engines, partitionings and reruns — no RNG, no seed drift, unlike
  // rand()-based weighted sampling (and unlike exponential-rank A-ES,
  // whose log() would also hit the q102 transcendental problem).
  // All arithmetic is integer: mark m lands in doc i iff
  // floor(W_i*K/W) < floor((W_i+w_i)*K/W), multiplicity is the
  // difference (W_i = exclusive prefix weight in doc_id order).
  //
  // Scale shape: the prefix weights are q95's two-pass range-partition
  // prefix scan (per-partition totals -> driver prefix offsets [P
  // longs] -> broadcast), NOT a global-order window — the corpus never
  // funnels through one task. (W_i+w_i)*K must fit the integer type:
  // Long here (documented bound W*K < 2^63; at 100 TB scale the same
  // arithmetic runs in Decimal(38) — one cast).
  // ---------------------------------------------------------------------
  private[graft] val SampleK = 100L

  def q113WeightedSample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (docs, offsets, totals) = TwoPass.frozenPrefix(
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("n_chars").as("w")),
      IdParts, Seq(col("doc_id")), Seq(sum(col("w"))))
    val totalW = totals(0)
    val bc = spark.sparkContext.broadcast(offsets)

    // pass 2: running prefix per cached partition; integer mark count
    val out = docs.as[(Long, Long)].mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var prefix = bc.value.get(pid).map(_(0)).getOrElse(0L)
      it.flatMap { case (id, w) =>
        val lo = prefix * SampleK / totalW
        val hi = (prefix + w) * SampleK / totalW
        prefix += w
        if (hi > lo) Some((id, w, hi - lo)) else None
      }
    }.toDF("doc_id", "weight", "multiplicity").orderBy("doc_id")
      .localCheckpoint(true)
    docs.unpersist()
    out
  }

  val q113Sql: String =
    s"""WITH w AS (SELECT doc_id, n_chars AS w FROM documents),
       |t AS (SELECT SUM(w) AS total FROM w),
       |p AS (SELECT doc_id, w,
       |             COALESCE(SUM(w) OVER (ORDER BY doc_id
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |               AS pw
       |      FROM w)
       |SELECT doc_id, w AS weight,
       |       CAST(((pw + w) * $SampleK // total) - (pw * $SampleK // total)
       |         AS BIGINT) AS multiplicity
       |FROM p, t
       |WHERE ((pw + w) * $SampleK // total) - (pw * $SampleK // total) > 0
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q122 — deterministic uniform sampling by bottom-k hash order: the k
  // documents whose md5(doc_id) is smallest. Because a cryptographic
  // hash is uniform on its input set, bottom-k-by-hash IS a uniform
  // k-sample — but unlike rand()-based sampling it is reproducible
  // across runs/partitionings/engines (the audit requirement for eval
  // holdouts), composable (the bottom-k of a union = bottom-k of merged
  // bottom-k's — a mergeable sample, so per-shard samples fold), and
  // consistent (growing the corpus only swaps elements in/out by hash
  // order, never reshuffles the whole sample — the KMV sketch property).
  //
  // Shape: Catalyst compiles orderBy(h).limit(k) to TakeOrderedAndProject
  // — a per-partition top-k heap (O(k) memory each) merged at the
  // driver: NO global sort, no full-data exchange; each partition ships
  // at most k rows. The plan gate pins that. At 100 TB the scan is the
  // whole cost and k·|partitions| rows move.
  // ---------------------------------------------------------------------
  private[graft] val BottomK = 500

  def q122BottomkSample(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("h"),
        col("lang"), col("n_chars"))
      .orderBy(col("h"))
      .limit(BottomK)
      .orderBy("doc_id")

  val q122Sql: String =
    s"""SELECT doc_id, h, lang, n_chars FROM (
       |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h, lang, n_chars
       |  FROM documents
       |  ORDER BY h LIMIT $BottomK)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q134 — sequence-packing efficiency sweep: for a grid of candidate
  // context lengths, the padding waste the corpus would incur if each
  // document were chunked to that length — the measurement that picks a
  // training context length (and the planning input to q43's actual
  // packer). ceil-division in pure integer arithmetic; ONE corpus scan
  // feeds all grid points (the per-L rows explode from a 4-element
  // literal array, so the scan does not repeat per candidate).
  // ---------------------------------------------------------------------
  private[graft] val PackGrid = Seq(128, 256, 512, 1024)

  def q134PackingSweep(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(size(split(trim(col("text")), " +")).cast("long").as("n_tokens"),
        explode(array(PackGrid.map(lit): _*)).as("seq_len"))
      .select(col("seq_len"), col("n_tokens"),
        expr("(n_tokens + seq_len - 1) div seq_len").as("n_chunks"))
      .groupBy(col("seq_len"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chunks")).as("n_chunks"),
        (sum(col("n_chunks")) * col("seq_len")).as("padded_tokens"))
      .select(col("seq_len"), col("n_docs"), col("total_tokens"),
        col("n_chunks"), col("padded_tokens"),
        round((col("padded_tokens") - col("total_tokens")).cast("double") /
          col("padded_tokens") * 100, 6).as("waste_pct"))
      .orderBy("seq_len")

  val q134Sql: String =
    s"""WITH d AS (
       |  SELECT len(regexp_split_to_array(trim(text), ' +'))::BIGINT
       |           AS n_tokens
       |  FROM documents),
       |g AS (SELECT unnest([${PackGrid.mkString(", ")}]) AS seq_len),
       |c AS (
       |  SELECT g.seq_len, d.n_tokens,
       |         (d.n_tokens + g.seq_len - 1) // g.seq_len AS n_chunks
       |  FROM d CROSS JOIN g)
       |SELECT seq_len, COUNT(*) AS n_docs,
       |       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |       CAST(SUM(n_chunks) AS BIGINT) AS n_chunks,
       |       CAST(SUM(n_chunks) * seq_len AS BIGINT) AS padded_tokens,
       |       round(CAST(SUM(n_chunks) * seq_len - SUM(n_tokens) AS DOUBLE)
       |             / (SUM(n_chunks) * seq_len) * 100, 6) AS waste_pct
       |FROM c
       |GROUP BY seq_len
       |ORDER BY seq_len""".stripMargin

  // ---------------------------------------------------------------------
  // q135 — deterministic epoch shuffling into dataloader shards: each
  // training epoch permutes the corpus by a seeded hash and splits it
  // into numbered shards whose WITHIN-SHARD order is part of the
  // contract (a reader must see the same sequence on every re-run /
  // resume). Output is the shard manifest: per (epoch, shard) the doc
  // count and a fingerprint of the ordered id sequence.
  //
  // Scale shape: the permutation is hash-derived (no global sort, no
  // RNG state): shard = h mod NB is a pure scan projection; the one
  // shuffle is the shard groupBy, and within-shard ordering sorts
  // SHARD-sized arrays in parallel. This is the q122/q36 hash-determinism
  // family applied to the epoch-ordering problem; the 60-bit md5-derived
  // h is the q132 cross-engine parse.
  // ---------------------------------------------------------------------
  private[graft] val ShuffleEpochs = 2
  private[graft] val ShardCount    = 64

  def q135EpochShards(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(array((0 until ShuffleEpochs).map(lit): _*)).as("epoch"))
      .withColumn("h", expr(
        "CAST(conv(substr(md5(concat(epoch, '-', doc_id)), 1, 15), 16, 10) " +
          "AS BIGINT)"))
      .withColumn("shard", pmod(col("h"), lit(ShardCount)))
      .groupBy(col("epoch"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("h"), col("doc_id")))),
          s => s.getField("doc_id").cast("string")), ",")).as("order_fp"))
      .orderBy("epoch", "shard")

  val q135Sql: String =
    s"""WITH e AS (
       |  SELECT doc_id, unnest(range(0, $ShuffleEpochs)) AS epoch
       |  FROM documents),
       |h AS (
       |  SELECT epoch, doc_id,
       |         CAST(concat('0x', substr(md5(concat(epoch, '-', doc_id)),
       |                                  1, 15)) AS BIGINT) AS h
       |  FROM e)
       |SELECT CAST(epoch AS INT) AS epoch, h % $ShardCount AS shard,
       |       COUNT(*) AS n_docs,
       |       md5(string_agg(doc_id, ',' ORDER BY h, doc_id)) AS order_fp
       |FROM h
       |GROUP BY 1, 2
       |ORDER BY epoch, shard""".stripMargin

  // ---------------------------------------------------------------------
  // q136 — curriculum interleave: order the corpus "hardest-first within
  // source, round-robin across sources" — the data-ordering pass that
  // keeps any single source from dominating a training phase while
  // preserving a difficulty curriculum inside each source.
  //
  // The interesting part is the GLOBAL position without a global window:
  // pos(r, s) = Σ_{s'} min(r−1, n_{s'})  +  |{s' ≤ s : n_{s'} ≥ r}|
  // — docs of earlier rounds, plus earlier-or-equal sources still alive
  // in round r. Per-source ranks are partition-parallel windows; the
  // global term is a |sources|-row broadcast join + per-doc arithmetic.
  // A ROW_NUMBER over the whole corpus (the oracle's formulation) would
  // funnel 100 TB through one task; this shape never does.
  // ---------------------------------------------------------------------
  def q136CurriculumInterleave(spark: SparkSession, sfDir: String): DataFrame = {
    val r = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        row_number().over(Window.partitionBy(col("source"))
          .orderBy(desc("n_chars"), col("doc_id"))).cast("long")
          .as("rank_in_source"))
    val counts = r.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      .select(col("source").as("s2"), col("n_s"))
    r.crossJoin(broadcast(counts)) // |sources|-row explode per doc
      .groupBy(col("doc_id"), col("source"), col("rank_in_source"))
      .agg((sum(least(col("rank_in_source") - 1, col("n_s"))) +
        sum(when(col("n_s") >= col("rank_in_source") &&
          col("s2") <= col("source"), 1L).otherwise(0L))).as("global_pos"))
      .orderBy("doc_id")
  }

  val q136Sql: String =
    """WITH r AS (
      |  SELECT doc_id, source,
      |         ROW_NUMBER() OVER (PARTITION BY source
      |                            ORDER BY n_chars DESC, doc_id)
      |           AS rank_in_source
      |  FROM documents)
      |SELECT doc_id, source, rank_in_source,
      |       ROW_NUMBER() OVER (ORDER BY rank_in_source, source)
      |         AS global_pos
      |FROM r
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q142 — deletion-cascade audit ("right to be forgotten"): given a
  // predicate naming the users to forget, the per-table impact report —
  // how many rows each table must drop, including rows reachable only
  // TRANSITIVELY (lineitems of a forgotten customer's orders carry no
  // user key themselves). The compliance primitive every stored-data
  // pipeline needs before it can actually honor a deletion request, and
  // the audit artifact regulators ask for.
  //
  // Shape: direct tables are a scan + filter (the predicate is pure key
  // arithmetic — it reaches the parquet scan); the 2-hop table is ONE
  // semi-join keyed on the parent key against the already-filtered
  // parent (broadcast when small). Counts union into the report. The
  // actual deletion is the same plans with anti-join writes.
  // ---------------------------------------------------------------------
  private[graft] val ForgetMod = 97L

  def q142ForgetCascade(spark: SparkSession, sfDir: String): DataFrame = {
    val fEvents = Tables.events(spark, sfDir)
      .filter(pmod(col("user_id"), lit(ForgetMod)) === 0)
    val fOrders = Tables.orders(spark, sfDir)
      .filter(pmod(col("o_custkey"), lit(ForgetMod)) === 0)
    val fLineitem = Tables.lineitem(spark, sfDir)
      .join(fOrders.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
    val rows = Seq(
      ("events", fEvents.groupBy().agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_keys"))),
      ("orders", fOrders.groupBy().agg(count(lit(1)).as("n_rows"),
        countDistinct(col("o_custkey")).as("n_keys"))),
      ("lineitem", fLineitem.groupBy().agg(count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_keys"))))
    rows.map { case (t, df) => df.select(lit(t).as("table_name"),
      col("n_rows"), col("n_keys")) }
      .reduce(_.unionAll(_)).orderBy("table_name")
  }

  val q142Sql: String =
    s"""SELECT 'events' AS table_name, COUNT(*) AS n_rows,
       |       COUNT(DISTINCT user_id) AS n_keys
       |FROM events WHERE user_id % $ForgetMod = 0
       |UNION ALL
       |SELECT 'orders', COUNT(*), COUNT(DISTINCT o_custkey)
       |FROM orders WHERE o_custkey % $ForgetMod = 0
       |UNION ALL
       |SELECT 'lineitem', COUNT(*), COUNT(DISTINCT l_orderkey)
       |FROM lineitem WHERE l_orderkey IN (
       |  SELECT o_orderkey FROM orders WHERE o_custkey % $ForgetMod = 0)
       |ORDER BY table_name""".stripMargin

  // ---------------------------------------------------------------------
  // q143 — dataset manifest / data card: per (source, lang) slice, the
  // reproducibility record a training run publishes — row count, token
  // mass, id range, and an ORDER-INSENSITIVE content checksum (q132's
  // 60-bit md5-xor over the DOCUMENT TEXT, so a silent regeneration that
  // keeps counts but changes any byte of content flips the slice's
  // fingerprint). Two runs trained on "the same data" can prove it —
  // or detect they weren't — by comparing |sources|·|langs| rows.
  //
  // Shape: ONE scan, one partial-aggregable shuffle of slice-sized
  // state; the checksum rides the scan projection (codegen'd md5+conv).
  // ---------------------------------------------------------------------
  def q143DataManifest(spark: SparkSession, sfDir: String): DataFrame =
    manifestOf(Tables.documents(spark, sfDir))

  /** Manifest of any documents-shaped frame — split out so a spec can
    * fingerprint a one-byte-mutated corpus and assert the slice flips. */
  private[graft] def manifestOf(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), col("lang"), col("doc_id"),
        size(split(trim(col("text")), " +")).cast("long").as("n_tokens"),
        expr("CAST(conv(substr(md5(text), 1, 15), 16, 10) AS BIGINT)")
          .as("h"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"),
        expr("bit_xor(h)").as("content_xor"))
      .orderBy("source", "lang")

  val q143Sql: String =
    """SELECT source, lang, COUNT(*) AS n_docs,
      |       CAST(SUM(len(regexp_split_to_array(trim(text), ' +')))
      |            AS BIGINT) AS total_tokens,
      |       MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id,
      |       bit_xor(CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT))
      |         AS content_xor
      |FROM documents
      |GROUP BY source, lang
      |ORDER BY source, lang""".stripMargin

  // ---------------------------------------------------------------------
  // q145 — stratified train/val/test split with EXACT per-stratum
  // proportions: q36's hash split is unbiased only in expectation (a
  // small language can land 73/17/10 by luck); evaluation sets need the
  // 80/10/10 contract to hold exactly within every (lang, source)
  // stratum. Assignment = rank along the stratum's seeded-hash order,
  // cut at ⌊0.8n⌋ and ⌊0.9n⌋ — deterministic, reproducible, and
  // rerun-stable under corpus append ONLY for unchanged strata (noted:
  // hash-threshold splits trade exactness for append-stability; this op
  // is the exact side of that tradeoff).
  //
  // Scale shape: per-stratum windows partition-parallel across
  // |langs|·|sources| strata (skewed strata ride q31's salting if one
  // language dominates); stratum sizes are a broadcast join. No global
  // window, no driver-side data.
  // ---------------------------------------------------------------------
  private[graft] val SplitSalt = "graft-split-v1"

  def q145StratifiedSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val ranked = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"),
        md5(concat(lit(SplitSalt), lit("-"), col("doc_id"))).as("h"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lang"), col("source"))
          .orderBy(col("h"), col("doc_id"))).cast("long"))
    val sizes = ranked.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"))
    ranked.join(broadcast(sizes), Seq("lang", "source"))
      .select(col("doc_id"), col("lang"), col("source"),
        when(col("rn") <= expr("n * 8 div 10"), "train")
          .when(col("rn") <= expr("n * 9 div 10"), "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  val q145Sql: String =
    s"""WITH r AS (
       |  SELECT doc_id, lang, source,
       |         ROW_NUMBER() OVER (
       |           PARTITION BY lang, source
       |           ORDER BY md5(concat('$SplitSalt', '-', doc_id)), doc_id)
       |           AS rn,
       |         COUNT(*) OVER (PARTITION BY lang, source) AS n
       |  FROM documents)
       |SELECT doc_id, lang, source,
       |       CASE WHEN rn <= n * 8 // 10 THEN 'train'
       |            WHEN rn <= n * 9 // 10 THEN 'val'
       |            ELSE 'test' END AS split
       |FROM r
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q151 — cross-source quantile normalization (decile granularity):
  // replace each document's length with the GLOBAL decile median at the
  // document's WITHIN-SOURCE decile rank — the calibration step that
  // makes per-source scores comparable before a corpus-wide quality cut
  // (each source's score distribution maps onto the global one; the
  // rank-based batch-effect correction bioinformatics calls quantile
  // normalization, at the decile granularity that stays exact).
  //
  // Exactness: deciles are ntile ranks (integers), global decile medians
  // interpolate at halves over BIGINT lengths — dyadic, bit-identical
  // cross-engine (q120's discipline).
  //
  // Shape: the per-source deciles are partition-parallel windows; the
  // GLOBAL deciles run through [[TwoPass.globalNtile]] — the exact
  // range-partitioned rank decomposition, so no doc-scale frame ever
  // funnels through one window task (the scale note this comment used
  // to carry is now the shipped plan) — + a broadcast 10-row median
  // join. globalNtile materializes its result, which also feeds the
  // median build AND the join probe side without recompute.
  // ---------------------------------------------------------------------
  def q151QuantileNorm(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("src_decile", ntile(10).over(
        Window.partitionBy(col("source"))
          .orderBy(col("n_chars"), col("doc_id"))))
    val withDeciles = TwoPass.globalNtile(docs,
      Seq(col("n_chars"), col("doc_id")), 10, "glob_decile")
    val globMedians = withDeciles.groupBy(col("glob_decile").as("src_decile"))
      .agg(percentile(col("n_chars"), lit(0.5)).as("norm_chars"))
    withDeciles
      .join(broadcast(globMedians), Seq("src_decile"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("src_decile"), col("norm_chars"))
      .orderBy("doc_id")
  }

  val q151Sql: String =
    """WITH d AS (
      |  SELECT doc_id, source, n_chars,
      |         NTILE(10) OVER (PARTITION BY source
      |                         ORDER BY n_chars, doc_id) AS src_decile,
      |         NTILE(10) OVER (ORDER BY n_chars, doc_id) AS glob_decile
      |  FROM documents),
      |gm AS (
      |  SELECT glob_decile AS src_decile,
      |         quantile_cont(n_chars, 0.5) AS norm_chars
      |  FROM d GROUP BY glob_decile)
      |SELECT d.doc_id, d.source, d.n_chars, d.src_decile, gm.norm_chars
      |FROM d JOIN gm USING (src_decile)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q157 — small-file compaction plan (OPTIMIZE's planning half): per
  // source, pack documents in doc_id order into output groups of
  // ~TargetBytes — prefix-mass binning, group = floor(cumulative bytes
  // BEFORE this doc / target): a doc lands in the bin its prefix mass
  // dictates. Typical groups close near the target; a single document
  // larger than the target overshoots its bin boundary, which closes
  // the next group early (possibly small) and can skip bin ids — the
  // honest price of a one-window plan that never splits a document
  // (CurationSpec pins these exact semantics). Emits the per-group
  // manifest (doc range, count, bytes) a rewrite job executes 1:1.
  //
  // Shape: one cumulative window per source (partition-parallel) over
  // (doc_id) — the q43 packing discipline applied to FILES instead of
  // sequences; all-integer.
  // ---------------------------------------------------------------------
  private[graft] val TargetBytes = 65536L // 64 KiB of text per output group

  def q157CompactionPlan(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("prefix", coalesce(sum(col("n_chars")).over(w), lit(0L)))
      .withColumn("grp", expr(s"prefix div $TargetBytes"))
      .groupBy(col("source"), col("grp"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        sum(col("n_chars")).as("grp_bytes"))
      .orderBy("source", "grp")
  }

  val q157Sql: String =
    s"""WITH p AS (
       |  SELECT source, doc_id, n_chars,
       |         coalesce(SUM(n_chars) OVER (
       |           PARTITION BY source ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           AS prefix
       |  FROM documents)
       |SELECT source, CAST(prefix // $TargetBytes AS BIGINT) AS grp,
       |       COUNT(*) AS n_docs,
       |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
       |       CAST(SUM(n_chars) AS BIGINT) AS grp_bytes
       |FROM p
       |GROUP BY source, CAST(prefix // $TargetBytes AS BIGINT)
       |ORDER BY source, grp""".stripMargin

  // ---------------------------------------------------------------------
  // q172 — the curation FUNNEL: the three corpus filters run as one
  // sequenced pipeline over the training split (bucket < 90), reporting
  // per stage what each filter costs and what it UNIQUELY catches —
  // the attribution report a data team reads before re-ordering or
  // dropping a filter. Stages, in the conventional order:
  //   1 exact_dup      — not the min doc_id of its md5(text) group
  //                      (q15's corpus-wide first-wins rule)
  //   2 quality_top20  — outside q45's per-lang top-20% quality rank
  //                      (identical score, rank, and tie rule)
  //   3 decontaminate  — shares a word 4-gram with the held-out split
  //                      (q41's flag, verbatim)
  // Each flag is computed INDEPENDENTLY with its parent query's exact
  // predicate (corpus-wide where the parent is corpus-wide), then the
  // funnel applies them in sequence: n_dropped at stage k counts docs
  // flagged by k that survived 1..k-1; n_flagged is the filter's
  // standalone count; n_unique is what ONLY this filter catches — the
  // number that justifies its place in the pipeline.
  //
  // Shape: the flag joins are the parents' shapes (hash-group window,
  // per-lang rank window, gram equi-join); the funnel itself is ONE
  // 1-row aggregate exploded to 3 stage rows (q164's pivot). Output is
  // all-integer — no float parity surface at all.
  // ---------------------------------------------------------------------
  def q172CurationFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("text"), splitBucket,
        toks.as("toks"))
    val dup = d
      .withColumn("dup",
        col("doc_id") =!= min(col("doc_id"))
          .over(Window.partitionBy(md5(col("text")))))
      .select(col("doc_id"), col("dup"))
    val lowq = d
      .select(col("doc_id"), col("lang"),
        size(col("toks")).as("n_tokens"),
        expr(s"size(filter(toks, t -> ${TextAnalysis.stopPredSql}))")
          .as("n_stop"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[.,!?;:]", ""))).as("n_punct"),
        length(col("text")).as("n_chars_calc"))
      .select(col("doc_id"), col("lang"),
        (lit(0.4) * (col("n_stop").cast("double") / col("n_tokens"))
          + lit(0.3) * (lit(1.0)
            - col("n_punct").cast("double") / col("n_chars_calc"))
          + lit(0.3) * least(lit(1.0),
            col("n_tokens").cast("double") / lit(100.0))).as("quality"))
      .withColumn("rnk", row_number().over(Window.partitionBy(col("lang"))
        .orderBy(col("quality").desc, col("doc_id"))))
      .withColumn("n_lang",
        count(lit(1)).over(Window.partitionBy(col("lang"))))
      .select(col("doc_id"), (col("rnk") > expr("(n_lang + 4) div 5")).as("lowq"))
    val grams = d.select(col("doc_id"), col("bucket"),
      explode(expr(
        s"""CASE WHEN size(toks) >= $DeconN
           |     THEN array_distinct(transform(sequence(0, size(toks) - $DeconN),
           |            i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2], ' ', toks[i+3])))
           |     ELSE array() END""".stripMargin)).as("g"))
      .select(col("doc_id"), col("bucket"), md5(col("g")).as("gh"))
    val contamIds = grams.filter(col("bucket") < 90)
      .join(grams.filter(col("bucket") >= 95).select(col("gh")).distinct(), "gh")
      .select(col("doc_id")).distinct()
      .withColumn("contam", lit(true))
    val flags = d.filter(col("bucket") < 90).select(col("doc_id"))
      .join(dup, "doc_id").join(lowq, "doc_id")
      .join(contamIds, Seq("doc_id"), "left")
      .select(col("dup"), col("lowq"),
        coalesce(col("contam"), lit(false)).as("contam"))
    def cnt(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      sum(when(c, 1L).otherwise(0L))
    val a = flags.agg(
      count(lit(1)).as("n_in"),
      cnt(col("dup")).as("d1"),
      cnt(!col("dup") && col("lowq")).as("d2"),
      cnt(!col("dup") && !col("lowq") && col("contam")).as("d3"),
      cnt(col("dup")).as("f1"), cnt(col("lowq")).as("f2"),
      cnt(col("contam")).as("f3"),
      cnt(col("dup") && !col("lowq") && !col("contam")).as("u1"),
      cnt(col("lowq") && !col("dup") && !col("contam")).as("u2"),
      cnt(col("contam") && !col("dup") && !col("lowq")).as("u3"))
    val stages = Seq(
      (1L, "exact_dup", col("n_in"), col("d1"), col("f1"), col("u1")),
      (2L, "quality_top20", col("n_in") - col("d1"), col("d2"), col("f2"),
        col("u2")),
      (3L, "decontaminate", col("n_in") - col("d1") - col("d2"), col("d3"),
        col("f3"), col("u3")))
    a.select(explode(array(stages.map { case (i, nm, in, drop, flag, uniq) =>
        struct(lit(i).as("stage_idx"), lit(nm).as("stage"), in.as("n_in"),
          drop.as("n_dropped"), (in - drop).as("n_out"),
          flag.as("n_flagged"), uniq.as("n_unique"))
      }: _*)).as("s"))
      .select(col("s.stage_idx"), col("s.stage"), col("s.n_in"),
        col("s.n_dropped"), col("s.n_out"), col("s.n_flagged"),
        col("s.n_unique"))
      .orderBy("stage_idx")
  }

  val q172Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang, text,
       |         CAST(('0x' || substr(md5(text), 1, 8))::BIGINT AS BIGINT) % 100
       |           AS bucket,
       |         regexp_split_to_array(trim(text), ' +') AS toks
       |  FROM documents),
       |dup AS (
       |  SELECT doc_id,
       |         doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS dup
       |  FROM d),
       |q AS (
       |  SELECT doc_id, lang,
       |         0.4 * (CAST(len(list_filter(toks, t -> ${TextAnalysis.stopPredSql}))
       |                  AS DOUBLE) / len(toks))
       |         + 0.3 * (1.0 - CAST(length(text) -
       |             length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
       |             / length(text))
       |         + 0.3 * LEAST(1.0, CAST(len(toks) AS DOUBLE) / 100.0) AS quality
       |  FROM d),
       |lowq AS (
       |  SELECT doc_id,
       |         ROW_NUMBER() OVER (PARTITION BY lang
       |                            ORDER BY quality DESC, doc_id)
       |           > (COUNT(*) OVER (PARTITION BY lang) + 4) // 5 AS lowq
       |  FROM q),
       |g AS (
       |  SELECT doc_id, bucket,
       |         unnest(list_distinct(CASE WHEN len(toks) >= $DeconN
       |           THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
       |                 for i in range(1, len(toks) - ${DeconN - 2})]
       |           ELSE [] END)) AS gram
       |  FROM d),
       |contam AS (
       |  SELECT DISTINCT tr.doc_id
       |  FROM (SELECT doc_id, gram FROM g WHERE bucket < 90) tr
       |  JOIN (SELECT DISTINCT gram FROM g WHERE bucket >= 95) te
       |    USING (gram)),
       |flags AS (
       |  SELECT dup.dup, lowq.lowq, (c.doc_id IS NOT NULL) AS contam
       |  FROM d JOIN dup USING (doc_id) JOIN lowq USING (doc_id)
       |  LEFT JOIN contam c ON d.doc_id = c.doc_id
       |  WHERE d.bucket < 90),
       |a AS (
       |  SELECT COUNT(*) AS n_in,
       |         CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS d1,
       |         CAST(SUM(CASE WHEN NOT dup AND lowq THEN 1 ELSE 0 END)
       |           AS BIGINT) AS d2,
       |         CAST(SUM(CASE WHEN NOT dup AND NOT lowq AND contam
       |           THEN 1 ELSE 0 END) AS BIGINT) AS d3,
       |         CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS f1,
       |         CAST(SUM(CASE WHEN lowq THEN 1 ELSE 0 END) AS BIGINT) AS f2,
       |         CAST(SUM(CASE WHEN contam THEN 1 ELSE 0 END) AS BIGINT) AS f3,
       |         CAST(SUM(CASE WHEN dup AND NOT lowq AND NOT contam
       |           THEN 1 ELSE 0 END) AS BIGINT) AS u1,
       |         CAST(SUM(CASE WHEN lowq AND NOT dup AND NOT contam
       |           THEN 1 ELSE 0 END) AS BIGINT) AS u2,
       |         CAST(SUM(CASE WHEN contam AND NOT dup AND NOT lowq
       |           THEN 1 ELSE 0 END) AS BIGINT) AS u3
       |  FROM flags)
       |SELECT 1 AS stage_idx, 'exact_dup' AS stage, n_in, d1 AS n_dropped,
       |       n_in - d1 AS n_out, f1 AS n_flagged, u1 AS n_unique FROM a
       |UNION ALL
       |SELECT 2, 'quality_top20', n_in - d1, d2, n_in - d1 - d2, f2, u2 FROM a
       |UNION ALL
       |SELECT 3, 'decontaminate', n_in - d1 - d2, d3, n_in - d1 - d2 - d3,
       |       f3, u3 FROM a
       |ORDER BY stage_idx""".stripMargin

  // ---------------------------------------------------------------------
  // q190 — contamination SPAN forensics: where exactly does benchmark
  // text sit inside a training document? q41 answers the BINARY
  // question (drop/keep) from distinct shared 4-grams; this keeps every
  // matched window's POSITION and merges coverage-overlapping windows
  // (gap <= DeconN tokens) into maximal spans per (train doc, test
  // doc) — the evidence a contamination review actually reads (and the
  // input to span-level scrubbing, where only the quoted run is cut
  // instead of the whole document).
  //
  // Shape: the positional gram explode is the same scan as q41's (no
  // distinct — positions matter); the join stays keyed on the 16-byte
  // gram hash; the run-merge is a lag + running-flag-sum window
  // PARTITIONED by (doc, test_doc) — partitions are document-sized,
  // never corpus-sized. All outputs are exact integers.
  // ---------------------------------------------------------------------
  def q190ContamSpans(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), splitBucket, toks.as("toks"))
    val posGrams = d
      .filter(size(col("toks")) >= DeconN)
      .select(col("doc_id"), col("bucket"), posexplode(expr(
        s"""transform(sequence(0, size(toks) - $DeconN),
           |  i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2], ' ', toks[i+3]))"""
          .stripMargin)))
      .select(col("doc_id"), col("bucket"), col("pos"),
        md5(col("col")).as("gh"))
    val train = posGrams.filter(col("bucket") < 90)
      .select(col("doc_id"), col("pos"), col("gh"))
    val test = posGrams.filter(col("bucket") >= 95)
      .select(col("doc_id").as("test_doc"), col("gh")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), col("test_doc")).orderBy(col("pos"))
    train.join(test, "gh")
      .select(col("doc_id"), col("test_doc"), col("pos")).distinct()
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) > DeconN, 1L)
          .otherwise(0L))
      .withColumn("run", sum(col("brk")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("test_doc"), col("run"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(DeconN - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("test_doc"), col("span_start"),
        col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_windows"))
      .orderBy("doc_id", "test_doc", "span_start")
  }

  val q190Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |         CAST(('0x' || substr(md5(text), 1, 8))::BIGINT AS BIGINT)
       |           % 100 AS bucket,
       |         regexp_split_to_array(trim(text), ' +') AS toks
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, bucket, (u).p AS pos, md5((u).g) AS gh FROM (
       |    SELECT doc_id, bucket,
       |           unnest([{'p': i - 1,
       |                    'g': toks[i] || ' ' || toks[i+1] || ' ' ||
       |                         toks[i+2] || ' ' || toks[i+3]}
       |                   for i in range(1, len(toks) - ${DeconN - 2})]) AS u
       |    FROM d WHERE len(toks) >= $DeconN)),
       |tr AS (SELECT doc_id, pos, gh FROM g WHERE bucket < 90),
       |te AS (SELECT DISTINCT doc_id AS test_doc, gh FROM g
       |       WHERE bucket >= 95),
       |m AS (
       |  SELECT DISTINCT tr.doc_id, te.test_doc, tr.pos
       |  FROM tr JOIN te USING (gh)),
       |flagged AS (
       |  SELECT doc_id, test_doc, pos,
       |         CASE WHEN pos - lag(pos) OVER
       |               (PARTITION BY doc_id, test_doc ORDER BY pos)
       |               > $DeconN THEN 1 ELSE 0 END AS brk
       |  FROM m),
       |runs AS (
       |  SELECT doc_id, test_doc, pos,
       |         SUM(brk) OVER (PARTITION BY doc_id, test_doc ORDER BY pos
       |                        ROWS BETWEEN UNBOUNDED PRECEDING
       |                        AND CURRENT ROW) AS run
       |  FROM flagged)
       |SELECT doc_id, test_doc,
       |       CAST(MIN(pos) AS BIGINT) AS span_start,
       |       CAST(MAX(pos) + ${DeconN - 1} AS BIGINT) AS span_end,
       |       CAST(MAX(pos) + ${DeconN - 1} - MIN(pos) + 1 AS BIGINT)
       |         AS span_tokens,
       |       COUNT(*) AS n_windows
       |FROM runs
       |GROUP BY doc_id, test_doc, run
       |ORDER BY doc_id, test_doc, span_start""".stripMargin

  // ---------------------------------------------------------------------
  // q187 — token-budget waterfilling allocator: split a training-token
  // budget B across sources so no source exceeds its available cap and
  // the unsaturated sources share EQUALLY — the max-min fair allocation
  // (the waterfilling solution: alloc_s = min(cap_s, λ) with the water
  // line λ chosen so Σ alloc = B). The budget-constrained complement of
  // q99's temperature mixture (which reweights by size, unconstrained)
  // and q67's fixed upsampling: this is what a data planner runs when
  // the budget is smaller than the corpus and no source may repeat.
  //
  // Exact closed form, no iteration: sort sources by cap ascending;
  // with exclusive prefix mass m_k and r_k sources remaining, the water
  // line is λ = (B − m_{k*-1}) / r_{k*} at the FIRST k where that
  // candidate fits under cap_k (such a k always exists: k = K works
  // whenever B <= T, and B > T saturates everyone). All inputs to λ are
  // exact integers; λ and each allocation are single/fixed IEEE ops.
  //
  // Shape: one |sources|-group aggregate; the prefix window runs over
  // |sources| rows (bounded); the λ pick is a bounded top-1.
  // ---------------------------------------------------------------------
  private[graft] val WaterBudgetDiv = 2L // budget = total tokens DIV 2

  def q187TokenWaterfill(spark: SparkSession, sfDir: String): DataFrame = {
    val caps = Tables.documents(spark, sfDir)
      .select(col("source"),
        size(split(trim(col("text")), " +")).cast("long").as("t"))
      .groupBy(col("source")).agg(sum(col("t")).as("cap"))
    val W = org.apache.spark.sql.expressions.Window
    val byCap = W.orderBy(col("cap"), col("source"))
    val ranked = caps
      .select(col("source"), col("cap"),
        row_number().over(byCap).as("k"),
        coalesce(sum(col("cap")).over(
          byCap.rowsBetween(W.unboundedPreceding, -1)), lit(0L)).as("m"))
      .crossJoin(broadcast(caps.agg(sum(col("cap")).as("total"))))
      .select(col("source"), col("cap"), col("k"), col("m"), col("total"),
        expr(s"total DIV $WaterBudgetDiv").as("budget"))
      .cache() // feeds the λ pick and the allocation rollup
    val count1 = ranked.agg(count(lit(1)).as("nsrc"))
    val lam = ranked.crossJoin(broadcast(count1))
      .select(col("k"), col("cap"),
        ((col("budget") - col("m")).cast("double")
          / (col("nsrc") - col("k") + 1)).as("lam"))
      .filter(col("lam") <= col("cap").cast("double"))
      .orderBy(col("k")).limit(1)
      .select(col("lam"))
    val out = ranked.crossJoin(broadcast(lam))
      .select(col("source"), col("cap"), col("total"), col("budget"),
        least(col("cap").cast("double"), col("lam")).as("allocation"),
        (col("cap").cast("double") <= col("lam")).as("saturated"))
      .orderBy("source")
      .localCheckpoint(true)
    ranked.unpersist()
    out
  }

  val q187Sql: String =
    s"""WITH caps AS (
       |  SELECT source,
       |         CAST(SUM(len(regexp_split_to_array(trim(text), ' +')))
       |              AS BIGINT) AS cap
       |  FROM documents GROUP BY source),
       |tot AS (SELECT CAST(SUM(cap) AS BIGINT) AS total,
       |               CAST(SUM(cap) AS BIGINT) // $WaterBudgetDiv AS budget
       |        FROM caps),
       |n AS (SELECT count(*) AS nsrc FROM caps),
       |ranked AS (
       |  SELECT source, cap,
       |         row_number() OVER (ORDER BY cap, source) AS k,
       |         CAST(COALESCE(SUM(cap) OVER (ORDER BY cap, source
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           AS BIGINT) AS m
       |  FROM caps),
       |lam AS (
       |  SELECT lam FROM (
       |    SELECT k, CAST(budget - m AS DOUBLE) / (nsrc - k + 1) AS lam,
       |           cap
       |    FROM ranked, tot, n)
       |  WHERE lam <= CAST(cap AS DOUBLE)
       |  ORDER BY k LIMIT 1)
       |SELECT source, cap, total, budget,
       |       LEAST(CAST(cap AS DOUBLE), lam) AS allocation,
       |       CAST(cap AS DOUBLE) <= lam AS saturated
       |FROM ranked, tot, lam
       |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // q183 — epoch-shuffle quality audit: how well does the deterministic
  // hash order (the q36/q135 seed-stable shuffle every dataloader here
  // derives) actually MIX sources? A poorly shuffled corpus feeds a
  // trainer long same-source runs — the loss-spike / curriculum-bias
  // failure mode — so the audit counts SAME-SOURCE ADJACENCIES in hash
  // order against the exact random-permutation expectation
  // E[same] = Σ_s n_s(n_s−1)/n, reporting observed/expected (≈1 means
  // the hash order mixes like a uniform shuffle).
  //
  // Scale shape: hash rank is the q95 frozen-layout two-pass prefix sum
  // (range-partition by (h, doc_id), per-partition counts to the
  // driver, local index + broadcast offset — never a single-task global
  // window); adjacency is ONE equi-join on consecutive seq ids; the
  // expectation is a per-source count aggregate. The ratio is two
  // pinned divisions over exact integers.
  // ---------------------------------------------------------------------
  def q183ShuffleQuality(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (docs, offsets, _) = TwoPass.frozenPrefix(
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"),
          md5(col("doc_id").cast("string")).as("h")),
      IdParts, Seq(col("h"), col("doc_id")), Seq(count(lit(1))))
    val bc = spark.sparkContext.broadcast(offsets)

    val seqd = docs.select(col("source")).as[String].mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val off = bc.value.get(pid).map(_(0)).getOrElse(0L)
      var i = 0L
      it.map { s => val r = (off + i, s); i += 1; r }
    }.toDF("seq", "source")

    val a = seqd.select(col("seq"), col("source").as("sa"))
    val b = seqd.select((col("seq") - 1).as("seq"), col("source").as("sb"))
    val obs = a.join(b, "seq")
      .agg(sum(when(col("sa") === col("sb"), 1L).otherwise(0L))
        .as("same_adj"))
    // factor-cast: c·(c−1) overflows int64 past ~3e9 docs per source
    val exp = docs.groupBy(col("source")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c").cast("decimal(38,0)") * (col("c") - 1)).as("s"),
        sum(col("c")).as("n"))
    val out = obs.crossJoin(broadcast(exp))
      .select(col("n"), col("same_adj"),
        (col("s").cast("double") / col("n")).as("expected_same"),
        (col("same_adj").cast("double")
          / (col("s").cast("double") / col("n"))).as("obs_over_exp"))
      .localCheckpoint(true) // materialize before releasing the layout
    docs.unpersist()
    out
  }

  val q183Sql: String =
    """WITH h AS (
      |  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents),
      |r AS (
      |  SELECT source, row_number() OVER (ORDER BY h, doc_id) AS seq
      |  FROM h),
      |o AS (
      |  SELECT CAST(SUM(CASE WHEN a.source = b.source THEN 1 ELSE 0 END)
      |              AS BIGINT) AS same_adj
      |  FROM r a JOIN r b ON b.seq = a.seq + 1),
      |e AS (
      |  SELECT SUM(CAST(c AS DECIMAL(38,0)) * (c - 1)) AS s,
      |         CAST(SUM(c) AS BIGINT) AS n
      |  FROM (SELECT count(*) AS c FROM h GROUP BY source))
      |SELECT n, same_adj,
      |       CAST(s AS DOUBLE) / n AS expected_same,
      |       CAST(same_adj AS DOUBLE) / (CAST(s AS DOUBLE) / n)
      |         AS obs_over_exp
      |FROM o, e""".stripMargin

  // ---------------------------------------------------------------------
  // q191 — DSIR data selection (Xie et al. 2023, "Data Selection for
  // Language Models via Importance Resampling"): score every document
  // in the raw pool by its importance weight under hashed n-gram
  // features — sum over the doc's tokens of
  // ln p_target(bucket) − ln p_raw(bucket) — where both distributions
  // are add-one-smoothed histograms over B hash buckets, the target
  // being the domain sample the pipeline wants more of (here the 'en'
  // slice stands in for the high-quality target corpus). The top-K by
  // LENGTH-NORMALIZED weight (mean per-token log-ratio — without the
  // normalization the raw sum just measures length) is the selected
  // training subset. Deterministic top-K by (score, doc_id) replaces
  // the paper's Gumbel resampling — same scoring model, reproducible
  // selection.
  //
  // Scale shape: ONE corpus token scan feeds both histograms (the
  // target count is a conditional sum inside the same B-group
  // aggregate — no second scan, no join); the per-bucket weight table
  // is B rows, broadcast back onto the token stream; the per-doc score
  // is a partial-aggregable decimal sum; selection is a distributed
  // top-K (TakeOrderedAndProject), never a global sort. Each ln term
  // is 6-dp-rounded to DECIMAL(18,6) before the order-insensitive sum
  // (q167's libm discipline); the final mean is one IEEE division of
  // the decimal-exact sum by an int64 — bit-identical cross-engine.
  // ---------------------------------------------------------------------
  private[graft] val DsirBuckets = 256
  private[graft] val DsirTargetLang = "en"
  private[graft] val DsirSelectK = 100

  def q191DsirSelect(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val tok = docs
      .select(col("doc_id"), col("lang"),
        explode(split(trim(col("text")), " +")).as("token"))
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long")
          % DsirBuckets).as("b"))
    val hist = tok.groupBy(col("b"))
      .agg(count(lit(1)).as("rc"),
        sum(when(col("lang") === DsirTargetLang, 1L).otherwise(0L)).as("tc"))
    val tots = hist.agg(sum(col("rc")).as("r_tot"), sum(col("tc")).as("t_tot"))
    val w = hist.crossJoin(broadcast(tots))
      .select(col("b"),
        (expr(s"""CAST(round(ln(CAST(tc + 1 AS DOUBLE)
                  |  / (t_tot + $DsirBuckets)), 6) AS DECIMAL(18,6))"""
           .stripMargin)
         - expr(s"""CAST(round(ln(CAST(rc + 1 AS DOUBLE)
                    |  / (r_tot + $DsirBuckets)), 6) AS DECIMAL(18,6))"""
           .stripMargin)).as("wt"))
    val score = tok.join(broadcast(w), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"), sum(col("wt")).as("s"))
      .select(col("doc_id"), col("n_toks"),
        (col("s").cast("double") / col("n_toks")).as("score"))
    score.join(docs.select(col("doc_id"), col("lang"), col("source")),
        Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_toks"),
        col("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(DsirSelectK)
  }

  val q191Sql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, lang,
       |         ('0x' || substr(md5(token), 1, 8))::BIGINT % $DsirBuckets AS b
       |  FROM (SELECT doc_id, lang,
       |               unnest(regexp_split_to_array(trim(text), ' +')) AS token
       |        FROM documents)),
       |hist AS (
       |  SELECT b, COUNT(*) AS rc,
       |         CAST(SUM(CASE WHEN lang = '$DsirTargetLang' THEN 1 ELSE 0 END)
       |           AS BIGINT) AS tc
       |  FROM tok GROUP BY 1),
       |tots AS (
       |  SELECT CAST(SUM(rc) AS BIGINT) AS r_tot,
       |         CAST(SUM(tc) AS BIGINT) AS t_tot
       |  FROM hist),
       |w AS (
       |  SELECT b,
       |         CAST(round(ln(CAST(tc + 1 AS DOUBLE)
       |           / (t_tot + $DsirBuckets)), 6) AS DECIMAL(18,6))
       |       - CAST(round(ln(CAST(rc + 1 AS DOUBLE)
       |           / (r_tot + $DsirBuckets)), 6) AS DECIMAL(18,6)) AS wt
       |  FROM hist, tots),
       |score AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
       |         CAST(SUM(wt) AS DOUBLE) / COUNT(*) AS score
       |  FROM tok JOIN w USING (b) GROUP BY 1)
       |SELECT s.doc_id, d.lang, d.source, s.n_toks, s.score
       |FROM score s JOIN documents d USING (doc_id)
       |ORDER BY s.score DESC, s.doc_id LIMIT $DsirSelectK""".stripMargin

  // ---------------------------------------------------------------------
  // q200 — one-pass weighted sampling WITHOUT replacement (Efraimidis–
  // Spirakis 2006, algorithm A-ES): each row gets key ln(u)/w for a
  // per-row uniform u and weight w; the K rows with the largest keys
  // are a weighted sample without replacement. THE distributed weighted
  // sampler: unlike q113's systematic sampler (two passes for the
  // prefix offsets), A-ES needs ZERO coordination — every partition
  // keeps its local top-K and the merge is a top-K of tops, which is
  // exactly Spark's TakeOrderedAndProject (plan-gated). Weight here is
  // n_chars: sample docs proportional to length, the token-budget-fair
  // doc sample.
  //
  // DETERMINISTIC parity: u is md5-derived (first 12 hex chars of
  // md5(doc_id) -> v, u = (v+1)/(2^48+1) in (0,1), exact in double),
  // the key is rounded to 9 dp BEFORE ordering so a last-ulp ln
  // divergence cannot flip the order, and ties break on doc_id.
  // ---------------------------------------------------------------------
  private[graft] val AesSampleK = 100

  def q200WeightedSample(spark: SparkSession, sfDir: String): DataFrame =
    aesSample(aesKeys(Tables.documents(spark, sfDir)))

  /** The A-ES keyed rows (doc_id, w, es_key) of the documents `docs`. */
  private[graft] def aesKeys(docs: DataFrame): DataFrame =
    docs.where("n_chars > 0") // guard BEFORE the projection: ANSI double
      .selectExpr(            // division by zero throws, never returns inf
        "doc_id",
        "n_chars AS w",
        "ROUND(ln((CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 12), 16, 10) AS DOUBLE) + 1.0D)" +
          " / 281474976710657.0D) / n_chars, 9) AS es_key")

  /** The sample: the K largest keys of `keyed`, ties by doc_id. */
  private[graft] def aesSample(keyed: DataFrame): DataFrame =
    keyed.orderBy(col("es_key").desc, col("doc_id")).limit(AesSampleK)

  val q200Sql: String =
    s"""SELECT doc_id, n_chars AS w,
       |       ROUND(ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS DOUBLE) + 1.0)
       |             / 281474976710657.0) / n_chars, 9) AS es_key
       |FROM documents
       |WHERE n_chars > 0
       |ORDER BY es_key DESC, doc_id
       |LIMIT $AesSampleK""".stripMargin

  // ---------------------------------------------------------------------
  // q205 — iterative mixture-weight rebalancing via multiplicative
  // weights (the DoReMi family, Xie et al. 2023, inverted to CURATE:
  // downweight sources whose quality deficit exceeds the current
  // mixture's weighted mean). Unlike q99's one-shot temperature mixture
  // and q42's fixed quotas, the rounds genuinely interact: each round's
  // reference point is the WEIGHTED mean deficit under the current
  // weights, so as bad sources shrink the bar tightens on the rest.
  //
  // Exact-integer arithmetic throughout (the q193/q198 technique):
  // deficits, weights, and means live in ppm-scaled BIGINTs, every
  // division is integer division, and each round renormalizes weights
  // back to ppm so three rounds of products stay far inside int64
  // (max intermediate: raw*1e6 <= 1e18 < 2^63). Both engines therefore
  // produce bit-identical trajectories — no float anywhere.
  //
  // 100 TB: the corpus-sized pass is the ONE per-source aggregate; the
  // MW rounds run on an |sources|-row frame, so the unpartitioned
  // windows below are bounded by the source catalog, not the data.
  // ---------------------------------------------------------------------
  private val MwEtaDiv = 2L // eta = 1/2: excess halves into the multiplier

  def q205MixtureRebalance(spark: SparkSession, sfDir: String): DataFrame = {
    // per-doc quality deficit in ppm: 1 - type/token ratio (repetitive
    // docs score high), exact integers only
    val perSrc = Tables.documents(spark, sfDir)
      .selectExpr("source",
        "size(array_distinct(split(trim(text), ' +'))) AS d",
        "size(split(trim(text), ' +')) AS n")
      .selectExpr("source", "1000000L - (1000000L * d) div n AS d_ppm")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("d_ppm")).as("sd"))
      .selectExpr("source", "n_docs", "sd div n_docs AS loss_ppm")

    def mwRound(df: org.apache.spark.sql.DataFrame, wIn: String,
        wOut: String): org.apache.spark.sql.DataFrame =
      df.withColumn("mean_ppm",
          expr(s"sum($wIn * loss_ppm) over () div (sum($wIn) over ())"))
        .withColumn("raw", expr(
          s"$wIn * (1000000L - greatest(0L, loss_ppm - mean_ppm) div $MwEtaDiv)"))
        .withColumn(wOut, expr("raw * 1000000L div (sum(raw) over ())"))
        .drop("mean_ppm", "raw")

    val r0 = perSrc.withColumn("w0", expr("1000000L div count(1) over ()"))
    mwRound(mwRound(mwRound(r0, "w0", "w1"), "w1", "w2"), "w2", "w3")
      .orderBy("source")
  }

  val q205Sql: String =
    s"""WITH per_doc AS (
       |  SELECT source,
       |         1000000 - (1000000 * len(list_distinct(regexp_split_to_array(trim(text), ' +'))))
       |           // len(regexp_split_to_array(trim(text), ' +')) AS d_ppm
       |  FROM documents),
       |src AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |         CAST(SUM(d_ppm) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS loss_ppm
       |  FROM per_doc GROUP BY source),
       |r0 AS (
       |  SELECT source, n_docs, loss_ppm,
       |         1000000 // (COUNT(*) OVER ()) AS w0
       |  FROM src),
       |r1a AS (
       |  SELECT *, w0 * (1000000 - GREATEST(0,
       |           loss_ppm - CAST(SUM(w0 * loss_ppm) OVER () AS BIGINT)
       |             // CAST(SUM(w0) OVER () AS BIGINT)) // $MwEtaDiv) AS raw
       |  FROM r0),
       |r1 AS (
       |  SELECT source, n_docs, loss_ppm, w0,
       |         raw * 1000000 // CAST(SUM(raw) OVER () AS BIGINT) AS w1
       |  FROM r1a),
       |r2a AS (
       |  SELECT *, w1 * (1000000 - GREATEST(0,
       |           loss_ppm - CAST(SUM(w1 * loss_ppm) OVER () AS BIGINT)
       |             // CAST(SUM(w1) OVER () AS BIGINT)) // $MwEtaDiv) AS raw
       |  FROM r1),
       |r2 AS (
       |  SELECT source, n_docs, loss_ppm, w0, w1,
       |         raw * 1000000 // CAST(SUM(raw) OVER () AS BIGINT) AS w2
       |  FROM r2a),
       |r3a AS (
       |  SELECT *, w2 * (1000000 - GREATEST(0,
       |           loss_ppm - CAST(SUM(w2 * loss_ppm) OVER () AS BIGINT)
       |             // CAST(SUM(w2) OVER () AS BIGINT)) // $MwEtaDiv) AS raw
       |  FROM r2)
       |SELECT source, n_docs, loss_ppm, w0, w1, w2,
       |       raw * 1000000 // CAST(SUM(raw) OVER () AS BIGINT) AS w3
       |FROM r3a
       |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // q206 — pairwise source-overlap ESTIMATION from KMV sketches (Beyer
  // et al. SIGMOD'07 §4: the k-th-order-statistic sketch supports set
  // operations): per source keep the K smallest md5-derived hashes of
  // its word-3-gram shingles; for a pair, the bottom-k' of the merged
  // sketch is a uniform sample of the UNION, so the fraction of those
  // elements present in BOTH sketches estimates Jaccard. This is the
  // sketch form of q64's exact contamination matrix — the 100 TB shape:
  // the corpus-sized work is ONE bottom-K per source (|S|·K rows total,
  // merged map-side), after which all |S|² pair estimates are
  // catalog-sized, where the exact matrix pays a full gram-level
  // self-join that grows with the corpus. The exact Jaccard is computed
  // alongside (q64's join shape) so the estimate's error is pinned
  // in-query, q203's pattern — at production scale you would publish
  // the estimate column alone.
  //
  // Hashes are md5-derived (q203's technique) and every output is an
  // exact ppm-scaled integer, so both engines compute identical
  // sketches, identical estimates, and identical errors.
  // ---------------------------------------------------------------------
  private val KmvPairK = 128

  def q206SourceOverlapSketch(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // distinct (source, 3-gram) — shared by the sketch AND the exact side
    val grams = Tables.documents(spark, sfDir)
      .select(col("source"), split(trim(col("text")), " +").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("source"), explode(expr(
        """transform(sequence(0, size(toks) - 3),
          |  i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))""".stripMargin))
        .as("g"))
      .distinct()
      .cache()

    // per-source bottom-K of the 48-bit md5 order statistic
    val uh = grams.selectExpr("source",
        "CAST(conv(substring(md5(g), 1, 12), 16, 10) AS BIGINT) AS u")
      .distinct()
    val sk = uh.withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy("u")))
      .filter(col("rn") <= KmvPairK)
      .select(col("source"), col("u"))
      .cache()
    val nsk = sk.groupBy(col("source")).agg(count(lit(1)).as("nsk"))

    // catalog-sized pair grid (|S|^2 rows)
    val srcs = grams.select(col("source")).distinct()
    val pairs = srcs.toDF("src_a")
      .crossJoin(srcs.toDF("src_b")).filter(col("src_a") < col("src_b"))

    // merged-sketch membership per (pair, u), ranked by u
    val mem = pairs.join(sk.toDF("src_a", "u"), Seq("src_a"))
        .select(col("src_a"), col("src_b"), col("u"),
          lit(1).as("fa"), lit(0).as("fb"))
      .unionByName(pairs.join(sk.toDF("src_b", "u"), Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("u"),
          lit(0).as("fa"), lit(1).as("fb")))
      .groupBy(col("src_a"), col("src_b"), col("u"))
      .agg(max(col("fa")).as("in_a"), max(col("fb")).as("in_b"))
    val ranked = mem.withColumn("rn", row_number().over(
      Window.partitionBy("src_a", "src_b").orderBy("u")))
    val est = ranked
      .join(nsk.toDF("src_a", "nsk_a"), Seq("src_a"))
      .join(nsk.toDF("src_b", "nsk_b"), Seq("src_b"))
      .withColumn("k_ab", least(lit(KmvPairK.toLong), col("nsk_a"), col("nsk_b")))
      .filter(col("rn") <= col("k_ab"))
      .groupBy(col("src_a"), col("src_b"), col("k_ab"))
      .agg(sum((col("in_a") * col("in_b")).cast("long")).as("matches"))

    // exact side (q64's join shape) pins the estimate's error in-query
    val ng = grams.groupBy(col("source")).agg(count(lit(1)).as("n_g"))
    val gh = grams.select(col("source"), unhex(md5(col("g"))).as("gh"))
    val inter = gh.toDF("src_a", "gh")
      .join(gh.toDF("src_b", "gh"), Seq("gh"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("inter"))

    est
      .join(inter, Seq("src_a", "src_b"), "left")
      .join(ng.toDF("src_a", "ng_a"), Seq("src_a"))
      .join(ng.toDF("src_b", "ng_b"), Seq("src_b"))
      .selectExpr("src_a", "src_b", "k_ab", "matches",
        "1000000L * matches div k_ab AS est_j_ppm",
        "1000000L * coalesce(inter, 0L)" +
          " div (ng_a + ng_b - coalesce(inter, 0L)) AS exact_j_ppm")
      .selectExpr("src_a", "src_b", "k_ab", "matches", "est_j_ppm",
        "exact_j_ppm", "abs(est_j_ppm - exact_j_ppm) AS err_ppm")
      .orderBy("src_a", "src_b")
  }

  val q206Sql: String =
    s"""WITH toksrc AS (
       |  SELECT source, regexp_split_to_array(trim(text), ' +') AS toks
       |  FROM documents),
       |grams AS (
       |  SELECT DISTINCT source,
       |         unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
       |                 for i in range(1, len(toks) - 1)]) AS g
       |  FROM toksrc WHERE len(toks) >= 3),
       |uh AS (
       |  SELECT DISTINCT source,
       |         ('0x' || substr(md5(g), 1, 12))::BIGINT AS u
       |  FROM grams),
       |sk AS (
       |  SELECT source, u FROM (
       |    SELECT source, u,
       |           row_number() OVER (PARTITION BY source ORDER BY u) AS rn
       |    FROM uh) WHERE rn <= $KmvPairK),
       |nsk AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nsk
       |        FROM sk GROUP BY source),
       |srcs AS (SELECT DISTINCT source FROM grams),
       |pairs AS (SELECT a.source AS src_a, b.source AS src_b
       |          FROM srcs a, srcs b WHERE a.source < b.source),
       |mem AS (
       |  SELECT p.src_a, p.src_b, s.u, 1 AS fa, 0 AS fb
       |  FROM pairs p JOIN sk s ON s.source = p.src_a
       |  UNION ALL
       |  SELECT p.src_a, p.src_b, s.u, 0 AS fa, 1 AS fb
       |  FROM pairs p JOIN sk s ON s.source = p.src_b),
       |per AS (
       |  SELECT src_a, src_b, u, MAX(fa) AS in_a, MAX(fb) AS in_b
       |  FROM mem GROUP BY 1, 2, 3),
       |rk AS (
       |  SELECT *, row_number() OVER (PARTITION BY src_a, src_b ORDER BY u) AS rn
       |  FROM per),
       |est AS (
       |  SELECT r.src_a, r.src_b,
       |         LEAST($KmvPairK, na.nsk, nb.nsk) AS k_ab,
       |         CAST(SUM(r.in_a * r.in_b) AS BIGINT) AS matches
       |  FROM rk r
       |  JOIN nsk na ON na.source = r.src_a
       |  JOIN nsk nb ON nb.source = r.src_b
       |  WHERE r.rn <= LEAST($KmvPairK, na.nsk, nb.nsk)
       |  GROUP BY 1, 2, 3),
       |ng AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_g
       |       FROM grams GROUP BY source),
       |ex AS (
       |  SELECT ga.source AS src_a, gb.source AS src_b,
       |         CAST(COUNT(*) AS BIGINT) AS inter
       |  FROM grams ga JOIN grams gb
       |    ON ga.g = gb.g AND ga.source < gb.source
       |  GROUP BY 1, 2),
       |fin AS (
       |  SELECT e.src_a, e.src_b, e.k_ab, e.matches,
       |         1000000 * e.matches // e.k_ab AS est_j_ppm,
       |         1000000 * COALESCE(x.inter, 0)
       |           // (na.n_g + nb.n_g - COALESCE(x.inter, 0)) AS exact_j_ppm
       |  FROM est e
       |  LEFT JOIN ex x ON x.src_a = e.src_a AND x.src_b = e.src_b
       |  JOIN ng na ON na.source = e.src_a
       |  JOIN ng nb ON nb.source = e.src_b)
       |SELECT src_a, src_b, k_ab, matches, est_j_ppm, exact_j_ppm,
       |       ABS(est_j_ppm - exact_j_ppm) AS err_ppm
       |FROM fin
       |ORDER BY src_a, src_b""".stripMargin

  // ---------------------------------------------------------------------
  // q207 — Neyman-optimal eval-budget allocation (Neyman 1934: for a
  // fixed sample budget B, the stratified allocation minimizing the
  // estimator variance is n_h ∝ N_h·σ_h) across sources, with the
  // naive proportional allocation alongside — the audit that decides
  // how many eval docs each source deserves: high-variance sources earn
  // MORE than their headcount share, uniform ones less. Complements
  // q77 (proportional stratified sample) and q187 (budget waterfill).
  //
  // Determinism: the per-source moment sums are exact BIGINTs, and
  // N_h·σ_h collapses to sqrt(N_h·Σx² − Σx·Σx) — sqrt is a correctly-
  // rounded IEEE op, so both engines produce the BIT-IDENTICAL double,
  // which is 6-dp-rounded into DECIMAL so the budget-share denominator
  // sums exactly and order-insensitively (the q191/q196 pattern). One
  // corpus scan, catalog-sized frame after; map-side-combinable sums.
  // ---------------------------------------------------------------------
  private val NeymanBudget = 10000L

  def q207NeymanAlloc(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sx"),
        sum(col("n_chars") * col("n_chars")).as("sxx"))
      .selectExpr("source", "n_docs",
        // N_h*sigma_h = sqrt(N*Sxx - Sx^2); exact integer argument
        "CAST(ROUND(sqrt(CAST(n_docs * sxx - sx * sx AS DOUBLE)), 6)" +
          " AS DECIMAL(24,6)) AS a6",
        "ROUND(sqrt(CAST(n_docs * sxx - sx * sx AS DOUBLE))" +
          " / CAST(n_docs AS DOUBLE), 6) AS sd_chars")
      .selectExpr("source", "n_docs", "sd_chars",
        s"CAST(FLOOR($NeymanBudget * CAST(a6 AS DOUBLE)" +
          " / CAST(SUM(a6) OVER () AS DOUBLE)) AS BIGINT) AS alloc_neyman",
        s"($NeymanBudget * n_docs) div (SUM(n_docs) OVER ()) AS alloc_prop")
      .selectExpr("source", "n_docs", "sd_chars", "alloc_neyman",
        "alloc_prop", "alloc_neyman - alloc_prop AS delta")
      .orderBy("source")

  val q207Sql: String =
    s"""WITH m AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |         CAST(SUM(n_chars) AS BIGINT) AS sx,
       |         CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
       |  FROM documents GROUP BY source),
       |a AS (
       |  SELECT source, n_docs,
       |         CAST(ROUND(sqrt(CAST(n_docs * sxx - sx * sx AS DOUBLE)), 6)
       |           AS DECIMAL(24,6)) AS a6,
       |         ROUND(sqrt(CAST(n_docs * sxx - sx * sx AS DOUBLE))
       |           / CAST(n_docs AS DOUBLE), 6) AS sd_chars
       |  FROM m),
       |al AS (
       |  SELECT source, n_docs, sd_chars,
       |         CAST(FLOOR($NeymanBudget * CAST(a6 AS DOUBLE)
       |           / CAST(SUM(a6) OVER () AS DOUBLE)) AS BIGINT) AS alloc_neyman,
       |         ($NeymanBudget * n_docs)
       |           // CAST(SUM(n_docs) OVER () AS BIGINT) AS alloc_prop
       |  FROM a)
       |SELECT source, n_docs, sd_chars, alloc_neyman, alloc_prop,
       |       alloc_neyman - alloc_prop AS delta
       |FROM al
       |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // q208 — greedy max-coverage coreset selection (facility location:
  // Nemhauser–Wolsey–Fisher 1978 gives the greedy a (1−1/e) guarantee
  // for monotone submodular objectives): pick K docs that together
  // cover the most distinct 3-gram shingles — the classic coreset /
  // prototype-selection objective for choosing a small, maximally
  // representative eval or seed set. Each round scores every remaining
  // doc by its MARGINAL gain (shingles not yet covered), takes the
  // argmax (doc_id tie-break), and folds the winner's shingles into
  // the covered set.
  //
  // Distribution shape per round: the not-yet-covered (doc, shingle)
  // frame is the state, so gains are a map-side-combinable COUNT and
  // the winner a TakeOrdered(1) — the ONE driver-sized scalar per
  // round; the update anti-joins only the winner's broadcast-small
  // shingle set, shrinking the frame monotonically (never re-joining
  // the whole covered set). The frame is localCheckpoint'ed each round
  // (q199's lesson: the lazy chain would stack K plans); the oracle
  // MATERIALIZEs every CTE for the same reason. Gains are exact
  // integers, so both engines trace the identical greedy path.
  // ---------------------------------------------------------------------
  private val CoresetK = 10

  /** One greedy round over the REMAINING (not-yet-covered) shingle
    * frame: marginal gains are a plain count, argmax a TakeOrdered(1) —
    * the only driver-sized scalar per round. Exposed for the plan gate. */
  private[graft] def coresetRound(remaining: DataFrame): DataFrame =
    remaining.groupBy(col("doc_id")).agg(count(lit(1)).as("gain"))
      .orderBy(col("gain").desc, col("doc_id")).limit(1)

  def q208CoresetGreedy(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sh = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(trim(col("text")), " +").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(toks) - 3),
          |  i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))""".stripMargin))
        .as("g"))
      .select(col("doc_id"), unhex(md5(col("g"))).as("gh"))
      .distinct()
      .cache()

    // The covered set is K-docs-sized BY CONSTRUCTION (at most K·|doc
    // shingles| hashes, independent of corpus size), so it lives on the
    // driver as a local relation: every round is ONE broadcast anti-join
    // of the cached shingle frame against it + the gain count — constant
    // plan depth, no per-round materialization of a corpus-sized frame
    // (the shrinking-frame formulation localCheckpointed ~n rows per
    // round: 3.4 s; this shape: ~1 s warm at sf0.1).
    import spark.implicits._
    val covered = scala.collection.mutable.LinkedHashSet.empty[Seq[Byte]]
    var coveredN = 0L
    val picks = Seq.newBuilder[(Long, Long, Long, Long)]
    var r = 1
    var exhausted = false
    while (r <= CoresetK && !exhausted) {
      val coveredDf = covered.toSeq.map(_.toArray).toDF("gh")
      val remaining = sh.join(broadcast(coveredDf), Seq("gh"), "left_anti")
      // ONE job per round (was two): the TakeOrdered(1) winner broadcasts
      // back onto the remaining frame, so the collect carries the winner
      // row AND its uncovered shingle hashes together — bounded by one
      // doc's length, the per-round driver transfer. (Its already-covered
      // hashes are in `covered` by definition, so the union is identical
      // to the old full-shingle fetch.)
      val rows = remaining
        .join(broadcast(coresetRound(remaining)), "doc_id")
        .select(col("doc_id"), col("gain"), col("gh")).collect()
      if (rows.isEmpty) exhausted = true // whole universe covered
      else {
        val (docId, gain) = (rows(0).getLong(0), rows(0).getLong(1))
        coveredN += gain
        picks += ((r.toLong, docId, gain, coveredN))
        rows.foreach(row => covered += row.getAs[Array[Byte]](2).toSeq)
        r += 1
      }
    }
    picks.result()
      .toDF("round", "doc_id", "gain", "covered_total")
      .orderBy("round")
  }

  val q208Sql: String = {
    val head =
      """WITH sh AS MATERIALIZED (
        |  SELECT DISTINCT doc_id,
        |         unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                 for i in range(1, len(toks) - 1)]) AS g
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
        |        FROM documents)
        |  WHERE len(toks) >= 3),
        |w1 AS MATERIALIZED (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain
        |  FROM sh GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1),
        |c1 AS MATERIALIZED (
        |  SELECT DISTINCT g FROM sh WHERE doc_id = (SELECT doc_id FROM w1))""".stripMargin
    val rounds = (2 to CoresetK).map { i =>
      s"""w$i AS MATERIALIZED (
         |  SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS gain
         |  FROM sh s ANTI JOIN c${i - 1} c ON s.g = c.g
         |  GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1),
         |c$i AS MATERIALIZED (
         |  SELECT g FROM c${i - 1}
         |  UNION
         |  SELECT g FROM sh WHERE doc_id = (SELECT doc_id FROM w$i))""".stripMargin
    }.mkString(",\n", ",\n", "")
    val sel = (1 to CoresetK).map { i =>
      s"SELECT CAST($i AS BIGINT) AS round, doc_id, gain," +
        s" (SELECT CAST(COUNT(*) AS BIGINT) FROM c$i) AS covered_total FROM w$i"
    }.mkString("\nUNION ALL\n")
    s"$head$rounds\n$sel\nORDER BY round"
  }

  // ---------------------------------------------------------------------
  // q209 — UCB1 bandit source selection (Auer–Cesa-Bianchi–Fischer
  // 2002): treat each source as an arm whose pulls yield its next doc's
  // quality (type-token ratio, ppm); after one initialization pull per
  // arm, each round pulls argmax of mean + sqrt(2·ln t / n) — the
  // online data-selection loop that LEARNS which sources pay off,
  // closing the selection trilogy: q205 rebalances offline (MW), q208
  // picks a coverage coreset, q209 explores/exploits online.
  //
  // 100 TB: the corpus-sized work is ONE ranked projection (per-source
  // doc rank + integer quality), pruned to the ≤(R+1) pulls any arm can
  // receive — the bandit state is CATALOG-sized by construction, so the
  // simulation runs on the driver over |S|·(R+1) rows, exactly like the
  // oracle's unrolled CTE rounds.
  //
  // Determinism across engines: rewards/means come from exact integers;
  // sqrt is correctly rounded IEEE; and ln t — the one libm call, NOT
  // correctly rounded and allowed to differ between Java and C — is
  // pre-tabulated: the SAME Double literals (shortest-repr round-trip)
  // are used by the Scala simulation and embedded in the oracle SQL, so
  // every UCB score is bit-identical and the argmax path cannot fork.
  // ---------------------------------------------------------------------
  private val UcbRounds = 12
  private val UcbMaxT = 64 // lookup-table bound on S + R total pulls
  /** ln(1..UcbMaxT) as shortest-repr literals shared with the oracle. */
  private val UcbLnTable: IndexedSeq[Double] =
    (1 to UcbMaxT).map(t => math.log(t.toDouble))

  def q209UcbSelect(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // corpus-sized pass: per-source doc rank (pull order) + integer
    // quality, pruned to the pulls any arm can possibly receive
    val pq = Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"),
        expr("(1000000L * size(array_distinct(split(trim(text), ' +'))))" +
          " div size(split(trim(text), ' +'))").as("q_ppm"))
      .withColumn("k", row_number().over(
        Window.partitionBy("source").orderBy("doc_id")))
      .filter(col("k") <= UcbRounds + 1)
      .select(col("source"), col("k").cast("long").as("k"), col("q_ppm"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap

    val srcs = pq.keys.map(_._1).toSeq.distinct.sorted
    require(srcs.size + UcbRounds <= UcbMaxT,
      s"ln lookup table covers t <= $UcbMaxT")
    require(srcs.forall(s => pq.contains((s, (UcbRounds + 1).toLong))),
      "every source needs at least R+1 docs to keep pulls in range")
    // init: one pull per arm, in source order
    var n = srcs.map(_ -> 1L).toMap
    var sum = srcs.map(s => s -> pq((s, 1L))).toMap
    val log = Seq.newBuilder[(Long, String, Long, Long, Double)]
    for (i <- 1 to UcbRounds) {
      val t = srcs.size + i // this pull's index; bonus uses ln(t-1)
      val lnT = UcbLnTable(t - 2)
      // UCB1 on ppm-scaled rewards: normalizing to [0,1] and rescaling
      // by 1e6 leaves the argmax unchanged, so the bonus rides at the
      // same ppm scale as the means — the exploration term must BITE
      val ucb: Map[String, Double] = srcs.map { s =>
        s -> (sum(s).toDouble / n(s) +
          1000000.0 * math.sqrt(2.0 * lnT / n(s)))
      }.toMap
      val w = srcs.minBy(s => (-ucb(s), s)) // ucb desc, source asc
      val k = n(w) + 1
      val reward = pq((w, k))
      log += ((t.toLong, w, k, reward, ucb(w)))
      n += w -> k
      sum += w -> (sum(w) + reward)
    }
    log.result()
      .toDF("t", "source", "pull_k", "reward_ppm", "ucb")
      .orderBy("t")
  }

  // ---------------------------------------------------------------------
  // q211 — split-conformal quality-filter thresholding (Vovk et al.
  // 2005; Papadopoulos et al. 2002 inductive form): pick the filter
  // cutoff with a DISTRIBUTION-FREE guarantee instead of by eye. The
  // in-domain docs (lang='en') hash-split into calibration/test; the
  // threshold is the ⌈(n_cal+1)·α⌉-th smallest calibration score, which
  // guarantees P(new in-domain doc rejected) ≤ α with NO model or
  // distribution assumption — the principled way to set q45-style
  // quality gates. The test half reports the realized false-rejection
  // rate (the guarantee check) and the overall acceptance share.
  //
  // Scale: the rank-k selection reuses q175's exactKth — iterative
  // bucket narrowing, O(log_B n) bounded scans, never a global sort;
  // everything else is two aggregates. Scores are exact integer ppm.
  // ---------------------------------------------------------------------
  private val ConfAlphaDen = 10L // alpha = 1/10

  def q211ConformalFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Tables.documents(spark, sfDir).selectExpr(
        "doc_id", "lang",
        "(1000000L * size(array_distinct(split(trim(text), ' +'))))" +
          " div size(split(trim(text), ' +')) AS s_ppm",
        "CASE WHEN CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 1)," +
          " 16, 10) AS BIGINT) % 2 = 0 THEN 'cal' ELSE 'test' END AS split")
      .cache()
    val calEn = scored.filter("split = 'cal' AND lang = 'en'")
    val nCal = calEn.count()
    val k = (nCal + ConfAlphaDen) / ConfAlphaDen // ceil((n+1)*alpha)
    val thr = Profiling.exactKth(
      calEn.selectExpr("CAST(s_ppm AS DOUBLE) AS v"), k).toLong
    scored.filter("split = 'test'")
      .agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_test_en"),
        sum(when(col("lang") === "en" && col("s_ppm") < thr, 1L)
          .otherwise(0L)).as("n_fr"),
        count(lit(1)).as("n_test"),
        sum(when(col("s_ppm") >= thr, 1L).otherwise(0L)).as("n_acc"))
      .selectExpr(s"${nCal}L AS n_cal", s"${k}L AS k_rank",
        s"${thr}L AS thr_ppm", "n_test_en",
        "1000000L * n_fr div n_test_en AS fr_ppm", "n_test",
        "1000000L * n_acc div n_test AS accept_ppm")
  }

  val q211Sql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, lang,
       |         (1000000 * len(list_distinct(regexp_split_to_array(trim(text), ' +'))))
       |           // len(regexp_split_to_array(trim(text), ' +')) AS s_ppm,
       |         CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 1))::BIGINT
       |                   % 2 = 0
       |              THEN 'cal' ELSE 'test' END AS split
       |  FROM documents),
       |cal AS (SELECT s_ppm FROM scored WHERE split = 'cal' AND lang = 'en'),
       |kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal,
       |              (CAST(COUNT(*) AS BIGINT) + $ConfAlphaDen)
       |                // $ConfAlphaDen AS k_rank
       |       FROM cal),
       |thr AS (
       |  SELECT r.s_ppm AS thr_ppm FROM
       |    (SELECT s_ppm, row_number() OVER (ORDER BY s_ppm) AS rn FROM cal) r
       |  JOIN kk ON r.rn = kk.k_rank)
       |SELECT kk.n_cal, kk.k_rank, thr.thr_ppm,
       |       CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_test_en,
       |       1000000 * CAST(SUM(CASE WHEN lang = 'en' AND s_ppm < thr.thr_ppm
       |                               THEN 1 ELSE 0 END) AS BIGINT)
       |         // CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
       |         AS fr_ppm,
       |       CAST(COUNT(*) AS BIGINT) AS n_test,
       |       1000000 * CAST(SUM(CASE WHEN s_ppm >= thr.thr_ppm
       |                               THEN 1 ELSE 0 END) AS BIGINT)
       |         // CAST(COUNT(*) AS BIGINT) AS accept_ppm
       |FROM scored CROSS JOIN kk CROSS JOIN thr
       |WHERE split = 'test'
       |GROUP BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------------
  // q224 — weight-of-evidence / information-value feature audit (the
  // credit-scoring standard, Siddiqi 2006): bin a candidate feature
  // (doc length) into deciles and measure how much each bin separates
  // in-domain docs (lang='en') from the rest — WOE_b =
  // ln(((g_b+½)/G)/((b_b+½)/B)) per bin, IV = Σ(g_b/G − b_b/B)·WOE_b.
  // THE quick read on whether a feature is worth adding to a quality
  // classifier before training anything (IV < 0.02 useless, > 0.3
  // strong); complements q180's MI audit with the binned, signed,
  // per-region view a threshold designer actually uses.
  //
  // Cross-engine: bins are ntile(10) with a (feature, doc_id) total
  // order (q88's parity), computed through [[TwoPass.globalNtile]] — the
  // exact range-partitioned rank decomposition, so the doc-scale frame
  // never funnels through one window task; the ½-smoothing clears
  // denominators so the ln argument is a ratio of two exact int64
  // products; ln outputs and per-bin IV terms 6-dp-round into DECIMAL
  // (q191's order-insensitive pattern) before the window total.
  // ---------------------------------------------------------------------
  def q224WoeAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val binned = TwoPass.globalNtile(
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("n_chars"),
          (col("lang") === "en").as("good")),
      Seq(col("n_chars"), col("doc_id")), 10, "bin")
    val perBin = binned.groupBy(col("bin"))
      .agg(sum(when(col("good"), 1L).otherwise(0L)).as("g"),
        sum(when(col("good"), 0L).otherwise(1L)).as("b"))
      .withColumn("gt", expr("sum(g) over ()"))
      .withColumn("bt", expr("sum(b) over ()"))
    perBin
      .selectExpr("bin", "g AS n_good", "b AS n_bad",
        // ln of a ratio of exact int64 products; the 1/2-smoothing keeps
        // empty cells finite
        "ROUND(ln(CAST((2 * g + 1) * bt AS DOUBLE)" +
          " / CAST((2 * b + 1) * gt AS DOUBLE)), 6) AS woe",
        "CAST(ROUND((CAST(g AS DOUBLE) / gt - CAST(b AS DOUBLE) / bt)" +
          " * ROUND(ln(CAST((2 * g + 1) * bt AS DOUBLE)" +
          " / CAST((2 * b + 1) * gt AS DOUBLE)), 6), 6)" +
          " AS DECIMAL(18,6)) AS iv6")
      .withColumn("iv_total", expr("CAST(sum(iv6) over () AS DOUBLE)"))
      .selectExpr("bin", "n_good", "n_bad", "woe",
        "CAST(iv6 AS DOUBLE) AS iv_term", "iv_total")
      .orderBy("bin")
  }

  val q224Sql: String =
    """WITH binned AS (
      |  SELECT CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS BIGINT)
      |           AS bin,
      |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS good
      |  FROM documents),
      |pb AS (
      |  SELECT bin, CAST(SUM(good) AS BIGINT) AS g,
      |         CAST(SUM(1 - good) AS BIGINT) AS b
      |  FROM binned GROUP BY bin),
      |tot AS (
      |  SELECT *, CAST(SUM(g) OVER () AS BIGINT) AS gt,
      |            CAST(SUM(b) OVER () AS BIGINT) AS bt
      |  FROM pb),
      |woe AS (
      |  SELECT bin, g AS n_good, b AS n_bad,
      |         ROUND(ln(CAST((2 * g + 1) * bt AS DOUBLE)
      |           / CAST((2 * b + 1) * gt AS DOUBLE)), 6) AS woe,
      |         CAST(ROUND((CAST(g AS DOUBLE) / gt - CAST(b AS DOUBLE) / bt)
      |           * ROUND(ln(CAST((2 * g + 1) * bt AS DOUBLE)
      |           / CAST((2 * b + 1) * gt AS DOUBLE)), 6), 6)
      |           AS DECIMAL(18,6)) AS iv6
      |  FROM tot)
      |SELECT bin, n_good, n_bad, woe, CAST(iv6 AS DOUBLE) AS iv_term,
      |       CAST(SUM(iv6) OVER () AS DOUBLE) AS iv_total
      |FROM woe
      |ORDER BY bin""".stripMargin

  val q209Sql: String = {
    val lnVals = UcbLnTable.zipWithIndex
      .map { case (v, i) => s"(${i + 1}, $v)" }.mkString(", ")
    val head =
      s"""WITH lnt(t, v) AS (SELECT * FROM (VALUES $lnVals)),
         |pq AS MATERIALIZED (
         |  SELECT source, k, q_ppm FROM (
         |    SELECT source,
         |           CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
         |             AS BIGINT) AS k,
         |           (1000000 * len(list_distinct(regexp_split_to_array(trim(text), ' +'))))
         |             // len(regexp_split_to_array(trim(text), ' +')) AS q_ppm
         |    FROM documents)
         |  WHERE k <= ${UcbRounds + 1}),
         |st0 AS MATERIALIZED (
         |  SELECT source, CAST(1 AS BIGINT) AS n, q_ppm AS s
         |  FROM pq WHERE k = 1),
         |ns(sn) AS (SELECT CAST(COUNT(*) AS BIGINT) FROM st0)""".stripMargin
    val rounds = (1 to UcbRounds).map { i =>
      s"""u$i AS (
         |  SELECT st.source, st.n, st.s,
         |         CAST(st.s AS DOUBLE) / st.n
         |           + 1000000.0 * sqrt(2.0 * l.v / st.n) AS ucb
         |  FROM st${i - 1} st JOIN lnt l
         |    ON l.t = (SELECT sn + ${i - 1} FROM ns)),
         |w$i AS MATERIALIZED (
         |  SELECT source, n + 1 AS k, ucb
         |  FROM u$i ORDER BY ucb DESC, source LIMIT 1),
         |r$i AS MATERIALIZED (
         |  SELECT w.source, w.k, p.q_ppm, w.ucb
         |  FROM w$i w JOIN pq p ON p.source = w.source AND p.k = w.k),
         |st$i AS MATERIALIZED (
         |  SELECT st.source,
         |         st.n + CASE WHEN st.source = (SELECT source FROM r$i)
         |                     THEN 1 ELSE 0 END AS n,
         |         st.s + CASE WHEN st.source = (SELECT source FROM r$i)
         |                     THEN (SELECT q_ppm FROM r$i) ELSE 0 END AS s
         |  FROM st${i - 1} st)""".stripMargin
    }.mkString(",\n", ",\n", "")
    val sel = (1 to UcbRounds).map { i =>
      s"SELECT (SELECT sn + $i FROM ns) AS t, source, k AS pull_k," +
        s" q_ppm AS reward_ppm, ucb FROM r$i"
    }.mkString("\nUNION ALL\n")
    s"$head$rounds\n$sel\nORDER BY t"
  }
}
