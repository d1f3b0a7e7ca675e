package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Text-analysis operators for a large-scale training-data pipeline:
  * exact deduplication, token statistics, quality scoring, language-ID
  * heuristic, and content fingerprinting — all pure per-row projections or
  * hash-keyed aggregations (embarrassingly parallel; the only shuffle is
  * the dedup groupBy, keyed on a 128-bit hash, never on document text).
  *
  * Everything stays inside Catalyst built-ins (codegen'd, no UDFs), and
  * every op has an exactly-equivalent DuckDB oracle.
  */
object TextAnalysis {

  /** Whitespace tokens of `text` (trimmed, multi-space safe). */
  private val toks: Column = split(trim(col("text")), " +")

  // ---------------------------------------------------------------------
  // q15 — exact deduplication. Group key is md5(text), not text: at 100 TB
  // the shuffle carries 16-byte keys, not documents. Collision probability
  // at 2^-128 per pair is negligible against any realistic corpus.
  // ---------------------------------------------------------------------
  def q15DedupExact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy("keep_id")

  val q15Sql: String =
    """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY md5(text)
      |ORDER BY keep_id""".stripMargin

  // ---------------------------------------------------------------------
  // q16 — token statistics (whitespace tokenization).
  // ---------------------------------------------------------------------
  def q16TokenStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"), col("text"), toks.as("toks"))
      .select(
        col("doc_id"),
        col("n_chars"),
        size(col("toks")).as("n_tokens"),
        length(col("text")).as("n_chars_calc"),
        (expr("CAST(aggregate(transform(toks, t -> length(t)), 0, (a, x) -> a + x) AS DOUBLE)")
          / size(col("toks"))).as("avg_token_len"))
      .orderBy("doc_id")

  val q16Sql: String =
    """SELECT doc_id, n_chars,
      |       len(toks) AS n_tokens,
      |       length(text) AS n_chars_calc,
      |       CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) AS avg_token_len
      |FROM (SELECT doc_id, n_chars, text,
      |             regexp_split_to_array(trim(text), ' +') AS toks
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q17 — quality scoring: stopword ratio, punctuation ratio, length
  // saturation, combined into one deterministic double score.
  // ---------------------------------------------------------------------
  private[graft] val stopwords = Seq("the", "a", "and", "of", "in", "to")
  /** `t = 'the' OR ...` lambda predicate — identical text works in Spark
    * `filter(toks, t -> ...)` and DuckDB `list_filter`; shared with the
    * q45 quality-quota curation so both score with the same stop set. */
  private[operators] val stopPredSql =
    stopwords.map(w => s"t = '$w'").mkString(" OR ")
  private val stopPred = stopPredSql

  /** (doc_id, lang, n_tokens, stop_ratio, punct_ratio, len_sat, quality)
    * — the q17 scoring pipeline with the language column carried
    * through, shared by q17 (which drops lang for its fixed oracle
    * schema) and q115 (which normalizes within it). */
  private[graft] def qualityFrame(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("text"), toks.as("toks"))
      .select(
        col("doc_id"), col("lang"),
        size(col("toks")).as("n_tokens"),
        expr(s"size(filter(toks, t -> $stopPred))").as("n_stop"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[.,!?;:]", ""))).as("n_punct"),
        length(col("text")).as("n_chars_calc"))
      .select(
        col("doc_id"), col("lang"),
        col("n_tokens"),
        (col("n_stop").cast("double") / col("n_tokens")).as("stop_ratio"),
        (col("n_punct").cast("double") / col("n_chars_calc")).as("punct_ratio"),
        least(lit(1.0), col("n_tokens").cast("double") / lit(100.0)).as("len_sat"))
      .withColumn("quality",
        lit(0.4) * col("stop_ratio") + lit(0.3) * (lit(1.0) - col("punct_ratio"))
          + lit(0.3) * col("len_sat"))

  def q17QualityScore(spark: SparkSession, sfDir: String): DataFrame =
    qualityFrame(spark, sfDir)
      .select(col("doc_id"), col("n_tokens"), col("stop_ratio"),
        col("punct_ratio"), col("len_sat"), col("quality"))
      .orderBy("doc_id")

  /** Per-doc quality-feature subquery + the score expression — the ONE
    * SQL rendering of `qualityFrame`, shared by q17Sql and q179Sql so
    * a weight/stopword change cannot silently diverge the two oracles
    * (the Spark sides already share `qualityFrame`). */
  private def qualityFeatureSql: String = {
    val duckStop = stopwords.map(w => s"t = '$w'").mkString(" OR ")
    s"""SELECT doc_id,
       |         len(toks) AS n_tokens,
       |         CAST(len(list_filter(toks, t -> $duckStop)) AS DOUBLE) / len(toks) AS stop_ratio,
       |         CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
       |           / length(text) AS punct_ratio,
       |         LEAST(1.0, CAST(len(toks) AS DOUBLE) / 100.0) AS len_sat
       |  FROM (SELECT doc_id, text, regexp_split_to_array(trim(text), ' +') AS toks
       |        FROM documents)""".stripMargin
  }
  private val qualityExprSql =
    "0.4 * stop_ratio + 0.3 * (1.0 - punct_ratio) + 0.3 * len_sat"

  val q17Sql: String =
    s"""SELECT doc_id, n_tokens, stop_ratio, punct_ratio, len_sat,
       |       $qualityExprSql AS quality
       |FROM (
       |  $qualityFeatureSql)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q18 — language identification via stopword-marker counts (n-gram
  // heuristic). Deterministic argmax with fixed precedence; 'unknown'
  // when no marker hits.
  // ---------------------------------------------------------------------
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of"),
    "de" -> Seq("der", "die", "das", "und", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "une"),
    "es" -> Seq("el", "los", "las", "y", "que"),
    "zh" -> Seq("的", "是", "了"))

  def q18LangId(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), toks.as("toks"))
    val withCounts = markers.foldLeft(base) { case (df, (l, ws)) =>
      val pred = ws.map(w => s"t = '$w'").mkString(" OR ")
      df.withColumn(s"c_$l", expr(s"size(filter(toks, t -> $pred))"))
    }
    val langs = markers.map(_._1)
    val guess = langs.foldRight(lit("unknown")) { case (l, els) =>
      val isMax = langs.filter(_ != l)
        .map(o => col(s"c_$l") >= col(s"c_$o"))
        .reduce(_ && _) && col(s"c_$l") > 0
      when(isMax, lit(l)).otherwise(els)
    }
    withCounts
      .select((Seq(col("doc_id"), col("lang")) ++
        langs.map(l => col(s"c_$l")) :+ guess.as("guess")): _*)
      .withColumn("hit", (col("guess") === col("lang")).cast("boolean"))
      .orderBy("doc_id")
  }

  val q18Sql: String = {
    val counts = markers.map { case (l, ws) =>
      val pred = ws.map(w => s"t = '$w'").mkString(" OR ")
      s"len(list_filter(toks, t -> $pred)) AS c_$l"
    }.mkString(",\n         ")
    val langs = markers.map(_._1)
    val cases = langs.map { l =>
      val conds = (langs.filter(_ != l).map(o => s"c_$l >= c_$o") :+ s"c_$l > 0")
        .mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("\n              ")
    s"""SELECT doc_id, lang, ${langs.map(l => s"c_$l").mkString(", ")},
       |       guess, (guess = lang) AS hit
       |FROM (
       |  SELECT doc_id, lang, ${langs.map(l => s"c_$l").mkString(", ")},
       |         CASE $cases
       |              ELSE 'unknown' END AS guess
       |  FROM (
       |    SELECT doc_id, lang,
       |         $counts
       |    FROM (SELECT doc_id, lang, regexp_split_to_array(trim(text), ' +') AS toks
       |          FROM documents)))
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q19 — content fingerprint: 64-bit (16 hex chars) prefix of md5 over
  // whitespace-normalized lowercase text. The md5 path is the
  // oracle-checkable fingerprint; see GraftFunctions.pct — a rolling-hash
  // variant lives in Dedup (simhash) where bit-level hashes matter.
  // ---------------------------------------------------------------------
  def q19Fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        substring(md5(lower(regexp_replace(trim(col("text")), "\\s+", " "))), 1, 16)
          .as("fingerprint"))
      .orderBy("doc_id")

  val q19Sql: String =
    """SELECT doc_id,
      |       substr(md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))), 1, 16) AS fingerprint
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q27 — the table-generating (1→N flatMap/UDTF) surface in SQL form
  // (`rlink/src/core/function.rs:185-195` → explode/Generator): explode
  // tokens, count corpus-wide frequencies, top 20. The explode feeds a
  // partial-aggregated groupBy — the shuffle carries (token, count)
  // partials, not the exploded rows.
  // ---------------------------------------------------------------------
  def q27TokenExplode(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(toks).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(20)

  val q27Sql: String =
    """SELECT token, COUNT(*) AS freq
      |FROM (SELECT unnest(regexp_split_to_array(trim(text), ' +')) AS token
      |      FROM documents)
      |GROUP BY token
      |ORDER BY freq DESC, token
      |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // q32 — BPE-ish token counting: a GPT-2-style pre-tokenizer regex
  // (contractions | space-prefixed letter runs | digit runs | punctuation
  // runs | whitespace). The regex is RE2/Java-compatible so Spark and the
  // DuckDB oracle tokenize identically. Pure projection — the real BPE
  // merge step would be a dictionary broadcast + per-token loop, but the
  // count that matters for data curation is pre-tokenizer tokens.
  // ---------------------------------------------------------------------
  private val bpePattern =
    """'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"""

  def q32BpeTokens(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        regexp_extract_all(col("text"), lit(bpePattern), lit(0)).as("bt"))
      .select(
        col("doc_id"),
        size(col("bt")).as("n_bpe_tokens"),
        size(array_distinct(col("bt"))).as("n_distinct_bpe"))
      .orderBy("doc_id")

  val q32Sql: String =
    s"""SELECT doc_id,
       |       len(bt) AS n_bpe_tokens,
       |       len(list_distinct(bt)) AS n_distinct_bpe
       |FROM (SELECT doc_id,
       |             regexp_extract_all(text, '${bpePattern.replace("'", "''")}') AS bt
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q33 — rolling-hash fingerprint (Rabin-Karp polynomial hash over the
  // code-point stream, mod 1e9+7 so every intermediate fits in i64 in
  // both engines): the incremental-fingerprint complement to q19's md5.
  // One fused codegen loop per row (graft.functions.RollingHash), no
  // shuffle; iterates true code points, so it matches DuckDB's
  // code-point `ascii` semantics on every input INCLUDING
  // supplementary-plane characters (the HOF formulation it replaced
  // walked UTF-16 code units and was ~10x slower through boxed
  // per-character lambdas).
  // ---------------------------------------------------------------------
  def q33RollingHash(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.rollingHash(col("text")).as("rhash"))
      .orderBy("doc_id")

  val q33Sql: String =
    """SELECT doc_id,
      |       list_reduce(
      |         list_prepend(CAST(0 AS BIGINT),
      |           list_transform(list_filter(string_split(text, ''), c -> c != ''),
      |                          c -> CAST(ascii(c) AS BIGINT))),
      |         (a, b) -> (a * 31 + b) % 1000000007) AS rhash
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q36 — deterministic train/validation/test split by content hash:
  // the reproducible-split primitive every training pipeline needs.
  // Bucket = first 8 md5 hex chars as int mod 100 — a pure projection,
  // stable across engines/runs/partitionings (unlike randomSplit), and
  // exactly reproducible in the oracle. 90/5/5.
  // ---------------------------------------------------------------------
  def q36HashSplit(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        (conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long") % 100)
          .as("bucket"))
      .select(col("doc_id"),
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "validation")
          .otherwise("test").as("split"))
      .orderBy("doc_id")

  val q36Sql: String =
    """SELECT doc_id,
      |       CASE WHEN bucket < 90 THEN 'train'
      |            WHEN bucket < 95 THEN 'validation'
      |            ELSE 'test' END AS split
      |FROM (SELECT doc_id,
      |             CAST(('0x' || substr(md5(text), 1, 8))::BIGINT AS BIGINT) % 100 AS bucket
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q37 — TF-IDF: top-3 most characteristic tokens per document.
  // tf = term count in doc; idf = ln(N / df). Two shuffles total: the
  // (doc, token) count agg and the token document-frequency agg (whose
  // result is a small broadcast-joined dimension); ranking is a per-doc
  // window. The idf join key is the token, never the document text.
  // ---------------------------------------------------------------------
  def q37TfIdf(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
    // Corpus size as a lazy one-row aggregate (broadcast), NOT an eager
    // count(): constructing this DataFrame runs no jobs.
    val n = docs.agg(count(lit(1)).cast("double").as("n"))
    val tokens = docs.select(col("doc_id"), explode(toks).as("token"))
    val tf = tokens.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    // tf already has one row per (doc, token): document frequency is a
    // re-aggregation of tf — no second corpus scan, no distinct shuffle
    // of the exploded token set.
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    // No broadcast hint on the document-frequency side: the distinct-token
    // table is heavy-tailed and grows with the corpus, so a forced
    // broadcast would exceed driver/executor broadcast limits at scale.
    // AQE picks broadcast when dfreq is actually small (it is at test SFs)
    // and falls back to a shuffled hash join keyed on token otherwise —
    // both sides are already partitioned by token from their aggregations.
    val scored = tf.join(dfreq, "token")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"),
        // ln() is not correctly-rounded (Java Math.log vs libm differ in
        // the last ulp), so the comparison-visible score is rounded to 6
        // decimals AND ranking uses the rounded value: mathematically
        // tied tokens computed via different expressions collapse to an
        // exact tie broken deterministically by token in both engines.
        round(col("tf").cast("double") * log(col("n") / col("df")), 6)
          .as("tfidf"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("token"))))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("token"), col("tfidf"))
      .orderBy("doc_id", "rank")
  }

  val q37Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), ' +')) AS token
      |  FROM documents),
      |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |dfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.token,
      |         ROUND(CAST(tf.tf AS DOUBLE) * ln(CAST(n.n AS DOUBLE) / dfreq.df), 6) AS tfidf
      |  FROM tf JOIN dfreq USING (token) CROSS JOIN n)
      |SELECT doc_id, rank, token, tfidf FROM (
      |  SELECT doc_id, token, tfidf,
      |         ROW_NUMBER() OVER (PARTITION BY doc_id
      |                            ORDER BY tfidf DESC, token) AS rank
      |  FROM scored)
      |WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // q38 — repetition ratios (Gopher-style quality filter): fraction of
  // duplicated tokens and duplicated bigrams per document. High values
  // flag boilerplate/spam for curation. Pure per-row projection.
  // ---------------------------------------------------------------------
  def q38Repetition(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), toks.as("t"))
      .withColumn("bg", when(size(col("t")) >= 2, expr(
        "transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i+1]))")))
      .select(
        col("doc_id"),
        size(col("t")).as("n_tokens"),
        (lit(1.0) - size(array_distinct(col("t"))).cast("double") / size(col("t")))
          .as("token_rep"),
        when(col("bg").isNotNull,
          lit(1.0) - size(array_distinct(col("bg"))).cast("double") / size(col("bg")))
          .as("bigram_rep"))
      .orderBy("doc_id")

  val q38Sql: String =
    """SELECT doc_id,
      |       len(t) AS n_tokens,
      |       1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS token_rep,
      |       CASE WHEN len(t) >= 2
      |            THEN 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)
      |            END AS bigram_rep
      |FROM (SELECT doc_id, t,
      |             [t[i] || ' ' || t[i+1] for i in range(1, len(t))] AS bg
      |      FROM (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS t
      |            FROM documents))
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q55 — corpus-trained bigram language-model scoring with per-language
  // quality buckets (the CCNet recipe, Wenzek et al. 2020: score every
  // document under an n-gram LM, bucket into head/middle/tail per
  // language; docs whose text the corpus LM finds surprising are the
  // curation candidates). Model: add-k-smoothed bigram LM, k = 0.5 —
  // p(w2|w1) = (c(w1 w2) + 0.5) / (c(w1) + 0.5 V) with unigram/bigram
  // counts and vocabulary size V from the WHOLE corpus (train = score
  // corpus, the self-scoring CCNet degenerate case; a deployment feeds a
  // held-out LM count table through the same joins).
  //
  // ORACLE-EXACT FLOAT DISCIPLINE: per-bigram log-probs are computed in
  // IEEE double (counts are exact integers, so numerator/denominator/
  // division/ln are platform-reproducible), then CAST TO DECIMAL(18,6)
  // — one rounding — and summed as DECIMALS, which is order-insensitive
  // and therefore identical under any partitioning/AQE plan AND equal to
  // DuckDB's decimal sum. The only doubles that cross the oracle hash
  // are exact-decimal conversions and one IEEE division (sum/n).
  //
  // Scale shape: the LM "training" is two map-side-combinable count
  // aggregations; scoring joins each bigram occurrence against the count
  // tables by key (bigram tables are Zipf-small relative to the corpus;
  // AQE broadcasts them when they fit). V is an O(1) driver scalar of
  // the index-training class. The per-language ntile is the one
  // deliberate single-reducer-per-language stage — at 100 TB a
  // deployment replaces data-dependent exact quartiles with thresholds
  // from approx quantiles (one tiny driver row per language), keeping
  // every other stage unchanged.
  // ---------------------------------------------------------------------
  def q55BigramLm(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        split(lower(trim(col("text"))), " +").as("toks"))
    val uni = d.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
      .cache() // TWO consumers — the v=count() action below AND the
               // scoring join — without the cache the full corpus
               // explode+groupBy runs twice (2x driver-bench regression)
    val v = uni.count() // vocabulary size: O(1) driver scalar
    val bg = d.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(toks) - 2),
          |  i -> struct(toks[i] AS w1, toks[i+1] AS w2))""".stripMargin)).as("u"))
      .select(col("doc_id"), col("u.w1").as("w1"), col("u.w2").as("w2"))
      .cache() // scored once for counts, once for scoring — one explode
    val bgc = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val scored = bg
      .join(bgc, Seq("w1", "w2"))
      .join(uni.withColumnRenamed("w", "w1"), "w1")
      .select(col("doc_id"),
        log((col("c12") + lit(0.5)) / (col("c1") + lit(0.5) * v))
          .cast("decimal(18,6)").as("lp"))
    val perdoc = scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("slp"))
    Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"))
      .join(perdoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("slp"), lit(0).cast("decimal(18,6)")).cast("double")
          .as("sum_logprob"),
        when(col("n_bigrams").isNull, lit(null).cast("double"))
          .otherwise(col("slp").cast("double") / col("n_bigrams"))
          .as("avg_logprob"))
      .withColumn("ppl_quartile", ntile(4).over(
        Window.partitionBy(col("lang"))
          .orderBy(desc_nulls_last("avg_logprob"), col("doc_id").asc)))
      .orderBy("doc_id")
  }

  val q55Sql: String =
    """WITH d AS (
      |  SELECT doc_id, lang, regexp_split_to_array(lower(trim(text)), ' +') AS toks
      |  FROM documents),
      |uni AS (
      |  SELECT t AS w, count(*) AS c1
      |  FROM (SELECT unnest(toks) AS t FROM d) GROUP BY t),
      |v AS (SELECT count(*) AS nv FROM uni),
      |bg AS (
      |  SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
      |    SELECT doc_id, unnest([{'w1': toks[i+1], 'w2': toks[i+2]}
      |                           for i in range(0, len(toks) - 1)]) AS u
      |    FROM d WHERE len(toks) >= 2)),
      |bgc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
      |scored AS (
      |  SELECT bg.doc_id,
      |         CAST(ln((bgc.c12 + 0.5) / (uni.c1 + 0.5 * v.nv)) AS DECIMAL(18,6)) AS lp
      |  FROM bg JOIN bgc USING (w1, w2) JOIN uni ON bg.w1 = uni.w, v),
      |perdoc AS (
      |  SELECT doc_id, count(*) AS n_bigrams, sum(lp) AS slp
      |  FROM scored GROUP BY doc_id)
      |SELECT doc_id, lang,
      |       CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |       CAST(coalesce(p.slp, 0) AS DOUBLE) AS sum_logprob,
      |       CASE WHEN p.n_bigrams IS NULL THEN NULL
      |            ELSE CAST(p.slp AS DOUBLE) / p.n_bigrams END AS avg_logprob,
      |       ntile(4) OVER (PARTITION BY lang
      |                      ORDER BY CASE WHEN p.n_bigrams IS NULL THEN NULL
      |                               ELSE CAST(p.slp AS DOUBLE) / p.n_bigrams END
      |                      DESC NULLS LAST, doc_id) AS ppl_quartile
      |FROM documents d2 LEFT JOIN perdoc p USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q61 — heavy-hitter tokens by Misra-Gries sketch + exact verification:
  // tokens with corpus frequency > n/k, computed WITHOUT ever shuffling
  // the full distinct-token table. Pass 1 runs the mergeable MG sketch
  // (functions.MisraGries — O(partitions x k) shuffle, constant in
  // corpus size); its output is a guaranteed SUPERSET of the true heavy
  // hitters, so pass 2 re-counts only the candidates (broadcast
  // semi-join) and filters by the exact threshold — the same
  // sketch-then-verify shape as the dedup operators, and the reason the
  // gate can be oracle-EXACT for a sketch-based query. At gate corpora
  // the generator vocabulary is smaller than k, making the sketch
  // trivially lossless here; FrequentItemsSpec exercises the lossy
  // regime (k far below the vocabulary) and the superset guarantee
  // directly. n is an O(1) driver scalar (q55's V class).
  // ---------------------------------------------------------------------
  private[graft] val HhK = 256 // shared with the streaming gate (q66)

  def q61HeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val tokens = hhTokens(Tables.documents(spark, sfDir))
    val n = tokens.count()
    val mg = udaf(new graft.functions.MisraGries(HhK), ExpressionEncoder[String]())
    val cands = tokens.agg(mg(col("tok")).as("cands"))
      .select(explode(col("cands")).as("tok"))
    hhVerify(tokens, cands, n)
  }

  /** q61's token stream (`tok`) of the documents `docs`. */
  private[graft] def hhTokens(docs: DataFrame): DataFrame =
    docs.select(explode(split(lower(trim(col("text"))), " +")).as("tok"))

  /** q61's exact pass: the candidates `cands` (a superset of the heavy
    * hitters) re-counted over `tokens`, kept past n/k. */
  private[graft] def hhVerify(tokens: DataFrame, cands: DataFrame,
      n: Long): DataFrame =
    tokens.join(broadcast(cands), "tok")
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .filter(col("freq") > lit(n.toDouble / HhK))
      .orderBy("tok")

  /** Oracle does the full exact group-by — tractable at oracle SFs;
    * equality with the sketch-then-verify path IS the superset-guarantee
    * statement. */
  val q61Sql: String =
    s"""WITH tk AS (
       |  SELECT unnest(regexp_split_to_array(lower(trim(text)), ' +')) AS tok
       |  FROM documents)
       |SELECT tok, count(*) AS freq FROM tk
       |GROUP BY tok
       |HAVING count(*) > (SELECT count(*) FROM tk) / $HhK.0
       |ORDER BY tok""".stripMargin

  // ---------------------------------------------------------------------
  // q70 — per-language vocabulary statistics (Zipf/Heaps-style corpus
  // profile): token count, vocabulary size, hapax-legomena count,
  // type-token ratio, head-mass (share of the top-TopMass most frequent
  // tokens) and the modal token itself. The standard pre-training corpus
  // health check — a collapsing scrape shows up as a falling TTR and a
  // head-mass racing to 1 long before any downstream eval does.
  //
  // Scale shape: one (lang, token) shuffle to count, then a per-language
  // rank over the VOCABULARY-sized table (vocab << corpus; for a real
  // 100 TB web corpus vocab is ~1e8 rows — a per-language sort of that is
  // executor-trivial). Nothing document-sized survives the first agg.
  // All-integer until the two final double divisions — order-insensitive,
  // hence oracle-hashable.
  // ---------------------------------------------------------------------
  private[graft] val TopMass = 5 // head size for the mass fraction

  def q70VocabStats(spark: SparkSession, sfDir: String): DataFrame = {
    val tc = Tables.documents(spark, sfDir)
      .select(col("lang"),
        explode(split(lower(trim(col("text"))), " +")).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))
    val ranked = tc.withColumn("rk", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("c").desc, col("w"))))
    ranked.groupBy(col("lang"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
        max(when(col("rk") === 1, col("w"))).as("top_token"),
        sum(when(col("rk") <= TopMass, col("c")).otherwise(0L)).as("head"))
      .select(col("lang"), col("n_tokens"), col("vocab"), col("hapax"),
        col("top_token"),
        (col("vocab").cast("double") / col("n_tokens")).as("ttr"),
        (col("head").cast("double") / col("n_tokens")).as("head_mass"))
      .orderBy("lang")
  }

  val q70Sql: String =
    s"""WITH tok AS (
       |  SELECT lang, unnest(regexp_split_to_array(lower(trim(text)), ' +')) AS w
       |  FROM documents),
       |tc AS (SELECT lang, w, count(*) AS c FROM tok GROUP BY lang, w),
       |ranked AS (
       |  SELECT lang, w, c,
       |         row_number() OVER (PARTITION BY lang ORDER BY c DESC, w) AS rk
       |  FROM tc)
       |SELECT lang,
       |       CAST(sum(c) AS BIGINT) AS n_tokens,
       |       CAST(count(*) AS BIGINT) AS vocab,
       |       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       |       max(CASE WHEN rk = 1 THEN w END) AS top_token,
       |       CAST(count(*) AS DOUBLE) / sum(c) AS ttr,
       |       CAST(sum(CASE WHEN rk <= $TopMass THEN c ELSE 0 END) AS DOUBLE)
       |         / sum(c) AS head_mass
       |FROM ranked GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // q72 — per-source distribution drift: KL(P_source || P_corpus) over
  // the unigram distribution, the standard contamination/drift monitor
  // when a pipeline ingests many scrapes (a source whose token
  // distribution diverges from the pool gets human eyes before it gets
  // mixed). KL = sum_w p_w ln(p_w/q_w) with p = c_sw/n_s, q = c_w/N.
  //
  // Float discipline (q55's recipe): the ln argument is a ratio of EXACT
  // integers evaluated in double with one fixed expression shape —
  // (c_sw·N)/(n_s·c_w), products < 2^53 at any conceivable source size —
  // so Spark and DuckDB compute bit-identical doubles; each ln is then
  // cast to DECIMAL(18,6) and the per-source sum runs in decimal
  // (order-insensitive under any partitioning), multiplied by the exact
  // integer c_sw. Only the final /n_s returns to double.
  //
  // Scale shape: one (source, token) shuffle; c_w re-aggregates from the
  // (source, token) counts (vocab-sized input, never the corpus); the
  // join back to per-source terms is vocab-sized on both sides. N is a
  // 1-row cross join, not a collect.
  // ---------------------------------------------------------------------
  def q72UnigramDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val sc = Tables.documents(spark, sfDir)
      .select(col("source"),
        explode(split(lower(trim(col("text"))), " +")).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c_sw"))
      .cache() // three consumers: gc, ns, and the term join
    val gc = sc.groupBy(col("w")).agg(sum(col("c_sw")).as("c_w"))
    val ns = sc.groupBy(col("source")).agg(sum(col("c_sw")).as("n_s"))
    val tot = gc.agg(sum(col("c_w")).as("n"))

    sc.join(gc, "w").join(ns, "source").crossJoin(broadcast(tot))
      .select(col("source"), col("n_s"),
        (col("c_sw") *
          log((col("c_sw").cast("double") * col("n")) /
              (col("n_s").cast("double") * col("c_w")))
            .cast(DecimalType(18, 6))).as("term"))
      .groupBy(col("source"), col("n_s"))
      .agg(sum(col("term")).as("s"))
      .select(col("source"), col("n_s").as("n_tokens"),
        (col("s").cast("double") / col("n_s")).as("kl_vs_corpus"))
      .orderBy("source")
  }

  val q72Sql: String =
    """WITH tok AS (
      |  SELECT source, unnest(regexp_split_to_array(lower(trim(text)), ' +')) AS w
      |  FROM documents),
      |sc AS (SELECT source, w, count(*) AS c_sw FROM tok GROUP BY source, w),
      |gc AS (SELECT w, sum(c_sw) AS c_w FROM sc GROUP BY w),
      |ns AS (SELECT source, sum(c_sw) AS n_s FROM sc GROUP BY source),
      |tot AS (SELECT sum(c_w) AS n FROM gc),
      |terms AS (
      |  SELECT sc.source, sc.c_sw,
      |         CAST(ln((CAST(sc.c_sw AS DOUBLE) * n) / (CAST(ns.n_s AS DOUBLE) * c_w))
      |              AS DECIMAL(18,6)) AS lr
      |  FROM sc JOIN gc USING (w) JOIN ns USING (source), tot)
      |SELECT t.source, CAST(ns.n_s AS BIGINT) AS n_tokens,
      |       CAST(sum(t.c_sw * t.lr) AS DOUBLE) / ns.n_s AS kl_vs_corpus
      |FROM terms t JOIN ns ON t.source = ns.source
      |GROUP BY t.source, ns.n_s
      |ORDER BY t.source""".stripMargin

  // ---------------------------------------------------------------------
  // q114 — grouped heavy vocabulary: the top-5 word bigrams per
  // language by exact count. The per-slice companion to the global q61
  // sketch gate: corpus slices (languages, sources, time shards) get
  // their own frequency leaderboards for template/boilerplate triage.
  // Exact shape: explode bigrams (pure projection), ONE
  // partial-aggregable count keyed (lang, bigram-hash... the bigram
  // string itself here — at web scale hash the gram like q51), then a
  // rank window PARTITIONED by lang over the counted frame (parallel
  // per language, never a global sort; input to the window is
  // |distinct grams|, not tokens). Ties break lexicographically.
  // ---------------------------------------------------------------------
  private[graft] val TopGramsPerLang = 5

  def q114TopGramsPerLang(spark: SparkSession, sfDir: String): DataFrame = {
    val grams = Tables.documents(spark, sfDir)
      .select(col("lang"), toks.as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("lang"), explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i+1]))"))
        .as("bigram"))
    val counts = grams.groupBy(col("lang"), col("bigram"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("n").desc, col("bigram").asc)
    counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopGramsPerLang)
      .orderBy("lang", "rank")
  }

  val q114Sql: String =
    s"""SELECT lang, bigram, n, rank FROM (
       |  SELECT lang, bigram, n,
       |         ROW_NUMBER() OVER (PARTITION BY lang
       |                            ORDER BY n DESC, bigram) AS rank
       |  FROM (
       |    SELECT lang, u.bigram AS bigram, COUNT(*) AS n FROM (
       |      SELECT lang,
       |             unnest([{'bigram': toks[i] || ' ' || toks[i+1]}
       |                     for i in range(1, len(toks))]) AS u
       |      FROM (SELECT lang, regexp_split_to_array(trim(text), ' +') AS toks
       |            FROM documents)
       |      WHERE len(toks) >= 2)
       |    GROUP BY lang, u.bigram))
       |WHERE rank <= $TopGramsPerLang
       |ORDER BY lang, rank""".stripMargin

  // ---------------------------------------------------------------------
  // q115 — within-language percentile normalization of the q17 quality
  // score: percent_rank (exact, rank-based — no float accumulation to
  // drift) plus the decile bucket. Cross-language score calibration:
  // raw quality distributions differ per language, so curation quotas
  // (q45) cut on the NORMALIZED rank, not the raw score. The window
  // partitions by lang — parallel across languages; within one
  // language the rank input is the |docs-in-lang| scored frame. Rank
  // ties (equal scores) share a percent_rank by definition —
  // deterministic without a tiebreak column; the decile uses ntile
  // with a doc_id tiebreak for exact bucket boundaries.
  // ---------------------------------------------------------------------
  def q115QualityRank(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = qualityFrame(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("quality"))
    val byLang = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("quality"))
    val byLangTb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("quality"), col("doc_id"))
    scored
      .withColumn("pct_rank", round(percent_rank().over(byLang), 9))
      .withColumn("decile", ntile(10).over(byLangTb))
      .orderBy("doc_id")
  }

  val q115Sql: String = {
    val duckStop = stopwords.map(w => s"t = '$w'").mkString(" OR ")
    s"""SELECT doc_id, lang,
       |       0.4 * stop_ratio + 0.3 * (1.0 - punct_ratio) + 0.3 * len_sat
       |         AS quality,
       |       ROUND(PERCENT_RANK() OVER (PARTITION BY lang
       |           ORDER BY 0.4 * stop_ratio + 0.3 * (1.0 - punct_ratio)
       |                    + 0.3 * len_sat), 9) AS pct_rank,
       |       NTILE(10) OVER (PARTITION BY lang
       |           ORDER BY 0.4 * stop_ratio + 0.3 * (1.0 - punct_ratio)
       |                    + 0.3 * len_sat, doc_id) AS decile
       |FROM (
       |  SELECT doc_id, lang,
       |         CAST(len(list_filter(toks, t -> $duckStop)) AS DOUBLE)
       |           / len(toks) AS stop_ratio,
       |         CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
       |           / length(text) AS punct_ratio,
       |         LEAST(1.0, CAST(len(toks) AS DOUBLE) / 100.0) AS len_sat
       |  FROM (SELECT doc_id, lang, text,
       |               regexp_split_to_array(trim(text), ' +') AS toks
       |        FROM documents))
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q120 — exact grouped quartiles of document length per language: the
  // length-distribution audit behind per-language truncation budgets and
  // curation length cuts (an approximate p50 that is off by a bucket
  // moves a corpus-wide token budget by percent; quartiles over lengths
  // are cheap enough to do exactly).
  //
  // Shape: ONE shuffle on lang; `percentile` is Spark's exact sort-based
  // aggregate — per-group state is the value multiset, fine because the
  // group count is |langs| (tiny) and per-group rows are corpus-sized
  // but *length-valued* (8 bytes/row; the aggregate buffers a
  // counts-per-distinct-value map, and distinct lengths are bounded by
  // max doc length, NOT corpus size — the map stays small at any SF).
  // q57's approx_percentile is the sketch swap when even that map is too
  // hot. Interpolation math is EXACT in double here: quartile indices
  // are k/4 positions over integer lengths, so every interpolated value
  // is int + {0,.25,.5,.75}·int — dyadic rationals, bit-identical in
  // Spark and DuckDB (no rounding needed for the hash gate).
  // ---------------------------------------------------------------------
  def q120GroupedMedian(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        percentile(col("n_chars"), lit(0.25)).as("p25_chars"),
        percentile(col("n_chars"), lit(0.5)).as("median_chars"),
        percentile(col("n_chars"), lit(0.75)).as("p75_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("lang")

  val q120Sql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |       MIN(n_chars) AS min_chars,
      |       quantile_cont(n_chars, 0.25) AS p25_chars,
      |       quantile_cont(n_chars, 0.5) AS median_chars,
      |       quantile_cont(n_chars, 0.75) AS p75_chars,
      |       MAX(n_chars) AS max_chars
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // q127 — inverted-index build: token -> document frequency + ordered
  // posting list fingerprint + delta-varint size estimate. The core
  // search-engine / retrieval-corpus materialization (reference scope:
  // keyed aggregation, `rlink/src/api/function.rs` ReduceFunction class),
  // and the sizing input for an index-layout planner: `varint_bytes` is
  // the EXACT byte cost of the standard gap-encoded posting list
  // (Lucene/ES on-disk shape), computed without materializing any
  // encoding.
  //
  // Scale shape: ONE shuffle keyed on token. Per-doc token dedup happens
  // BEFORE the corpus-wide groupBy (array_distinct inside the scan
  // projection), so the shuffle carries each (token, doc) pair once. The
  // posting list itself is collect_list per token — per-group state is
  // df-sized, the Zipf head (stopwords) is the known hot key; at 100 TB a
  // deployment splits head terms by doc-range (the q31 salting shape,
  // noted not needed at bench SFs) — body/tail terms, i.e. the index
  // bulk, are small. The fingerprint + varint math are pure HOF
  // projections over the grouped array: no second shuffle, no window, no
  // explode-back.
  // ---------------------------------------------------------------------
  /** Varint (LEB128) byte cost of one non-negative gap value, as inline
    * SQL — full 9 tiers so the sizing stays exact for 63-bit ids/gaps. */
  private def vbSql(v: String): String =
    s"(CASE WHEN $v < 128 THEN 1 WHEN $v < 16384 THEN 2" +
      s" WHEN $v < 2097152 THEN 3 WHEN $v < 268435456 THEN 4" +
      s" WHEN $v < 34359738368 THEN 5 WHEN $v < 4398046511104 THEN 6" +
      s" WHEN $v < 562949953421312 THEN 7" +
      s" WHEN $v < 72057594037927936 THEN 8 ELSE 9 END)"

  def q127InvertedIndex(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(array_distinct(split(lower(trim(col("text"))), " +")))
          .as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"),
        sort_array(collect_list(col("doc_id"))).as("postings"))
      .select(col("token"), col("df"),
        md5(array_join(col("postings").cast("array<string>"), ","))
          .as("postings_fp"),
        // Spark's sequence(1, 0) DESCENDS — guard the df = 1 case.
        expr(s"CAST(${vbSql("postings[0]")} + (CASE WHEN size(postings) = 1" +
          " THEN 0 ELSE aggregate(" +
          "transform(sequence(1, size(postings) - 1)," +
          s"  i -> ${vbSql("(postings[i] - postings[i-1])")})," +
          " 0L, (a, x) -> a + x) END) AS BIGINT)").as("varint_bytes"))
      .orderBy("token")

  val q127Sql: String =
    s"""WITH pairs AS (
       |  SELECT DISTINCT token, doc_id FROM (
       |    SELECT doc_id,
       |           unnest(regexp_split_to_array(lower(trim(text)), ' +')) AS token
       |    FROM documents)),
       |gaps AS (
       |  SELECT token, doc_id,
       |         doc_id - lag(doc_id) OVER (PARTITION BY token ORDER BY doc_id)
       |           AS gap
       |  FROM pairs)
       |SELECT token, COUNT(*) AS df,
       |       md5(string_agg(doc_id, ',' ORDER BY doc_id)) AS postings_fp,
       |       CAST(SUM(CASE WHEN gap IS NULL THEN ${vbSql("doc_id")}
       |                     ELSE ${vbSql("gap")} END) AS BIGINT)
       |         AS varint_bytes
       |FROM gaps
       |GROUP BY token
       |ORDER BY token""".stripMargin

  // ---------------------------------------------------------------------
  // q128 — robust per-language length statistics: median + MAD (median
  // absolute deviation) + MAD-gated outlier counts. Mean/stddev outlier
  // gates break on the heavy-tailed length distributions web corpora
  // actually have (one 10 MB page moves the mean); median/MAD is the
  // robust-statistics standard the Gopher/C4 length rules approximate.
  //
  // Exactness: medians over BIGINT lengths interpolate at k/2 positions
  // -> halves; deviations |len - med| are then halves, and THEIR median
  // interpolates to quarters — all dyadic rationals, bit-identical in
  // binary64 across engines (same discipline as q120, one level deeper).
  // The outlier gate 3*MAD stays dyadic, so the comparison is exact.
  //
  // Scale shape: two grouped aggregations on lang (|langs| groups) with a
  // broadcast-sized join between them — the per-group percentile state is
  // bounded by DISTINCT LENGTH VALUES, not rows (q120's argument). No
  // window, no per-row state.
  // ---------------------------------------------------------------------
  def q128RobustStats(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("lang"), col("n_chars"))
    val med = docs.groupBy(col("lang"))
      .agg(percentile(col("n_chars"), lit(0.5)).as("median_chars"))
    val dev = docs.join(broadcast(med), Seq("lang"))
      .withColumn("dev", abs(col("n_chars") - col("median_chars")))
      .cache() // feeds the MAD aggregate AND the outlier count below
    val mad = dev.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        first(col("median_chars")).as("median_chars"),
        percentile(col("dev"), lit(0.5)).as("mad_chars"))
    val out = dev.join(broadcast(mad.select(col("lang"), col("mad_chars"))),
        Seq("lang"))
      .filter(col("dev") > lit(3) * col("mad_chars"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_outliers"))
    mad.join(out, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("median_chars"),
        col("mad_chars"), coalesce(col("n_outliers"), lit(0L)).as("n_outliers"))
      .orderBy("lang")
  }

  val q128Sql: String =
    """WITH med AS (
      |  SELECT lang, quantile_cont(n_chars, 0.5) AS median_chars
      |  FROM documents GROUP BY lang),
      |dev AS (
      |  SELECT d.lang, med.median_chars,
      |         abs(d.n_chars - med.median_chars) AS dev
      |  FROM documents d JOIN med ON d.lang = med.lang),
      |mad AS (
      |  SELECT lang, COUNT(*) AS n_docs,
      |         ANY_VALUE(median_chars) AS median_chars,
      |         quantile_cont(dev, 0.5) AS mad_chars
      |  FROM dev GROUP BY lang)
      |SELECT mad.lang, mad.n_docs, mad.median_chars, mad.mad_chars,
      |       COUNT(*) FILTER (WHERE dev.dev > 3 * mad.mad_chars)
      |         AS n_outliers
      |FROM mad JOIN dev ON mad.lang = dev.lang
      |GROUP BY mad.lang, mad.n_docs, mad.median_chars, mad.mad_chars
      |ORDER BY mad.lang""".stripMargin

  // ---------------------------------------------------------------------
  // q129 — collocation mining by pointwise mutual information: adjacent
  // word pairs that co-occur far more than their marginals predict
  // ("los angeles", "machine learning") — the standard phrase-detection
  // pass (word2vec's phrase pass, NLTK collocations) that decides what
  // becomes a single vocabulary unit before tokenizer training.
  //
  // Scored as the PMI RATIO p(w1,w2)/(p(w1)p(w2)) = c12*T/(cl*cr), NOT
  // its log: the ratio needs only IEEE multiply/divide (deterministic,
  // bit-identical across engines once the operation order is pinned),
  // where log would pull in libm. Counts fit double exactly below 2^53;
  // a 6-dp round guards the division. MinPairCount prunes hapax pairs —
  // the statistics are meaningless below it and it bounds the output to
  // the true collocation candidates.
  //
  // Scale shape: one bigram count shuffle (map-side combinable) + two
  // marginal aggregations DERIVED from the counted pair table (|pairs|
  // input, not corpus) + joins back on the pair table — Zipf-small; AQE
  // broadcasts the marginals when they fit. No window, no explode-back
  // through the corpus.
  // ---------------------------------------------------------------------
  private[graft] val MinPairCount = 5

  def q129PmiCollocations(spark: SparkSession, sfDir: String): DataFrame = {
    val bg = Tables.documents(spark, sfDir)
      .select(split(lower(trim(col("text"))), " +").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        """transform(sequence(0, size(toks) - 2),
          |  i -> struct(toks[i] AS w1, toks[i+1] AS w2))""".stripMargin)).as("u"))
      .select(col("u.w1").as("w1"), col("u.w2").as("w2"))
    val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .cache() // marginals + total + scoring all derive from this table
    val cl = c12.groupBy(col("w1")).agg(sum(col("c12")).as("cl"))
    val cr = c12.groupBy(col("w2")).agg(sum(col("c12")).as("cr"))
    val t = c12.agg(sum(col("c12")).as("t"))
    c12.filter(col("c12") >= MinPairCount)
      .join(cl, "w1").join(cr, "w2")
      .crossJoin(broadcast(t)) // 1-row total
      .select(col("w1"), col("w2"), col("c12"), col("cl"), col("cr"),
        round((col("c12").cast("double") * col("t")) /
          (col("cl").cast("double") * col("cr")), 6).as("pmi_ratio"))
      .orderBy("w1", "w2")
  }

  val q129Sql: String =
    s"""WITH bg AS (
       |  SELECT u.w1 AS w1, u.w2 AS w2 FROM (
       |    SELECT unnest([{'w1': toks[i+1], 'w2': toks[i+2]}
       |                   for i in range(0, len(toks) - 1)]) AS u
       |    FROM (SELECT regexp_split_to_array(lower(trim(text)), ' +') AS toks
       |          FROM documents)
       |    WHERE len(toks) >= 2)),
       |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
       |cl AS (SELECT w1, sum(c12) AS cl FROM c12 GROUP BY w1),
       |cr AS (SELECT w2, sum(c12) AS cr FROM c12 GROUP BY w2),
       |t AS (SELECT sum(c12) AS t FROM c12)
       |SELECT c12.w1, c12.w2, c12.c12,
       |       CAST(cl.cl AS BIGINT) AS cl, CAST(cr.cr AS BIGINT) AS cr,
       |       round((CAST(c12.c12 AS DOUBLE) * t.t) /
       |             (CAST(cl.cl AS DOUBLE) * cr.cr), 6) AS pmi_ratio
       |FROM c12 JOIN cl USING (w1) JOIN cr USING (w2), t
       |WHERE c12.c12 >= $MinPairCount
       |ORDER BY c12.w1, c12.w2""".stripMargin

  // ---------------------------------------------------------------------
  // q133 — BPE merge-pair counting, the inner step of byte-pair-encoding
  // tokenizer training: count adjacent SYMBOL pairs weighted by word
  // frequency; the argmax pair becomes the next merge rule.
  //
  // The efficiency point (Sennrich et al.'s original trick): the pair
  // scan runs over the WORD-FREQUENCY TABLE, not the corpus — one
  // corpus-sized count shuffle produces the Zipf-small vocab, and every
  // subsequent merge iteration is vocab-sized work. At 100 TB the corpus
  // pass happens once; the ~50k-iteration merge loop never touches it
  // again. This op materializes iteration 1 exactly (character symbols);
  // later iterations replace `substring` pairs with the current symbol
  // segmentation — same shape, same cost.
  //
  // All-integer weighted counts — bit-exact cross-engine; the pair
  // explode is a pure HOF projection over vocab rows.
  // ---------------------------------------------------------------------
  private[graft] val MergeMinCount = 2L

  def q133BpeMergeStep(spark: SparkSession, sfDir: String): DataFrame = {
    val vocab = Tables.documents(spark, sfDir)
      .select(explode(split(lower(trim(col("text"))), " +")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .filter(length(col("w")) >= 2)
    vocab
      .select(col("f"), explode(expr(
        """transform(sequence(1, length(w) - 1),
          |  i -> struct(substring(w, i, 1) AS l,
          |              substring(w, i + 1, 1) AS r))""".stripMargin)).as("u"))
      .groupBy(col("u.l").as("l"), col("u.r").as("r"))
      .agg(sum(col("f")).as("n_weighted"))
      .filter(col("n_weighted") >= MergeMinCount)
      .orderBy("l", "r")
  }

  val q133Sql: String =
    s"""WITH vocab AS (
       |  SELECT w, count(*) AS f FROM (
       |    SELECT unnest(regexp_split_to_array(lower(trim(text)), ' +')) AS w
       |    FROM documents) GROUP BY w),
       |pairs AS (
       |  SELECT f, unnest([{'l': w[i+1], 'r': w[i+2]}
       |                    for i in range(0, length(w) - 1)]) AS u
       |  FROM vocab WHERE length(w) >= 2)
       |SELECT u.l AS l, u.r AS r, CAST(sum(f) AS BIGINT) AS n_weighted
       |FROM pairs
       |GROUP BY 1, 2
       |HAVING sum(f) >= $MergeMinCount
       |ORDER BY l, r""".stripMargin

  // ---------------------------------------------------------------------
  // q147 — vocabulary growth curve (Heaps'-law measurement): distinct
  // 3-gram count as a function of corpus prefix size, in deciles of the
  // doc-id order. The sizing input for tokenizer/n-gram vocab budgets
  // and for extrapolating "how much new vocabulary will the next 10x of
  // crawl bring" — measured EXACTLY without re-scanning per prefix: a
  // gram first appears in exactly one decile, so per-gram min-bucket +
  // a 10-row running sum reconstructs all ten prefix counts from ONE
  // corpus pass. (Grams are the q20 trigram shingles — the unit whose
  // vocabulary actually grows; unigrams saturate immediately.)
  //
  // Shape: one gram-keyed partial-aggregable shuffle (min combines
  // map-side) carrying 16-byte gram hashes, never gram text; the
  // cumulative window sees 10 rows. The decile split is id-range
  // arithmetic against a broadcast 1-row max — no ntile, no per-doc
  // window.
  // ---------------------------------------------------------------------
  def q147VocabGrowth(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val mx = docs.agg((max(col("doc_id")) + 1).as("mx"))
    val firstBucket = docs.crossJoin(broadcast(mx))
      .select(expr("doc_id * 10 div mx").as("bucket"),
        split(lower(trim(col("text"))), " +").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("bucket"), explode(expr(
        """array_distinct(transform(sequence(0, size(toks) - 3),
          |  i -> md5(concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))))"""
          .stripMargin)).as("token"))
      .groupBy(col("token")).agg(min(col("bucket")).as("first_bucket"))
    firstBucket.groupBy(col("first_bucket").as("decile"))
      .agg(count(lit(1)).as("new_tokens"))
      .withColumn("cum_tokens", sum(col("new_tokens")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("decile"))
          .rowsBetween(Long.MinValue, 0)))
      .orderBy("decile")
  }

  val q147Sql: String =
    """WITH mx AS (SELECT max(doc_id) + 1 AS mx FROM documents),
      |fb AS (
      |  SELECT token, min(bucket) AS first_bucket FROM (
      |    SELECT doc_id * 10 // mx.mx AS bucket,
      |           unnest(list_distinct(
      |             [md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |              for i in range(1, len(toks) - 1)])) AS token
      |    FROM (SELECT doc_id,
      |                 regexp_split_to_array(lower(trim(text)), ' +') AS toks
      |          FROM documents), mx
      |    WHERE len(toks) >= 3)
      |  GROUP BY token)
      |SELECT first_bucket AS decile, COUNT(*) AS new_tokens,
      |       CAST(SUM(COUNT(*)) OVER (ORDER BY first_bucket
      |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      |FROM fb
      |GROUP BY first_bucket
      |ORDER BY decile""".stripMargin

  // ---------------------------------------------------------------------
  // q149 — BM25 ranked retrieval (Okapi, Lucene idf form): the scoring
  // function behind every inverted-index search engine, run as a
  // set-based query: score(d) = Σ_t idf(t) · tf·(k1+1) /
  // (tf + k1·(1−b+b·dl/avgdl)), k1 = 1.2, b = 0.75. The query here is
  // the corpus's own top-3 tokens (deterministic, exists at every SF);
  // production passes literal terms through the same plan.
  //
  // Shape: term frequencies are ONE explode + (doc, token) count
  // filtered by a broadcast 3-row term table (at scale this filter
  // pushes into the scan — only query-term postings survive the map
  // side, the q127 index turned inside out); N/avgdl are broadcast
  // 1-row aggregates; the final top-k is TakeOrderedAndProject.
  //
  // Float discipline: idf's ln and each per-term partial score are
  // rounded to DECIMAL(18,6) (q55's trick — libm ulp differences live
  // at 1e-16, far below the 1e-6 grid), so the per-doc sum is
  // order-insensitive and engine-identical.
  // ---------------------------------------------------------------------
  private val Bm25K1 = "1.2e0" // e-notation => DOUBLE literal in BOTH engines
  private val Bm25B  = "0.75e0"
  private[graft] val Bm25TopK = 20

  def q149Bm25(spark: SparkSession, sfDir: String): DataFrame =
    bm25Scores(spark, sfDir)
      .orderBy(desc("score"), col("doc_id").asc).limit(Bm25TopK)
      .orderBy("doc_id")

  /** Full BM25-scored candidate set (every document containing a query
    * term), shared by q149's top-k and q179's fusion pool. */
  private[graft] def bm25Scores(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(lower(trim(col("text"))), " +").as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("dl"))
      .cache() // feeds corpus stats, term stats, and scoring
    val corpus = d.agg(count(lit(1)).as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tok = d.select(col("doc_id"), col("dl"), explode(col("toks")).as("t"))
    val qterms = tok.groupBy(col("t"))
      .agg(count(lit(1)).as("ctot"), countDistinct(col("doc_id")).as("df"))
      .orderBy(desc("ctot"), col("t").asc).limit(3)
      .crossJoin(broadcast(corpus))
      .select(col("t"), col("df"),
        expr("CAST(round(ln((n - df + 0.5e0) / (df + 0.5e0) + 1e0), 6) " +
          "AS DECIMAL(18,6))").as("idf"),
        col("avgdl"))
    val tf = tok.join(broadcast(qterms), Seq("t"))
      .groupBy(col("doc_id"), col("t"), col("dl"), col("idf"), col("avgdl"))
      .agg(count(lit(1)).as("tf"))
    tf.select(col("doc_id"),
        expr(s"CAST(round(CAST(idf AS DOUBLE) * (tf * ($Bm25K1 + 1e0)) / " +
          s"(tf + $Bm25K1 * (1e0 - $Bm25B + $Bm25B * dl / avgdl)), 6) " +
          "AS DECIMAL(18,6))").as("part"))
      .groupBy(col("doc_id"))
      .agg(sum(col("part")).as("sc"), count(lit(1)).as("n_terms"))
      .select(col("doc_id"), col("sc").cast("double").as("score"),
        col("n_terms"))
  }

  val q149Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), ' +') AS toks
       |  FROM documents),
       |dd AS (SELECT doc_id, toks, len(toks)::BIGINT AS dl FROM d),
       |corpus AS (
       |  SELECT count(*) AS n,
       |         CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl
       |  FROM dd),
       |tok AS (SELECT doc_id, dl, unnest(toks) AS t FROM dd),
       |qt AS (
       |  SELECT t, count(*) AS ctot, count(DISTINCT doc_id) AS df
       |  FROM tok GROUP BY t ORDER BY ctot DESC, t ASC LIMIT 3),
       |qterms AS (
       |  SELECT t, df,
       |         CAST(round(ln((n - df + 0.5e0) / (df + 0.5e0) + 1e0), 6)
       |              AS DECIMAL(18,6)) AS idf,
       |         avgdl
       |  FROM qt, corpus),
       |tf AS (
       |  SELECT doc_id, tok.t, dl, idf, avgdl, count(*) AS tf
       |  FROM tok JOIN qterms ON tok.t = qterms.t
       |  GROUP BY doc_id, tok.t, dl, idf, avgdl),
       |scored AS (
       |  SELECT doc_id,
       |         CAST(round(CAST(idf AS DOUBLE) * (tf * ($Bm25K1 + 1e0)) /
       |              (tf + $Bm25K1 * (1e0 - $Bm25B + $Bm25B * dl / avgdl)), 6)
       |              AS DECIMAL(18,6)) AS part
       |  FROM tf)
       |SELECT doc_id, score, n_terms FROM (
       |  SELECT doc_id, CAST(SUM(part) AS DOUBLE) AS score,
       |         COUNT(*) AS n_terms
       |  FROM scored GROUP BY doc_id
       |  ORDER BY score DESC, doc_id ASC LIMIT $Bm25TopK)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q179 — reciprocal-rank fusion of two retrieval signals (Cormack,
  // Clarke & Büttcher 2009): fused(d) = Σ_r 1/(K + rank_r(d)) over a
  // query-DEPENDENT ranker (q149's BM25) and a query-INDEPENDENT prior
  // (q17's quality score) — the standard hybrid-retrieval merge (search
  // engines fuse lexical relevance with static priors exactly this way;
  // RRF needs only RANKS, so incomparable score scales fuse soundly).
  //
  // Scale shape: RRF consumes each ranker's TOP-POOL list, so each side
  // is one bounded TakeOrderedAndProject (never a global sort); the
  // rank-assignment windows run over POOL rows (bounded single task by
  // construction), the fusion is one full-outer join of two pool-sized
  // frames, and the final top-k is again bounded. A document missing
  // from a pool contributes 0 to the sum (rank printed as 0).
  //
  // Float discipline: ranks are ints; the fused score is two fixed
  // single divisions + one add — bit-identical cross-engine.
  // ---------------------------------------------------------------------
  private[graft] val RrfK    = 60 // the paper's constant
  private[graft] val RrfPool = 50 // per-ranker candidate depth
  private[graft] val RrfTopK = 20

  def q179RrfFusion(spark: SparkSession, sfDir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val a = bm25Scores(spark, sfDir)
      .orderBy(desc("score"), col("doc_id").asc).limit(RrfPool)
      .select(col("doc_id"), row_number()
        .over(W.orderBy(desc("score"), col("doc_id").asc)).as("ra"))
    val b = qualityFrame(spark, sfDir)
      .select(col("doc_id"), col("quality"))
      .orderBy(desc("quality"), col("doc_id").asc).limit(RrfPool)
      .select(col("doc_id"), row_number()
        .over(W.orderBy(desc("quality"), col("doc_id").asc)).as("rb"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("ra"), col("rb"),
        (coalesce(lit(1.0) / (lit(RrfK) + col("ra")), lit(0.0))
          + coalesce(lit(1.0) / (lit(RrfK) + col("rb")), lit(0.0)))
          .as("rrf"))
      .orderBy(desc("rrf"), col("doc_id").asc).limit(RrfTopK)
      .select(col("doc_id"),
        coalesce(col("ra"), lit(0)).as("ra"),
        coalesce(col("rb"), lit(0)).as("rb"), col("rrf"))
      .orderBy("doc_id")
  }

  val q179Sql: String = {
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), ' +') AS toks
       |  FROM documents),
       |dd AS (SELECT doc_id, toks, len(toks)::BIGINT AS dl FROM d),
       |corpus AS (
       |  SELECT count(*) AS n,
       |         CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl
       |  FROM dd),
       |tok AS (SELECT doc_id, dl, unnest(toks) AS t FROM dd),
       |qt AS (
       |  SELECT t, count(*) AS ctot, count(DISTINCT doc_id) AS df
       |  FROM tok GROUP BY t ORDER BY ctot DESC, t ASC LIMIT 3),
       |qterms AS (
       |  SELECT t, df,
       |         CAST(round(ln((n - df + 0.5e0) / (df + 0.5e0) + 1e0), 6)
       |              AS DECIMAL(18,6)) AS idf,
       |         avgdl
       |  FROM qt, corpus),
       |tf AS (
       |  SELECT doc_id, tok.t, dl, idf, avgdl, count(*) AS tf
       |  FROM tok JOIN qterms ON tok.t = qterms.t
       |  GROUP BY doc_id, tok.t, dl, idf, avgdl),
       |scored AS (
       |  SELECT doc_id,
       |         CAST(round(CAST(idf AS DOUBLE) * (tf * ($Bm25K1 + 1e0)) /
       |              (tf + $Bm25K1 * (1e0 - $Bm25B + $Bm25B * dl / avgdl)), 6)
       |              AS DECIMAL(18,6)) AS part
       |  FROM tf),
       |a AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS ra
       |  FROM (SELECT doc_id, CAST(SUM(part) AS DOUBLE) AS score
       |        FROM scored GROUP BY doc_id
       |        ORDER BY score DESC, doc_id LIMIT $RrfPool)),
       |q AS (
       |  SELECT doc_id, $qualityExprSql AS quality
       |  FROM (
       |  $qualityFeatureSql)),
       |b AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY quality DESC, doc_id) AS rb
       |  FROM (SELECT doc_id, quality FROM q
       |        ORDER BY quality DESC, doc_id LIMIT $RrfPool)),
       |f AS (
       |  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id, ra, rb,
       |         COALESCE(1e0 / ($RrfK + ra), 0e0)
       |           + COALESCE(1e0 / ($RrfK + rb), 0e0) AS rrf
       |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
       |SELECT doc_id, COALESCE(ra, 0) AS ra, COALESCE(rb, 0) AS rb, rrf
       |FROM (SELECT * FROM f ORDER BY rrf DESC, doc_id LIMIT $RrfTopK)
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q184 — inter-rater agreement (Cohen's kappa) between the q18
  // heuristic language classifier and the gold `lang` column: the
  // weak-supervision audit every labeling pipeline runs — raw accuracy
  // (p_o) overstates agreement whenever the class distribution is
  // skewed, so the chance-corrected kappa = (p_o − p_e)/(1 − p_e) is
  // the number a labeling-quality gate thresholds. The class set is
  // the UNION of both raters' labels ('unknown' predictions enter p_e
  // with a zero gold marginal, the textbook treatment).
  //
  // Shape: one corpus scan into a |classes|² confusion aggregate;
  // marginals and totals are aggregates OF that aggregate. The chance
  // term Σ row_c·col_c accumulates factor-cast DECIMAL(38,0) products
  // (two 10^12-row marginals overflow an int64 product); p_o, p_e, and
  // kappa are fixed single-op chains mirrored in the oracle.
  // ---------------------------------------------------------------------
  def q184AgreementKappa(spark: SparkSession, sfDir: String): DataFrame = {
    val preds = q18LangId(spark, sfDir)
      .select(col("lang").as("gold"), col("guess").as("pred"))
    val conf = preds.groupBy(col("gold"), col("pred"))
      .agg(count(lit(1)).as("c"))
    val rows = conf.groupBy(col("gold").as("cls")).agg(sum(col("c")).as("row_n"))
    val cols = conf.groupBy(col("pred").as("cls")).agg(sum(col("c")).as("col_n"))
    val classes = rows.select(col("cls")).unionAll(cols.select(col("cls")))
      .distinct()
    val s = classes
      .join(rows, Seq("cls"), "left").join(cols, Seq("cls"), "left")
      .agg(sum(coalesce(col("row_n"), lit(0L)).cast("decimal(38,0)")
        * coalesce(col("col_n"), lit(0L))).as("s"))
    val t = conf.agg(sum(col("c")).as("n"),
      sum(when(col("gold") === col("pred"), col("c")).otherwise(0L))
        .as("agree"))
    t.crossJoin(broadcast(s))
      .select(col("n"), col("agree"),
        (col("agree").cast("double") / col("n")).as("po"),
        (col("s").cast("double")
          / (col("n").cast("double") * col("n"))).as("pe"))
      .select(col("n"), col("agree"), col("po"), col("pe"),
        ((col("po") - col("pe")) / (lit(1.0) - col("pe"))).as("kappa"))
  }

  val q184Sql: String = {
    val counts = markers.map { case (l, ws) =>
      val pred = ws.map(w => s"t = '$w'").mkString(" OR ")
      s"len(list_filter(toks, t -> $pred)) AS c_$l"
    }.mkString(",\n           ")
    val langs = markers.map(_._1)
    val cases = langs.map { l =>
      val conds = (langs.filter(_ != l).map(o => s"c_$l >= c_$o") :+ s"c_$l > 0")
        .mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("\n                ")
    s"""WITH g AS (
       |  SELECT lang AS gold,
       |         CASE $cases
       |              ELSE 'unknown' END AS pred
       |  FROM (
       |    SELECT lang,
       |           $counts
       |    FROM (SELECT lang, regexp_split_to_array(trim(text), ' +') AS toks
       |          FROM documents))),
       |conf AS (SELECT gold, pred, count(*) AS c FROM g GROUP BY 1, 2),
       |r AS (SELECT gold AS cls, CAST(SUM(c) AS BIGINT) AS row_n
       |      FROM conf GROUP BY 1),
       |p AS (SELECT pred AS cls, CAST(SUM(c) AS BIGINT) AS col_n
       |      FROM conf GROUP BY 1),
       |cls AS (SELECT DISTINCT cls
       |        FROM (SELECT cls FROM r UNION ALL SELECT cls FROM p)),
       |s AS (SELECT SUM(CAST(COALESCE(row_n, 0) AS DECIMAL(38,0))
       |                 * COALESCE(col_n, 0)) AS s
       |      FROM cls LEFT JOIN r USING (cls) LEFT JOIN p USING (cls)),
       |t AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
       |             CAST(SUM(CASE WHEN gold = pred THEN c ELSE 0 END)
       |                  AS BIGINT) AS agree
       |      FROM conf)
       |SELECT n, agree, po, pe, (po - pe) / (1e0 - pe) AS kappa
       |FROM (SELECT n, agree,
       |             CAST(agree AS DOUBLE) / n AS po,
       |             CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * n) AS pe
       |      FROM t, s)""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q186 — CCNet-style perplexity bucketing (Wenzek et al. 2020): score
  // every document by its cross-entropy under a corpus language model
  // (here add-one-smoothed unigram — the oracle-checkable stand-in for
  // CCNet's KenLM) and split the corpus into head/middle/tail TERCILES
  // — the quality-prior partition CCNet feeds downstream filters. The
  // tercile cuts are EXACT order statistics computed by q175's bounded
  // bucket-narrowing selection, never a global ntile window (ntile is
  // the single-task plan at corpus scale).
  //
  // Float discipline: per-instance -ln p(t) terms quantize to
  // DECIMAL(18,6) (q55's trick) so the per-doc sum is order-insensitive
  // and engine-identical; xent is ONE division; the rank rule
  // k = ceil(n/3) / ceil(2n/3) is the same IEEE expression both
  // engines evaluate, and bucketing compares against the exact cut
  // values (raw data doubles).
  // ---------------------------------------------------------------------
  def q186PerplexityBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(
        split(lower(trim(col("text"))), " +")).as("w"))
      .cache() // feeds vocabulary counts AND the scoring join
    val uni = tok.groupBy(col("w")).agg(count(lit(1)).as("c")).cache()
    val vocab = uni.count()
    val nTok = tok.count()
    val denom = (nTok + vocab).toDouble
    val perdoc = tok.join(uni, "w")
      .select(col("doc_id"),
        (-log((col("c") + lit(1.0)) / lit(denom)))
          .cast("decimal(18,6)").as("nlp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"), sum(col("nlp")).as("s"))
      .select(col("doc_id"), col("n_toks"),
        (col("s").cast("double") / col("n_toks")).as("xent"))
      .cache() // cut selection scans it repeatedly, bucketing once
    val nDocs = perdoc.count()
    val k1 = math.max(1L, math.ceil(nDocs / 3.0).toLong)
    val k2 = math.max(1L, math.ceil(2.0 * nDocs / 3.0).toLong)
    val xents = perdoc.select(col("xent").as("v"))
    val c1 = Profiling.exactKth(xents, k1)
    val c2 = Profiling.exactKth(xents, k2)
    val out = perdoc
      .select(col("doc_id"), col("n_toks"), col("xent"),
        when(col("xent") <= c1, "head")
          .when(col("xent") <= c2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
      .localCheckpoint(true) // materialize before releasing the caches
    perdoc.unpersist(); uni.unpersist(); tok.unpersist()
    out
  }

  val q186Sql: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), ' +') AS toks
      |  FROM documents),
      |tok AS (SELECT doc_id, unnest(toks) AS w FROM d),
      |uni AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
      |m AS (SELECT (SELECT count(*) FROM tok) AS nn,
      |             (SELECT count(*) FROM uni) AS vv),
      |perdoc AS (
      |  SELECT doc_id, COUNT(*) AS n_toks,
      |         CAST(SUM(nlp) AS DOUBLE) / COUNT(*) AS xent
      |  FROM (SELECT doc_id,
      |               CAST(-ln((c + 1e0) / (nn + vv)) AS DECIMAL(18,6)) AS nlp
      |        FROM tok JOIN uni USING (w), m)
      |  GROUP BY doc_id),
      |nd AS (SELECT count(*) AS n FROM perdoc),
      |r AS (SELECT xent, row_number() OVER (ORDER BY xent) AS rn FROM perdoc),
      |cuts AS (
      |  SELECT (SELECT xent FROM r, nd
      |          WHERE rn = greatest(1, CAST(ceil(n / 3e0) AS BIGINT))) AS c1,
      |         (SELECT xent FROM r, nd
      |          WHERE rn = greatest(1, CAST(ceil(2e0 * n / 3e0) AS BIGINT)))
      |           AS c2)
      |SELECT doc_id, n_toks, xent,
      |       CASE WHEN xent <= c1 THEN 'head'
      |            WHEN xent <= c2 THEN 'middle'
      |            ELSE 'tail' END AS bucket
      |FROM perdoc, cuts
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q160 — tokenizer fertility report per language: chars-per-BPE-token
  // and BPE-tokens-per-word — the metrics that decide whether a
  // tokenizer under-serves a language (high fertility = more tokens per
  // unit text = that language pays more context budget per sentence;
  // the multilingual-tokenizer-evaluation standard). Uses q32's BPE-ish
  // pre-tokenization over corpus-exact integer sums; ratios are single
  // pinned 6-dp double divisions.
  //
  // Shape: one scan (both tokenizations ride the same projection), one
  // |langs|-group partial-aggregable shuffle of 4 longs.
  // ---------------------------------------------------------------------
  def q160Fertility(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("lang"), length(col("text")).cast("long").as("n_chars_t"),
        size(regexp_extract_all(col("text"), lit(bpePattern), lit(0)))
          .cast("long").as("n_bpe"),
        size(split(trim(col("text")), " +")).cast("long").as("n_words"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars_t")).as("chars"),
        sum(col("n_bpe")).as("bpe_tokens"),
        sum(col("n_words")).as("words"))
      .withColumn("chars_per_token",
        expr("round(CAST(chars AS DOUBLE) / bpe_tokens, 6)"))
      .withColumn("fertility",
        expr("round(CAST(bpe_tokens AS DOUBLE) / words, 6)"))
      .orderBy("lang")

  val q160Sql: String =
    s"""SELECT lang, COUNT(*) AS n_docs,
       |       CAST(SUM(length(text)) AS BIGINT) AS chars,
       |       CAST(SUM(len(regexp_extract_all(text,
       |              '${bpePattern.replace("'", "''")}'))) AS BIGINT)
       |         AS bpe_tokens,
       |       CAST(SUM(len(regexp_split_to_array(trim(text), ' +')))
       |            AS BIGINT) AS words,
       |       round(CAST(SUM(length(text)) AS DOUBLE) /
       |             SUM(len(regexp_extract_all(text,
       |               '${bpePattern.replace("'", "''")}'))), 6)
       |         AS chars_per_token,
       |       round(CAST(SUM(len(regexp_extract_all(text,
       |               '${bpePattern.replace("'", "''")}'))) AS DOUBLE) /
       |             SUM(len(regexp_split_to_array(trim(text), ' +'))), 6)
       |         AS fertility
       |FROM documents
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // q161 — Zipf exponent per source: the slope of the log-log
  // rank-frequency line over each source's token vocabulary — the
  // corpus-statistics fingerprint (natural language sits near −1;
  // boilerplate-heavy or synthetic sources drift). OLS over
  // (ln rank, ln freq) with q55's libm discipline: each log is rounded
  // to DECIMAL(18,6) BEFORE the sums, so every sufficient statistic is
  // an exact decimal and the slope is one pinned double expression —
  // bit-identical cross-engine despite ln.
  //
  // Shape: one (source, token) count shuffle; ranks are per-source
  // windows over the VOCABULARY (Zipf-small, partition-parallel); the
  // slope fold is q104's sufficient-statistics aggregate.
  // ---------------------------------------------------------------------
  def q161ZipfSlope(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(spark, sfDir)
      .select(col("source"),
        explode(split(lower(trim(col("text"))), " +")).as("t"))
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("f"))
    val xy = counts
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(desc("f"), col("t").asc)).cast("long"))
      .select(col("source"),
        expr("CAST(round(ln(rank), 6) AS DECIMAL(18,6))").as("x"),
        expr("CAST(round(ln(f), 6) AS DECIMAL(18,6))").as("y"))
    xy.groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("source"), col("n"),
        expr("round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) " +
          "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
          "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) " +
          "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)")
          .as("zipf_slope"))
      .orderBy("source")
  }

  val q161Sql: String =
    """WITH c AS (
      |  SELECT source, t, count(*) AS f FROM (
      |    SELECT source,
      |           unnest(regexp_split_to_array(lower(trim(text)), ' +')) AS t
      |    FROM documents)
      |  GROUP BY source, t),
      |xy AS (
      |  SELECT source,
      |         CAST(round(ln(ROW_NUMBER() OVER (
      |           PARTITION BY source ORDER BY f DESC, t ASC)), 6)
      |           AS DECIMAL(18,6)) AS x,
      |         CAST(round(ln(f), 6) AS DECIMAL(18,6)) AS y
      |  FROM c)
      |SELECT source, COUNT(*) AS n,
      |       round((CAST(COUNT(*) AS DOUBLE) * CAST(SUM(x * y) AS DOUBLE)
      |              - CAST(SUM(x) AS DOUBLE) * CAST(SUM(y) AS DOUBLE)) /
      |             (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(x * x) AS DOUBLE)
      |              - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)), 6)
      |         AS zipf_slope
      |FROM xy
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // q163 — n-gram novelty per document: the fraction of a doc's distinct
  // word trigrams whose corpus-wide FIRST occurrence (min doc_id) is
  // this document. Low novelty = the doc is mostly recombined
  // already-seen text (late-crawl mirror, template farm); the per-doc
  // novelty is the memorization-risk/diversity score a curation
  // pipeline sorts by, and summed in doc_id order it IS the corpus
  // novelty curve (how fast fresh n-grams arrive as the crawl grows).
  //
  // Shape: distinct grams per doc explode ONCE to (doc_id, 16-byte gram
  // md5); the first-occurrence table is a partial-aggregable
  // min(doc_id) per hash; the verdict is a re-join on the same hash —
  // shuffles carry (hash, id), never text, exactly q64's key
  // discipline. Docs with < 3 tokens have no trigrams and report 0/0
  // with a NULL novelty.
  // ---------------------------------------------------------------------
  def q163Novelty(spark: SparkSession, sfDir: String): DataFrame = {
    val grams = Tables.documents(spark, sfDir)
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        """array_distinct(transform(sequence(0, size(toks) - 3),
          |  i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))""".stripMargin))
        .as("g"))
      .select(col("doc_id"), unhex(md5(col("g"))).as("gh"))
    val first = grams.groupBy(col("gh")).agg(min(col("doc_id")).as("first_doc"))
    val per = grams.join(first, "gh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
    Tables.documents(spark, sfDir).select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        round(col("n_novel").cast("double") / col("n_grams"), 9).as("novelty"))
      .orderBy("doc_id")
  }

  val q163Sql: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
      |  FROM documents),
      |gr AS (
      |  SELECT doc_id,
      |         unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |                               for i in range(1, len(toks) - 1)])) AS g
      |  FROM d WHERE len(toks) >= 3),
      |f AS (SELECT g, MIN(doc_id) AS first_doc FROM gr GROUP BY g),
      |p AS (
      |  SELECT gr.doc_id, COUNT(*) AS n_grams,
      |         CAST(SUM(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)
      |           AS BIGINT) AS n_novel
      |  FROM gr JOIN f USING (g) GROUP BY gr.doc_id)
      |SELECT d0.doc_id,
      |       coalesce(p.n_grams, 0) AS n_grams,
      |       coalesce(p.n_novel, 0) AS n_novel,
      |       ROUND(CAST(p.n_novel AS DOUBLE) / p.n_grams, 9) AS novelty
      |FROM (SELECT doc_id FROM documents) d0 LEFT JOIN p USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q164 — quality-threshold sweep (the curation ROC): for each cutoff
  // t in {0.0 .. 0.9}, what keeping quality >= t costs and buys —
  // docs kept, fraction kept, tokens kept, and the mean quality of the
  // kept set. This is how a pipeline TUNES q45's cutoff: the elbow of
  // (frac_kept, mean_quality) is the operating point, and tokens_kept
  // is the training-budget axis. q134 sweeps packing the same way.
  //
  // Shape: ONE scan, one 1-row aggregate — all 10 thresholds evaluate
  // as conditional sums inside a single partial-aggregable fold (q100's
  // wide-aggregate-then-explode pivot), so the sweep costs exactly one
  // pass regardless of grid size. Mean quality uses the q55 decimal
  // discipline (quality is transcendental-free, so its doubles are
  // bit-identical cross-engine; the DECIMAL(18,6) cast makes the SUM
  // order-insensitive).
  // ---------------------------------------------------------------------
  def q164QualityRoc(spark: SparkSession, sfDir: String): DataFrame = {
    val q = qualityFrame(spark, sfDir)
      .select(col("n_tokens").cast("long").as("n_tokens"), col("quality"))
    val aggs: Seq[Column] = Seq(count(lit(1)).as("total")) ++
      (0 to 9).flatMap { i =>
        val kept = col("quality") >= lit(i) / lit(10.0)
        Seq(
          sum(when(kept, 1L).otherwise(0L)).as(s"k_$i"),
          sum(when(kept, col("n_tokens")).otherwise(0L)).as(s"t_$i"),
          sum(when(kept, expr("CAST(quality AS DECIMAL(18,6))"))
            .otherwise(lit(0).cast("decimal(18,6)"))).as(s"q_$i"))
      }
    val one = q.agg(aggs.head, aggs.tail: _*)
    val entries = (0 to 9).map { i =>
      struct(
        (lit(i) / lit(10.0)).as("thr"),
        col(s"k_$i").as("n_kept"),
        col("total").as("n_total"),
        col(s"t_$i").as("kept_tokens"),
        round(col(s"k_$i").cast("double") / col("total"), 9).as("frac_kept"),
        when(col(s"k_$i") === 0L, lit(null).cast("double"))
          .otherwise(round(col(s"q_$i").cast("double") / col(s"k_$i"), 6))
          .as("mean_quality"))
    }
    one.select(explode(array(entries: _*)).as("s"))
      .select(col("s.thr"), col("s.n_kept"), col("s.n_total"),
        col("s.kept_tokens"), col("s.frac_kept"), col("s.mean_quality"))
      .orderBy("thr")
  }

  val q164Sql: String =
    s"""WITH q AS (
       |  SELECT CAST(len(toks) AS BIGINT) AS n_tokens,
       |         0.4 * (CAST(len(list_filter(toks, t -> $stopPredSql)) AS DOUBLE)
       |                / len(toks))
       |         + 0.3 * (1.0 - CAST(length(text) -
       |             length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
       |             / length(text))
       |         + 0.3 * LEAST(1.0, CAST(len(toks) AS DOUBLE) / 100.0) AS quality
       |  FROM (SELECT text, regexp_split_to_array(trim(text), ' +') AS toks
       |        FROM documents)),
       |g AS (SELECT range / 10.0 AS thr FROM range(0, 10))
       |SELECT thr,
       |       CAST(SUM(CASE WHEN quality >= thr THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_kept,
       |       COUNT(*) AS n_total,
       |       CAST(SUM(CASE WHEN quality >= thr THEN n_tokens ELSE 0 END)
       |         AS BIGINT) AS kept_tokens,
       |       ROUND(CAST(SUM(CASE WHEN quality >= thr THEN 1 ELSE 0 END)
       |           AS DOUBLE) / COUNT(*), 9) AS frac_kept,
       |       CASE WHEN SUM(CASE WHEN quality >= thr THEN 1 ELSE 0 END) = 0
       |            THEN NULL
       |            ELSE ROUND(CAST(SUM(CASE WHEN quality >= thr
       |                THEN CAST(quality AS DECIMAL(18,6))
       |                ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
       |              / SUM(CASE WHEN quality >= thr THEN 1 ELSE 0 END), 6)
       |       END AS mean_quality
       |FROM q CROSS JOIN g
       |GROUP BY thr
       |ORDER BY thr""".stripMargin

  // ---------------------------------------------------------------------
  // q165 — out-of-vocabulary rate per source against a fixed top-K
  // corpus vocabulary: the tokenizer-coverage audit. A source whose
  // token mass falls outside the vocabulary will fragment into long
  // byte-level token sequences (q160's fertility measures the symptom;
  // this measures the cause) — the number a pipeline checks before
  // committing a tokenizer to a new source mix. VocabK = 25 here so the
  // tiny synthetic vocabulary still yields non-trivial rates; the
  // production value (32k/50k) changes nothing structural.
  //
  // Shape: one (token) count aggregate, a TakeOrdered top-K (vocab-
  // sized — never a global row_number window), and one broadcast-sized
  // semi-join verdict per exploded token, re-aggregated per source.
  // Ties at the K boundary break deterministically by token text.
  // ---------------------------------------------------------------------
  private[graft] val VocabK = 25

  def q165OovRate(spark: SparkSession, sfDir: String): DataFrame = {
    val tokens = Tables.documents(spark, sfDir)
      .select(col("source"), explode(toks).as("token"))
    val vocab = tokens.groupBy(col("token")).agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), col("token").asc).limit(VocabK)
      .select(col("token"), lit(1).as("in_vocab"))
    tokens.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens"), 9))
      .orderBy("source")
  }

  val q165Sql: String =
    s"""WITH tok AS (
       |  SELECT source, unnest(regexp_split_to_array(trim(text), ' +')) AS token
       |  FROM documents),
       |vocab AS (
       |  SELECT token FROM (
       |    SELECT token, COUNT(*) AS c FROM tok GROUP BY token
       |    ORDER BY c DESC, token ASC LIMIT $VocabK))
       |SELECT source, COUNT(*) AS n_tokens,
       |       CAST(SUM(CASE WHEN vocab.token IS NULL THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_oov,
       |       ROUND(CAST(SUM(CASE WHEN vocab.token IS NULL THEN 1 ELSE 0 END)
       |           AS DOUBLE) / COUNT(*), 9) AS oov_rate
       |FROM tok LEFT JOIN vocab USING (token)
       |GROUP BY source
       |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // q166 — per-document token-distribution Shannon entropy (nats): the
  // information-theoretic diversity score that separates natural text
  // (high entropy for its length) from keyword stuffing and template
  // spam (low) — the finer-grained companion to q38's duplicate-token
  // ratio in a Gopher-style quality suite. Each (doc, token-type) term
  // (c/n)·ln(n/c) is rounded to DECIMAL(18,6) BEFORE the per-doc sum
  // (q55/q161's libm discipline: ln is not correctly rounded, summation
  // must be order-insensitive), so the entropy is bit-identical
  // cross-engine.
  //
  // Shape: one (doc, token) count shuffle; n comes from a per-doc
  // re-aggregation of those counts (no second corpus scan); the entropy
  // fold is partial-aggregable. All corpus-scale keys are (doc_id).
  // ---------------------------------------------------------------------
  def q166TokenEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val tf = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(toks).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("c"))
    val n = tf.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_types"))
    tf.join(n, "doc_id")
      .select(col("doc_id"), col("n"), col("n_types"),
        expr("""CAST(round((CAST(c AS DOUBLE) / n)
                |  * ln(CAST(n AS DOUBLE) / c), 6) AS DECIMAL(18,6))"""
          .stripMargin).as("term"))
      .groupBy(col("doc_id"))
      .agg(first(col("n")).as("n_tokens"), first(col("n_types")).as("n_types"),
        sum(col("term")).cast("double").as("entropy"))
      .orderBy("doc_id")
  }

  val q166Sql: String =
    """WITH tf AS (
      |  SELECT doc_id, token, COUNT(*) AS c FROM (
      |    SELECT doc_id, unnest(regexp_split_to_array(trim(text), ' +')) AS token
      |    FROM documents)
      |  GROUP BY doc_id, token),
      |n AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS n_types
      |  FROM tf GROUP BY doc_id)
      |SELECT tf.doc_id, MIN(n.n) AS n_tokens, MIN(n.n_types) AS n_types,
      |       CAST(SUM(CAST(round((CAST(c AS DOUBLE) / n.n)
      |           * ln(CAST(n.n AS DOUBLE) / c), 6) AS DECIMAL(18,6)))
      |         AS DOUBLE) AS entropy
      |FROM tf JOIN n USING (doc_id)
      |GROUP BY tf.doc_id
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q167 — bigram-LM cross-entropy per document (the CCNet/KenLM-style
  // perplexity filter): train an add-one-smoothed bigram model on the
  // corpus itself, then score every document by its mean per-bigram
  // negative log-likelihood. Outlier-high cross-entropy = text the
  // corpus's own statistics find improbable (boilerplate soup, OCR
  // noise); the pipeline drops or down-weights by this score exactly as
  // CCNet does with its web-trained LM.
  //
  // Model: p(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V), so
  // -ln p = ln((c(w1) + V) / (c(w1,w2) + 1)) — counts over ALL token
  // positions, V = |vocabulary|. Each per-bigram term is rounded to
  // DECIMAL(18,6) BEFORE the multiplicity-weighted sum (q55/q166's libm
  // discipline — ln is not correctly rounded, sums must be
  // order-insensitive), so scores are bit-identical cross-engine.
  //
  // Shape: the corpus scan explodes ONCE into per-doc bigram
  // multiplicities; the model tables (bigram counts, unigram counts)
  // are partial-aggregable re-aggregations of that same frame — no
  // second scan. Scoring is two equi-joins on the bigram/unigram token
  // keys plus a broadcast 1-row V; shuffles carry (token, count), never
  // documents. At 100 TB the join key becomes unhex(md5(w1||w2))
  // (q163's 16-byte discipline) — the oracle-parity string key here
  // changes nothing structural.
  // ---------------------------------------------------------------------
  def q167BigramXent(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), toks.as("toks"))
    val bi = d.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(toks) - 2),
          |  i -> struct(toks[i] AS w1, toks[i+1] AS w2))""".stripMargin))
        .as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    val docBi = bi.groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("m"))
    val cb = docBi.groupBy(col("w1"), col("w2")).agg(sum(col("m")).as("cb"))
    val cu = d.select(explode(col("toks")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("cu"))
    val v = cu.agg(count(lit(1)).as("vs"))
    val scored = docBi
      .join(cb, Seq("w1", "w2"))
      .join(cu, docBi("w1") === cu("t"))
      .crossJoin(broadcast(v))
      .select(col("doc_id"), col("m"),
        expr("""CAST(round(ln(CAST(cu + vs AS DOUBLE) / (cb + 1)), 6)
                |  AS DECIMAL(18,6))""".stripMargin).as("term"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_bigrams"),
        sum(col("m") * col("term")).as("s"))
    Tables.documents(spark, sfDir).select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        // no final round: the decimal-exact sum cast to double divided
        // by an int64 is ONE IEEE op — bit-identical cross-engine,
        // whereas a 6-dp round of the quotient can straddle a decimal
        // boundary differently per engine (seen once in 5000 at sf0.1)
        (col("s").cast("double") / col("n_bigrams")).as("xent"))
      .orderBy("doc_id")
  }

  val q167Sql: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id,
      |         unnest(toks[1:len(toks) - 1]) AS w1,
      |         unnest(toks[2:len(toks)]) AS w2
      |  FROM d WHERE len(toks) >= 2),
      |db AS (SELECT doc_id, w1, w2, COUNT(*) AS m FROM bg GROUP BY doc_id, w1, w2),
      |cb AS (SELECT w1, w2, CAST(SUM(m) AS BIGINT) AS cb FROM db GROUP BY w1, w2),
      |uni AS (
      |  SELECT t, COUNT(*) AS cu FROM (SELECT unnest(toks) AS t FROM d)
      |  GROUP BY t),
      |v AS (SELECT COUNT(*) AS vs FROM uni),
      |p AS (
      |  SELECT db.doc_id, CAST(SUM(db.m) AS BIGINT) AS n_bigrams,
      |         SUM(db.m * CAST(round(ln(CAST(uni.cu + v.vs AS DOUBLE)
      |             / (cb.cb + 1)), 6) AS DECIMAL(18,6))) AS s
      |  FROM db JOIN cb USING (w1, w2) JOIN uni ON uni.t = db.w1 CROSS JOIN v
      |  GROUP BY db.doc_id)
      |SELECT d0.doc_id, coalesce(p.n_bigrams, 0) AS n_bigrams,
      |       CAST(p.s AS DOUBLE) / p.n_bigrams AS xent
      |FROM (SELECT doc_id FROM documents) d0 LEFT JOIN p USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q168 — chunk-granularity dedup sweep: for each candidate chunk size
  // in {8, 16, 32, 64} tokens, cut the corpus into NON-OVERLAPPING
  // chunks and measure how much chunk-level deduplication would buy —
  // total chunks, distinct chunks, and the duplicate fraction. This is
  // the knob-tuning curve BEHIND q73's chunker and q68/q76's block
  // scrubbers: small chunks find more duplication but cost more rows;
  // the elbow of (chunk_size, dup_frac) picks the granularity before
  // committing a corpus-wide dedup pass (q164 sweeps a quality cutoff
  // the same way).
  //
  // Shape: ONE corpus scan explodes all four granularities at once
  // (flatten of per-size transforms — the grid is per-row, never a
  // join); the only shuffle carries (size, 16-byte md5) pairs, and the
  // answer is 4 rows. dup_frac is a single IEEE divide of two exact
  // int64 counts — no final rounding (q167's cross-engine rule).
  // ---------------------------------------------------------------------
  private[graft] val SweepSizes = Seq(8, 16, 32, 64)

  def q168ChunkDedupSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val sizesSql = SweepSizes.mkString(", ")
    Tables.documents(spark, sfDir)
      .select(toks.as("toks"))
      .select(explode(expr(
        s"""flatten(transform(array($sizesSql), cs ->
           |  transform(sequence(0, size(toks) - 1, cs),
           |    s -> struct(cs AS csize,
           |      md5(concat_ws(' ', slice(toks, s + 1, cs))) AS h))))"""
          .stripMargin)).as("c"))
      .select(col("c.csize").as("csize"), unhex(col("c.h")).as("h"))
      .groupBy(col("csize"), col("h")).agg(count(lit(1)).as("m"))
      .groupBy(col("csize"))
      .agg(sum(col("m")).as("n_chunks"), count(lit(1)).as("n_distinct"))
      .select(col("csize").cast("long").as("chunk_size"),
        col("n_chunks"), col("n_distinct"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_chunks"))
          .as("dup_frac"))
      .orderBy("chunk_size")
  }

  val q168Sql: String = {
    val sizesSql = SweepSizes.mkString(", ")
    s"""WITH d AS (
       |  SELECT regexp_split_to_array(trim(text), ' +') AS toks
       |  FROM documents),
       |pos AS (
       |  SELECT cs, toks, unnest(range(0, len(toks), cs)) AS s
       |  FROM d CROSS JOIN (SELECT unnest([$sizesSql]) AS cs)),
       |c AS (
       |  SELECT cs,
       |         md5(array_to_string(toks[(s + 1):LEAST(s + cs, len(toks))], ' '))
       |           AS h
       |  FROM pos),
       |g AS (SELECT cs, h, COUNT(*) AS m FROM c GROUP BY cs, h)
       |SELECT CAST(cs AS BIGINT) AS chunk_size,
       |       CAST(SUM(m) AS BIGINT) AS n_chunks,
       |       COUNT(*) AS n_distinct,
       |       1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(m) AS dup_frac
       |FROM g
       |GROUP BY cs
       |ORDER BY chunk_size""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q170 — per-source Jensen–Shannon divergence from the corpus token
  // distribution. q72 already publishes the KL drift; JSD is the metric
  // a pipeline actually thresholds on for source triage because it is
  // symmetric, bounded in [0, ln 2], and defined even where supports
  // differ — a source missing half the corpus vocabulary gets a finite,
  // comparable score where KL(corpus‖source) would be infinite.
  //
  // With P = source unigram dist, Q = corpus dist, M = (P+Q)/2:
  //   JSD = ½·Σ_{t∈supp(P)} [p·ln(p/m) + q·ln(q/m)]
  //       + ½·ln2·(1 − Σ_{t∈supp(P)} q_t)
  // (outside P's support, p=0 and q·ln(q/m) = q·ln 2 — the tail
  // collapses to a closed form, so NO per-source full-vocabulary
  // explosion is ever materialized; work stays proportional to the
  // (source, token) support, exactly q72's shuffle). Both log ratios
  // are exact-int64-product quotients (2·c_st·N / (c_st·N + c_t·N_s)
  // and its q-side twin — all < 2^53 here); each summand is rounded to
  // DECIMAL(18,9) pre-sum, and the closed-form tail is assembled from
  // the same IEEE ops on both engines, so the score is bit-identical.
  //
  // Shape: one (source, token) count shuffle, marginals re-aggregated
  // from it, one token equi-join + broadcast marginals. 4 output cols.
  // ---------------------------------------------------------------------
  def q170SourceJsd(spark: SparkSession, sfDir: String): DataFrame = {
    val cst = Tables.documents(spark, sfDir)
      .select(col("source"), explode(toks).as("t"))
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c_st"))
    val ct = cst.groupBy(col("t")).agg(sum(col("c_st")).as("c_t"))
    val ns = cst.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"),
      count(lit(1)).as("n_types"))
    val tot = ct.agg(sum(col("c_t")).as("n"))
    cst.join(ct, "t")
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("n_s"), col("n_types"), col("n"),
        col("c_t"),
        expr("""CAST(round(
                |    (CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE))
                |    * ln(CAST(2 * c_st * n AS DOUBLE)
                |         / CAST(c_st * n + c_t * n_s AS DOUBLE))
                |  + (CAST(c_t AS DOUBLE) / CAST(n AS DOUBLE))
                |    * ln(CAST(2 * c_t * n_s AS DOUBLE)
                |         / CAST(c_st * n + c_t * n_s AS DOUBLE)),
                |  9) AS DECIMAL(18,9))""".stripMargin).as("term"))
      .groupBy(col("source"))
      .agg(first(col("n_s")).as("n_tokens"),
        first(col("n_types")).as("n_types"),
        sum(col("c_t")).as("q_mass_num"), first(col("n")).as("n"),
        sum(col("term")).as("s"))
      // identical op order to the oracle: s/2 + ln(2) * tail / 2
      .select(col("source"), col("n_tokens"), col("n_types"),
        (col("q_mass_num").cast("double") / col("n").cast("double"))
          .as("q_mass"),
        (col("s").cast("double") / lit(2.0)
          + expr("ln(2e0)")
            * ((col("n") - col("q_mass_num")).cast("double")
               / col("n").cast("double")) / lit(2.0)).as("jsd"))
      .orderBy("source")
  }

  val q170Sql: String =
    """WITH tok AS (
      |  SELECT source, unnest(regexp_split_to_array(trim(text), ' +')) AS t
      |  FROM documents),
      |cst AS (SELECT source, t, COUNT(*) AS c_st FROM tok GROUP BY source, t),
      |ct AS (SELECT t, CAST(SUM(c_st) AS BIGINT) AS c_t FROM cst GROUP BY t),
      |ns AS (
      |  SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s, COUNT(*) AS n_types
      |  FROM cst GROUP BY source),
      |tot AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n FROM ct),
      |p AS (
      |  SELECT cst.source, MIN(ns.n_s) AS n_tokens, MIN(ns.n_types) AS n_types,
      |         CAST(SUM(ct.c_t) AS BIGINT) AS q_mass_num, MIN(tot.n) AS nn,
      |         SUM(CAST(round(
      |             (CAST(c_st AS DOUBLE) / CAST(ns.n_s AS DOUBLE))
      |             * ln(CAST(2 * c_st * tot.n AS DOUBLE)
      |                  / CAST(c_st * tot.n + c_t * ns.n_s AS DOUBLE))
      |           + (CAST(c_t AS DOUBLE) / CAST(tot.n AS DOUBLE))
      |             * ln(CAST(2 * c_t * ns.n_s AS DOUBLE)
      |                  / CAST(c_st * tot.n + c_t * ns.n_s AS DOUBLE)),
      |           9) AS DECIMAL(18,9))) AS s
      |  FROM cst JOIN ct USING (t) JOIN ns USING (source) CROSS JOIN tot
      |  GROUP BY cst.source)
      |SELECT source, n_tokens, n_types,
      |       CAST(q_mass_num AS DOUBLE) / CAST(nn AS DOUBLE) AS q_mass,
      |       CAST(s AS DOUBLE) / 2e0
      |         + ln(2e0) * (CAST(nn - q_mass_num AS DOUBLE)
      |                      / CAST(nn AS DOUBLE)) / 2e0 AS jsd
      |FROM p
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // q178 — exact Gini coefficient of the corpus token mass across
  // documents: how concentrated the training-token budget is in few
  // documents (G = 0 every doc contributes equally; G → 1 a handful of
  // megadocs dominate). The single-number inequality complement of
  // q118's "share held by the top 10%" and the quantity a mixture
  // designer tracks when length-capping (q73) or packing (q43) shifts
  // the mass distribution.
  //
  // Exact WITHOUT a global rank window: with x sorted ascending and
  // 1-based ranks, G = (2·Σ rank·x − (n+1)·Σx) / (n·Σx); tied values
  // make Σ rank·x permutation-invariant, so ranks can be assigned
  // per distinct LENGTH v with count c and prior cumulative count m:
  // Σ rank·x over the tie group = v·(c·m + c·(c+1)/2). The cumulative
  // window therefore runs over DISTINCT token counts — bounded by the
  // max document length, not the corpus (q120's bounded-domain
  // argument) — and everything else is one partial-aggregable groupBy.
  // The rank-mass sum accumulates in DECIMAL(38,0): at 10^12 documents
  // Σ rank·x overflows int64 (rank ~ 10^12 × mass ~ 10^4), while the
  // final Gini is a fixed IEEE chain over the decimal sums cast to
  // double, mirrored verbatim in the oracle.
  // ---------------------------------------------------------------------
  def q178GiniTokenMass(spark: SparkSession, sfDir: String): DataFrame = {
    val byLen = Tables.documents(spark, sfDir)
      .select(size(toks).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("c"))
    // bounded-domain cumulative: rows = distinct doc lengths
    val W = org.apache.spark.sql.expressions.Window
    val win = W.orderBy(col("v")).rowsBetween(W.unboundedPreceding, -1)
    byLen
      .select(col("v"), col("c"),
        coalesce(sum(col("c")).over(win), lit(0L)).as("m"))
      .agg(
        sum(col("c")).as("n_docs"),
        sum(col("v") * col("c")).as("total_tokens"),
        // DOUBLED rank-mass 2·Σ rank·x per tie group = v·c·(2m+c+1),
        // with the count factor cast to DECIMAL(38,0) BEFORE any
        // multiplication — c·m alone overflows int64 at corpus scale
        // (c ~ 1e8 docs of one length x m ~ 1e12 cumulative)
        sum(expr("CAST(c AS DECIMAL(38,0)) * (2 * m + c + 1) * v"))
          .as("s2"))
      .select(col("n_docs"), col("total_tokens"),
        ((col("s2").cast("double")
          - (col("n_docs").cast("double") + lit(1.0))
            * col("total_tokens").cast("double"))
          / (col("n_docs").cast("double")
            * col("total_tokens").cast("double"))).as("gini"))
  }

  val q178Sql: String =
    """WITH x AS (
      |  SELECT len(regexp_split_to_array(trim(text), ' +')) AS v
      |  FROM documents),
      |g AS (SELECT v, COUNT(*) AS c FROM x GROUP BY v),
      |w AS (
      |  SELECT v, c,
      |         COALESCE(SUM(c) OVER (ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS m
      |  FROM g),
      |a AS (
      |  SELECT CAST(SUM(c) AS BIGINT) AS n_docs,
      |         CAST(SUM(v * c) AS BIGINT) AS total_tokens,
      |         SUM(CAST(c AS DECIMAL(38,0)) * (2 * m + c + 1) * v) AS s2
      |  FROM w)
      |SELECT n_docs, total_tokens,
      |       (CAST(s2 AS DOUBLE)
      |          - (CAST(n_docs AS DOUBLE) + 1e0)
      |            * CAST(total_tokens AS DOUBLE))
      |         / (CAST(n_docs AS DOUBLE) * CAST(total_tokens AS DOUBLE))
      |         AS gini
      |FROM a""".stripMargin

  // ---------------------------------------------------------------------
  // q194 — Count-Min sketch (Cormode–Muthukrishnan 2005) over the token
  // stream, probed at the 20 most frequent tokens against their exact
  // counts. The mergeable-sketch shape the surface lacked: q34 (HLL
  // distinct) and q57 (quantile sketch) cover cardinality and rank; CMS
  // covers POINT-FREQUENCY estimation under fixed memory — the
  // substitute for a full token histogram when the vocabulary itself is
  // too large to shuffle (ppl/quality-filter lexicons at web scale).
  //
  // DETERMINISTIC parity: the d=4 hash rows are md5-derived ("j:token"
  // -> first 8 hex chars -> int64 % W, the q36 split-bucket idiom), all
  // counts integer — the estimate is a pure function of the corpus, so
  // the DuckDB oracle reproduces it exactly, and the one-sided error
  // guarantee (est >= true, over-count only) is spec-asserted.
  //
  // Scale shape: the sketch build is ONE pass — explode tokens x 4 rows,
  // then a d*W = 4096-group aggregate, the textbook map-side-combinable
  // reduction (each partition folds its stream into a local 4096-cell
  // grid; merge is cell-wise +). Probe lookups broadcast the 20-row
  // probe set against the 4096-row sketch. Nothing here grows with the
  // corpus except the single token scan.
  // ---------------------------------------------------------------------
  private val CmW      = 1024 // buckets per hash row
  private val CmProbes = 20

  private def cmBucket(j: Column, t: Column): Column =
    conv(substring(md5(concat(j.cast("string"), lit(":"), t)), 1, 8), 16, 10)
      .cast("long") % CmW

  def q194Countmin(spark: SparkSession, sfDir: String): DataFrame = {
    val toksDf = Tables.documents(spark, sfDir)
      .select(explode(split(trim(col("text")), " +")).as("t"))
      .cache() // one token scan feeds sketch build AND exact probe counts
    val hashed = toksDf
      .select(col("t"), explode(lit((0 until 4).toArray)).as("j"))
      .withColumn("b", cmBucket(col("j"), col("t")))
    val sketch = hashed.groupBy("j", "b").agg(count(lit(1)).as("c"))
    val probes = toksDf.groupBy("t").agg(count(lit(1)).as("true_cnt"))
      .orderBy(col("true_cnt").desc, col("t")).limit(CmProbes)
    val probeCells = probes
      .select(col("t"), col("true_cnt"), explode(lit((0 until 4).toArray)).as("j"))
      .withColumn("b", cmBucket(col("j"), col("t")))
    broadcast(probeCells).join(sketch, Seq("j", "b"))
      .groupBy("t", "true_cnt").agg(min(col("c")).as("est_cnt"))
      .select(col("t").as("token"), col("true_cnt"), col("est_cnt"))
      .orderBy(col("true_cnt").desc, col("token"))
  }

  val q194Sql: String =
    s"""WITH toks AS (
       |  SELECT unnest(regexp_split_to_array(trim(text), ' +')) AS t
       |  FROM documents),
       |j4 AS (SELECT j FROM (VALUES (0), (1), (2), (3)) AS d(j)),
       |h AS (
       |  SELECT t, j,
       |         ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || t), 1, 8))::BIGINT
       |           % $CmW AS b
       |  FROM toks CROSS JOIN j4),
       |sk AS (SELECT j, b, COUNT(*) AS c FROM h GROUP BY j, b),
       |pr AS (
       |  SELECT t, COUNT(*) AS true_cnt FROM toks GROUP BY t
       |  ORDER BY true_cnt DESC, t LIMIT $CmProbes),
       |ph AS (
       |  SELECT pr.t, pr.true_cnt, j4.j,
       |         ('0x' || substr(md5(CAST(j4.j AS VARCHAR) || ':' || pr.t), 1, 8))::BIGINT
       |           % $CmW AS b
       |  FROM pr CROSS JOIN j4)
       |SELECT ph.t AS token, ph.true_cnt, CAST(MIN(sk.c) AS BIGINT) AS est_cnt
       |FROM ph JOIN sk ON sk.j = ph.j AND sk.b = ph.b
       |GROUP BY ph.t, ph.true_cnt
       |ORDER BY true_cnt DESC, token""".stripMargin

  // ---------------------------------------------------------------------
  // q196 — closed-form OLS linear probe: regress per-document lexical
  // diversity (type-token ratio — the Heaps-law quality proxy q17-class
  // filters use) on two cheap surface features (log length, vowel
  // ratio) by solving the 3x3 normal equations with Cramer's rule. The
  // "fit a linear probe on corpus features" step of curation pipelines
  // (fastText-style quality probes), reduced to its exactly-reproducible
  // linear core: the full fit is NINE Gram sums — one scan, map-side
  // combinable, O(1) state per partition — so at 100 TB the "training"
  // costs exactly one pass and a 10-scalar reduce.
  //
  // Cross-engine parity: features are 6-dp-rounded DECIMAL(18,6) (the
  // repo's decimal-rounded-log idiom), so every Gram sum is EXACT and
  // order-insensitive; the Cramer solve then runs on doubles through
  // THE SAME expression strings (q196SolveCols) in Spark and DuckDB —
  // identical IEEE expression trees on identical inputs give identical
  // coefficients before the final 6-dp rounding.
  // ---------------------------------------------------------------------
  /** Cramer-solve select list over the Gram-sum columns (nd, sx1, sx2,
    * s11, s12, s22, sy, s1y, s2y, syy — all DOUBLE, plus BIGINT n).
    * Shared verbatim with the oracle so the double arithmetic is
    * bit-identical in both engines. */
  private val q196Da =
    "(nd*(s11*s22 - s12*s12) - sx1*(sx1*s22 - s12*sx2) + sx2*(sx1*s12 - s11*sx2))"
  private val q196D0 =
    "(sy*(s11*s22 - s12*s12) - sx1*(s1y*s22 - s12*s2y) + sx2*(s1y*s12 - s11*s2y))"
  private val q196D1 =
    "(nd*(s1y*s22 - s12*s2y) - sy*(sx1*s22 - s12*sx2) + sx2*(sx1*s2y - s1y*sx2))"
  private val q196D2 =
    "(nd*(s11*s2y - s1y*s12) - sx1*(sx1*s2y - s1y*sx2) + sy*(sx1*s12 - s11*sx2))"
  private val q196SolveCols: Seq[String] = Seq(
    "n AS n_docs",
    s"ROUND($q196D0 / $q196Da, 6) AS b_intercept",
    s"ROUND($q196D1 / $q196Da, 6) AS b_log_len",
    s"ROUND($q196D2 / $q196Da, 6) AS b_vowel",
    // R^2 from the unrounded solution: SSE = syy - b.(sy, s1y, s2y)
    s"ROUND(1.0 - (syy - ($q196D0*sy + $q196D1*s1y + $q196D2*s2y) / $q196Da)" +
      " / (syy - sy*sy / nd), 6) AS r2")

  // ---------------------------------------------------------------------
  // q203 — KMV / bottom-k distinct sketch (Bar-Yossef et al. 2002;
  // Beyer et al. SIGMOD'07 estimator): keep the k smallest normalized
  // hashes of the distinct word-3-gram shingles; estimate the shingle-
  // universe size as (k-1)/u_(k) — the number that SIZES an LSH dedup
  // run (band arithmetic, q20/q188) before paying for the exact count.
  // Third sketch family next to q34's HLL cardinality and q194's CMS
  // frequencies — and the one whose estimate is ORACLE-EXACT: the hash
  // is md5-derived, so both engines compute the identical k-th order
  // statistic and the identical estimate, unlike HLL where the sketch
  // layout is engine-internal. KMV also has the trivial distributed
  // union: each partition keeps its local bottom-k and the merge is a
  // bottom-k of tops = TakeOrderedAndProject (plan-gated).
  //
  // Output pins the estimate against the exact distinct count with its
  // measured relative error — the in-query quality floor.
  // ---------------------------------------------------------------------
  private[graft] val KmvK = 256

  def q203KmvDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val grams = kmvShingles(Tables.documents(spark, sfDir))
      .cache() // one shingle dedup feeds the sketch AND the exact count
    val kth = grams.select(kmvU).orderBy(col("u")).limit(KmvK)
      .agg(max(col("u")).as("uk"), count(lit(1)).as("kk"))
    kmvResult(kth, grams.agg(count(lit(1)).as("n_exact")))
  }

  /** q203's distinct word-3-gram shingles (`g`) of the documents `docs`. */
  private[graft] def kmvShingles(docs: DataFrame): DataFrame =
    docs.select(split(trim(col("text")), " +").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(explode(expr(
        """transform(sequence(0, size(toks) - 3),
          |  i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))""".stripMargin))
        .as("g"))
      .distinct()

  /** A shingle's normalized md5 hash `u` in (0, 1). */
  private[graft] val kmvU: Column = expr(
    "(CAST(conv(substring(md5(g), 1, 12), 16, 10) AS DOUBLE) + 1.0D)" +
      " / 281474976710657.0D").as("u")

  /** q203's output row from the bottom-k statistic `kth` (uk, kk) and the
    * exact count `exact` (n_exact), one row each. */
  private[graft] def kmvResult(kth: DataFrame, exact: DataFrame): DataFrame =
    kth.crossJoin(exact) // 1 row x 1 row
      .selectExpr(
        "kk AS k",
        "ROUND(uk, 9) AS kth_u",
        "CAST(FLOOR((kk - 1) / uk) AS BIGINT) AS est_distinct",
        "n_exact",
        "ROUND(ABS((kk - 1) / uk - CAST(n_exact AS DOUBLE)) / n_exact, 6)" +
          " AS rel_err")

  val q203Sql: String =
    s"""WITH toks AS (
       |  SELECT regexp_split_to_array(trim(text), ' +') AS toks
       |  FROM documents),
       |grams AS (
       |  SELECT DISTINCT unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
       |                          for i in range(1, len(toks) - 1)]) AS g
       |  FROM toks WHERE len(toks) >= 3),
       |h AS (
       |  SELECT (CAST(('0x' || substr(md5(g), 1, 12))::BIGINT AS DOUBLE) + 1.0)
       |           / 281474976710657.0 AS u
       |  FROM grams),
       |kth AS (SELECT MAX(u) AS uk, CAST(COUNT(*) AS BIGINT) AS kk
       |        FROM (SELECT u FROM h ORDER BY u LIMIT $KmvK) b),
       |ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM grams)
       |SELECT kk AS k,
       |       ROUND(uk, 9) AS kth_u,
       |       CAST(FLOOR((kk - 1) / uk) AS BIGINT) AS est_distinct,
       |       n_exact,
       |       ROUND(ABS((kk - 1) / uk - CAST(n_exact AS DOUBLE)) / n_exact, 6)
       |         AS rel_err
       |FROM kth CROSS JOIN ex""".stripMargin

  def q196LinearProbe(spark: SparkSession, sfDir: String): DataFrame = {
    val feats = Tables.documents(spark, sfDir).selectExpr(
      "CAST(ROUND(ln(1.0D + n_chars), 6) AS DECIMAL(18,6)) AS x1",
      "CAST(ROUND(CAST(length(regexp_replace(text, '[^aeiou]', '')) AS DOUBLE)" +
        " / CASE WHEN n_chars = 0 THEN 1 ELSE n_chars END, 6)" +
        " AS DECIMAL(18,6)) AS x2",
      "CAST(ROUND(CAST(size(array_distinct(split(trim(text), ' +'))) AS DOUBLE)" +
        " / size(split(trim(text), ' +')), 6) AS DECIMAL(18,6)) AS y")
    val gram = feats.selectExpr(
      "COUNT(*) AS n", "CAST(COUNT(*) AS DOUBLE) AS nd",
      "CAST(SUM(x1) AS DOUBLE) AS sx1", "CAST(SUM(x2) AS DOUBLE) AS sx2",
      "CAST(SUM(x1*x1) AS DOUBLE) AS s11", "CAST(SUM(x1*x2) AS DOUBLE) AS s12",
      "CAST(SUM(x2*x2) AS DOUBLE) AS s22", "CAST(SUM(y) AS DOUBLE) AS sy",
      "CAST(SUM(x1*y) AS DOUBLE) AS s1y", "CAST(SUM(x2*y) AS DOUBLE) AS s2y",
      "CAST(SUM(y*y) AS DOUBLE) AS syy")
    gram.selectExpr(q196SolveCols: _*)
  }

  val q196Sql: String =
    s"""WITH feats AS (
       |  SELECT CAST(ROUND(ln(1.0 + n_chars), 6) AS DECIMAL(18,6)) AS x1,
       |         CAST(ROUND(CAST(length(regexp_replace(text, '[^aeiou]', '', 'g')) AS DOUBLE)
       |                    / CASE WHEN n_chars = 0 THEN 1 ELSE n_chars END, 6)
       |              AS DECIMAL(18,6)) AS x2,
       |         CAST(ROUND(CAST(len(list_distinct(regexp_split_to_array(trim(text), ' +'))) AS DOUBLE)
       |                    / len(regexp_split_to_array(trim(text), ' +')), 6)
       |              AS DECIMAL(18,6)) AS y
       |  FROM documents),
       |gram AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(COUNT(*) AS DOUBLE) AS nd,
       |         CAST(SUM(x1) AS DOUBLE) AS sx1, CAST(SUM(x2) AS DOUBLE) AS sx2,
       |         CAST(SUM(x1*x1) AS DOUBLE) AS s11, CAST(SUM(x1*x2) AS DOUBLE) AS s12,
       |         CAST(SUM(x2*x2) AS DOUBLE) AS s22, CAST(SUM(y) AS DOUBLE) AS sy,
       |         CAST(SUM(x1*y) AS DOUBLE) AS s1y, CAST(SUM(x2*y) AS DOUBLE) AS s2y,
       |         CAST(SUM(y*y) AS DOUBLE) AS syy
       |  FROM feats)
       |SELECT ${q196SolveCols.mkString(",\n       ")}
       |FROM gram""".stripMargin

  // ---------------------------------------------------------------------
  // q214 — unseen-vocabulary ESTIMATION per source: Good–Turing missing
  // mass (Good 1953: P(next token is unseen) = n1/N) and the
  // bias-corrected Chao1 richness estimate (Chao 1984:
  // V + n1(n1−1)/(2(n2+1)) — total vocabulary INCLUDING types never
  // observed), plus the coverage ratio V/chao1. Where q70 DESCRIBES the
  // observed vocabulary (hapax share, head mass), this ESTIMATES what
  // is still missing — the read that says whether more data from a
  // source buys new vocabulary or repeats, i.e. when to stop paying for
  // a source (complements q147's empirical growth curve with the
  // closed-form asymptote). All outputs exact scaled integers: both
  // estimators are ratios of frequency-of-frequency counts, no floats.
  //
  // Shape: one (source, token) count shuffle (map-side combined), then
  // per-source frequency-of-frequency aggregates over the counted
  // frame — shuffle volume is vocabulary-sized, never token-sized.
  // ---------------------------------------------------------------------
  def q214UnseenVocab(spark: SparkSession, sfDir: String): DataFrame = {
    val tf = Tables.documents(spark, sfDir)
      .select(col("source"),
        explode(split(lower(trim(col("text"))), " +")).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("f"))
    tf.groupBy(col("source"))
      .agg(sum(col("f")).as("n_tokens"), count(lit(1)).as("v_types"),
        sum(when(col("f") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("f") === 2, 1L).otherwise(0L)).as("n2"))
      .selectExpr("source", "n_tokens", "v_types", "n1", "n2",
        "1000000L * n1 div n_tokens AS gt_unseen_ppm",
        "v_types + (n1 * (n1 - 1L)) div (2L * (n2 + 1L)) AS chao1",
        "1000000L * v_types div" +
          " (v_types + (n1 * (n1 - 1L)) div (2L * (n2 + 1L)))" +
          " AS coverage_ppm")
      .orderBy("source")
  }

  val q214Sql: String =
    """WITH tf AS (
      |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS f
      |  FROM (SELECT source,
      |               unnest(regexp_split_to_array(lower(trim(text)), ' +')) AS w
      |        FROM documents)
      |  GROUP BY 1, 2),
      |agg AS (
      |  SELECT source, CAST(SUM(f) AS BIGINT) AS n_tokens,
      |         CAST(COUNT(*) AS BIGINT) AS v_types,
      |         CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |         CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |  FROM tf GROUP BY 1)
      |SELECT source, n_tokens, v_types, n1, n2,
      |       1000000 * n1 // n_tokens AS gt_unseen_ppm,
      |       v_types + (n1 * (n1 - 1)) // (2 * (n2 + 1)) AS chao1,
      |       1000000 * v_types
      |         // (v_types + (n1 * (n1 - 1)) // (2 * (n2 + 1)))
      |         AS coverage_ppm
      |FROM agg
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // q219 — Heaps'-law exponent fit (Heaps 1978: V(n) ≈ K·n^β): log-log
  // OLS of cumulative 3-GRAM vocabulary against cumulative token count
  // over the corpus's ten ingestion-order deciles — the growth-curve
  // EXPONENT that, with q214's Chao1 asymptote and q147's empirical
  // curve, answers "how fast does more data buy vocabulary" in one
  // number. The vocabulary unit is the word-3-gram (q147's), not the
  // unigram: this generator's closed 31-word unigram vocabulary
  // saturates in decile 0 (a degenerate flat curve that correctly
  // breaks the fit — an all-equal y makes Var(y) exactly 0 and ANSI
  // division refuses), while the gram universe keeps growing — on real
  // corpora the same choice just moves β toward the n-gram regime.
  // Companion to q161's Zipf slope — the two classic power laws of
  // text, rank-frequency and vocabulary-growth.
  //
  // Determinism: the decile (n, V) points are exact integers; ln — the
  // libm call — is 6-dp-rounded into DECIMAL per point (q191's
  // order-insensitive pattern), the Gram sums are exact decimals, and
  // the slope/intercept/r² evaluate through SHARED expression strings
  // (q196's pattern) so the doubles are bit-identical cross-engine.
  // The 10-point window/fit is catalog-sized; the corpus-sized work is
  // one token scan + one word-first-seen aggregate.
  // ---------------------------------------------------------------------
  private val q219Cov = "(np * sxy - sx * sy)"
  private val q219Vx  = "(np * sxx - sx * sx)"
  private val q219Vy  = "(np * syy - sy * sy)"
  private[graft] val q219FitCols: Seq[String] = Seq(
    "CAST(np AS BIGINT) AS n_points",
    s"ROUND($q219Cov / $q219Vx, 6) AS beta",
    s"ROUND((sy - ($q219Cov / $q219Vx) * sx) / np, 6) AS ln_k",
    s"ROUND($q219Cov * $q219Cov / ($q219Vx * $q219Vy), 6) AS r2")

  def q219HeapsFit(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
    val mx = docs.agg((max(col("doc_id")) + 1).as("mx"))
    val base = docs.crossJoin(broadcast(mx))
      .select(expr("doc_id * 10 div mx").as("bucket"),
        split(lower(trim(col("text"))), " +").as("toks"))
      .cache() // token counts AND gram-first-seen share the scan
    val nb = base.select(col("bucket"), size(col("toks")).as("n"))
      .groupBy(col("bucket")).agg(sum(col("n")).as("add_n"))
    val vb = base.filter(size(col("toks")) >= 3)
      .select(col("bucket"), explode(expr(
        """array_distinct(transform(sequence(0, size(toks) - 3),
          |  i -> md5(concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))))"""
          .stripMargin)).as("g"))
      .groupBy(col("g")).agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("add_v"))
    // ten catalog-sized rows: the unpartitioned windows are bounded
    val pts = nb.join(vb, Seq("bucket"), "left")
      .withColumn("cum_n", sum(col("add_n")).over(
        Window.orderBy("bucket").rowsBetween(Long.MinValue, 0)))
      .withColumn("cum_v", sum(coalesce(col("add_v"), lit(0L))).over(
        Window.orderBy("bucket").rowsBetween(Long.MinValue, 0)))
      .selectExpr(
        "CAST(ROUND(ln(CAST(cum_n AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x6",
        "CAST(ROUND(ln(CAST(cum_v AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y6")
    pts.selectExpr("CAST(COUNT(*) AS DOUBLE) AS np",
        "CAST(SUM(x6) AS DOUBLE) AS sx", "CAST(SUM(y6) AS DOUBLE) AS sy",
        "CAST(SUM(x6 * x6) AS DOUBLE) AS sxx",
        "CAST(SUM(x6 * y6) AS DOUBLE) AS sxy",
        "CAST(SUM(y6 * y6) AS DOUBLE) AS syy")
      .selectExpr(q219FitCols: _*)
  }

  val q219Sql: String =
    s"""WITH mx AS (SELECT max(doc_id) + 1 AS mx FROM documents),
       |base AS (
       |  SELECT doc_id * 10 // mx.mx AS bucket,
       |         regexp_split_to_array(lower(trim(text)), ' +') AS toks
       |  FROM documents, mx),
       |nb AS (SELECT bucket, CAST(SUM(len(toks)) AS BIGINT) AS add_n
       |       FROM base GROUP BY 1),
       |vb AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS add_v FROM
       |         (SELECT g, MIN(bucket) AS bucket FROM
       |            (SELECT bucket,
       |                    unnest(list_distinct(
       |                      [md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
       |                       for i in range(1, len(toks) - 1)])) AS g
       |             FROM base WHERE len(toks) >= 3)
       |          GROUP BY g)
       |       GROUP BY 1),
       |pts AS (
       |  SELECT CAST(ROUND(ln(CAST(CAST(SUM(add_n) OVER (ORDER BY nb.bucket
       |             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS DOUBLE)), 6)
       |           AS DECIMAL(18,6)) AS x6,
       |         CAST(ROUND(ln(CAST(CAST(SUM(COALESCE(add_v, 0)) OVER (
       |             ORDER BY nb.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |             AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y6
       |  FROM nb LEFT JOIN vb USING (bucket)),
       |gram AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS np,
       |         CAST(SUM(x6) AS DOUBLE) AS sx, CAST(SUM(y6) AS DOUBLE) AS sy,
       |         CAST(SUM(x6 * x6) AS DOUBLE) AS sxx,
       |         CAST(SUM(x6 * y6) AS DOUBLE) AS sxy,
       |         CAST(SUM(y6 * y6) AS DOUBLE) AS syy
       |  FROM pts)
       |SELECT ${q219FitCols.mkString(",\n       ")}
       |FROM gram""".stripMargin

  // ---------------------------------------------------------------------
  // q234 — UTF-8 validity / mojibake audit: the text family's INGEST
  // kernel (what q226/q229/q230 are for media): before a tokenizer
  // touches a crawled byte stream, one codegen'd pass
  // ([[graft.functions.Utf8Audit]], SQL `graft_utf8_audit`) classifies
  // every byte sequence per RFC 3629 — valid / overlong / surrogate
  // (CESU-8/WTF-8 leakage) / truncated / bad.
  //
  // Construction (the q229 oracle style): each document's real UTF-8
  // bytes get a deterministic corrupted tail — per-doc counts of valid
  // multibyte codepoints (é, €, 𐍈: 2/3/4-byte), overlong NULs (C0 80),
  // encoded surrogates (ED A0 80), invalid leads (FF), lone
  // continuations (80), and a trailing truncated € (E2 82) — every item
  // isolated by an ASCII space so error resync is unambiguous. The
  // oracle recomputes every count from the construction arithmetic,
  // with the base text's contribution crossing the engines through two
  // INDEPENDENT paths: the kernel's byte walk vs DuckDB's length()
  // codepoint count — a kernel that miscounts any multibyte class goes
  // board-red on every row.
  //
  // 100 TB shape: pure projection (scan → codegen walk → columns), no
  // shuffle but the output sort; the walk advances by index increments
  // only (never attacker-controlled size fields — the MediaProbe r10
  // lesson, pinned by Utf8AuditPropertySpec).
  // ---------------------------------------------------------------------
  def q234Utf8Audit(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.GraftFunctions
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"),
        length(encode(col("text"), "utf-8")).cast("long").as("nb"))
      .withColumn("a", col("nb") % 3)            // é count (2-byte valid)
      .withColumn("eb", col("nb") % 2)           // € count (3-byte valid)
      .withColumn("c", pmod(col("doc_id"), lit(2L))) // 𐍈 count (4-byte valid)
      .withColumn("o", col("nb") % 3)            // overlong NULs
      .withColumn("s", pmod(col("doc_id"), lit(2L))) // encoded surrogates
      .withColumn("x", col("nb") % 2)            // invalid FF leads
      .withColumn("l", (col("nb") + 1) % 2)      // lone continuations
      .withColumn("t",                           // trailing truncated €
        when(pmod(col("doc_id"), lit(3L)) === 0, 1L).otherwise(0L))
    val tailHex = concat(
      expr("repeat('20C3A9', CAST(a AS INT))"),
      expr("repeat('20E282AC', CAST(eb AS INT))"),
      expr("repeat('20F0908D88', CAST(c AS INT))"),
      expr("repeat('20C080', CAST(o AS INT))"),
      expr("repeat('20EDA080', CAST(s AS INT))"),
      expr("repeat('20FF', CAST(x AS INT))"),
      expr("repeat('2080', CAST(l AS INT))"),
      expr("repeat('20E282', CAST(t AS INT))"))
    d.withColumn("blob", concat(encode(col("text"), "utf-8"), unhex(tailHex)))
      .withColumn("p", GraftFunctions.utf8Audit(col("blob")))
      .select(col("doc_id"),
        expr("CAST(octet_length(blob) AS BIGINT)").as("n_bytes"),
        expr("shiftright(p, 32)").as("valid"),
        expr("CAST(shiftright(p, 24) & 255 AS BIGINT)").as("overlong"),
        expr("CAST(shiftright(p, 16) & 255 AS BIGINT)").as("surrogate"),
        expr("CAST(shiftright(p, 8) & 255 AS BIGINT)").as("truncated"),
        expr("CAST(p & 255 AS BIGINT)").as("bad"))
      .orderBy("doc_id")
  }

  /** Every count from the construction arithmetic; the base text's
    * valid-sequence count is DuckDB's codepoint length — an independent
    * recomputation of what the kernel walks byte by byte. */
  val q234Sql: String =
    """WITH d AS (SELECT doc_id,
      |                  CAST(octet_length(encode(text)) AS BIGINT) AS nb,
      |                  CAST(length(text) AS BIGINT) AS cp
      |           FROM documents),
      |e AS (SELECT doc_id, nb, cp,
      |             nb % 3 AS a, nb % 2 AS eb, doc_id % 2 AS c,
      |             nb % 3 AS o, doc_id % 2 AS s, nb % 2 AS x,
      |             (nb + 1) % 2 AS l,
      |             CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS t
      |      FROM d)
      |SELECT doc_id,
      |       nb + 3*a + 4*eb + 5*c + 3*o + 4*s + 2*x + 2*l + 3*t AS n_bytes,
      |       cp + 2*a + 2*eb + 2*c + o + s + x + l + t AS valid,
      |       o AS overlong, s AS surrogate,
      |       CAST(t AS BIGINT) AS truncated, x + l AS bad
      |FROM e
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q239 — winsorized + trimmed mean document length per language
  // (Tukey/Huber robust location): the heavy-tail-safe answer to "how
  // long is a typical doc" that q128's median/MAD bounds from one side —
  // winsorizing CLAMPS the tails to the g-th order statistics (keeps
  // mass, caps leverage), trimming DROPS them (the 10%-trimmed mean a
  // token-budget planner quotes). g = n div 10 per tail.
  //
  // Cross-engine exactness: everything is ORDER STATISTICS and integer
  // sums — the boundary values are the ranks g+1 and n−g of the
  // per-language sort (value at a rank is multiset-determined, so the
  // (n_chars, doc_id) tiebreak only pins engine agreement, never the
  // result); means report as floor-ppm integers, zero floats anywhere.
  // Shape: one language-keyed shuffle; the rank window and both
  // conditional sweeps run inside the per-language partition (languages
  // are the natural parallelism unit at 100 TB — a single language big
  // enough to skew one task range-partitions through TwoPass, q151's
  // path).
  // ---------------------------------------------------------------------
  def q239RobustMeans(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = Tables.documents(spark, sfDir)
      .select(col("lang"), col("n_chars"), col("doc_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lang"))
          .orderBy(col("n_chars"), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("lang"))))
      .withColumn("g", expr("n div 10"))
    ranked.groupBy(col("lang"))
      .agg(max(col("n")).as("n_docs"),
        min(when(col("rn") === col("g") + 1, col("n_chars"))).as("lo_val"),
        min(when(col("rn") === col("n") - col("g"), col("n_chars")))
          .as("hi_val"),
        sum(col("n_chars")).as("raw_sum"),
        sum(when(col("rn") > col("g") && col("rn") <= col("n") - col("g"),
          col("n_chars")).otherwise(0L)).as("trim_sum"))
      .selectExpr("lang", "n_docs", "lo_val", "hi_val",
        "1000000L * raw_sum div n_docs AS raw_mean_ppm",
        // winsorized sum = trimmed core + g copies of each boundary value
        "1000000L * (trim_sum + (n_docs div 10) * (lo_val + hi_val)) " +
          "div n_docs AS win_mean_ppm",
        "1000000L * trim_sum div (n_docs - 2 * (n_docs div 10)) " +
          "AS trim_mean_ppm")
      .orderBy("lang")
  }

  val q239Sql: String =
    """WITH ranked AS (
      |  SELECT lang, n_chars,
      |         row_number() OVER (PARTITION BY lang
      |                            ORDER BY n_chars, doc_id) AS rn,
      |         CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n,
      |         CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) // 10 AS g
      |  FROM documents)
      |SELECT lang, MAX(n) AS n_docs,
      |       MIN(CASE WHEN rn = g + 1 THEN n_chars END) AS lo_val,
      |       MIN(CASE WHEN rn = n - g THEN n_chars END) AS hi_val,
      |       1000000 * CAST(SUM(n_chars) AS BIGINT) // MAX(n)
      |         AS raw_mean_ppm,
      |       1000000 * (CAST(SUM(CASE WHEN rn > g AND rn <= n - g
      |                                THEN n_chars ELSE 0 END) AS BIGINT)
      |                  + (MAX(n) // 10)
      |                    * (MIN(CASE WHEN rn = g + 1 THEN n_chars END)
      |                       + MIN(CASE WHEN rn = n - g THEN n_chars END)))
      |         // MAX(n) AS win_mean_ppm,
      |       1000000 * CAST(SUM(CASE WHEN rn > g AND rn <= n - g
      |                               THEN n_chars ELSE 0 END) AS BIGINT)
      |         // (MAX(n) - 2 * (MAX(n) // 10)) AS trim_mean_ppm
      |FROM ranked
      |GROUP BY lang
      |ORDER BY lang""".stripMargin
}
