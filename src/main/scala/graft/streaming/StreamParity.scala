package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Relational.dsum
import Replay.{ByRange, Emit, Pinned, ReplayFiles, RocksDB, RoundRobin, SessionPartitions}

/** Streaming/batch parity: the flagship sliding-window aggregation run
  * through the REAL Structured Streaming engine (file source, watermark,
  * append-mode windowed state, memory sink) over the same events table —
  * its result must equal the batch q01 and therefore the same DuckDB
  * oracle.
  *
  * The data path is fully distributed: the events table is consumed by
  * the parquet file-stream source (executors read the files directly;
  * the driver only lists them), unlike a MemoryStream gate, which would
  * round-trip every row through the driver. The only driver-side values
  * are the max timestamp (a column-pruned one-row aggregate, needed to
  * place the sentinel) and the final windowed result.
  *
  * Every stream key replays through [[Replay]]: file layout, the
  * end-of-stream sentinel file that stands in for the reference's
  * `MAX_WATERMARK` flush, and the run/record/clean-up cycle. The nine
  * mergeable-fold keys (q66, q212, q218, q221, q80, q81, q233, q245,
  * q251) also fold through its one exactly-once fold, with their batch
  * twins' own summary and finish code.
  */
object StreamParity {

  /** Max ts + 1 hour, as a value of the RAW ts column's type — the
    * sentinel row must stay schema-identical to the streamed table, and
    * the testdata's ts type varies by generation (nanos Long,
    * TIMESTAMP_NTZ, TIMESTAMP — see Tables.normalizeTs). */
  private[streaming] def sentinelTsPlus1h(raw: DataFrame): Any = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val maxRow = raw.agg(max("ts")).head()
    raw.schema("ts").dataType match {
      case LongType =>
        maxRow.getLong(0) + 3600L * 1000 * 1000 * 1000
      case TimestampNTZType =>
        maxRow.getAs[java.time.LocalDateTime](0).plusHours(1)
      case _ => java.sql.Timestamp.from(
        maxRow.getAs[java.sql.Timestamp](0).toInstant.plusSeconds(3600))
    }
  }

  def q25StreamBatchParity(spark: SparkSession, sfDir: String): DataFrame = {
    // Raw schema: ts keeps its on-disk type so the sentinel file and the
    // real table are schema-identical for the file source.
    val raw = graft.Tables.rawEvents(spark, sfDir)
    val sentinel = Map("ts" -> sentinelTsPlus1h(raw),
      "event_type" -> "zzz_sentinel", "value" -> 0.0)

    val out = Replay.run(spark, "q25_stream_batch_parity") { r =>
      val agg = graft.Tables.normalizeTs(
          r.linked(s"$sfDir/events.parquet", raw.schema, sentinel))
        .select(col("ts"), col("event_type"), col("value"))
        .withWatermark("ts", "1 second")
        .groupBy(window(col("ts"), "60 seconds", "20 seconds"), col("event_type"))
        .agg(
          dsum(col("value")).as("sum_value"),
          max(col("value")).as("max_value"),
          min(col("value")).as("min_value"),
          count(lit(1)).as("cnt"))
      r.memory(agg, "append", SessionPartitions)
    }

    out.filter(col("event_type") =!= "zzz_sentinel")
      .select(
        col("window.start").cast("long").as("window_start"),
        col("event_type"), col("sum_value"), col("max_value"),
        col("min_value"), col("cnt"))
      .orderBy("window_start", "event_type")
  }

  /** q58 — the q52 admission gate through the REAL streaming engine: a
    * continuously-ingesting corpus admits documents batch by batch. The
    * incoming slice (doc_id % 5 == 0, exactly q52's) is laid out as
    * ReplayFiles id-range files with ascending modification times and
    * streamed with maxFilesPerTrigger=1, so micro-batches replay ingest
    * in id order;
    * the existing corpus is the static index side. Per micro-batch
    * (the Replay fold's step — the production pattern for join-shaped
    * per-batch logic that streaming aggregation modes cannot express):
    *
    *   exact_corpus    — content-hash equi-join vs the static index
    *   exact_batch     — min-id-first-wins vs a COMPACTED SEEN-HASH
    *                     SNAPSHOT: one (ch, first_id) row per distinct
    *                     hash ever seen, REWRITTEN (not appended) each
    *                     batch. A batch aggregates only its own rows
    *                     (groupBy over the batch — O(batch)), folds them
    *                     into the previous snapshot with a broadcast
    *                     left join + least(), and writes the next
    *                     snapshot in one pass — no per-batch
    *                     re-aggregation of the full history (the
    *                     earlier append-only layout re-ran
    *                     groupBy(ch).min over every prior batch's files
    *                     each trigger: O(history) shuffle per batch).
    *                     The snapshot scan itself is one sequential
    *                     pass; a production deployment replaces the
    *                     rewrite with a keyed state store or a Delta
    *                     MERGE keyed on ch — same join shape, indexed
    *                     lookup. (id-ordered replay makes first-seen ==
    *                     min-id, so the verdict set equals q52's
    *                     whole-batch window)
    *   near_dup_corpus — a probe of a PERSISTENT prefix-filter index
    *                     (Dedup.NearDupIndex): existing-side shingles,
    *                     df stats, and prefix rows are built and cached
    *                     ONCE before the stream starts; each batch pays
    *                     only its own shingling plus the inverted-index
    *                     equi-join. The prefix order uses index-side df
    *                     alone — the only statistic a persistent index
    *                     can maintain without seeing the future — which
    *                     is exact because prefix filtering needs a
    *                     CONSISTENT total order, not any particular one
    *                     (q52's whole-corpus df is a different, equally
    *                     valid order; the verified result set is equal).
    *
    * Held to q52's own DuckDB oracle: the independently-computed
    * micro-batches must reproduce the single-shot batch verdicts row for
    * row — the strongest parity statement available for this operator.
    * Scale notes: the seen-state table carries (16-byte hash, id); the
    * per-batch near-dup join touches the index via the inverted-index
    * equi-join only; nothing corpus-sized crosses the driver. */
  def q58StreamAdmission(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Dedup
    // the stream's state partition count also lays out both cached
    // corpus sides, so each trigger's joins exchange only the batch
    val stateParts = Replay.statePartitions(spark)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val existing = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0).cache()
    // corpus hash set, laid out like the index's df table: ch-hashed,
    // ch-sorted cached partitions at the stream's state partition count.
    // It is the build side of the per-trigger left join, so with AQE off
    // the static planner broadcasts it afresh every trigger whenever it
    // fits spark.sql.autoBroadcastJoinThreshold; only above the threshold
    // does the join run sort-merge over this layout, exchanging ONLY the
    // batch side.
    val existingH = existing.select(md5(col("text")).as("ch")).distinct()
      .withColumn("hit_corpus", lit(true))
      .repartition(stateParts, col("ch"))
      .sortWithinPartitions("ch").cache()
    // Build the persistent near-dup index ONCE; every micro-batch only
    // probes it (shingles/df/prefixes of the 4/5 existing corpus are
    // computed and cached here, not recomputed per batch).
    val index = new Dedup.NearDupIndex(existing, stateParts)

    try Replay.run(spark, "q58_stream_admission") { r =>
      // Ingest layout: ReplayFiles id-range files, so the file source
      // replays batches in id order. The ledger is the seen-hash snapshot.
      r.foldEmit(r.files(incoming, ByRange("doc_id"))) { (seen, b) =>
        // AQE off for the per-batch jobs (cloned-session conf, set once
        // per trigger): every AQE query stage runs as its own Spark job,
        // and this step plans ~20 exchanges/broadcasts over KB-scale
        // frames — the measured q58 floor was ~30 jobs/trigger of pure
        // scheduling (BASELINE_HISTORY.md). Static planning emits ONE job per
        // action here; the joins that must broadcast carry explicit
        // hints (NearDupIndex.probe), so nothing depends on AQE's
        // runtime sizing. Batch volume is micro-batch-scale by
        // construction, exactly the case static planning handles.
        b.sparkSession.conf.set("spark.sql.adaptive.enabled", "false")
        val hashed = b.select(col("doc_id"), md5(col("text")).as("ch"))
        // The ONLY aggregation this batch runs is over its own rows.
        val batchMins = hashed.groupBy(col("ch"))
          .agg(min(col("doc_id")).as("bmin"))
        // before the first snapshot lands, an empty one
        val prev = seen.getOrElse(batchMins.select(col("ch"),
            col("bmin").as("first_id")).limit(0))
          .select(col("ch"), col("first_id").as("pmin"))
        val firstIds = batchMins.join(prev, Seq("ch"), "left")
          .select(col("ch"),
            least(col("bmin"), coalesce(col("pmin"), col("bmin")))
              .as("first_id"))
        // explicit build-side hints: with AQE off, the batch-derived
        // frames have no stats and would otherwise plan sort-merge
        val exactFlags = hashed
          .join(existingH, Seq("ch"), "left")
          .join(broadcast(firstIds), "ch")
          .select(col("doc_id"),
            coalesce(col("hit_corpus"), lit(false)).as("exact_corpus"),
            (col("doc_id") > col("first_id")).as("exact_batch"))
        val near = index.probe(b)
          .withColumn("near_corpus", lit(true))
        // coalesce(1): one file per output — these frames are
        // batch/seen-sized, and default-parallelism writes cost 8+
        // tasks/files per micro-batch for ~25 rows
        val verdicts = exactFlags.join(broadcast(near), Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("exact_corpus"), "exact_corpus")
              .when(col("exact_batch"), "exact_batch")
              .when(coalesce(col("near_corpus"), lit(false)), "near_dup_corpus")
              .otherwise("admitted").as("verdict"))
          .coalesce(1)
        // Incremental state update: fold the batch minima into the
        // snapshot (full outer on ch — USING-join coalesces the key),
        // rewritten compacted. One sequential pass over the snapshot;
        // the tiny batch side broadcasts. The fold writes it and the
        // verdicts in ONE job per trigger (the per-trigger job count —
        // not task width — is the measured cost floor of this operator
        // locally).
        val nextRows = prev.join(batchMins, Seq("ch"), "full")
          .select(col("ch"),
            least(coalesce(col("pmin"), col("bmin")),
              coalesce(col("bmin"), col("pmin"))).as("first_id"))
          .coalesce(1)
        // per-batch plan evidence (this step is where q58's joins live;
        // the streaming plan is just the source scan) — recorded on
        // every batch with a snapshot, so it holds the last processed
        // batch's plan
        if (seen.isDefined)
          lastStreamPlans.put("q58_stream_admission",
            verdicts.unionByName(nextRows, allowMissingColumns = true)
              .queryExecution
              .explainString(org.apache.spark.sql.execution.FormattedMode))
        Emit(Map("verdicts" -> verdicts), Some(nextRows))
      }.outputs("verdicts")
        // materialize eagerly so the verdict/incoming temp trees can go
        .orderBy("doc_id")
        .localCheckpoint(true)
    } finally {
      // The persistent index's caches belong to the stream's lifetime,
      // not the session's — release them even when a batch failed (they
      // would otherwise pin memory until session end).
      index.close()
      existingH.unpersist()
      existing.unpersist()
    }
  }

  /** q71 — SESSION windows through the REAL streaming engine: the q08
    * per-user session aggregation (gap 300 s) streamed as ReplayFiles
    * time-range micro-batches, held to the batch q08's DuckDB oracle.
    *
    * This is the stateful shape q25's sliding windows cannot reach:
    * session state MERGES across triggers — a user's session open at the
    * end of batch N absorbs batch N+1's events (and two separate
    * fragments fuse) inside Spark's merging-session state store, the
    * engine equivalent of the reference's window-assigner + keyed state
    * pair for dynamic windows. The events table is re-laid-out as ReplayFiles
    * contiguous time ranges (repartitionByRange on ts, mod-times
    * ascending), so replay is time-ordered and nothing is late against
    * the 1 s watermark: range boundaries guarantee batch N+1's min ts >
    * batch N's max ts. The q25 sentinel-file trick (+1 h, user_id -1)
    * closes every real session at end of stream.
    *
    * Scale notes: state per user is one (start, end, aggregates) entry
    * per OPEN session, evicted at watermark + gap; the shuffle is keyed
    * on user_id (uniform here; a production hot-key user would ride the
    * same salting q31 demonstrates). Output is append-mode — emitted
    * once, on session close, exactly the reference's
    * trigger-on-watermark semantics. */
  def q71StreamSessions(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = graft.Tables.rawEvents(spark, sfDir)
    // Sentinel: one event 1 h past the last real one, for a user id that
    // cannot occur (-1) — closes all open sessions once its batch commits.
    val sentinel = Map("ts" -> sentinelTsPlus1h(raw), "user_id" -> -1L,
      "value" -> 0.0)

    // session-window state on the RocksDB provider: the merging-window
    // state shape (variable-width sessions, state rewritten on merge)
    // joins the windowed-dedup (q116), transformWithState (q126+), and
    // stream-stream-join (q82/q83) shapes on the scale backend.
    val out = Replay.run(spark, "q71_stream_sessions") { r =>
      val agg = graft.Tables.normalizeTs(
          r.files(raw, ByRange("ts"), sentinel = sentinel))
        .select(col("ts"), col("user_id"), col("value"))
        .withWatermark("ts", "1 second")
        .groupBy(session_window(col("ts"), "300 seconds"), col("user_id"))
        .agg(count(lit(1)).as("cnt"),
          dsum(col("value")).as("sum_value"))
      r.memory(agg, "append", RocksDB)
    }

    out.filter(col("user_id") =!= -1L)
      .select(
        col("session_window.start").cast("long").as("session_start"),
        col("user_id"), col("cnt"), col("sum_value"))
      .orderBy("user_id", "session_start")
  }

  /** q49 — streaming exact dedup: the q15 md5-keyed dedup aggregation
    * run through the REAL streaming engine with state carried ACROSS
    * micro-batches. The documents table is re-laid-out as ReplayFiles files and
    * streamed with maxFilesPerTrigger=1, so the aggregation state (one
    * entry per distinct text hash) is built incrementally over the
    * micro-batches — the unbounded-keyed-state shape of the reference's
    * KeyedStateFlatMapFunction, held to the BATCH q15 oracle (complete
    * mode's final table is split-invariant by construction).
    *
    * Scale notes: the group key is md5(text) — 16 bytes per distinct
    * document in the state store, never the text. Complete mode is
    * correct here because the OUTPUT is aggregate-sized (one row per
    * distinct hash), not corpus-sized; a pipeline materializing the kept
    * documents themselves would switch to update mode with a
    * downstream idempotent sink keyed on text_hash. */
  def q49StreamDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    Replay.run(spark, "q49_stream_dedup") { r =>
      val agg = r.files(docs, RoundRobin)
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"))
      r.memory(agg, "complete", Pinned)
    }.orderBy("keep_id")
  }

  /** q231 — streaming vector-index ingest: the ANN family's LIVE path.
    * q30 builds its IVF index with a one-shot batch scan; a production
    * embedding pipeline receives vectors continuously and must grow the
    * index without rebuilding it — codebook trained OFFLINE (here: the
    * K smallest-id vectors as a deterministic stand-in, so assignment
    * is exactly SQL-expressible; q30 keeps the trained variant), and
    * each micro-batch assigns only ITS OWN vectors to their best cell
    * and appends to the index. Assignment is stateless per vector, so
    * the accumulated index equals the batch-built one row for row —
    * held to a DuckDB argmax oracle over the same double arithmetic
    * (q22's list_dot_product parity precedent).
    *
    * Scale shape: per trigger ONE fused codegen pass scores all K cells
    * per vector ([[graft.functions.CentroidScores]] — no K-column
    * Janino blowup, no shuffle: argmax is array_max over the score
    * array with an index tiebreak); the Replay fold writes each
    * trigger's cells once, into its batchId-stamped overwrite dir
    * (exactly-once under at-least-once retries). Driver state: the K-row
    * codebook only. */
  def q231StreamIvfIngest(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.GraftFunctions.{centroidScores, dot}
    val K = 8
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // offline codebook: K-row collect, bounded by K (codebook-sized, the
    // TrainSampleCap discipline)
    val cents: Seq[Seq[Double]] = e.orderBy("vec_id").limit(K).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    // built outside the per-trigger closure: the column carries the
    // codebook broadcast, so the query makes one broadcast, not one per
    // trigger
    val scores = centroidScores(col("embedding"), col("norm"), cents)

    Replay.run(spark, "q231_stream_ivf_ingest") { r =>
      r.foldEmit(r.files(e, ByRange("vec_id"))) { (_, batch) =>
        Emit(Map("cells" -> batch
          .withColumn("norm",
            sqrt(dot(col("embedding"), col("embedding"))))
          .withColumn("sc", scores)
          // argmax with the LOWEST cell winning ties: struct compare is
          // (s, nc) lexicographic, so negating the index flips the tie
          .withColumn("pick",
            expr("array_max(transform(sc, x -> struct(x.s AS s, -x.c AS nc)))"))
          .select(col("vec_id"),
            (-col("pick.nc")).cast("long").as("cell"),
            col("pick.s").as("score"))))
      }.outputs("cells").orderBy("vec_id")
        .localCheckpoint(true)
    }
  }

  /** DuckDB argmax over the IDENTICAL double arithmetic: score =
    * dot(v, cent) / |v| with the K smallest-id vectors as the codebook,
    * ties to the lowest cell. */
  val q231Sql: String =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS emb,
      |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
      |  FROM embeddings),
      |c AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, emb AS ce
      |  FROM (SELECT vec_id, emb FROM e ORDER BY vec_id LIMIT 8)),
      |scored AS (
      |  SELECT e.vec_id, c.cell,
      |         list_dot_product(e.emb, c.ce) / e.norm AS score,
      |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |                            ORDER BY list_dot_product(e.emb, c.ce) / e.norm DESC,
      |                                     c.cell) AS rk
      |  FROM e, c)
      |SELECT vec_id, CAST(cell AS BIGINT) AS cell, score
      |FROM scored WHERE rk = 1
      |ORDER BY vec_id""".stripMargin

  /** Probe-derived per-rate-class admission stats for a frame of
    * (doc_id, nb) — the shared kernel of q233's streamed fold and its
    * batch equivalent. Every geometry input comes from the byte KERNELS
    * probing the synthesized containers back out (q226's image header,
    * q229's WAV chunk walk), never from the construction columns — the
    * kernels are in the decision loop, which is the point. */
  private[streaming] def mediaAdmissionLedger(df: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions
    graft.operators.Multimodal.withSynthImg(
        graft.operators.Multimodal.withSynthWav(df))
      .select(col("doc_id"),
        GraftFunctions.wavHeader(col("wav")).as("pw"),
        GraftFunctions.imageHeader(col("img")).as("pi"))
      .select(
        expr("shiftright(pw, 42)").as("sample_rate"),
        expr("CAST(shiftright(pw, 38) & 15 AS BIGINT)").as("pch"),
        expr("CAST(shiftright(pw, 32) & 63 AS BIGINT)").as("pbits"),
        expr("CAST(pw & 4294967295 AS BIGINT)").as("pdb"),
        expr("CAST(shiftright(pi, 24) & 16777215 AS BIGINT)").as("piw"),
        expr("CAST(pi & 16777215 AS BIGINT)").as("pih"))
      .withColumn("dur_ms",
        expr("(pdb * 8 div (pch * pbits)) * 1000 div sample_rate"))
      .withColumn("adm", expr(
        "sample_rate >= 22050 AND greatest(piw, pih) <= 640 AND dur_ms >= 250"))
      .groupBy(col("sample_rate"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("adm"), 1L).otherwise(0L)).as("n_admitted"),
        sum(when(col("adm"), col("pdb")).otherwise(0L)).as("adm_pcm_bytes"),
        sum(when(col("adm"), col("piw") * col("pih")).otherwise(0L)).as("adm_px"))
  }

  /** q233 — streaming MEDIA admission: the q58/q227 per-trigger admission
    * shape composed with the multimodal byte kernels — the gate a
    * multimodal crawl-ingest actually runs. The reference has no media
    * code; this extends its filter + keyed-reduce stream family
    * (`rlink/src/api/function.rs` FilterFunction/ReduceFunction) with
    * the mergeable-ledger discipline. Each batch's documents
    * synthesize their spec-conformant containers, the codegen'd header
    * kernels probe the REAL bytes back out, and a document is admitted
    * iff its PROBED geometry passes the plan thresholds (sample_rate >=
    * 22050 Hz, max image dimension <= 640 px, >= 250 ms of audio —
    * tuned so each gate splits the corpus non-trivially at every SF);
    * per-rate-class admission stats fold into a persistent ledger.
    *
    * Exactness: every ledger stat is a sum/count — mergeable — so the
    * folded ledger equals the one-shot batch aggregate row for row
    * (ParitySpec pins streamed == batch; the DuckDB oracle recomputes
    * every stat from the construction arithmetic, so a probe reading
    * wrong offsets/endianness goes board-red).
    *
    * Scale shape: per trigger one codegen projection (two ~60-byte
    * header walks per doc — the planning pass that keeps codecs off
    * rejected media) plus one rate-class-sized aggregate; the ledger is
    * CLASS-cardinality rows folded through [[Replay.Run.foldLedger]]
    * (exactly-once: see [[Replay]]) — never a corpus re-scan. */
  def q233StreamMediaAdmission(spark: SparkSession, sfDir: String): DataFrame =
    Replay.run(spark, "q233_stream_media_admission") { r =>
      r.foldLedger(r.files(mediaDocs(spark, sfDir), ByRange("doc_id")))(
          mediaAdmissionLedger)(
          _.groupBy(col("sample_rate"))
            .agg(sum(col("n_docs")).as("n_docs"),
              sum(col("n_admitted")).as("n_admitted"),
              sum(col("adm_pcm_bytes")).as("adm_pcm_bytes"),
              sum(col("adm_px")).as("adm_px")))
        .orderBy("sample_rate").localCheckpoint(true)
    }

  /** Batch one-shot equivalent of q233's folded ledger (ParitySpec pins
    * streamed == batch — the fold is exact because every stat merges). */
  def q233BatchEquivalent(spark: SparkSession, sfDir: String): DataFrame =
    mediaAdmissionLedger(mediaDocs(spark, sfDir)).orderBy("sample_rate")

  /** q233's input: (doc_id, nb), nb the document's UTF-8 byte length. */
  private def mediaDocs(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"),
        length(encode(col("text"), "utf-8")).cast("long").as("nb"))

  /** Every stat recomputed from the construction arithmetic (the q229/
    * q226 oracle style): rate/channels from nb's residues, pcm bytes
    * from the clamped LE32 field, image dims from the header fields the
    * kernels parse back out. */
  val q233Sql: String =
    """WITH b AS (SELECT CAST(octet_length(encode(text)) AS BIGINT) AS nb
      |           FROM documents),
      |d AS (SELECT [16000, 22050, 44100, 48000][CAST(nb % 4 AS INT) + 1] AS rate,
      |             nb % 2 + 1 AS ch, (nb * 100) % 2147483648 AS db,
      |             nb % 1905 + 16 AS w, (nb * 7) % 1064 + 16 AS h
      |      FROM b),
      |a AS (SELECT rate, db, w, h,
      |             (rate >= 22050 AND greatest(w, h) <= 640
      |              AND (db * 8 // (ch * 16)) * 1000 // rate >= 250) AS adm
      |      FROM d)
      |SELECT rate AS sample_rate, COUNT(*) AS n_docs,
      |       CAST(SUM(CASE WHEN adm THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
      |       CAST(SUM(CASE WHEN adm THEN db ELSE 0 END) AS BIGINT) AS adm_pcm_bytes,
      |       CAST(SUM(CASE WHEN adm THEN w * h ELSE 0 END) AS BIGINT) AS adm_px
      |FROM a GROUP BY rate ORDER BY sample_rate""".stripMargin

  /** q227 — streaming near-dup admission at PARAGRAPH granularity: q68's
    * block-level first-wins dedup run as a crawl-ingest pipeline actually
    * runs it — documents arrive in batches, each batch's paragraphs are
    * admitted against a PERSISTENT block-hash index built from everything
    * already ingested, and the index grows by the batch's own blocks.
    * Composes q68's blocks with q58's persistent-index admission shape.
    *
    * Exactness: batches replay in doc_id-range order, so "already in the
    * index" == "occurred in an earlier doc" and the within-batch window
    * (min (doc_id, bidx) per hash) resolves ties exactly as q68's
    * corpus-wide window — the streamed per-doc verdicts equal batch q68
    * row for row and are held to q68's own DuckDB oracle (plus the
    * streamed==batch ParitySpec).
    *
    * Scale shape: per trigger the batch pays its own block explode (one
    * scan), a batch-sized window, and a LEFT ANTI join against the index
    * keyed on the 16-byte block md5 — never text; the index is
    * hash-only (the NearDupIndex discipline — at 100 TB this is the
    * keyed state store or a Bloom-fronted table, not a corpus re-scan).
    * The index is the ledger of a [[Replay.Run.foldEmit]]: each trigger
    * writes its per-doc verdicts and the next index in one job, into a
    * batchId-stamped overwrite dir, and index versions are GC'd
    * batch-to-batch. */
  def q227StreamBlockAdmission(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Dedup.{docBlocks, firstWinsBlocks}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))

    Replay.run(spark, "q227_stream_block_admission") { r =>
      r.foldEmit(r.files(docs, ByRange("doc_id"))) { (idx, batch) =>
        val blocks = docBlocks(batch)
        // the index grows by THIS batch's distinct hashes (hash-only)
        val hashes = blocks.select(col("bh")).distinct()
        Emit(Map("docs" -> firstWinsBlocks(blocks, idx)),
          Some(idx.fold(hashes)(_.union(hashes).distinct())))
      }.outputs("docs").orderBy("doc_id")
        .localCheckpoint(true)
    }
  }

  /** q66 — heavy hitters over a CONTINUOUSLY INGESTING corpus: q61's
    * Misra-Gries sketch-then-verify gate through the streaming engine.
    * The documents table is replayed as ReplayFiles micro-batches
    * (maxFilesPerTrigger=1). Per trigger, ONE
    * distributed job computes the batch's k-counter MG sketch (partial
    * per partition, merged by the mergeable-summaries rule) plus the
    * batch token count; the driver folds ([[Replay.Run.foldDriver]]) the
    * k-sized batch sketch into a k-bounded running sketch with the SAME
    * merge rule ([[graft.functions.MisraGries.merge]] — Agarwal et al.,
    * PODS 2012: add counters, subtract the k-th largest, drop
    * non-positives). The
    * superset guarantee survives this because the per-partition merges
    * and the cross-batch folds form one merge tree over the whole
    * stream: any token with true frequency > n/k retains a positive
    * counter at the root. After end-of-stream, one exact counting pass
    * over just the candidates (broadcast semi-join, exactly q61's)
    * turns the superset into the exact answer — held to q61's DuckDB
    * oracle.
    *
    * Scale notes: per-trigger shuffle is O(partitions x k) counters —
    * constant in batch size; driver state is ONE k-counter map (~k
    * tokens), not per-key streaming state (a keyed-state formulation
    * would hold every distinct token — the sketch is the point); the
    * final verify pass reads the corpus once. The reference has no
    * sketch operator — this extends its windowed-reduce family
    * (`rlink/src/api/function.rs` ReduceFunction) with the mergeable-
    * summary shape that unbounded-vocabulary streams need. */
  def q66StreamHeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    import scala.collection.mutable.HashMap
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    import graft.operators.TextAnalysis.{HhK, hhTokens, hhVerify}

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val mgSketch = udaf(new graft.functions.MisraGriesSketch(HhK),
      ExpressionEncoder[String]())
    val merger = new graft.functions.MisraGries(HhK)
    val (sketch, nTokens) = Replay.run(spark, "q66_stream_heavy_hitters") { r =>
      r.foldDriver(hhTokens(r.files(docs, RoundRobin)),
          (HashMap.empty[String, Long], 0L)) { (acc, batch) =>
        val row = batch.agg(mgSketch(col("tok")).as("sketch"),
          count(lit(1)).as("n")).head()
        val batchSketch = HashMap(row.getMap[String, Long](0).toSeq: _*)
        // merge into a copy: the running sketch is the fold's state
        (merger.merge(acc._1.clone(), batchSketch), acc._2 + row.getLong(1))
      }
    }

    // exact verification of the k-bounded candidate set (q61's gate)
    import spark.implicits._
    hhVerify(hhTokens(docs), sketch.keys.toSeq.sorted.toDF("tok"), nTokens)
  }

  /** q212 — the AMS F2 / self-join-size sketch (q210) maintained over a
    * CONTINUOUSLY INGESTING table: the Tug-of-War counters are LINEAR
    * in the frequency vector, so the per-batch partial Z_j vectors fold
    * by plain addition — the simplest mergeable summary after q81's
    * counts, and the streaming-planner statistic a live system reads
    * before choosing a join strategy. Per trigger, ONE distributed job
    * histograms the batch's keys and reduces them to J=32 signed longs
    * (map-side-combinable; shuffle is O(partitions × J)); driver state
    * is the 32-long Z vector ([[Replay.Run.foldDriver]]). End-of-stream, the exact F2 computes in
    * q210's batch shape and the output row is IDENTICAL to q210's —
    * held to q210's own DuckDB oracle, q66's sketch-fold pattern.
    *
    * The sketch lines and the finish are q210's own code, so linearity
    * makes the folded Z bit-equal to the single-shot Z, estimate
    * included — asserted by the streamed-equals-batch spec. */
  def q212StreamAmsF2(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Profiling.{AmsJ, amsFreqs, amsLines, amsResult}
    val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val z = Replay.run(spark, "q212_stream_ams") { r =>
      r.foldDriver(r.files(lineitem.select(col("l_partkey")), RoundRobin),
          Vector.fill(AmsJ)(0L)) { (z, batch) =>
        val zb = amsLines(amsFreqs(batch)).collect()
          .map(row => row.getInt(0) -> row.getLong(1)).toMap
        Vector.tabulate(AmsJ)(i => z(i) + zb.getOrElse(i + 1, 0L))
      }
    }
    import spark.implicits._
    amsResult(z.zipWithIndex.map { case (v, i) => (i + 1, v) }.toDF("j", "z"),
      amsFreqs(lineitem))
  }

  /** q218 — weighted sampling WITHOUT replacement over a CONTINUOUSLY
    * INGESTING corpus: q200's Efraimidis–Spirakis A-ES keys are
    * mergeable by construction (a weighted sample of a union is the
    * top-K by key of the parts' top-Ks — the same merge the batch
    * TakeOrderedAndProject performs across partitions, lifted across
    * TRIGGERS). Per micro-batch one distributed top-K job; driver state
    * is ONE K-row buffer folded ([[Replay.Run.foldDriver]]) with the identical (key desc, doc_id)
    * order. End-of-stream the sample is bit-equal to the single-shot
    * q200 and held to its oracle — the third mergeable-summary fold
    * after q66 (MG) and q212 (AMS), covering SAMPLING: a live pipeline
    * maintains its eval sample while data streams in, no re-scan. */
  def q218StreamSample(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Curation.{AesSampleK, aesKeys, aesSample}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("n_chars"))
    val sample = Replay.run(spark, "q218_stream_sample") { r =>
      r.foldDriver(r.files(docs, RoundRobin),
          Vector.empty[(Long, Long, Double)]) { (running, batch) =>
        val top = aesSample(aesKeys(batch)).collect()
          .map(row => (row.getLong(0), row.getLong(1), row.getDouble(2)))
        (running ++ top).sortBy { case (id, _, k) => (-k, id) }.take(AesSampleK)
      }
    }
    import spark.implicits._
    aesSample(sample.toDF("doc_id", "w", "es_key"))
  }

  /** q221 — the KMV bottom-k distinct sketch (q203) maintained over a
    * CONTINUOUSLY INGESTING corpus: bottom-k order statistics are
    * mergeable (the union's bottom-k is the bottom-k of the parts'
    * bottom-ks — Beyer et al.'s distributed-union property, lifted
    * across TRIGGERS). Per micro-batch one distributed job dedups the
    * batch's shingles and keeps its local bottom-k; driver state is ONE
    * k-row sorted buffer ([[Replay.Run.foldDriver]]). This closes the mergeable-fold family over
    * all four summary kinds — heavy hitters (q66 MG), moments (q212
    * AMS), samples (q218 A-ES), and DISTINCT COUNTS — the live
    * cardinality feed that sizes an LSH run while data streams in.
    * End-of-stream the sketch is bit-equal to the single-shot q203
    * (estimate, k-th statistic, and measured error included) and held
    * to its oracle; the shingles, hash and finish are q203's own code. */
  def q221StreamKmv(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.TextAnalysis.{KmvK, kmvResult, kmvShingles, kmvU}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    // State is keyed by the GRAM, not its hash: the same gram seen in
    // two batches must merge to one entry (the batch DISTINCT), while
    // two different grams that collide on u must keep their
    // multiplicity — a value-keyed fold would collapse them and shift
    // the k-th order statistic.
    val sketch = Replay.run(spark, "q221_stream_kmv") { r =>
      r.foldDriver(r.files(docs, RoundRobin), Map.empty[String, Double]) {
        (running, batch) =>
          val top = kmvShingles(batch).select(col("g"), kmvU)
            .orderBy(col("u"), col("g")).limit(KmvK)
            .collect().map(row => row.getString(0) -> row.getDouble(1))
          (running ++ top).toSeq.sortBy { case (g, u) => (u, g) }.take(KmvK).toMap
      }
    }
    import spark.implicits._
    val us = sketch.values
    kmvResult(Seq((us.max, us.size.toLong)).toDF("uk", "kk"),
      kmvShingles(docs).agg(count(lit(1)).as("n_exact")))
  }

  /** q81 — the timeline-anomaly monitor through the streaming engine:
    * q78's per-type z-score over the dense hour grid, maintained
    * INCREMENTALLY. Events replay as ReplayFiles contiguous time-range
    * micro-batches; each trigger aggregates ONLY its own rows to
    * (hour, type) counts and folds them into a running grid-sized
    * snapshot by addition — counts are the simplest mergeable summary,
    * so this is q66's fold pattern with exact state instead of a
    * sketch, and the state is grid-sized (hours × types), never
    * event-sized. At end of stream the dense grid materializes from the
    * final snapshot (gap fill = the same generate-and-left-join shape
    * as batch q75) and the z-scores compute in q78's exact double
    * shape — held to q78's own DuckDB oracle.
    *
    * This is the live-dashboard maintenance loop: per trigger it costs
    * O(batch) aggregation + a grid-sized fold through
    * [[Replay.Run.foldLedger]]; the anomaly pass runs on demand over
    * metadata-sized state. The cells, grid and z chain are q75's and
    * q78's own code. */
  def q81StreamAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Relational.{denseGrid, hourlyCells, zAnomalies}
    val raw = graft.Tables.rawEvents(spark, sfDir)
    Replay.run(spark, "q81_stream_anomaly") { r =>
      val counts = r.foldLedger(graft.Tables.normalizeTs(r.files(raw, ByRange("ts"))))(
          hourlyCells(_, count(lit(1)).as("cnt")))(
          _.groupBy(col("ws"), col("et")).agg(sum(col("cnt")).as("cnt")))
        .cache()
      val out = zAnomalies(denseGrid(counts))
        .localCheckpoint(true) // sever lineage to the temp ledger parquet
      counts.unpersist()
      out
    }
  }

  /** q82 — stream-stream interval join: click→purchase attribution
    * (every click by the same user in the 24 h window before a
    * purchase) through TWO live file streams — the one major Structured
    * Streaming state shape the parity family had not yet exercised.
    * Purchases and clicks replay as separate sources, each as four (q8x-
    * local — see sideDir)
    * time-range micro-batches; the inner join carries an event-time
    * range condition, so each side's rows are retained in join state
    * only until the OTHER side's watermark passes their eviction bound
    * (click state lives 24 h of event time, purchase state ~0) — the
    * reference's connect/CoProcess correlation with the state-retention
    * contract made declarative. Emission is eager (inner join), so no
    * end-of-stream sentinel is needed; the global watermark is the min
    * across sources, and both sides replay time-ordered, so nothing is
    * ever evicted early.
    *
    * Held to a direct DuckDB oracle (the equivalent batch interval
    * join). Scale notes: join state is bounded by watermark delay ×
    * ingest rate per side — the exact knob the reference's CoProcess
    * user must hand-manage with keyed state + timers; skewed users ride
    * the same salting story as q31. */
  /** Shared replay inputs for the q82/q83 stream-stream interval joins:
    * one (purchase, click) directory pair per sfDir, each side
    * range-partitioned into 4 time-ordered files plus the q83
    * end-of-stream sentinel (impossible user −1, one hour past the last
    * event). Both queries read the same pair: the left join NEEDS the
    * sentinel to flush its unmatched tail, and the inner join is immune
    * to it (user −1 matches only the other sentinel; a guard filter
    * drops that one pair). Built ONCE per (JVM, sfDir) — q82 and q83
    * previously each wrote both corpus-sized replay sides independently,
    * four writes per bench run; sharing halves the harness setup, which
    * dominated the two queries' board cost. Dirs are removed by a JVM
    * shutdown hook (they must outlive both queries and the specs). */
  private val q8xDirs =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private def q8xSideDirs(spark: SparkSession, sfDir: String): (String, String) =
    q8xDirs.computeIfAbsent(sfDir, { _ =>
      val raw = graft.Tables.rawEvents(spark, sfDir)
      val sentinelTs = sentinelTsPlus1h(raw)
      def sideDir(etype: String): String = {
        val d = java.nio.file.Files.createTempDirectory(s"q8x_$etype")
        // Deliberately NOT ReplayFiles: 4 data files + sentinel at
        // maxFilesPerTrigger=3 already replay in 2 triggers/side (the
        // same per-trigger minimum), while keeping the finer time-range
        // layout the dual-source watermark-alignment story exercises.
        Replay.layout(raw.filter(col("event_type") === etype), d,
          ByRange("ts"), 4, sentinel = Map("ts" -> sentinelTs,
            "user_id" -> -1L, "event_type" -> etype, "value" -> 0.0))
        d.toString
      }
      val p = sideDir("purchase")
      val c = sideDir("click")
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        Replay.deleteTree(java.nio.file.Paths.get(p))
        Replay.deleteTree(java.nio.file.Paths.get(c))
      }))
      (p, c)
    })

  /** Last captured micro-batch plan per query name — the spec surface
    * for stateful-operator-count assertions (a streaming query's
    * DECLARED DataFrame is the drained sink, i.e. a trivial plan).
    * [[Replay]] records every replayed key's plan here; `graft.Plans`
    * writes them out. */
  private[graft] val lastStreamPlans =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** One side of the q82/q83 join as a live file stream. Three files
    * per trigger (the 5 time-ordered files replay in 2 micro-batches
    * plus the engine's final no-data flush batch): the join semantics
    * depend on the watermark ADVANCING across batches, not on any
    * particular batch granularity — rows grouped into one trigger join
    * against state exactly as they would across two — and each trigger
    * pays a full per-partition state-store commit cycle, so the batch
    * count is the fixed-cost knob (the r08 5-trigger replay put these
    * two queries at 15% of the whole board). */
  private def q8xSide(spark: SparkSession, schema: StructType,
      dir: String, prefix: String): DataFrame =
    graft.Tables.normalizeTs(Replay.stream(spark, schema, dir, perTrigger = 3))
      .select(col("event_id").as(s"${prefix}_id"),
        col("ts").as(s"${prefix}_ts"), col("user_id").as(s"${prefix}_user"))
      .withWatermark(s"${prefix}_ts", "1 second")

  def q82StreamIntervalJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = graft.Tables.rawEvents(spark, sfDir)
    val (purchDir, clickDir) = q8xSideDirs(spark, sfDir)

    val joined = q8xSide(spark, raw.schema, purchDir, "p")
      .join(q8xSide(spark, raw.schema, clickDir, "c"),
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 86400 SECONDS") &&
          col("c_ts") <= col("p_ts"))

    Replay.run(spark, "q82_stream_interval_join")(_.memory(joined, "append", RocksDB))
      .filter(col("p_user") =!= -1L) // shared-harness sentinel pair
      .select(col("p_id").as("purchase_id"), col("c_id").as("click_id"),
        col("p_user").as("user_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts")))
          .cast("long").as("lag_us"))
      .orderBy("purchase_id", "click_id")
  }

  val q82Sql: String =
    """WITH e AS (
      |  SELECT event_id, epoch_us(ts) AS tsu, user_id, event_type
      |  FROM events),
      |p AS (SELECT * FROM e WHERE event_type = 'purchase'),
      |c AS (SELECT * FROM e WHERE event_type = 'click')
      |SELECT p.event_id AS purchase_id, c.event_id AS click_id,
      |       p.user_id, p.tsu - c.tsu AS lag_us
      |FROM p JOIN c
      |  ON p.user_id = c.user_id
      | AND c.tsu >= p.tsu - 86400000000
      | AND c.tsu <= p.tsu
      |ORDER BY purchase_id, click_id""".stripMargin

  /** q83 — stream-stream LEFT OUTER interval join: q82's attribution
    * with the unmatched side kept — purchases with NO same-user click
    * in the prior 24 h emit with a null click. This exercises the
    * semantics inner joins never touch: a null-extended row may only
    * emit once the click-side watermark has passed the purchase's whole
    * candidate window (before that, a matching click could still
    * arrive), so unmatched output is WATERMARK-DRIVEN, not eager. The
    * end-of-stream problem returns exactly as in q25: the last real
    * purchases' windows never close on their own, so the q25 sentinel
    * trick (one click file 25 h past the end, impossible user −1)
    * pushes the click watermark past every real window and the engine's
    * final no-data batch flushes the tail of unmatched purchases.
    *
    * Held to a direct DuckDB LEFT JOIN oracle. Same state bounds as
    * q82; the null-extended tail costs one sentinel row of state. */
  def q83StreamLeftJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = graft.Tables.rawEvents(spark, sfDir)
    // Shared q8x replay pair. BOTH sides carry the sentinel: the global
    // watermark is the MIN across sources, so without a purchase-side
    // sentinel the last real purchases sit below the global watermark
    // forever and their unmatched rows never flush (the purchase
    // sentinel itself emits as a user −1 row — dropped by the guard).
    val (purchDir, clickDir) = q8xSideDirs(spark, sfDir)

    val joined = q8xSide(spark, raw.schema, purchDir, "p")
      .join(q8xSide(spark, raw.schema, clickDir, "c"),
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 86400 SECONDS") &&
          col("c_ts") <= col("p_ts"),
        "leftOuter")

    Replay.run(spark, "q83_stream_left_join")(_.memory(joined, "append", RocksDB))
      .filter(col("p_user") =!= -1L) // drop nothing real; guard only
      .select(col("p_id").as("purchase_id"),
        col("c_id").as("click_id"), // null when unattributed
        col("p_user").as("user_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts")))
          .cast("long").as("lag_us"))
      .orderBy("purchase_id", "click_id")
  }

  val q83Sql: String =
    """WITH e AS (
      |  SELECT event_id, epoch_us(ts) AS tsu, user_id, event_type
      |  FROM events),
      |p AS (SELECT * FROM e WHERE event_type = 'purchase'),
      |c AS (SELECT * FROM e WHERE event_type = 'click')
      |SELECT p.event_id AS purchase_id, c.event_id AS click_id,
      |       p.user_id, p.tsu - c.tsu AS lag_us
      |FROM p LEFT JOIN c
      |  ON p.user_id = c.user_id
      | AND c.tsu >= p.tsu - 86400000000
      | AND c.tsu <= p.tsu
      |ORDER BY purchase_id, click_id""".stripMargin

  /** q80 — CDC MERGE through the streaming engine: q63's latest-wins
    * upsert compaction driven by a change STREAM. The base snapshot
    * arrives as micro-batch 0 and the update/delete feed as micro-batch
    * 1 (two files, mod-time ordered, one per trigger); each trigger
    * folds each batch into a compacted keyed snapshot — union the
    * previous snapshot with the batch, keep the max version per key —
    * which is exactly the copy-on-write loop a Delta/Iceberg MERGE
    * commit runs, expressed engine-agnostically. Tombstones STAY in the
    * snapshot (a delete is a versioned row, not a physical drop:
    * filtering happens at read time), so a later re-insert at a higher
    * version would win — the semantics MERGE needs, which a
    * drop-at-compaction shortcut silently breaks.
    *
    * Held to q63's own DuckDB oracle: the incrementally-merged snapshot's
    * final rollup must equal the single-shot batch merge row for row.
    *
    * Scale notes: per trigger, ONE shuffle keyed on the merge key
    * (snapshot ∪ batch → per-key max-version), the same shape q63 has in
    * batch; the change feed is tiny relative to the base, so at
    * production scale the union side is the snapshot scan and the batch
    * broadcasts into it — locally the snapshot rewrite is one sequential
    * pass, and a production deployment swaps the rewrite for a Delta
    * MERGE / keyed state store exactly as q58 documents. The feed,
    * latest-wins and rollup are q63's own code. */
  def q80StreamCdcMerge(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Relational.{cdcFeed, cdcLatest, cdcRollup}
    Replay.run(spark, "q80_stream_cdc_merge") { r =>
      // Feed layout: one file per version, base (0) as trigger 0 and the
      // changes (1) as trigger 1.
      val feed = r.files(cdcFeed(graft.Tables.orders(spark, sfDir)),
        ByRange("version"))
      cdcRollup(r.foldLedger(feed)(cdcLatest)(cdcLatest))
        .localCheckpoint(true) // sever lineage to the temp ledger parquet
    }
  }

  /** Per-event input to the q94 funnel state machine. `ts` carries the
    * watermark tag (event-time timeouts require the watermarked column to
    * survive projection into the typed stream); the math uses the exact
    * `ts_us` micros. */
  case class FunnelEv(user_id: Long, ts: java.sql.Timestamp, ts_us: Long,
                      event_id: Long, etype: String)

  /** Keyed state: unresolved clicks + running conversion aggregates.
    * `pending` holds only clicks younger than the 24 h attribution window
    * relative to the newest event seen — older clicks can never convert
    * (their first subsequent purchase would exceed the window), so they
    * are evicted eagerly and the state is bounded by 24 h of one user's
    * clicks, the same bound the q82 stream-stream join's click-side state
    * carries. */
  case class FunnelState(
      pending: List[Long], nClicks: Long, nConv: Long, sumGap: Long,
      maxTsUs: Long)

  case class FunnelOut(
      user_id: Long, n_clicks: Long, n_converted: Long,
      sum_gap_us: Option[Long])

  /** q94 — the q92 conversion funnel run through the REAL streaming
    * engine as an arbitrary-stateful operator: `flatMapGroupsWithState`
    * with an EVENT-TIME TIMEOUT — the reference's KeyedStateFlatMap with
    * reduce-side expiration (§2 E9/T6), exercised here with hand-managed
    * state rather than a built-in aggregate. Events replay as ReplayFiles
    * contiguous time-range micro-batches (q71's layout), so per-user
    * arrival order is event-time order; each trigger folds its rows into
    * the per-user state machine (clicks pend; the first subsequent
    * purchase resolves ALL pending clicks — within 24 h counts as a
    * conversion). No row is emitted while a user may still receive
    * events: each group arms an event-time timeout just past its newest
    * event; the q25 sentinel (+1 h) drives the watermark past every
    * timeout at end of stream, and the fired timeouts emit each user's
    * final row exactly once (the reference MAX_WATERMARK flush, here for
    * arbitrary keyed state instead of windows).
    *
    * Held to q92's oracle: streamed == batch, hash-exact.
    *
    * Scale notes: state per user is the running aggregate + pending
    * clicks bounded to the 24 h window (eagerly evicted); the shuffle is
    * keyed on user_id. Timeout-driven emission means the sink sees one
    * row per user, not per trigger. */
  def q94StreamFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._

    val raw = graft.Tables.rawEvents(spark, sfDir)
    val sentinel = Map("ts" -> sentinelTsPlus1h(raw), "user_id" -> -1L,
      "event_id" -> -1L, "event_type" -> "zzz_sentinel", "value" -> 0.0)

    val windowUs = graft.operators.Relational.FunnelWindowUs

    // flatMapGroupsWithState user-defined state (case-class encoder +
    // event-time timeouts) on the RocksDB provider — the arbitrary-state
    // shape joins the other stateful shapes on the scale backend.
    Replay.run(spark, "q94_stream_funnel") { r =>
      val ev = graft.Tables.normalizeTs(
          r.files(raw, ByRange("ts"), sentinel = sentinel))
        .withWatermark("ts", "1 second")
        .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type").as("etype"))
        .as[FunnelEv]

      val out = ev.groupByKey(_.user_id)
        .flatMapGroupsWithState[FunnelState, FunnelOut](
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
          (uid: Long, rows: Iterator[FunnelEv], state: GroupState[FunnelState]) =>
            if (state.hasTimedOut) {
              // end of stream for this user: emit the final row once
              val s = state.get
              state.remove()
              if (s.nClicks > 0)
                Iterator.single(FunnelOut(uid, s.nClicks, s.nConv,
                  if (s.nConv > 0) Some(s.sumGap) else None))
              else Iterator.empty
            } else {
              var s = state.getOption.getOrElse(
                FunnelState(Nil, 0L, 0L, 0L, Long.MinValue))
              // within-trigger order; cross-trigger order comes from the
              // time-range replay (same (ts, event_id) order as the oracle)
              rows.toArray.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
                e.etype match {
                  case "click" =>
                    s = s.copy(pending = e.ts_us :: s.pending,
                      nClicks = s.nClicks + 1)
                  case "purchase" =>
                    // first purchase after each pending click resolves it
                    val conv = s.pending.filter(c => e.ts_us - c <= windowUs)
                    s = s.copy(pending = Nil,
                      nConv = s.nConv + conv.length,
                      sumGap = s.sumGap + conv.map(e.ts_us - _).sum)
                  case _ => ()
                }
                if (e.ts_us > s.maxTsUs) s = s.copy(maxTsUs = e.ts_us)
                // evict clicks that can no longer convert within 24 h
                s = s.copy(pending =
                  s.pending.filter(c => s.maxTsUs - c <= windowUs))
              }
              state.update(s)
              // fire once the watermark passes this user's newest event
              state.setTimeoutTimestamp(s.maxTsUs / 1000 + 1)
              Iterator.empty
            }
        }

      r.memory(out, "append", RocksDB)
    }.filter(col("user_id") =!= -1L)
      .orderBy("user_id")
  }

  /** q106 — the q105 data-quality gate over a CONTINUOUSLY INGESTING
    * stream, computed by the `observe` node riding the stream: per-
    * micro-batch counter deltas surfaced on each progress event
    * (Spark's engine-native metrics side channel — the analog of the
    * reference's operator metric registry published per task,
    * `rlink/src/metrics/metric.rs:74-108`), folded across the query's
    * `recentProgress` once the stream has stopped. The fold IS the
    * result: observe's sums/counts are exact and additive across
    * micro-batches, so the per-rule totals equal batch q105 / its
    * DuckDB SQL row for row (ParitySpec asserts exactly that).
    *
    * The pre-r14 shape ALSO ran a complete-mode streaming aggregation
    * (explode over |rules| per row -> stateful groupBy, re-emitting the
    * whole table every trigger) just to materialize the same counters a
    * second time — a full stateful replay whose per-trigger floor was
    * 1.8 s against observe's no-state, no-shuffle per-row predicates
    * (VERDICT r13 item #6: decouple the observe metrics from the parity
    * replay). The sink is noop: the stream's only job is to run every
    * row through the observe node.
    *
    * Scale: observe adds per-row predicate evaluation only (no state,
    * no shuffle); the driver holds |rules| counters per trigger, and the
    * trigger count (one per replay file) must fit the query's
    * recent-progress buffer. The completeness bound is a column-pruned
    * one-row count, same class as the sentinel placement in q25.
    */
  def q106StreamObserveQuality(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Observability
    val ev = graft.Tables.events(spark, sfDir)
    val nExpected = ev.count() // completeness bound: all rows must fold
    // one trigger per file: every trigger's progress must still be in
    // recentProgress when the fold reads it
    val keep = spark.conf.get("spark.sql.streaming.numRecentProgressUpdates").toInt
    require(ReplayFiles <= keep,
      s"q106 replays $ReplayFiles triggers but recentProgress keeps only $keep")

    val aggs = Observability.rules.map { case (name, pred) =>
      sum(when(pred, 1L).otherwise(0L)).as(name)
    } :+ count(lit(1)).as("n_rows")
    // noop sink: the stream's only job is to run every row through the
    // observe node — no state store, no shuffle, no sink buffer. The
    // returned query is stopped (its stream thread joined), so
    // recentProgress is final.
    val query = Replay.run(spark, "q106_stream_observe") { r =>
      r.await(r.files(ev, RoundRobin)
        .observe("graft_quality_stream", aggs.head, aggs.tail: _*)
        .writeStream.outputMode("append").format("noop"), SessionPartitions)
    }
    // The fold is the result, so an incomplete fold must fail loudly,
    // never return short counts.
    val fold = query.recentProgress
      .flatMap(p => Option(p.observedMetrics.get("graft_quality_stream")))
      .map(m => m.schema.fieldNames.map(f => f -> m.getAs[Long](f)).toMap)
      .foldLeft(Map.empty[String, Long]) { (a, b) =>
        b.map { case (k, v) => k -> (v + a.getOrElse(k, 0L)) } }
    require(fold.getOrElse("n_rows", -1L) == nExpected,
      s"observe fold incomplete: ${fold.getOrElse("n_rows", -1L)}" +
        s" of $nExpected rows")
    import spark.implicits._
    Observability.rules.map(_._1).map(r => (r, fold(r), nExpected))
      .toDF("rule", "n_bad", "n_rows")
      .withColumn("bad_frac",
        round(col("n_bad").cast("double") / col("n_rows"), 9))
      .orderBy("rule")
  }

  /** q116 — q110's sliding-window exact distinct through ONE stateful
    * streaming aggregation: windowed state dedups (window, user) pairs
    * (watermark-bounded, append mode), and the per-window counts are
    * finished per MICRO-BATCH in the Replay fold — a plain batch
    * aggregation over each trigger's flushed rows, NO second state
    * store. This is exact because append-mode eviction is atomic per
    * window: a window's pair-rows all flush in the single trigger whose
    * watermark passes the window end (eviction is driven by the global
    * watermark, identically in every state partition), so one batch
    * aggregation sees every pair of a closing window exactly once and
    * no window spans two batches. The pre-r14 shape ran a SECOND
    * stateful aggregation for the counts — 2 state operators x the
    * session's shuffle-partition count of store commits per trigger
    * where 1 x 8 suffices (VERDICT r13 item #1; the per-batch
    * counts are output-sized, exactly what the memory sink already
    * held). The q25 sentinel closes all real windows at end of stream.
    * State cost: open-window distinct pairs, watermark-bounded.
    */
  def q116StreamSlidingDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = graft.Tables.rawEvents(spark, sfDir)
    val realMaxSec = graft.Tables.events(spark, sfDir)
      .agg(max(unix_timestamp(col("ts")))).head().getLong(0)
    val sentinel = Map("ts" -> sentinelTsPlus1h(raw), "user_id" -> -1L,
      "value" -> 0.0)

    Replay.run(spark, "q116_stream_distinct") { r =>
      val pairs = graft.Tables.normalizeTs(
          r.linked(s"$sfDir/events.parquet", raw.schema, sentinel))
        .select(col("ts"), col("user_id"))
        .withWatermark("ts", "1 second")
        .groupBy(window(col("ts"), "60 seconds", "20 seconds"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      // Per-batch finish: count each closing window's flushed pairs with a
      // BATCH aggregation (see the operator doc above for why this is
      // exact); the rows are output-sized, one per closed window.
      r.foldEmit(pairs) { (_, batch) =>
        Emit(Map("windows" -> batch.groupBy(col("window"))
          .agg(count(lit(1)).as("n_users"), sum(col("n")).as("n_events"))
          .select(col("window.start").cast("long").as("window_start"),
            col("n_users"), col("n_events"))))
      }.outputs("windows")
        .filter(col("window_start") <= realMaxSec) // drop sentinel windows
        .orderBy("window_start")
        .localCheckpoint(true)
    }
  }

  /** q123 — streaming exact dedup via `dropDuplicatesWithinWatermark`:
    * the STATE-BOUNDED streaming dedup primitive (Spark's answer to an
    * unbounded seen-set) deduping (user_id, minute) activity pairs as
    * they stream. Unlike q49 (aggregation-shaped dedup, complete mode)
    * and q58 (per-trigger fold + snapshot), this is the single-operator
    * form: a stateful FILTER that emits a key's first row immediately
    * (append mode, no window to close — no sentinel needed) and
    * suppresses later duplicates while the key stays within the
    * watermark delay; state for keys older than the delay is evicted,
    * so state size is bounded by the delay × key arrival rate, NOT by
    * stream lifetime — the property that makes streaming dedup viable
    * on an unbounded 100 TB/day feed.
    *
    * Exactness contract: duplicates of a (user, minute) pair all carry
    * event times inside that one minute, so any delay ≥ the replay's
    * cross-batch disorder (here: range-partitioned file replay in ts
    * order, disorder « 2 h) means no duplicate ever arrives after its
    * key's eviction — output is EXACTLY the batch DISTINCT, which is
    * this query's DuckDB oracle. Production sets the delay to the
    * source's documented lateness bound; correctness degrades only for
    * records later than that bound, exactly as the reference's
    * bounded-out-of-orderness watermark contract specifies.
    */
  def q123StreamDedupWatermark(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.Tables.events(spark, sfDir).select(col("ts"), col("user_id"))
    // watermark-bounded dedup state on the RocksDB provider — with the
    // q71/q94 flips every stateful shape in the suite (windowed agg,
    // session windows, dedup-within-watermark, fMGWS, transformWithState,
    // stream-stream joins) runs on the scale backend somewhere.
    Replay.run(spark, "q123_stream_dedup_wm") { r =>
      // ts-range files replayed in time order: the dedup state is
      // exercised ACROSS batches
      val deduped = r.files(ev, ByRange("ts"))
        .withColumn("minute_start",
          (unix_micros(col("ts")) / 60000000L).cast("long") * 60)
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark("user_id", "minute_start")
        .select(col("user_id"), col("minute_start"))
      r.memory(deduped, "append", RocksDB)
    }.orderBy("user_id", "minute_start")
  }

  val q123Sql: String =
    """SELECT DISTINCT user_id,
      |       (epoch_us(ts) // 60000000) * 60 AS minute_start
      |FROM events
      |ORDER BY user_id, minute_start""".stripMargin

  /** q126 input/state/output rows for the transformWithState processor. */
  case class SeqEv(user_id: Long, ts_us: Long, event_id: Long, event_type: String)
  case class SeqState(seq: Long, purchases: Long)
  case class SeqOut(event_id: Long, user_id: Long, seq_n: Long,
      purchases_so_far: Long)

  /** Per-user running counters in a [[org.apache.spark.sql.streaming.ValueState]]:
    * each event is emitted with its 1-based per-user sequence number and
    * the count of 'purchase' events seen so far. Batch rows for a key
    * arrive UNORDERED — the processor sorts its per-key slice by
    * (ts, event_id) before folding, and cross-batch order is the replay
    * harness's contract (ts-range batches; equal timestamps never split
    * across range partitions). */
  class RunningSeqProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, SeqEv, SeqOut] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[SeqState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SeqState]("run",
        org.apache.spark.sql.Encoders.product[SeqState], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[SeqEv],
        timerValues: TimerValues): Iterator[SeqOut] = {
      val sorted = rows.toArray.sortBy(e => (e.ts_us, e.event_id))
      var s = if (st.exists()) st.get() else SeqState(0L, 0L)
      val out = sorted.map { e =>
        s = SeqState(s.seq + 1,
          s.purchases + (if (e.event_type == "purchase") 1L else 0L))
        SeqOut(e.event_id, e.user_id, s.seq, s.purchases)
      }
      st.update(s)
      out.iterator
    }
  }

  /** q126 — per-user running sequence stats through Spark 4's
    * `transformWithState` (the arbitrary-stateful-processing successor
    * to mapGroupsWithState, used by q94): a typed StatefulProcessor
    * holding ONE ValueState row per user, emitting every event with its
    * per-user sequence number and purchases-so-far — the online-feature
    * shape ("user's Nth event", "conversions before this point") that
    * feeds real-time feature stores.
    *
    * Machinery exercised that q94's mapGroupsWithState cannot: the new
    * handle-based typed-state API and the RocksDB state store provider
    * it requires (multiple column families) — set for this query only
    * and restored after. State: 2 longs per user, unbounded only in
    * |users| (production adds TTLConfig where the key space churns —
    * the knob is in the API surface this exercises).
    *
    * Held to the batch analytic-window oracle: two running windows over
    * (user_id ORDER BY ts, event_id) must match the streamed fold
    * row-for-row across the ReplayFiles-batch ts-range replay (the
    * split-invariance spec also replays it as 8 batches).
    */

  /** The replay shared by the transformWithState operators
    * (q126/q130/q137/q140): `ev` as nFiles ts_us-range files replayed
    * oldest-first (one per trigger), on the RocksDB provider the
    * typed-state API requires, through the memory sink. */
  private def replayTyped(spark: SparkSession, ev: DataFrame, name: String,
      nFiles: Int = ReplayFiles)
      (build: DataFrame => org.apache.spark.sql.Dataset[_]): DataFrame =
    Replay.run(spark, name) { r =>
      r.memory(build(r.files(ev, ByRange("ts_us"), nFiles)), "append", RocksDB)
    }

  def q126TransformWithState(spark: SparkSession, sfDir: String): DataFrame =
    q126WithSplit(spark, sfDir, ReplayFiles)

  /** q126 parameterized on the replay split — the batch-boundary-
    * invariance spec replays the same stream as 2 and 8 micro-batches
    * and requires identical output (state folds must not depend on
    * where triggers fall). */
  private[streaming] def q126WithSplit(spark: SparkSession, sfDir: String,
      nFiles: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
    replayTyped(spark, ev, "q126_transform_state", nFiles) { stream =>
      stream.as[SeqEv]
        .groupByKey(_.user_id)
        .transformWithState(new RunningSeqProcessor,
          TimeMode.None(), OutputMode.Append())
    }.orderBy("event_id")
  }

  val q126Sql: String =
    """SELECT event_id, user_id,
      |       ROW_NUMBER() OVER w AS seq_n,
      |       COUNT(*) FILTER (WHERE event_type = 'purchase') OVER (
      |         PARTITION BY user_id ORDER BY ts, event_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |         AS purchases_so_far
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY event_id""".stripMargin

  /** q130 — size of the per-user recent-history window. */
  private[graft] val HistN = 3

  case class HistEv(user_id: Long, ts_us: Long, event_id: Long,
      event_type: String)
  case class HistOut(event_id: Long, user_id: Long, prev3: String)

  /** Per-user recent-history feature in a
    * [[org.apache.spark.sql.streaming.ListState]]: each event is emitted
    * with the comma-joined types of the user's PREVIOUS up-to-3 events
    * (chronological). The classic online sequence feature ("what did
    * this user just do") — the point-in-time-correct train-time twin is
    * the batch sliding frame the oracle runs. State is capped at HistN
    * strings per user BY CONSTRUCTION (trim before put), so state size
    * is O(users · HistN), independent of stream length — the contrast
    * with q126's unbounded-count ValueState. */
  class RecentHistoryProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, HistEv, HistOut] {
    import org.apache.spark.sql.streaming.{ListState, OutputMode, TimeMode, TimerValues, TTLConfig}
    @transient private var hist: ListState[String] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      hist = getHandle.getListState[String]("hist",
        org.apache.spark.sql.Encoders.STRING, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[HistEv],
        timerValues: TimerValues): Iterator[HistOut] = {
      val sorted = rows.toArray.sortBy(e => (e.ts_us, e.event_id))
      var cur = hist.get().toArray // oldest-first, <= HistN elements
      val out = sorted.map { e =>
        val o = HistOut(e.event_id, e.user_id, cur.mkString(","))
        cur = (cur :+ e.event_type).takeRight(HistN)
        o
      }
      hist.put(cur)
      out.iterator
    }
  }

  /** q130 — q126's replay harness (ts-range batches, RocksDB provider)
    * driving the [[RecentHistoryProcessor]]: exercises the ListState
    * surface of Spark 4's transformWithState, the state primitive for
    * bounded per-key sequences. Oracle: the batch sliding window
    * `string_agg OVER (ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)` must
    * match the streamed fold row-for-row. */
  def q130StreamRecentHistory(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
    replayTyped(spark, ev, "q130_stream_history") { stream =>
      stream.as[HistEv]
        .groupByKey(_.user_id)
        .transformWithState(new RecentHistoryProcessor,
          TimeMode.None(), OutputMode.Append())
    }.orderBy("event_id")
  }

  val q130Sql: String =
    s"""SELECT event_id, user_id,
       |       coalesce(string_agg(event_type, ',') OVER (
       |         PARTITION BY user_id ORDER BY ts, event_id
       |         ROWS BETWEEN $HistN PRECEDING AND 1 PRECEDING), '')
       |         AS prev3
       |FROM events
       |ORDER BY event_id""".stripMargin

  /** q137 — events admitted per (user, UTC day) before the gate closes. */
  private[graft] val QuotaN = 5L
  private val DayUs = 86400L * 1000000L

  case class QuotaEv(user_id: Long, ts_us: Long, event_id: Long)
  case class QuotaState(day: Long, n: Long)
  case class QuotaOut(event_id: Long, user_id: Long, admitted: Boolean)

  /** Per-user daily-quota gate: admit the first QuotaN events per (user,
    * UTC day), flag the rest — the rate-limiting / per-key-throttling
    * operator (abuse caps, fair-share sampling of hot users at ingest).
    * State is ONE (day, count) pair per user — the day rollover RESETS
    * the counter in place, so state never grows with stream length or
    * day count (contrast q126's monotone counters). Every event is
    * emitted with its verdict: the gate is a stateful PROJECTION, not a
    * filter, so downstream decides drop-vs-degrade. */
  class DailyQuotaProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, QuotaEv, QuotaOut] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[QuotaState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[QuotaState]("quota",
        org.apache.spark.sql.Encoders.product[QuotaState], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[QuotaEv],
        timerValues: TimerValues): Iterator[QuotaOut] = {
      val sorted = rows.toArray.sortBy(e => (e.ts_us, e.event_id))
      var s = if (st.exists()) st.get() else QuotaState(-1L, 0L)
      val out = sorted.map { e =>
        val day = e.ts_us / DayUs
        if (day != s.day) s = QuotaState(day, 0L)
        s = QuotaState(s.day, s.n + 1)
        QuotaOut(e.event_id, e.user_id, s.n <= QuotaN)
      }
      st.update(s)
      out.iterator
    }
  }

  /** q137 — the q126 replay harness driving [[DailyQuotaProcessor]]:
    * per-key throttling through transformWithState, held to the batch
    * ROW_NUMBER-per-(user, day) oracle. */
  def q137StreamQuotaGate(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"))
    replayTyped(spark, ev, "q137_stream_quota") { stream =>
      stream.as[QuotaEv]
        .groupByKey(_.user_id)
        .transformWithState(new DailyQuotaProcessor,
          TimeMode.None(), OutputMode.Append())
    }.orderBy("event_id")
  }

  val q137Sql: String =
    s"""SELECT event_id, user_id,
       |       ROW_NUMBER() OVER (
       |         PARTITION BY user_id, epoch_us(ts) // $DayUs
       |         ORDER BY ts, event_id) <= $QuotaN AS admitted
       |FROM events
       |ORDER BY event_id""".stripMargin

  case class TypeSeqEv(user_id: Long, ts_us: Long, event_id: Long,
      event_type: String)
  case class TypeSeqOut(event_id: Long, user_id: Long, type_seq: Long)

  /** Per-(user, event-type) running counters in a
    * [[org.apache.spark.sql.streaming.MapState]]: each event is emitted
    * with "this user's Nth event OF THIS TYPE" — the per-category
    * sequence feature (3rd purchase, 5th error). One map of |types|
    * longs per user; completes the typed-state API surface: q126 holds a
    * ValueState, q130 a ListState, this a MapState — the sub-key lives
    * IN the store (updating one type reads/writes one entry), where a
    * ValueState of Map would rewrite the whole map per event. */
  class TypeSeqProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TypeSeqEv, TypeSeqOut] {
    import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode, TimerValues, TTLConfig}
    @transient private var counts: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[TypeSeqEv],
        timerValues: TimerValues): Iterator[TypeSeqOut] = {
      val sorted = rows.toArray.sortBy(e => (e.ts_us, e.event_id))
      val out = sorted.map { e =>
        val n = (if (counts.containsKey(e.event_type))
          counts.getValue(e.event_type) else 0L) + 1L
        counts.updateValue(e.event_type, n)
        TypeSeqOut(e.event_id, e.user_id, n)
      }
      out.iterator
    }
  }

  /** q140 — the q126 replay harness driving [[TypeSeqProcessor]]: the
    * MapState surface of Spark 4's transformWithState, held to the
    * batch per-(user, type) ROW_NUMBER oracle. */
  def q140StreamTypeSeq(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
    replayTyped(spark, ev, "q140_stream_type_seq") { stream =>
      stream.as[TypeSeqEv]
        .groupByKey(_.user_id)
        .transformWithState(new TypeSeqProcessor,
          TimeMode.None(), OutputMode.Append())
    }.orderBy("event_id")
  }

  val q140Sql: String =
    """SELECT event_id, user_id,
      |       ROW_NUMBER() OVER (
      |         PARTITION BY user_id, event_type
      |         ORDER BY ts, event_id) AS type_seq
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** q141 — session gap in microseconds (q08/q71's 300 s). */
  private[graft] val SessGapUs = 300L * 1000000L

  case class TimerEv(user_id: Long, ts_us: Long)
  case class TimerSessState(start_us: Long, last_us: Long, n: Long,
      timer_ms: Long)
  case class TimerSessOut(user_id: Long, start_us: Long, end_us: Long,
      n_events: Long)

  /** Hand-built sessionization on event-time TIMERS: sessions split
    * inline when a gap appears inside the data, and the LAST open
    * session per user flushes when its registered timer fires — i.e.
    * when the event-time watermark passes last-event + gap. This is the
    * reference's window-trigger-on-watermark contract implemented
    * directly on the timer surface of Spark 4's transformWithState
    * (`rlink/src/runtime/worker/runnable/window_assigner_runnable.rs`'s
    * assign/trigger split), where q71 gets the same semantics from the
    * built-in merging session store and q94 from mapGroupsWithState's
    * coarse timeout: one registered timer per key, re-pointed as the
    * session extends (delete + register — stale timers never fire).
    * State: one 4-long session record per user, evicted on flush. */
  class TimerSessionProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TimerEv, TimerSessOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[TimerSessState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[TimerSessState]("sess",
        org.apache.spark.sql.Encoders.product[TimerSessState], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[TimerEv],
        timerValues: TimerValues): Iterator[TimerSessOut] = {
      val sorted = rows.toArray.sortBy(_.ts_us)
      val out = scala.collection.mutable.ArrayBuffer.empty[TimerSessOut]
      var cur: Option[TimerSessState] =
        if (st.exists()) Some(st.get()) else None
      cur.foreach(s => if (s.timer_ms > 0) getHandle.deleteTimer(s.timer_ms))
      sorted.foreach { e =>
        cur match {
          case Some(s) if e.ts_us - s.last_us <= SessGapUs =>
            cur = Some(s.copy(last_us = e.ts_us, n = s.n + 1))
          case Some(s) => // gap inside the data: close inline, open anew
            out += TimerSessOut(key, s.start_us, s.last_us, s.n)
            cur = Some(TimerSessState(e.ts_us, e.ts_us, 1L, 0L))
          case None =>
            cur = Some(TimerSessState(e.ts_us, e.ts_us, 1L, 0L))
        }
      }
      cur.foreach { s =>
        val expiry = s.last_us / 1000L + SessGapUs / 1000L + 1L
        getHandle.registerTimer(expiry)
        st.update(s.copy(timer_ms = expiry))
      }
      out.iterator
    }
    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[TimerSessOut] = {
      // the delete+register discipline means any firing timer is the
      // key's CURRENT one: the session is final — flush and evict
      if (st.exists()) {
        val s = st.get()
        st.clear()
        Iterator.single(TimerSessOut(key, s.start_us, s.last_us, s.n))
      } else Iterator.empty
    }
  }

  /** q141 — timer-driven sessionization through the streaming engine:
    * the q71 file replay (ts-range batches + sentinel file to advance
    * the final watermark) driving [[TimerSessionProcessor]] under
    * TimeMode.EventTime. Held to the batch gaps-and-islands oracle. */
  def q141StreamTimerSessions(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    val raw = graft.Tables.rawEvents(spark, sfDir)
    val sentinel = Map("ts" -> sentinelTsPlus1h(raw), "user_id" -> -1L,
      "value" -> 0.0)

    Replay.run(spark, "q141_stream_timer_sessions") { r =>
      val out = graft.Tables.normalizeTs(
          r.files(raw, ByRange("ts"), sentinel = sentinel))
        .withWatermark("ts", "1 second")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
        .as[TimerEv]
        .groupByKey(_.user_id)
        .transformWithState(new TimerSessionProcessor,
          TimeMode.EventTime(), OutputMode.Append())
      r.memory(out, "append", RocksDB)
    }.filter(col("user_id") =!= -1L)
      .orderBy("user_id", "start_us")
  }

  /** q148 — dead-letter routing rule: suspicious telemetry values. */
  private val DlqRule = "value > 95"

  /** q148 — streaming dead-letter-queue split: one pass per trigger
    * routes each micro-batch to TWO sinks — valid rows to the main
    * table, rule-violating rows to a quarantine table — the ingest
    * pattern that keeps bad data out of the pipeline WITHOUT dropping
    * it (ops replay the DLQ after a rule fix). The reference's side-
    * output shape (`rlink/src/api/output_format.rs` sink fan-out) on
    * Spark's transactional micro-batch boundary.
    *
    * Scale notes: the Replay fold caches the batch ONCE and the step
    * filters it twice (no double source scan); both sinks are written in
    * one job per trigger, into the batch's batchId-stamped overwrite dir
    * (exactly-once under at-least-once retries, see [[Replay]]). Output
    * here is the
    * routing verdict table read back from BOTH sinks, so the oracle
    * checks completeness (no row lost), disjointness, and rule
    * fidelity in one comparison. */
  def q148StreamDlqSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("value"),
        unix_micros(col("ts")).as("ts_us"))
    // coalesce the rule under NULL: a NULL value must route to main
    // (the oracle's CASE does), never vanish from both sinks
    val dlq = coalesce(expr(DlqRule), lit(false))
    Replay.run(spark, "q148_stream_dlq") { r =>
      val sinks = r.foldEmit(r.files(ev, ByRange("ts_us"))) { (_, b) =>
        Emit(Map(
          "main" -> b.filter(!dlq).select(col("event_id"), col("user_id")),
          "dlq" -> b.filter(dlq).select(col("event_id"), col("user_id"))))
      }.outputs
      // Materialize eagerly (localCheckpoint severs the lineage to the sink
      // parquet) so BOTH temp sinks can be deleted before returning.
      sinks("main").withColumn("sink", lit("main"))
        .unionByName(sinks("dlq").withColumn("sink", lit("dlq")))
        .orderBy("event_id")
        .localCheckpoint(true)
    }
  }

  val q148Sql: String =
    """SELECT event_id, user_id,
      |       CASE WHEN value > 95 THEN 'dlq' ELSE 'main' END AS sink
      |FROM events
      |ORDER BY event_id""".stripMargin

  val q141Sql: String =
    s"""WITH o AS (
       |  SELECT user_id, epoch_us(ts) AS us FROM events),
       |m AS (
       |  SELECT user_id, us,
       |         CASE WHEN lag(us) OVER w IS NULL
       |                OR us - lag(us) OVER w > $SessGapUs THEN 1
       |              ELSE 0 END AS brk
       |  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us)),
       |g AS (
       |  SELECT user_id, us,
       |         SUM(brk) OVER (PARTITION BY user_id ORDER BY us
       |                        ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM m)
       |SELECT user_id, MIN(us) AS start_us, MAX(us) AS end_us,
       |       COUNT(*) AS n_events
       |FROM g
       |GROUP BY user_id, sid
       |ORDER BY user_id, start_us""".stripMargin

  /** q245 — Kaplan–Meier survival maintained over a LIVE event stream:
    * q236's estimator with its per-user inputs folded across triggers.
    * The fold is the FIFTH mergeable-summary kind after heavy hitters
    * (q66 MG), moments (q212 AMS), samples (q218 A-ES), and distinct
    * counts (q221 KMV): per-key ORDER STATISTICS — min(first event),
    * min(first purchase), max(any event) all merge by min/max, so the
    * accumulated ledger after any prefix of triggers is exactly the
    * batch aggregate over the events seen. Unlike the four driver-state
    * folds, the state here is USER-cardinality, so it lives as a keyed
    * parquet ledger ([[Replay.Run.foldLedger]]); the driver never holds
    * a row. The per-user summary and the KM expressions are q236's own
    * ([[graft.operators.Relational.kmPerUser]],
    * [[graft.operators.Relational.kmFromPerUser]]) — parity is
    * structural, and the oracle is q236's SQL verbatim.
    *
    * Four time-range files (not the ReplayFiles=2 minimum) so a user's
    * first event, conversion, and horizon contribution routinely land
    * in DIFFERENT triggers — the min/max merge is genuinely exercised,
    * not incidentally trivial. */
  def q245StreamKmSurvival(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Relational.{kmFromPerUser, kmPerUser}
    val raw = graft.Tables.rawEvents(spark, sfDir)
    Replay.run(spark, "q245_stream_km") { r =>
      val ev = graft.Tables.normalizeTs(r.files(raw, ByRange("ts"), 4))
        .selectExpr("user_id", "unix_micros(ts) AS us", "event_type")
      kmFromPerUser(r.foldLedger(ev)(kmPerUser)(
          _.groupBy(col("user_id"))
            .agg(min(col("first_us")).as("first_us"),
              min(col("conv_us")).as("conv_us"),
              max(col("last_us")).as("last_us"))))
        .localCheckpoint(true)
    }
  }

  /** q251 — EXACT global ntile over a CONTINUOUSLY INGESTING corpus:
    * q88/q232's length bucketing as a streaming fold, completing the
    * "every batch idiom has a streaming twin" story for the last batch
    * idiom that lacked one (exact rank statistics).
    *
    * The key identity (q232's, pushed one step further): the bucket
    * AGGREGATE (n_docs, min/max/sum toks per ntile bucket over
    * ORDER BY (tok_cnt, doc_id)) is a pure function of the per-VALUE
    * count table — docs sharing a tok_cnt are interchangeable for every
    * output column, and a bucket boundary that splits a tie splits it
    * between interchangeable rows. A count table is the simplest
    * mergeable summary there is (counts add), so the stream folds ONE
    * key-cardinality frame per trigger through [[Replay.Run.foldLedger]]
    * (tokenized by q88's own `toks`), and the end-of-stream bucketing is
    * pure closed-form integer arithmetic over that aggregate:
    *
    *   with n rows, k buckets, q = n div k, r = n mod k, bucket b spans
    *   ranks (s_b, e_b] = ((b-1)q + min(b-1, r), bq + min(b, r)];
    *   a value with prefix offset o and count c contributes
    *   max(0, min(e_b, o+c) - max(s_b+1, o+1) + 1) rows to bucket b.
    *
    * Output is row-identical to q88 (same DuckDB oracle; the streaming
    * spec also pins q251 == q88 directly). 100 TB: per-trigger state is
    * DISTINCT-token-length-cardinality (thousands), never corpus
    * cardinality; the only unpartitioned window runs over the
    * re-aggregated count table (Aggregate-bounded frame — the plan-gate
    * discipline q232 documents); the bucket overlap join is
    * keys × k ≈ 10^4 rows. No doc-scale sort, window, or collect
    * anywhere. */
  def q251StreamNtile(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Curation.{LenBuckets, toks}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val addCounts = (df: DataFrame) =>
      df.groupBy(col("tok_cnt")).agg(sum(col("cnt")).as("cnt"))

    Replay.run(spark, "q251_stream_ntile") { r =>
      // End-of-stream bucketing over the folded key-cardinality table.
      // The re-aggregation makes the prefix window's child an Aggregate —
      // the bounded-frame shape the global-window plan gate admits.
      val counts = addCounts(r.foldLedger(r.files(docs, ByRange("doc_id")))(
        _.groupBy(size(toks).cast("long").as("tok_cnt"))
          .agg(count(lit(1)).as("cnt")))(addCounts))
      val offs = counts.withColumn("off",
        sum(col("cnt")).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("tok_cnt"))) - col("cnt"))
      val total = counts.agg(sum(col("cnt")).as("n"))
      offs.crossJoin(broadcast(total))
        .select(col("tok_cnt"), col("cnt"), col("off"), col("n"),
          explode(expr(s"sequence(1L, ${LenBuckets}L)")).as("bucket"))
        .withColumn("q", expr(s"n div $LenBuckets"))
        .withColumn("r", expr(s"n % $LenBuckets"))
        // bucket b spans ranks (s_b, e_b]; the value spans (off, off+cnt];
        // both half-open, so the overlap is the plain interval intersection
        .withColumn("s_b", expr("(bucket - 1) * q + least(bucket - 1, r)"))
        .withColumn("e_b", expr("bucket * q + least(bucket, r)"))
        .withColumn("ov", expr(
          "greatest(0L, least(e_b, off + cnt) - greatest(s_b, off))"))
        .filter(col("ov") > 0)
        .groupBy(col("bucket"))
        .agg(sum(col("ov")).as("n_docs"),
          min(col("tok_cnt")).as("min_toks"),
          max(col("tok_cnt")).as("max_toks"),
          sum(col("tok_cnt") * col("ov")).as("sum_toks"))
        .orderBy("bucket")
        .localCheckpoint(true)
    }
  }
}
