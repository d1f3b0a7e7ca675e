package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, expr, sqrt, unix_micros}

/** q25 through the file-stream source must equal the batch flagship q01
  * row-for-row (same oracle). */
class ParitySpec extends SparkSpec {
  private def deleteDir(p: java.nio.file.Path): Unit = {
    def rec(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rec))
      f.delete(); ()
    }
    rec(p.toFile)
  }

  /** (input columns, arguments) of every exchange a formatted plan runs
    * itself. Formatted-plan ids are post-order, so a cache's nested
    * build plan holds the ids between its InMemoryRelation and the root
    * printed on the next line; those exchanges ran once, at cache build,
    * and are skipped. */
  private def triggerExchanges(plan: String): Seq[(Set[String], String)] = {
    val tree = plan.linesIterator.dropWhile(!_.startsWith("== Physical Plan"))
      .drop(1).takeWhile(_.trim.nonEmpty).toSeq
    val id = raw"\((\d+)\)".r
    def idOf(line: String) = id.findFirstMatchIn(line).map(_.group(1).toInt)
    val nested = tree.zip(tree.drop(1)).collect {
      case (rel, root) if rel.contains("InMemoryRelation (") => (idOf(rel), idOf(root))
    }.collect { case (Some(lo), Some(hi)) => (lo, hi) }
    tree.flatMap(l => raw"Exchange \((\d+)\)".r.findFirstMatchIn(l))
      .map(_.group(1).toInt).distinct
      .filterNot(x => nested.exists { case (lo, hi) => lo < x && x <= hi })
      .map { x =>
        val m = (raw"\($x\) \w*Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]" +
          raw"\nArguments: ([^\n]*)").r.findFirstMatchIn(plan)
          .getOrElse(fail(s"no details for exchange ($x)"))
        (m.group(1).split(", ").map(_.takeWhile(_ != '#')).toSet, m.group(2))
      }
  }

  test("q25 file-stream parity equals batch q01") {
    val streamed = StreamParity.q25StreamBatchParity(spark, sf).collect().toSeq
    val batch = graft.operators.Relational.q01SlidingWindowAgg(spark, sf)
      .collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("q71 streaming session windows equal batch q08 (merging state across triggers)") {
    val streamed = StreamParity.q71StreamSessions(spark, sf).collect().toSeq
    val batch = graft.operators.Relational.q08SessionWindow(spark, sf)
      .collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch,
      "time-range micro-batch replay + merging session state must reproduce the batch sessions")
    // the corpus must exercise the dynamic-window shape: users with
    // several distinct sessions (not one giant or all-singleton windows)
    val perUser = batch.groupBy(_.getLong(1)).view.mapValues(_.size)
    assert(perUser.values.exists(_ >= 2))
    assert(batch.exists(_.getLong(2) >= 2), "some session aggregates >1 event")
  }

  /** Bounded replay across MULTIPLE micro-batches: events split into 4
    * time-range files consumed one per trigger (the reference's
    * offset-ordered bounded replay), watermark advancing between batches
    * and emitting windows incrementally — final result must still equal
    * the batch flagship. Exercises cross-batch watermark progression,
    * which the single-batch q25 gate does not. */
  test("multi-batch time-ordered file replay equals batch q01") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions._
    val raw = graft.Tables.rawEvents(spark, sf)
    val schema = raw.schema
    // Range-split on epoch micros so the split works for every ts
    // storage type the testdata has used (nanos Long / NTZ / TIMESTAMP).
    val tsm = graft.Tables.tsMicrosCol(raw)
    val (minTs, maxTs) = {
      val r = raw.agg(min(tsm), max(tsm)).head()
      (r.getLong(0), r.getLong(1))
    }
    val sentinelTs = StreamParity.sentinelTsPlus1h(raw)
    val dir = Files.createTempDirectory("q25_multi")
    val span = maxTs - minTs + 1
    val nFiles = 4
    for (i <- 0 until nFiles) {
      val lo = minTs + span * i / nFiles
      val hi = minTs + span * (i + 1) / nFiles
      val part = raw.filter(tsm >= lo && tsm < hi)
      val tmp = Files.createTempDirectory(s"q25_multi_part$i")
      part.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      Files.list(tmp).filter(_.toString.endsWith(".parquet")).forEach { p =>
        val dst = dir.resolve(f"f$i%02d.parquet")
        Files.copy(p, dst)
        // one file per trigger, consumed oldest-first: pin the order
        dst.toFile.setLastModified(1000000000000L + i * 10000L)
      }
      deleteDir(tmp) // staging copy, already in the feed
    }

    val agg = graft.Tables.normalizeTs(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir.toString))
      .select(col("ts"), col("event_type"), col("value"))
      .withWatermark("ts", "1 second")
      .groupBy(window(col("ts"), "60 seconds", "20 seconds"), col("event_type"))
      .agg(
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(25, 6)))
          .cast("double").as("sum_value"),
        max(col("value")).as("max_value"),
        min(col("value")).as("min_value"),
        count(lit(1)).as("cnt"))
    val query = agg.writeStream.outputMode("append")
      .format("memory").queryName("q25_multi").start()
    val emittedAfterData: Long =
      try {
        query.processAllAvailable()
        val n = spark.table("q25_multi").count()
        // flush remaining windows: sentinel file 1h past the end
        val sentinelVals = schema.fields.map { f =>
          f.name match {
            case "ts"         => sentinelTs
            case "event_type" => "zzz_sentinel"
            case "value"      => 0.0
            case _            => null
          }
        }
        val tmp = Files.createTempDirectory("q25_multi_sent")
        spark.createDataFrame(
            java.util.Arrays.asList(org.apache.spark.sql.Row(sentinelVals: _*)), schema)
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        Files.list(tmp).filter(_.toString.endsWith(".parquet")).forEach { p =>
          val dst = dir.resolve("zz_sentinel.parquet")
          Files.copy(p, dst)
          dst.toFile.setLastModified(1000000000000L + nFiles * 10000L)
        }
        deleteDir(tmp)
        query.processAllAvailable()
        n
      } finally {
        query.stop()
        deleteDir(dir) // output lives in the memory sink
      }

    val streamed = spark.table("q25_multi")
      .filter(col("event_type") =!= "zzz_sentinel")
      .select(col("window.start").cast("long").as("window_start"),
        col("event_type"), col("sum_value"), col("max_value"),
        col("min_value"), col("cnt"))
      .orderBy("window_start", "event_type").collect().toSeq
    val batch = graft.operators.Relational.q01SlidingWindowAgg(spark, sf)
      .collect().toSeq
    assert(streamed === batch)
    // watermark progression emitted windows INCREMENTALLY: most of the
    // result must have been appended before the sentinel flush
    assert(emittedAfterData > batch.size / 2,
      s"expected incremental emission, got $emittedAfterData of ${batch.size} pre-flush")
  }

  test("q49 streaming dedup equals batch q15 (state carried across micro-batches)") {
    val streamed = StreamParity.q49StreamDedup(spark, sf).collect().toSeq
    val batch = graft.operators.TextAnalysis.q15DedupExact(spark, sf)
      .collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("q227 streaming block admission equals batch q68 (persistent block " +
      "index across triggers)") {
    val streamed = StreamParity.q227StreamBlockAdmission(spark, sf)
      .collect().toSeq
    val batch = graft.operators.Dedup.q68BlockDedup(spark, sf).collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("q233 streamed media-admission ledger equals the one-shot batch " +
      "aggregate (mergeable fold across triggers)") {
    val streamed = StreamParity.q233StreamMediaAdmission(spark, sf)
      .collect().toSeq
    val batch = StreamParity.q233BatchEquivalent(spark, sf).collect().toSeq
    assert(streamed.nonEmpty)
    // the gate must actually split the corpus: some class admits some
    // docs and rejects others, or the thresholds test nothing
    val (adm, all) = streamed.map(r => (r.getLong(2), r.getLong(1))).unzip
    assert(adm.sum > 0 && adm.sum < all.sum,
      s"thresholds must split the corpus, got ${adm.sum}/${all.sum}")
    assert(streamed === batch)
  }

  test("q231 streamed IVF ingest equals a one-shot batch assignment") {
    import graft.functions.GraftFunctions.{centroidScores, dot}
    val streamed = StreamParity.q231StreamIvfIngest(spark, sf).collect().toSeq
    // independent one-shot recomputation over the whole table with the
    // same codebook rule (per-vector assignment is stateless, so the
    // accumulated index must match row for row)
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cents: Seq[Seq[Double]] = e.orderBy("vec_id").limit(8).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val batch = e
      .withColumn("norm", sqrt(dot(col("embedding"), col("embedding"))))
      .withColumn("sc", centroidScores(col("embedding"), col("norm"), cents))
      .withColumn("pick",
        expr("array_max(transform(sc, x -> struct(x.s AS s, -x.c AS nc)))"))
      .select(col("vec_id"), (-col("pick.nc")).cast("long").as("cell"),
        col("pick.s").as("score"))
      .orderBy("vec_id").collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch)
    // every cell is populated at this SF (codebook vectors seed their own)
    assert(streamed.map(_.getLong(1)).distinct.size == 8)
  }

  test("q58 streaming admission gate equals batch q52 verdict for verdict") {
    val streamed = StreamParity.q58StreamAdmission(spark, sf).collect().toSeq
    val batch = graft.operators.Dedup.q52IncrementalDedup(spark, sf)
      .collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch,
      "micro-batch replay + seen-state must reproduce the single-shot gate")
    // the gate must actually exercise more than one batch (4 range files)
    assert(streamed.map(_.getLong(0)).distinct.size == batch.size)
  }

  test("q58 below 8 cores: per-batch joins run at the stream's partition count") {
    // The stream runs at min(8, session) state partitions; the cached
    // corpus hash set and df table are laid out at that same count, so
    // each trigger's joins hash only the batch side, into as many
    // partitions as the stream has. Auto-broadcast is off so the corpus
    // sides join by sort-merge, as at corpus scale (the batch sides keep
    // their explicit broadcast hints).
    val confs = Map("spark.sql.shuffle.partitions" -> "4",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.keys.map(k => k -> spark.conf.get(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      StreamParity.lastStreamPlans.remove("q58_stream_admission")
      val streamed = StreamParity.q58StreamAdmission(spark, sf).collect().toSeq
      val batch = graft.operators.Dedup.q52IncrementalDedup(spark, sf)
        .collect().toSeq
      assert(streamed.nonEmpty)
      assert(streamed === batch)
      val plan = StreamParity.lastStreamPlans.get("q58_stream_admission")
      assert(plan != null, "per-batch plan recorded")
      val exchanges = triggerExchanges(plan)
      assert(exchanges.nonEmpty, "the batch side is exchanged")
      val corpusSides = Seq(Set("ch", "hit_corpus"), Set("h", "df"))
      assert(!exchanges.exists(e => corpusSides.contains(e._1)),
        s"a cached corpus side is re-exchanged per trigger:\n$plan")
      val joinParts = exchanges.flatMap { case (_, args) =>
        raw"hashpartitioning\(.*, (\d+)\), ENSURE_REQUIREMENTS".r
          .findFirstMatchIn(args).map(_.group(1).toInt) }.toSet
      assert(joinParts == Set(4), s"per-batch join partition counts: $joinParts")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("q66 streaming heavy hitters equals batch q61 (sketches folded across micro-batches)") {
    val streamed = StreamParity.q66StreamHeavyHitters(spark, sf).collect().toSeq
    val batch = graft.operators.TextAnalysis.q61HeavyHitters(spark, sf)
      .collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch,
      "per-trigger MG sketches + the mergeable-summaries fold must reproduce the single-shot gate")
  }

  test("q212 streamed AMS fold equals the single-shot q210 sketch") {
    val streamed = StreamParity.q212StreamAmsF2(spark, sf).collect().toSeq
    val batch = graft.operators.Profiling.q210AmsF2(spark, sf)
      .collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch,
      "the Tug-of-War counters are linear, so per-trigger partial Z " +
        "vectors folded by addition must be bit-equal to the single-shot " +
        "sketch, estimate included")
  }

  test("q218 streamed A-ES sample fold equals the single-shot q200") {
    val streamed = StreamParity.q218StreamSample(spark, sf).collect().toSeq
    val batch = graft.operators.Curation.q200WeightedSample(spark, sf)
      .collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch,
      "per-trigger top-K samples folded with the same (key, id) order " +
        "must be bit-equal to the single-shot weighted sample")
  }

  test("q221 streamed KMV bottom-k fold equals the single-shot q203") {
    val streamed = StreamParity.q221StreamKmv(spark, sf).collect().toSeq
    val batch = graft.operators.TextAnalysis.q203KmvDistinct(spark, sf)
      .collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch,
      "per-trigger bottom-k sketches folded by the gram-keyed merge " +
        "must be bit-equal to the single-shot order statistic, " +
        "estimate and measured error included")
  }

  test("q245 streamed KM ledger fold equals the single-shot q236 estimator") {
    val streamed = StreamParity.q245StreamKmSurvival(spark, sf).collect().toSeq
    val batch = graft.operators.Relational.q236KmSurvival(spark, sf)
      .collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch,
      "per-user min/max order statistics folded across four time-range " +
        "triggers must reconstruct the batch KM table bit-for-bit — " +
        "risk sets, event counts, and the ln-sum survival included")
  }

  test("q251 streamed exact-ntile fold equals the single-shot q88 bucketing") {
    val streamed = StreamParity.q251StreamNtile(spark, sf).collect().toSeq
    val batch = graft.operators.Curation.q88LengthBuckets(spark, sf)
      .collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch,
      "the per-trigger count-table fold + closed-form bucket-overlap " +
        "arithmetic must reproduce q88's doc-scale global-window ntile " +
        "aggregate row for row — counts, min/max, and token sums included")
  }

  test("q81 incremental anomaly monitor equals batch q78 (count folds across triggers)") {
    val streamed = StreamParity.q81StreamAnomaly(spark, sf).collect().toSeq
    val batch = graft.operators.Relational.q78TimelineAnomaly(spark, sf)
      .collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch,
      "four per-trigger count folds + the end-of-stream dense-grid z pass " +
        "must reproduce the single-shot anomaly set bit-for-bit")
  }

  test("q82 stream-stream interval join equals the batch interval join") {
    import org.apache.spark.sql.functions._
    val streamed = StreamParity.q82StreamIntervalJoin(spark, sf).collect().toSeq
    // batch model: same join, no streaming machinery
    val e = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("ts").as("p_ts"),
        col("user_id").as("p_user"))
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("ts").as("c_ts"),
        col("user_id").as("c_user"))
    val batch = p.join(c,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 86400 SECONDS") &&
          col("c_ts") <= col("p_ts"))
      .select(col("p_id").as("purchase_id"), col("c_id").as("click_id"),
        col("p_user").as("user_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts")))
          .cast("long").as("lag_us"))
      .orderBy("purchase_id", "click_id").collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch,
      "two file streams + watermarked interval-join state must reproduce " +
        "the batch attribution join")
    // the window must bind: every lag within [0, 24 h], and some purchase
    // attributes MULTIPLE clicks (the state-retention case)
    assert(streamed.forall { r =>
      val lag = r.getLong(3); lag >= 0 && lag <= 86400L * 1000 * 1000 })
    assert(streamed.groupBy(_.getLong(0)).values.exists(_.size >= 2))
  }

  test("q83 stream-stream LEFT join equals batch: unmatched purchases " +
      "flush on the watermark, not eagerly") {
    import org.apache.spark.sql.functions._
    val streamed = StreamParity.q83StreamLeftJoin(spark, sf).collect().toSeq
    val e = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("ts").as("p_ts"),
        col("user_id").as("p_user"))
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("ts").as("c_ts"),
        col("user_id").as("c_user"))
    val batch = p.join(c,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 86400 SECONDS") &&
          col("c_ts") <= col("p_ts"),
        "leftOuter")
      .select(col("p_id").as("purchase_id"), col("c_id").as("click_id"),
        col("p_user").as("user_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts")))
          .cast("long").as("lag_us"))
      .collect().toSeq
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))
    assert(streamed.nonEmpty)
    assert(streamed.map(key).sorted === batch.map(key).sorted,
      "left-outer streamed attribution must equal the batch left join")
    // the outer semantics must actually fire: unattributed purchases
    // exist AND matched ones too; every purchase appears at least once
    val unmatched = streamed.filter(_.isNullAt(1))
    assert(unmatched.nonEmpty && unmatched.size < streamed.size)
    val purchases = p.count()
    assert(streamed.map(_.getLong(0)).distinct.size.toLong === purchases)
  }

  test("q80 streaming CDC merge equals batch q63 (upsert compaction across triggers)") {
    val streamed = StreamParity.q80StreamCdcMerge(spark, sf).collect().toSeq
    val batch = graft.operators.Relational.q63CdcMerge(spark, sf)
      .collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch,
      "base + change-feed micro-batches folded by latest-wins compaction " +
        "must reproduce the single-shot MERGE")
    // updates and deletes must both have fired: the merged rollup carries
    // the injected 'U' status and strictly fewer orders than the base
    assert(streamed.exists(_.getString(0) == "U"))
    val spark2 = spark
    val baseN = graft.Tables.orders(spark2, sf).count()
    assert(streamed.map(_.getLong(1)).sum < baseN)
  }
  test("q94 streaming funnel (flatMapGroupsWithState + event-time timeout) equals batch q92") {
    val streamed = StreamParity.q94StreamFunnel(spark, sf).collect().toSeq
    val batch = graft.operators.Relational.q92FunnelLag(spark, sf).collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch,
      "timeout-flushed per-user state must reproduce the batch analytic funnel")
    // timeout emission is exactly-once per user
    assert(streamed.map(_.getLong(0)).distinct.size === streamed.size)
    // both regimes fire on this corpus: converted and unconverted clicks
    assert(streamed.exists(_.getLong(2) > 0))
    assert(streamed.exists(r => r.getLong(1) > r.getLong(2)))
  }

  test("q106 streaming quality gate: observe-folded counters equal the batch gate") {
    // since r14 the observe fold IS the result (no complete-mode replay
    // aggregation — VERDICT r13 item #6), so streamed == batch is the
    // full cross-channel parity statement: per-micro-batch engine
    // metrics folded across triggers must reproduce the single-shot
    // batch aggregation exactly.
    val res = StreamParity.q106StreamObserveQuality(spark, sf)
    val streamed = res.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = graft.operators.Observability.q105ObserveQuality(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed === batch,
      "observe-folded streaming counters must equal the batch gate")
    // bad_frac rides the same Spark round() in both engines
    val fracs = res.collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    val batchFracs = graft.operators.Observability.q105ObserveQuality(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(fracs === batchFracs, "bad_frac parity")
    // the stream ran with NO stateful operator and NO shuffle: the
    // micro-batch plan is scan -> observe -> sink
    val plan = StreamParity.lastStreamPlans.get("q106_stream_observe")
    assert(plan != null, "micro-batch plan captured")
    assert(!plan.contains("StateStoreSave"),
      "q106's stream must not carry a state store")
    assert(!plan.contains("Exchange"),
      "q106's stream must not shuffle")
  }

  test("q116 single stateful dedup + per-batch count equals the batch sliding distinct") {
    val streamed = StreamParity.q116StreamSlidingDistinct(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = graft.operators.Relational.q110SlidingDistinct(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch,
      "one windowed dedup through streaming state finished by per-batch " +
        "counts must reproduce the batch dedup-then-count exactly")
    // the r14 rewrite's contract: exactly ONE stateful operator in the
    // streaming plan (the pre-r14 shape ran a second stateful agg just
    // to count — VERDICT r13 item #1)
    val plan = StreamParity.lastStreamPlans.get("q116_stream_distinct")
    assert(plan != null, "micro-batch plan captured")
    val nState = "StateStoreSave".r.findAllIn(plan).size
    assert(nState === 1,
      s"q116 streaming plan must hold exactly one stateful aggregation, got $nState")
  }

  test("q123 dropDuplicatesWithinWatermark equals the batch DISTINCT") {
    val streamed = StreamParity.q123StreamDedupWatermark(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batch = graft.Tables.events(spark, sf)
      .select(col("user_id"),
        ((unix_micros(col("ts")) / 60000000L).cast("long") * 60)
          .as("minute_start"))
      .distinct().orderBy("user_id", "minute_start")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(streamed.nonEmpty)
    assert(streamed.length === streamed.distinct.length,
      "bounded-state dedup must emit each key exactly once")
    assert(streamed === batch,
      "streaming dedup with watermark-bounded state must reproduce the " +
        "batch DISTINCT exactly")
  }

  test("q126 transformWithState running counters equal the batch analytic windows") {
    val streamed = StreamParity.q126TransformWithState(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cum = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val batch = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"),
        org.apache.spark.sql.functions.row_number().over(w)
          .cast("long").as("seq_n"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.when(
            col("event_type") === "purchase", 1L).otherwise(0L)).over(cum)
          .as("purchases_so_far"))
      .orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch,
      "the typed ValueState fold across ts-range batches must equal the " +
        "batch running windows row-for-row")
  }

  test("q126 fold is batch-boundary invariant: 2-file and 8-file replays agree") {
    // THE streaming correctness property: where the micro-batch triggers
    // fall must not change the result — state folds + the per-batch
    // in-key sort compose to the same sequence under any time-ordered
    // split (the reference's determinism-under-repartitioning contract).
    val coarse = StreamParity.q126WithSplit(spark, sf, 2)
      .collect().map(_.toSeq).toSeq
    val fine = StreamParity.q126WithSplit(spark, sf, 8)
      .collect().map(_.toSeq).toSeq
    assert(coarse.nonEmpty)
    assert(coarse === fine,
      "per-user running counters must not depend on trigger boundaries")
  }

  test("q130 ListState recent history equals the batch sliding frame") {
    val streamed = StreamParity.q130StreamRecentHistory(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    // state is bounded by construction: never more than HistN entries
    // (k >= 1 entries split into exactly k parts; "" is the empty history)
    assert(streamed.forall(t =>
      t._3.isEmpty || t._3.split(",", -1).length <= StreamParity.HistN))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-3, -1)
    val batch = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"),
        org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.array_join(
            org.apache.spark.sql.functions.collect_list(col("event_type"))
              .over(w), ","),
          org.apache.spark.sql.functions.lit("")).as("prev3"))
      .orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch,
      "the ListState fold across ts-range batches must equal the batch " +
        "3-preceding sliding frame row-for-row")
  }

  test("q137 streaming quota gate equals the batch ROW_NUMBER threshold") {
    val streamed = StreamParity.q137StreamQuotaGate(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"),
        org.apache.spark.sql.functions.expr("unix_micros(ts) div 86400000000"))
      .orderBy(col("ts"), col("event_id"))
    val batch = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"),
        (org.apache.spark.sql.functions.row_number().over(w) <= 5)
          .as("admitted"))
      .orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch,
      "the per-(user, day) quota fold across ts-range batches must equal " +
        "the batch row_number gate")
    // the gate really bites on this corpus: both verdicts occur
    assert(streamed.exists(_._3) && streamed.exists(!_._3))
  }

  test("q140 MapState per-type counters equal the batch per-type ROW_NUMBER") {
    val streamed = StreamParity.q140StreamTypeSeq(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val batch = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"),
        org.apache.spark.sql.functions.row_number().over(w).cast("long")
          .as("type_seq"))
      .orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch,
      "the MapState fold across ts-range batches must equal the batch " +
        "per-(user, type) sequence numbers")
  }

  test("q148 DLQ split: complete, disjoint, and rule-faithful across both sinks") {
    val routed = StreamParity.q148StreamDlqSplit(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val events = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("value")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // completeness + disjointness: every event routed to exactly one sink
    assert(routed.length === events.size)
    assert(routed.map(_._1).distinct.length === routed.length)
    // rule fidelity + both sinks exercised
    routed.foreach { case (id, _, sink) =>
      assert(sink === (if (events(id) > 95) "dlq" else "main"), s"event $id")
    }
    assert(routed.exists(_._3 == "dlq") && routed.exists(_._3 == "main"))
  }

  test("q141 timer-driven sessions equal the batch gaps-and-islands split") {
    val streamed = StreamParity.q141StreamTimerSessions(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // batch recompute: per-user gap split over sorted event times
    val byUser = graft.Tables.events(spark, sf)
      .select(col("user_id"),
        org.apache.spark.sql.functions.unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val batch = byUser.toSeq.flatMap { case (u, ts) =>
      val sessions = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long)]
      var (start, last, n) = (ts.head, ts.head, 1L)
      ts.tail.foreach { t =>
        if (t - last <= 300L * 1000000L) { last = t; n += 1 }
        else { sessions += ((start, last, n)); start = t; last = t; n = 1L }
      }
      sessions += ((start, last, n))
      sessions.map(s => (u, s._1, s._2, s._3))
    }.sortBy(t => (t._1, t._2))
    assert(streamed.nonEmpty)
    assert(streamed === batch,
      "inline splits + timer flushes must reproduce the batch session " +
        "partition exactly")
    // session count aligns with q08's session-window view of the stream
    val q08 = graft.operators.Relational.q08SessionWindow(spark, sf).count()
    assert(streamed.length.toLong === q08,
      "timer sessions and built-in session windows must agree in count")
  }
}
